"""Generator self-test: the same seed gives byte-identical inputs, in two
separate JVMs, and another seed gives different ones.

    python3 -m unittest discover -s lifebench/tests    # from the repository root
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def digests(seed):
    classes = build.build(ROOT)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    out = subprocess.run(["java", "-cp", cp, "lifebench.GenDigest", str(seed)],
                         capture_output=True, text=True, check=True).stdout
    return dict(line.split() for line in out.splitlines())


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        first = digests(7)
        self.assertEqual(len(first), 7)
        self.assertEqual(first, digests(7))

    def test_other_seed_other_bytes(self):
        a, b = digests(7), digests(8)
        for family in a:
            self.assertNotEqual(a[family], b[family], family)


if __name__ == "__main__":
    unittest.main()
