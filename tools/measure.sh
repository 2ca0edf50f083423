#!/usr/bin/env bash
# One-command entrypoint for the living measurement protocol (VERDICT
# r15 stretch 8). It replaced the per-round r1x_measure.sh scripts, whose
# results are recorded in BASELINE.md; this is what a new round runs.
#
#   tools/measure.sh pin <tag> <sf_dir> <subset_csv> [runs]
#       One certified chunk: Bench with per-rep legs + end-of-suite
#       retries, adjudicated row by row (wraps certified_pin.sh).
#
#   tools/measure.sh full <tag> [sf_dir]
#       The whole suite at sf0.1 (default) — what the driver runs per
#       round; use to validate a measurement-policy change before the
#       driver does.
#
#   tools/measure.sh decades <tag>
#       The two-decade scaling table's x100 rows for the heavy dedup +
#       mm families (needs target/scale/x100; builds it if absent).
#
#   tools/measure.sh anchor <tag> [verify_dir]
#       The 2x-gate anchor: full suite at x10 (~sf1) on Spark, DuckDB
#       oracle twin over the same tables, ratio via anchor_ratio.py.
#       verify_dir must hold a graft.Verify dump (oracle_sql.json);
#       default /tmp/v1 — regenerate with graft.Verify if absent.
#
# All artifacts land in measurements/<tag>*.json (TRACKED).
set -uo pipefail
cd /root/repo
CMD="${1:?pin|full|decades|anchor}"; shift

ensure_fixture() { # <dir> <factor>
  if [ ! -e "$1/documents.parquet" ]; then
    echo "building $1 replica (x$2)..."
    python3 tools/scale_up.py /root/testdata/sf0.1 "$1" "$2"
  fi
}

case "$CMD" in
  pin)
    exec tools/certified_pin.sh "$@"
    ;;
  full)
    TAG="${1:?tag}"; SFDIR="${2:-/root/testdata/sf0.1}"
    # empty subset = full suite: certified_pin.sh passes SUBSET through
    # to SPARK_GRAFT_BENCH_SUBSET, and Bench treats unset/empty as all
    SPARK_GRAFT_BENCH_SUBSET="" exec tools/certified_pin.sh "$TAG" "$SFDIR" ""
    ;;
  decades)
    TAG="${1:?tag}"
    ensure_fixture target/scale/x100 100
    tools/certified_pin.sh "${TAG}_mm_x100" target/scale/x100 \
      "mm_dedup_signature,mm_dedup_collapsed,mm_dedup_incremental" 2
    tools/certified_pin.sh "${TAG}_dedup_x100" target/scale/x100 \
      "dedup_minhash_lsh,dedup_substring_winnow,dedup_fuzzy_edit" 2
    tools/certified_pin.sh "${TAG}_serve_x100" target/scale/x100 \
      "text_bm25_indexed,sim_ann_indexed,sim_ann_ivfsq8_sample,sim_ann_ivfpq_sample" 2
    ;;
  anchor)
    TAG="${1:?tag}"; VDIR="${2:-/tmp/v1}"
    ensure_fixture target/scale/x10 10
    OUT=measurements; mkdir -p "$OUT"
    if [ ! -d target/benchcp ] || [ -n "$(find target/scala-2.13/classes -newer target/benchcp -print -quit 2>/dev/null)" ]; then
      rm -rf target/benchcp && cp -r target/scala-2.13/classes target/benchcp
    fi
    CP="target/benchcp:/opt/spark/jars/*"
    echo "=== anchor: spark full suite at x10 $(date +%T) ==="
    rm -f "$OUT/${TAG}_spark.json"
    SPARK_GRAFT_SF_DIR=target/scale/x10 SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
    SPARK_GRAFT_BENCH_FULL="$OUT/${TAG}_spark.json" \
      java -Xmx96g --add-exports=java.base/sun.nio.ch=ALL-UNNAMED \
        -cp "$CP" graft.Bench 2>"$OUT/${TAG}_spark.err" | tail -1 >/dev/null
    RC=$?
    if [ "$RC" -ne 0 ] || [ ! -s "$OUT/${TAG}_spark.json" ]; then
      echo "ABORT: anchor bench rc=$RC or JSON missing" >&2; exit 1
    fi
    if [ ! -e "$VDIR/oracle_sql.json" ]; then
      echo "ABORT: $VDIR/oracle_sql.json missing — run graft.Verify first" >&2
      exit 1
    fi
    echo "=== anchor: duckdb oracle at x10 $(date +%T) ==="
    python3 tools/bench_oracle.py "$VDIR" target/scale/x10 2 300 \
      2>"$OUT/${TAG}_duck.err" > "$OUT/${TAG}_duck.json"
    echo "=== anchor: ratio $(date +%T) ==="
    python3 tools/anchor_ratio.py "$OUT/${TAG}_spark.json" \
      "$OUT/${TAG}_duck.json" | tee "$OUT/${TAG}_ratio.json"
    ;;
  *)
    echo "usage: tools/measure.sh {pin|full|decades|anchor} ..." >&2
    exit 2
    ;;
esac
