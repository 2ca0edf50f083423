package graft.registry

import graft.operators.{Similarity, VectorIndex}
import graft.operators.StandingIndex.Served

/** Helpers shared across the family registries: the standing vector
  * index row declarations, the portable salted hash, and the document
  * normalizer / split-bucket SQL twins that several families' oracles
  * embed (derived from the same constants as the engine, so the oracle
  * can never drift).
  */
object RegShared {
  /** A row serving standing index `family` with [[VectorIndex.serve]]'s
    * defaults: k = 5, nprobe = 3, the codec's candK. */
  private[graft] def served(family: VectorIndex.Family): Served[VectorIndex] =
    Served(family)(VectorIndex.serve(_, _, _))

  /** Recall@5 of the [[served]] answer against the brute-force top-5. */
  private[graft] def servedRecall(family: VectorIndex.Family): Served[VectorIndex] =
    Served(family)((s, dir, idx) =>
      Similarity.recallOf(s, dir, VectorIndex.serve(s, dir, idx), 5))

  private[graft] def phashSql(e: String, salt: Int): String =
    graft.functions.PortableHash.phashSql(e, salt)

  private[graft] val normSql = "regexp_replace(lower(text), '[^a-z0-9]', '', 'g')"

  /** SQL twin of Sampling.{splitBucket,splitName} — derived from the
    * same salt constant so the oracle can never drift from the engine. */
  private[graft] val splitBucketSql: String =
    s"${graft.functions.PortableHash.phashSql("CAST(doc_id AS VARCHAR)", graft.operators.Sampling.splitSalt)} % 10"
  private[graft] val splitCaseSql: String =
    "CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'dev' ELSE 'test' END"
}
