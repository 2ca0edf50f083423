package lifebench

import java.security.MessageDigest

/** Prints one SHA-256 digest per input family the generators make for a
  * seed, so two processes can show the same seed gives byte-identical
  * inputs (`lifebench/tests/test_generator.py`).
  *
  *   lifebench.GenDigest <seed>
  */
object GenDigest {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    def digest(parts: Iterator[String]): String = {
      val md = MessageDigest.getInstance("SHA-256")
      parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
      md.digest().map(b => f"$b%02x").mkString
    }
    def row(r: org.apache.spark.sql.Row): String = r.toSeq.map {
      case xs: Seq[_] => xs.map { case f: Float => java.lang.Float.floatToIntBits(f).toString }.mkString(",")
      case x => String.valueOf(x)
    }.mkString("|")
    val clips = (0 until 4).map(Gen.clip(seed, _))
    Seq(
      "upload.clips" -> digest(clips.iterator.flatMap(c => Seq(c.vehicle, c.malformed, c.people))),
      "upload.types" -> digest((0 until 4).iterator.map(i => Gen.vehicleTypes(seed, i).toSeq.sorted.toString)),
      "churn.batches" -> digest((0 until Gen.HistoryBatches + 3).iterator.flatMap(b => Gen.batch(seed, b).map(row))),
      "churn.picks" -> digest(Iterator(Gen.churnPicks(seed).toString)),
      "serve.documents" -> digest(Gen.documents(seed).iterator.map(row)),
      "serve.embeddings" -> digest(Gen.embeddings(seed).iterator.map(row)),
      "serve.terms" -> digest(Iterator(Gen.terms(seed).toString))
    ).foreach { case (k, d) => println(s"$k $d") }
  }
}
