package lifebench

import java.util.Locale
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Every input a workload hands the program is
  * a pure function of (seed, index): the same seed gives byte-identical
  * inputs, and the expected outputs follow from the generator alone. All
  * shapes (frames, detections, trackers, rows per batch, corpus sizes)
  * are fixed, so only values change with the seed and every op does the
  * same amount of work. */
object Gen {

  private def rnd(seed: Long, stream: Long, i: Long) =
    new scala.util.Random(seed * 1000003L + stream * 7919L + i)

  private def f3(x: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(x))

  // ---- upload: one camera clip = a vehicle and a people document ----

  val Frames = 2000 // frames per document
  val DetsPerFrame = 4 // tracked detections per non-empty frame
  val Trackers = 16 // distinct tracked entities per document
  val EmptyEvery = 20 // every 20th frame carries no detections
  val UntrackedEvery = 8 // every 8th frame adds a tracker_id -1 detection

  private val segment = Frames / (Trackers / DetsPerFrame)
  private def empty(f: Int) = f % EmptyEvery == EmptyEvery - 1
  private def untracked(f: Int) = !empty(f) && f % UntrackedEvery == 0

  /** Rows the processed zone table holds for one document: one per
    * detection, plus one null-detection row per empty frame. */
  val processedRows: Long = (0 until Frames).map { f =>
    if (empty(f)) 1 else DetsPerFrame + (if (untracked(f)) 1 else 0)
  }.sum.toLong

  private def tracker(f: Int, j: Int): Int = 1 + j + DetsPerFrame * (f / segment)

  private val vTypes = Seq("car", "truck", "bus", "motorcycle", "van", "bicycle")
  private val colors = Seq("red", "blue", "white", "black", "silver")
  private val lanes = Seq("Left Lane", "Middle Lane", "Right Lane")
  private val dirs = Seq("Up", "Down")

  final case class Clip(vehicle: String, malformed: String, people: String) {
    def rawBytes: Long =
      Seq(vehicle, malformed, people).map(_.getBytes("UTF-8").length.toLong).sum
  }

  /** Vehicle type of every tracker in clip `i` (constant per tracker). */
  def vehicleTypes(seed: Long, i: Long): Map[Int, String] = {
    val r = rnd(seed, 1, i)
    (1 to Trackers).map(t => t -> vTypes(r.nextInt(vTypes.size))).toMap
  }

  def clip(seed: Long, i: Long): Clip = {
    val types = vehicleTypes(seed, i)
    val r = rnd(seed, 2, i)
    val v = new StringBuilder("[\n")
    for (f <- 0 until Frames) {
      if (f > 0) v ++= ",\n"
      v ++= s"""{"frame_number": $f, "congestion_level": "${Seq("low", "medium", "high")(r.nextInt(3))}", """
      v ++= s""""traffic_light": "${if (r.nextBoolean()) "red" else "green"}", "detections": ["""
      if (!empty(f)) {
        val ids = (0 until DetsPerFrame).map(tracker(f, _)) ++
          (if (untracked(f)) Seq(-1) else Nil)
        v ++= ids.map { t =>
          val x = r.nextDouble() * 1800
          val y = r.nextDouble() * 1000
          s"""{"tracker_id": $t, "confidence": ${f3(0.5 + r.nextDouble() / 2)}, """ +
            s""""bbox": [${f3(x)}, ${f3(y)}, ${f3(x + 40 + r.nextInt(80))}, ${f3(y + 30 + r.nextInt(60))}], """ +
            s""""vehicle_type": "${types.getOrElse(t, "car")}", "vehicle_color": "${colors(r.nextInt(colors.size))}", """ +
            s""""vehicle_speed": ${f3(r.nextDouble() * 90)}, "vehicle_direction": "${dirs(r.nextInt(2))}", """ +
            s""""vehicle_lane": "${lanes(r.nextInt(lanes.size))}", "stopped": ${r.nextInt(10) == 0}, """ +
            s""""red_light_violation": ${r.nextInt(40) == 0}, "line_crossing": ${r.nextInt(25) == 0}}"""
        }.mkString(", ")
      }
      v ++= "]}"
    }
    v ++= "\n]\n"
    // a truncated document: it must be quarantined, never reach a zone
    val malformed = v.substring(0, 200 + rnd(seed, 3, i).nextInt(200))

    val p = new StringBuilder(
      s"""{"video_metadata": {"filename": "clip_$i.mp4", "duration_seconds": ${Frames}.0},\n""" +
        """ "frame_detections": [""" + "\n")
    val t0 = 1715000000L + i * 3600
    for (f <- 0 until Frames) {
      if (f > 0) p ++= ",\n"
      val ts = java.time.LocalDateTime.ofEpochSecond(t0 + f, 0, java.time.ZoneOffset.UTC)
        .toString.replace('T', ' ')
      p ++= s"""{"frame_number": $f, "timestamp": "$ts", "detections": ["""
      if (!empty(f)) {
        val ids = (0 until DetsPerFrame).map(tracker(f, _)) ++
          (if (untracked(f)) Seq(-1) else Nil)
        p ++= ids.map { t =>
          val x = r.nextDouble() * 1800
          val y = r.nextDouble() * 1000
          val restricted = r.nextInt(30) == 0
          s"""{"tracker_id": $t, "class_id": 0, "class_name": "person", "confidence": ${f3(0.5 + r.nextDouble() / 2)}, """ +
            s""""bbox": [${f3(x)}, ${f3(y)}, ${f3(x + 30 + r.nextInt(50))}, ${f3(y + 80 + r.nextInt(120))}], """ +
            s""""in_restricted_area": $restricted, "gender": "${Seq("Man", "Woman", "Unknown")(r.nextInt(3))}", """ +
            s""""age": ${18 + r.nextInt(60)}, "carrying": "${Seq("backpack", "bag", "Unknown")(r.nextInt(3))}", """ +
            s""""entry_time": "$ts", "entered_restricted": $restricted}"""
        }.mkString(", ")
      }
      p ++= "]}"
    }
    p ++= "\n]}\n"
    Clip(v.toString, malformed, p.toString)
  }

  // ---- lake_churn: a deep log of small batches, then 2k-row batches ----

  /** Batches set-up commits: the log depth every round starts at. */
  val HistoryBatches = 48
  /** Rows per history batch: few, so the log is deep in versions while
    * the table stays small (the log's cost grows with versions and files,
    * not rows). */
  val HistoryRows = 50
  /** Rows per batch a round commits. */
  val BatchRows = 2000
  val RangeRows = 500
  val historyRows: Long = HistoryBatches.toLong * HistoryRows
  private val KeySpace = 1000003L // prime > every row id the runs reach

  val batchSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ev_key", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("device", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** The event row with global id `id`: `ev_key` is a seeded bijection
    * of the id (so a key lives in exactly one batch and one file, and
    * is scattered across the key space, which only a Bloom bitmap can
    * prune); `ts` is the id, so batches are range-clustered on it. */
  def event(seed: Long, id: Long): Row = {
    val mult = 1000L + math.floorMod(seed * 7L, 90000L)
    val key = math.floorMod(id * mult + seed, KeySpace)
    Row(id, key, id, f"dev-${key % 97}%02d", ((key * 31) % 10007) / 100.0)
  }

  /** Batch `b`: history batches come first, then round batches; ids run
    * on without gaps. */
  def batch(seed: Long, b: Long): Seq[Row] = {
    val (first, rows) =
      if (b < HistoryBatches) (b * HistoryRows, HistoryRows)
      else (historyRows + (b - HistoryBatches) * BatchRows, BatchRows)
    (0L until rows).map(r => event(seed, first + r))
  }

  /** Row ids of six point lookups and the start of a range read inside
    * the history, and a history batch to redeliver. */
  final case class ChurnPicks(lookups: Seq[Long], rangeLo: Long, replay: Long)

  def churnPicks(seed: Long): ChurnPicks = {
    val r = rnd(seed, 8, 0)
    ChurnPicks(Seq.fill(6)(r.nextInt(historyRows.toInt).toLong),
      r.nextInt(historyRows.toInt - RangeRows).toLong, r.nextInt(HistoryBatches).toLong)
  }

  // ---- serving: an sf0.1-shaped documents/embeddings corpus ----

  val Docs = 5000
  val Vecs = 2000
  val Dim = 64
  val Labels = 8
  val vocab: IndexedSeq[String] = IndexedSeq("spark", "join", "vector", "table",
    "query", "scan", "sort", "hash", "group", "filter", "stream", "window",
    "batch", "column", "row", "key", "value", "merge", "index", "shard",
    "cache", "plan", "lake", "zone", "frame", "track", "speed", "lane",
    "camera", "clip", "alert", "event", "fast", "slow", "big", "small",
    "data", "agg", "line", "part", "order", "page", "file", "log", "commit",
    "bloom", "range", "point", "cell", "probe", "rank", "score", "term",
    "token", "doc", "corpus", "search", "match", "near", "far")

  /** Zipf(1.1) rank sampler over the vocabulary, permuted by seed. */
  final class Zipf(seed: Long) {
    private val order = new scala.util.Random(seed).shuffle(vocab.indices.toVector)
    private val cdf = {
      val w = vocab.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def atRanks(ranks: Seq[Int]): Seq[String] = ranks.map(k => vocab(order(k)))
    def draw(r: scala.util.Random): String = {
      val u = r.nextDouble()
      val rank = cdf.indexWhere(_ >= u) match { case -1 => cdf.size - 1; case k => k }
      vocab(order(rank))
    }
  }

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def documents(seed: Long): Seq[Row] = {
    val z = new Zipf(seed)
    val r = rnd(seed, 4, 0)
    (0 until Docs).map { d =>
      val text = Seq.fill(8 + r.nextInt(50))(z.draw(r)).mkString(" ")
      Row(d.toLong, text, Seq("en", "zh", "de")(r.nextInt(3)), s"src${r.nextInt(4)}",
        text.length.toLong)
    }
  }

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** Gaussian clusters around `Labels` seeded centres: the structure an
    * IVF quantizer can find. */
  def embeddings(seed: Long): Seq[Row] = {
    val r = rnd(seed, 5, 0)
    val centres = Array.fill(Labels, Dim)(r.nextGaussian())
    (0 until Vecs).map { v =>
      val l = r.nextInt(Labels)
      val e = Array.tabulate(Dim)(d => (centres(l)(d) + 0.6 * r.nextGaussian()).toFloat)
      Row(v.toLong, e.toSeq, l)
    }
  }

  /** BM25 query terms: the words at Zipf ranks 1, 4 and 13 of the seed's
    * vocabulary order. Which words is seeded; how common they are is
    * not, so every seed's query reads postings of the same sizes. */
  def terms(seed: Long): Seq[String] = new Zipf(seed).atRanks(Seq(0, 3, 12))
}
