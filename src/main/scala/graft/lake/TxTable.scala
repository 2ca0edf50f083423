package graft.lake

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.UUID
import org.apache.commons.io.FileUtils
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.util.CollectionAccumulator
import scala.jdk.CollectionConverters._
import TxTable.{PartFileName, PartStats}

/** Transactional zone table: a minimal versioned-manifest log over
  * parquet, the mechanism Delta/Iceberg provide in full (BASELINE.json
  * names them as the intended zone-table substrate; neither ships in
  * this build's jar set, so the refine zone gets the essential 20% —
  * atomic commits, optimistic concurrency, snapshot reads — in ~100
  * lines, and the interface stays swappable for a real table format).
  *
  * Layout:
  * {{{
  *   root/_log/v00000000000000000042.txt   one manifest per version:
  *                                         the COMPLETE relative file
  *                                         list of that snapshot
  *   root/_log/.pending-<uuid>             a manifest body being
  *                                         published (transient)
  *   root/_staging/<uuid>/                 one stage's write output
  *                                         (transient; removed when
  *                                         the stage ends, either way)
  *   root/data/<uuid>.parquet              immutable data files
  * }}}
  *
  * Commit protocol: read the latest version's file list, write new data
  * files (invisible until committed), write the manifest body to a
  * private temp file in `_log` (a `.`-prefixed name no reader lists),
  * then publish it as `v(N+1)` with a hard link — an atomic
  * create-if-absent, so exactly one of two racing writers wins and no
  * reader ever sees a partly written manifest; the loser re-reads the
  * new latest and retries against it. Compaction retries re-base on
  * the current list, so rows appended DURING a compaction survive it
  * (the concurrent-write spec drives exactly that interleaving).
  * Readers always see a complete committed snapshot — never a
  * half-written directory.
  *
  * On a real object store the link needs a conditional-put (S3
  * If-None-Match) or a lock service — precisely the part Delta's
  * LogStore / an Iceberg catalog abstracts; swap this class for one of
  * them when the jars are available. Replaced files are not deleted at
  * commit (old snapshots stay readable); `vacuum()` reclaims them once
  * readers of old versions are done.
  */
final case class TxTable(spark: SparkSession, root: String) {

  private val logDir: Path = Paths.get(root, "_log")
  private val dataDir: Path = Paths.get(root, "data")
  private val stagingDir: Path = Paths.get(root, "_staging")

  /** `files` holds manifest ENTRIES: a relative file name, optionally
    * followed by TAB and per-file column stats (`col=min..max;…`) —
    * the data-skipping index, carried through every commit because
    * entries travel verbatim from one manifest to the next. Bare names
    * (pre-stats manifests) parse as stats-less entries. */
  final case class Snapshot(version: Long, files: Seq[String])

  /** Relative data-file name of a manifest entry. */
  def entryName(e: String): String = e.takeWhile(_ != '\t')

  /** Per-column [min,max] (as longs) recorded for a manifest entry;
    * empty for entries staged without stats. */
  def entryStats(e: String): Map[String, (Long, Long)] =
    e.split('\t') match {
      case Array(_, s) =>
        s.split(';').iterator.flatMap { kv =>
          kv.split('=') match {
            case Array(c, range) if !c.contains('~') =>
              range.split("\\.\\.") match {
                case Array(lo, hi) => Some(c -> (lo.toLong, hi.toLong))
                case _ => None
              }
            case _ => None
          }
        }.toMap
      case _ => Map.empty
    }

  /** Per-column Bloom bitmap (`col~2~hexwords` tokens) of an entry.
    * The `2` is the bloom-hash VERSION: v2 bitmaps hash through the
    * canonical string cast (see [[bloomPos]]). Unversioned `col~hex`
    * tokens were written by pre-canonical code with type-sensitive raw
    * xxhash64 — probing them with v2 positions would produce false-
    * negative file SKIPS (silently missing rows), so they parse as
    * ABSENT: "no bitmap, must read", the same safe degradation as
    * pre-stats entries and pre-pinning manifests. */
  def entryBlooms(e: String): Map[String, Array[Long]] =
    e.split('\t') match {
      case Array(_, s) =>
        s.split(';').iterator.flatMap { kv =>
          kv.split('~') match {
            case Array(c, BloomHashVersion, hex)
                if hex.length % 16 == 0 && hex.nonEmpty =>
              Some(c -> hex.grouped(16)
                .map(java.lang.Long.parseUnsignedLong(_, 16)).toArray)
            case _ => None // unversioned / future-versioned: must read
          }
        }.toMap
      case _ => Map.empty
    }

  private def dataPath(entry: String): Path =
    dataDir.resolve(entryName(entry))

  private def manifestPath(v: Long): Path =
    logDir.resolve(f"v$v%020d.txt")

  /** Prefix of a manifest body written but not yet linked into place;
    * `manifestVersions` skips it, `vacuum` reclaims stranded ones. */
  private val TempManifestPrefix = ".pending-"

  // manifest lines starting with '#' are annotations (e.g. the
  // streaming batch marker), not data files
  private def manifestFiles(v: Long): Seq[String] =
    Files.readAllLines(manifestPath(v)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  private def manifestVersions(): Seq[Long] = {
    if (!Files.exists(logDir)) return Seq.empty
    val s = Files.list(logDir)
    val names =
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    names.collect {
      case n if n.startsWith("v") && n.endsWith(".txt") =>
        n.stripPrefix("v").stripSuffix(".txt").toLong
    }
  }

  /** Latest committed snapshot, or None for an empty/new table. */
  def latest(): Option[Snapshot] =
    manifestVersions().maxOption.map(v => Snapshot(v, manifestFiles(v)))

  /** The authoritative schema pinned in the `#schema=` annotation of
    * `version`'s manifest (every commit re-publishes it), or None for
    * manifests written before schema pinning existed. */
  def pinnedSchemaOf(version: Long): Option[StructType] =
    Files.readAllLines(manifestPath(version)).asScala
      .find(_.startsWith("#schema="))
      .map(l => DataType.fromJson(l.stripPrefix("#schema=")).asInstanceOf[StructType])

  /** Pinned schema of the latest snapshot, if any. */
  def pinnedSchema(): Option[StructType] =
    latest().flatMap(s => pinnedSchemaOf(s.version))

  /** Additive schema evolution with a type gate: columns new to the
    * table append (nullable — older files null-fill them); columns the
    * table already has must arrive with the SAME type, or the append
    * is rejected before anything commits (Delta's schema enforcement).
    * Nullability is not enforced — files written at different versions
    * legitimately differ. */
  private def evolve(pinned: StructType, incoming: StructType): StructType = {
    val have = pinned.fields.map(f => f.name -> f.dataType).toMap
    incoming.fields.foreach { f =>
      have.get(f.name).foreach { t =>
        // compare modulo nullability at EVERY nesting level (Delta's
        // equalsIgnoreNullability): two writers producing congruent
        // nested data that differs only in inner-field nullability
        // (e.g. one wrote nullable=false struct members) are the same
        // column, not an incompatible append
        if (deepNullable(t) != deepNullable(f.dataType))
          throw new IllegalArgumentException(
            s"incompatible append to $root: column ${f.name} is ${t.sql} " +
              s"in the table schema but ${f.dataType.sql} in the incoming data")
      }
    }
    asNullable(StructType(pinned.fields ++
      incoming.fields.filterNot(f => have.contains(f.name))))
  }

  /** Nullability normalized recursively through struct/array/map —
    * the pinned schema is the permissive union of what any version's
    * files may hold, so every level reads as nullable. */
  private def deepNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = deepNullable(f.dataType), nullable = true)))
    case a: ArrayType =>
      ArrayType(deepNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(deepNullable(m.keyType), deepNullable(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  private def asNullable(s: StructType): StructType =
    deepNullable(s).asInstanceOf[StructType]

  /** Empty DataFrame carrying the snapshot's schema — what a read of a
    * legitimately empty table (e.g. after a delete-everything) yields. */
  private def emptyLike(snap: Snapshot): DataFrame =
    pinnedSchemaOf(snap.version) match {
      case Some(s) =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), s)
      case None if snap.files.nonEmpty =>
        readEntries(snap.files, None).filter(lit(false))
      case None => throw new IllegalStateException(
        s"version ${snap.version} at $root lists no files and pins no schema")
    }

  /** Snapshot read: the committed file list, as of `version` if given.
    * An empty snapshot (every row deleted) reads as an empty DataFrame
    * with the pinned schema — the table stays readable. */
  def read(version: Option[Long] = None): DataFrame = {
    val snap = version match {
      case Some(v) => Snapshot(v, manifestFiles(v))
      case None => latest().getOrElse(
        throw new IllegalStateException(s"empty tx table at $root"))
    }
    if (snap.files.isEmpty) emptyLike(snap)
    else readEntries(snap.files, pinnedSchemaOf(snap.version))
  }

  /** Schema evolution on read: with a pinned schema (any manifest
    * written by current code) the read is schema-GIVEN — zero parquet
    * footer merging, the fix for the "re-derive the union schema from
    * every footer per read" scaling gap; older files null-fill columns
    * added later. Pre-pinning manifests fall back to mergeSchema. */
  private def readEntries(entries: Seq[String],
      schema: Option[StructType]): DataFrame = {
    val paths = entries.map(e => dataPath(e).toString)
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None =>
        spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  /** Stage `df` as new immutable data files; returns their manifest
    * entries. Staged files are invisible until a manifest commits them.
    *
    * `statsCols` names integral columns whose per-file [min,max] is
    * recorded in the entry — the file-skipping index Delta keeps in
    * its checkpoint stats / Iceberg in manifest metrics; `bloomCols`
    * get a per-file Bloom bitmap. Both are computed INSIDE the task
    * that writes the file, as Delta collects stats while writing: the
    * stats inputs ride along as trailing columns (the same expressions
    * the probe side uses), each partition folds them as its rows stream
    * to the writer and reports the result once, and the trailing
    * columns never reach the file. A part file maps to its partition
    * through Spark's `part-NNNNN-` name, so staging with stats is the
    * write job alone. A partition with no rows reports nothing and its
    * schema-only file is dropped: it adds no rows, and a stats-less
    * entry would defeat skipping forever.
    *
    * The write goes to `_staging/<uuid>` under the table root, so the
    * move into `data/` is a same-filesystem rename; the staging
    * directory is removed whether or not the write succeeds. */
  private def stage(df: DataFrame, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomBits: Int = 8192): Seq[String] = {
    // the bitmap is Long words: a non-multiple-of-64 size would truncate
    // the allocation while positions are taken mod bloomBits — probe
    // positions past words*64 would crash staging (and diverge from the
    // query side's words*64 modulus)
    require(bloomCols.isEmpty || (bloomBits > 0 && bloomBits % 64 == 0),
      s"bloomBits must be a positive multiple of 64, got $bloomBits")
    Files.createDirectories(dataDir)
    val scratch = stagingDir.resolve(UUID.randomUUID().toString)
    try {
      val statsByPartition =
        if (statsCols.isEmpty && bloomCols.isEmpty) {
          df.write.parquet(scratch.toString)
          None
        } else Some(writeWithStats(df, scratch.toString, statsCols, bloomCols, bloomBits))
      val s = Files.list(scratch)
      val parts =
        try s.iterator().asScala.toSeq.filter(_.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      // every name is resolved before any file moves: a file that
      // cannot be matched to its partition fails the stage, never
      // commits without stats
      val keep = statsByPartition match {
        case None => parts.map(_ -> "")
        case Some(stats) => parts.flatMap(p => stats.get(partitionOf(p)).map(p -> _))
      }
      keep.map { case (p, stat) =>
        val name = s"${UUID.randomUUID()}.parquet"
        Files.move(p, dataDir.resolve(name))
        if (stat.nonEmpty) s"$name\t$stat" else name
      }
    } finally FileUtils.deleteDirectory(scratch.toFile)
  }

  /** Writes `df` to `out` as parquet and returns each non-empty
    * partition's entry stats string, keyed by partition id, from the
    * write job itself. Only a result task's first successful attempt
    * merges into the accumulator; the map keeps one entry per partition
    * regardless. */
  private def writeWithStats(df: DataFrame, out: String, statsCols: Seq[String],
      bloomCols: Seq[String], bloomBits: Int): Map[Int, String] = {
    val inputs = statsCols.map(c => col(c).cast("long")) ++
      bloomCols.flatMap(c => bloomSeeds.map(seed => bloomPos(col(c), seed, bloomBits)))
    val withInputs = df.select(col("*") +: inputs.zipWithIndex.map {
      case (e, i) => e.as(s"_tx_stat_$i")
    }: _*)
    val acc = spark.sparkContext.collectionAccumulator[PartStats]("tx stage stats")
    val fold = TxTable.foldStats(df.schema.length, statsCols.length,
      bloomCols.length, bloomSeeds.length, bloomBits, acc)
    withInputs.mapPartitions(fold)(Encoders.row(df.schema)).write.parquet(out)
    acc.value.asScala.map { p =>
      val rangeToks = statsCols.indices.collect {
        case i if p.lo(i) <= p.hi(i) => s"${statsCols(i)}=${p.lo(i)}..${p.hi(i)}"
      } // an all-null column in this file gets no range token
      val bloomToks = bloomCols.indices.map { i =>
        s"${bloomCols(i)}~$BloomHashVersion~" + p.blooms(i).map(w => f"$w%016x").mkString
      }
      p.partition -> (rangeToks ++ bloomToks).mkString(";")
    }.toMap
  }

  /** Partition id of a Spark part file (`part-00003-<job>-c000...`). */
  private def partitionOf(p: Path): Int = {
    val name = p.getFileName.toString
    PartFileName.findPrefixMatchOf(name).map(_.group(1).toInt).getOrElse(
      throw new IllegalStateException(
        s"staged file $name at $root does not name its partition; cannot record its stats"))
  }

  /** Publish a successor of whatever version is current, transforming
    * the current list through `next`; `annotations` are '#'-prefixed
    * metadata lines carried in the same atomic manifest. Retries on
    * committer races (bounded — a loss means someone else progressed).
    * `next` runs once per attempt against the FRESH current list, so it
    * is where semantic-conflict checks belong: returning None aborts
    * the whole commit (the caller's staged files are its to clean up).
    *
    * `evolveSchema` maps the CURRENT pinned schema to the one this
    * commit publishes (also re-evaluated per attempt — a schema gate
    * that raced another widening append validates against the winner's
    * schema, not a stale one); the default carries the pin forward
    * unchanged. Every manifest re-publishes the pin, so the latest
    * manifest alone is authoritative. */
  private def commit(next: Seq[String] => Option[Seq[String]],
      annotations: Seq[String] = Seq.empty,
      evolveSchema: Option[StructType] => Option[StructType] = identity)
      : Option[Long] = {
    Files.createDirectories(logDir)
    var attempts = 0
    while (attempts < 64) {
      val cur = latest()
      val v = cur.map(_.version + 1).getOrElse(0L)
      val files = next(cur.map(_.files).getOrElse(Seq.empty)) match {
        case Some(f) => f
        case None => return None
      }
      val pin = evolveSchema(cur.flatMap(c => pinnedSchemaOf(c.version)))
      val schemaLine = pin.map(s => s"#schema=${s.json}").toSeq
      val body = (schemaLine ++ annotations ++ files).mkString("\n").getBytes("UTF-8")
      val tmp = logDir.resolve(s"$TempManifestPrefix${UUID.randomUUID()}")
      Files.write(tmp, body, StandardOpenOption.CREATE_NEW)
      try {
        Files.createLink(manifestPath(v), tmp)
        return Some(v)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => attempts += 1
      } finally Files.delete(tmp)
    }
    throw new IllegalStateException(
      s"tx commit lost ${64} races at $root — livelocked writers?")
  }

  /** Remove staged-but-never-committed files (an aborted commit's). */
  private def unstage(staged: Seq[String]): Unit =
    staged.foreach(e => Files.deleteIfExists(dataPath(e)))

  /** Streaming-batch ids already committed (from manifest annotations). */
  def committedBatches(): Set[Long] = batchesAfter(-1L)._1

  /** Batch ids recorded in manifests newer than version `after`, and
    * the highest version read (`after` when none is newer) — published
    * manifests never change, so a caller that has scanned up to a
    * version need only read past it. */
  private def batchesAfter(after: Long): (Set[Long], Long) = {
    val vs = manifestVersions().filter(_ > after)
    val ids = vs.flatMap { v =>
      Files.readAllLines(manifestPath(v)).asScala
        .filter(_.startsWith("#batch="))
        .map(_.stripPrefix("#batch=").toLong)
    }.toSet
    (ids, (after +: vs).max)
  }

  /** Idempotent streaming commit: `foreachBatch` delivers each batch
    * at-least-once, so the batch id is recorded as an annotation INSIDE
    * the same atomic manifest as its files — a redelivered batch finds
    * its marker and commits nothing (the exactly-once trick Delta's
    * txnAppId/txnVersion provides). The marker scan walks the small
    * per-version manifests once per commit: the up-front check reads
    * every manifest and remembers the highest version it read, and each
    * in-loop re-check reads only manifests published since; a
    * production table keeps a side index. Returns the committed
    * version, or None when the batch was already in the log.
    *
    * The marker is validated INSIDE the commit retry loop, not just
    * up front: two writers replaying the same batch (driver failover
    * with a zombie executor still running) can both pass a single
    * check-then-act test, but here the loser of the manifest race
    * re-reads the log, finds the winner's marker, and aborts — its
    * staged files are unstaged, nothing duplicates. `beforeCommit` is
    * a test seam for injecting that interleaving. */
  def appendBatchIdempotent(df: DataFrame, batchId: Long,
      beforeCommit: () => Unit = () => (),
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Option[Long] = {
    val (seen, upTo) = batchesAfter(-1L)
    if (seen.contains(batchId)) return None // cheap fast-path
    var scanned = upTo
    val staged = stage(df, statsCols, bloomCols)
    beforeCommit()
    val v = guardStaged(staged) {
      commit(
        cur => {
          val (newer, last) = batchesAfter(scanned)
          scanned = last
          if (newer.contains(batchId)) None else Some(cur ++ staged)
        },
        Seq(s"#batch=$batchId"),
        evolveSchema = appendEvolution(df.schema))
    }
    if (v.isEmpty) unstage(staged)
    v
  }

  /** Atomic append: stages the rows, then commits current ∪ new.
    * `statsCols` (integral columns) get per-file [min,max] recorded
    * for data-skipping range reads; `bloomCols` get a per-file Bloom
    * bitmap for point-lookup skipping ([[readWhereEq]]). An append
    * whose schema conflicts with the pinned table schema (same column
    * name, different type) throws before anything commits. */
  def append(df: DataFrame, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomBits: Int = 8192): Long = {
    val staged = stage(df, statsCols, bloomCols, bloomBits)
    guardStaged(staged) {
      commit(cur => Some(cur ++ staged),
        evolveSchema = appendEvolution(df.schema)).get // never aborts
    }
  }

  /** Schema transition of an append: first commit pins the incoming
    * schema; later commits validate + additively widen the pin. */
  private def appendEvolution(incoming: StructType)
      : Option[StructType] => Option[StructType] = {
    case Some(pinned) => Some(evolve(pinned, incoming))
    case None => Some(asNullable(incoming))
  }

  /** Unstage `staged` if `body` throws (schema rejection, lost-race
    * livelock): an aborted commit must not leak orphan data files. */
  private def guardStaged[A](staged: Seq[String])(body: => A): A =
    try body catch { case e: Throwable => unstage(staged); throw e }

  // Bloom parameters: k=4 independent probes via seeded xxhash64 —
  // the same expression computes write-side bits and query-side
  // positions, so consistency is by construction, not convention.
  // Values hash through a CANONICAL string cast on BOTH sides: raw
  // xxhash64 is type-sensitive, so a probe literal typed differently
  // from the stored column (lit(7) int32 vs a long column, or a
  // post-evolution int→long widening) would produce FALSE NEGATIVES —
  // silently missing rows. Under the string canon, any two values
  // that render the same SQL string hash identically.
  // Default 8192 bits ≈ 1% false-positive rate at ~1000 distinct
  // values per file (m/n ≈ 8, k=4); size `bloomBits` to the expected
  // per-file cardinality like Delta's fpp-based bloom index does.
  private val bloomSeeds = Seq(1, 2, 3, 4)

  // bump when the probe hash changes; query side ignores other versions
  private final val BloomHashVersion = "2"

  private def bloomPos(c: Column, seed: Int, bits: Int): Column =
    pmod(xxhash64(c.cast("string"), lit(seed)), lit(bits.toLong))

  /** Point-lookup read with Bloom file skipping: scans only files
    * whose bitmap has ALL k probe bits set for `value` — the index
    * for equality predicates on columns the table is NOT clustered
    * by, where [min,max] ranges prune nothing (every file spans the
    * whole domain) but membership still rules most files out. False
    * positives cost a wasted scan, never a wrong answer; files
    * without a bitmap are always read. Probes hash a canonical string
    * rendering, so integer-width mismatches are safe; a probe of a
    * DIFFERENT kind (lit(7) against a double column rendering "7.0")
    * still skips — render the probe as the column renders. */
  def readWhereEq(column: String, value: Column): DataFrame = {
    val snap = latest().getOrElse(
      throw new IllegalStateException(s"empty tx table at $root"))
    val pin = pinnedSchemaOf(snap.version)
    val hit = bloomLiveEntries(snap, column, value)
    val base =
      if (hit.nonEmpty) readEntries(hit, pin)
      else emptyLike(snap)
    base.filter(col(column) === value)
  }

  /** Multi-value Bloom point read — one log snapshot, ONE probe job
    * covering every (value, bitmap-size) pair, one scan over the union
    * of maybe-containing files: a q-term search costs one index
    * access, not q (q × [[readWhereEq]] would launch q probe jobs and
    * union q scan plans). Equals `read().filter(column IN values)` by
    * construction; a file is read iff its bitmap may contain ANY of
    * the values (or it carries no bitmap — skipping is an
    * optimization, never a correctness filter). */
  def readWhereIn(column: String, values: Seq[Column]): DataFrame = {
    val snap = latest().getOrElse(
      throw new IllegalStateException(s"empty tx table at $root"))
    if (values.isEmpty) return emptyLike(snap)
    val pin = pinnedSchemaOf(snap.version)
    val lengths = snap.files
      .flatMap(e => entryBlooms(e).get(column).map(_.length)).distinct
    val k = bloomSeeds.length
    val pairs = for { w <- lengths; vi <- values.indices } yield (w, vi)
    val pos: Map[(Int, Int), Seq[Long]] =
      if (pairs.isEmpty) Map.empty
      else {
        val row = spark.range(1).select(pairs.flatMap { case (w, vi) =>
          bloomSeeds.map(s => bloomPos(values(vi), s, w * 64))
        }: _*).head() // k·|values|·|sizes| tiny hashes — metadata
        pairs.zipWithIndex.map { case ((w, vi), i) =>
          (w, vi) -> (0 until k).map(j => row.getLong(i * k + j))
        }.toMap
      }
    val hit = snap.files.filter { e =>
      entryBlooms(e).get(column) match {
        case Some(w) => values.indices.exists(vi =>
          pos((w.length, vi)).forall(p =>
            ((w(p.toInt / 64) >>> (p.toInt % 64)) & 1L) == 1L))
        case None => true
      }
    }
    val base =
      if (hit.nonEmpty) readEntries(hit, pin)
      else emptyLike(snap)
    base.filter(values.map(col(column) === _).reduce(_ || _))
  }

  /** Entries whose Bloom bitmap may contain `value` in `column` (or
    * that carry no bitmap for it). Public for pruning assertions. */
  def bloomLiveEntries(snap: Snapshot, column: String,
      value: Column): Seq[String] = {
    // probe positions per bitmap size present in the manifest (a
    // table whose bloomBits changed across commits stays correct)
    val lengths = snap.files
      .flatMap(e => entryBlooms(e).get(column).map(_.length)).distinct
    val posByLen: Map[Int, Seq[Long]] = lengths.map { words =>
      val row = spark.range(1)
        .select(bloomSeeds.map(s => bloomPos(value, s, words * 64)): _*)
        .head() // k tiny hashes — metadata, not data
      words -> bloomSeeds.indices.map(row.getLong(_))
    }.toMap
    snap.files.filter { e =>
      entryBlooms(e).get(column) match {
        case Some(w) => posByLen(w.length).forall(p =>
          ((w(p.toInt / 64) >>> (p.toInt % 64)) & 1L) == 1L)
        case None => true // no bitmap: must read
      }
    }
  }

  /** Entries of `snap` that may hold rows with `column` ∈ [lo, hi]:
    * stats-carrying entries whose range intersects, plus every
    * stats-less entry (unknown ⇒ must be read — skipping is only ever
    * an optimization, never a correctness filter). */
  def liveEntriesFor(snap: Snapshot, column: String,
      lo: Long, hi: Long): Seq[String] =
    snap.files.filter { e =>
      entryStats(e).get(column) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      }
    }

  /** Data-skipping range read: scans ONLY the files whose recorded
    * [min,max] for `column` intersects [lo, hi] (Delta/Iceberg file
    * skipping), then applies the residual predicate — on a range-
    * clustered 100 TB table this turns a full scan into a handful of
    * files before the query even starts. Equals
    * `read().filter(column BETWEEN lo AND hi)` by construction. */
  def readWhere(column: String, lo: Long, hi: Long): DataFrame = {
    val snap = latest().getOrElse(
      throw new IllegalStateException(s"empty tx table at $root"))
    val hit = liveEntriesFor(snap, column, lo, hi)
    val base =
      if (hit.nonEmpty) readEntries(hit, pinnedSchemaOf(snap.version))
      // no file can match: keep the schema, produce zero rows (Catalyst
      // folds filter(false) to an empty LocalRelation — no scan runs)
      else emptyLike(snap)
    base.filter(col(column).try_cast("long").between(lo, hi))
  }

  /** Copy-on-write MERGE (upsert): rows of `source` replace target
    * rows with the same `key`; unmatched source rows are inserts.
    * Only files whose key range intersects the source's key range are
    * rewritten — with range-clustered data the rewrite touches a tiny
    * fraction of a 100 TB table (Delta MERGE's file-pruning phase).
    * The rest of the snapshot is carried over verbatim.
    *
    * `targetFiles > 0` range-partitions the rewrite on `key`, keeping
    * the table's key-clustering (and thus future pruning) tight.
    *
    * Conflict rules (Delta's WriteSerializable for MERGE): abort if a
    * racing rewrite REPLACED any affected file (committing would
    * resurrect replaced rows), and also if a racing APPEND added files
    * whose key range may intersect the source's — those rows were not
    * part of this rewrite, so carrying them over verbatim would leave
    * duplicate keys after the upsert (Delta's
    * ConcurrentAppendException). */
  def merge(source: DataFrame, key: String,
      statsCols: Seq[String] = Nil, targetFiles: Int = 0,
      beforeCommit: () => Unit = () => ()): Long = {
    val snap = latest().getOrElse(
      throw new IllegalStateException(s"cannot merge into empty table at $root"))
    val Seq(srcLo, srcHi) = {
      val r = source.agg(min(col(key).cast("long")), max(col(key).cast("long")))
        .collect().head // two longs — metadata, not data
      if (r.isNullAt(0)) return snap.version // empty source: no-op
      Seq(r.getLong(0), r.getLong(1))
    }
    val affected = liveEntriesFor(snap, key, srcLo, srcHi)
    val affectedSet = affected.toSet
    val merged = {
      val kept =
        if (affected.isEmpty) source.limit(0)
        else readEntries(affected, pinnedSchemaOf(snap.version))
          .join(source, Seq(key), "left_anti")
      val all = kept.unionByName(source, allowMissingColumns = true)
      if (targetFiles > 0) all.repartitionByRange(targetFiles, col(key))
      else all
    }
    val staged = stage(merged, statsCols)
    beforeCommit()
    val v = guardStaged(staged) {
      commit(
        cur =>
          if (!affectedSet.subsetOf(cur.toSet)) None // inputs replaced
          else if (rangeConflict(cur, snap.files, key, srcLo, srcHi)) None
          else Some(cur.filterNot(affectedSet) ++ staged),
        evolveSchema = appendEvolution(source.schema))
    }
    v.getOrElse {
      unstage(staged)
      throw new java.util.ConcurrentModificationException(
        s"merge inputs at $root changed under us (concurrent rewrite, or " +
          "a concurrent append whose keys may fall in the merge range); " +
          "re-read the latest snapshot and retry")
    }
  }

  /** True when `cur` contains entries that were NOT in the snapshot
    * this rewrite read (`base`) and whose recorded [min,max] for
    * `column` may intersect [lo, hi] — a stats-less new entry counts
    * (unknown ⇒ cannot be ruled out). Such rows would be carried over
    * verbatim by a merge/delete commit, silently escaping it. */
  private def rangeConflict(cur: Seq[String], base: Seq[String],
      column: String, lo: Long, hi: Long): Boolean = {
    val known = base.toSet
    cur.exists { e =>
      !known(e) && (entryStats(e).get(column) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      })
    }
  }

  /** Copy-on-write DELETE of rows with `column` ∈ [lo, hi]: files
    * whose stats range intersects are rewritten without the matching
    * rows; files that cannot contain matches — and rewrites that come
    * back empty — are simply carried over / dropped. The same
    * stats-pruning that accelerates reads bounds the write cost here:
    * deleting one key's range from a clustered 100 TB table rewrites
    * only the files that cover it. Conflict rules as [[merge]] (a
    * concurrent append whose keys may fall in [lo, hi] aborts — its
    * rows would survive a delete they match). A delete that empties
    * the table commits an empty snapshot, which stays readable via
    * the pinned schema. */
  def delete(column: String, lo: Long, hi: Long,
      statsCols: Seq[String] = Nil,
      beforeCommit: () => Unit = () => ()): Long = {
    val snap = latest().getOrElse(
      throw new IllegalStateException(s"cannot delete from empty table at $root"))
    val affected = liveEntriesFor(snap, column, lo, hi)
    val affectedSet = affected.toSet
    if (affected.isEmpty) return snap.version // nothing can match
    // null-safe BOTH ways: a NULL key is never "in range" (bare
    // `!between` is NULL for NULL input and would drop the row), and a
    // non-null key whose long cast is NULL (a non-integral column) is
    // not in an integer range either — keep on the CAST result, not
    // the raw column, so neither is silently deleted
    // try_cast, not cast: ANSI mode (Spark 4 default) makes cast THROW
    // on a malformed string — a delete on a string column would crash
    // instead of keeping the row
    val k = col(column).try_cast("long")
    val remaining = readEntries(affected, pinnedSchemaOf(snap.version))
      .filter(k.isNull || !k.between(lo, hi))
    val staged = stage(remaining, statsCols)
    beforeCommit()
    val v = guardStaged(staged) {
      commit { cur =>
        if (!affectedSet.subsetOf(cur.toSet)) None
        else if (rangeConflict(cur, snap.files, column, lo, hi)) None
        else Some(cur.filterNot(affectedSet) ++ staged)
      }
    }
    v.getOrElse {
      unstage(staged)
      throw new java.util.ConcurrentModificationException(
        s"delete inputs at $root changed under us (concurrent rewrite, or " +
          "a concurrent append whose keys may fall in the delete range); " +
          "re-read the latest snapshot and retry")
    }
  }

  /** Row-level change-data-capture between two committed versions,
    * computed from the manifests alone: only files that ENTERED or
    * LEFT the snapshot are read (on a copy-on-write table that is
    * exactly the changed fraction), then a multiset difference each
    * way yields the net row changes — `_change` = 'insert' | 'delete';
    * an update appears as its delete + insert pair, rows merely
    * rewritten by compaction cancel out. */
  def changes(fromVersion: Long, toVersion: Long): DataFrame = {
    val from = manifestFiles(fromVersion)
    val to = manifestFiles(toVersion)
    // both sides read under the TO version's pinned schema (additive
    // evolution: older files null-fill), so the multiset difference
    // compares congruent rows
    val pin = pinnedSchemaOf(toVersion).orElse(pinnedSchemaOf(fromVersion))
    val added = to.filterNot(from.toSet)
    val removed = from.filterNot(to.toSet)
    def rows(es: Seq[String], schemaOf: Seq[String]): DataFrame =
      if (es.nonEmpty) readEntries(es, pin)
      else if (schemaOf.nonEmpty) readEntries(schemaOf, pin).filter(lit(false))
      else emptyLike(Snapshot(toVersion, to))
    if (added.isEmpty && removed.isEmpty)
      return rows(Nil, to).withColumn("_change", lit(""))
    val a = rows(added, removed)
    val r = rows(removed, added)
    a.exceptAll(r).withColumn("_change", lit("insert"))
      .unionByName(r.exceptAll(a).withColumn("_change", lit("delete")))
  }

  /** Z-order clustering rewrite: orders the table by the interleaved
    * bits of two dimensions and range-partitions on that curve, so
    * every file covers a small rectangle in (a, b) space — per-file
    * [min,max] stats then prune scans on EITHER column, where plain
    * sorting serves only its leading column (Delta OPTIMIZE ZORDER
    * BY). Stats are recorded for both dimensions. */
  def zorder(colA: String, colB: String, targetFiles: Int,
      extraStatsCols: Seq[String] = Nil): Long = {
    val snap = latest().getOrElse(
      throw new IllegalStateException(s"nothing to zorder at $root"))
    if (snap.files.isEmpty) return snap.version // empty snapshot: no-op
    val inputs = snap.files.toSet
    val z = graft.functions.ZOrder.interleave16(col(colA), col(colB))
    val rewritten = stage(
      readEntries(snap.files, pinnedSchemaOf(snap.version))
        .withColumn("_z", z)
        .repartitionByRange(targetFiles, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z"),
      statsCols = Seq(colA, colB) ++ extraStatsCols)
    val v = commit { cur =>
      if (!inputs.subsetOf(cur.toSet)) None
      else Some(cur.filterNot(inputs) ++ rewritten)
    }
    v.getOrElse {
      unstage(rewritten)
      throw new java.util.ConcurrentModificationException(
        s"zorder inputs at $root were replaced by a concurrent rewrite")
    }
  }

  /** Transactional compaction: rewrites the snapshot it read into
    * `targetFiles`, committing (current − inputs) ∪ rewritten — so
    * files appended since the read survive verbatim. `beforeCommit` is
    * a test seam for injecting a concurrent writer at the worst moment.
    *
    * A standing INDEX table compacts with `clusterBy` + `bloomCols`
    * (and/or `statsCols`): the rewrite range-partitions on the cluster
    * key and re-records per-file skipping metadata, so the
    * append→fragment→compact cycle restores the exact build-time
    * layout — without them a compacted index would still serve
    * correctly (a file with no bitmap is always read) but every point
    * read would scan every compacted file, which defeats the index.
    *
    * Concurrent-compaction conflict is detected, not re-based through:
    * if a racing compactor already replaced this one's inputs, blindly
    * committing `cur.filterNot(inputs) ++ rewritten` would append a
    * second full copy of every row (filterNot is a no-op once the
    * inputs are gone). When any input file has left the current
    * snapshot, the loser unstages its rewrite and throws — the caller
    * re-runs against the new snapshot if it still wants a compaction.
    */
  def compact(targetFiles: Int, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, clusterBy: Seq[String] = Nil,
      beforeCommit: () => Unit = () => ()): Long = {
    val snap = latest().getOrElse(
      throw new IllegalStateException(s"nothing to compact at $root"))
    if (snap.files.isEmpty) return snap.version // empty snapshot: no-op
    val inputs = snap.files.toSet
    val base = readEntries(snap.files, pinnedSchemaOf(snap.version))
    val rewritten = stage(
      if (clusterBy.nonEmpty)
        base.repartitionByRange(targetFiles, clusterBy.map(col): _*)
      else base.repartition(targetFiles),
      statsCols = statsCols, bloomCols = bloomCols)
    beforeCommit()
    val v = commit { cur =>
      if (!inputs.subsetOf(cur.toSet)) None // inputs replaced under us
      else Some(cur.filterNot(inputs) ++ rewritten)
    }
    v.getOrElse {
      unstage(rewritten)
      throw new java.util.ConcurrentModificationException(
        s"compaction inputs at $root were replaced by a concurrent " +
          "rewrite; re-read the latest snapshot and retry")
    }
  }

  /** Delete data files the latest version does not reference — once
    * old-version readers are done (caller's contract, as with Delta's
    * VACUUM retention). Two classes are reclaimed:
    *
    *  - files some SUPERSEDED manifest lists: committed once, since
    *    replaced — safe regardless of age (no in-flight writer will
    *    ever commit them again);
    *  - files NO manifest lists, but only once older than `retention`:
    *    a young unreferenced file is most likely a concurrent writer's
    *    staged-not-yet-committed data — deleting it would let that
    *    writer publish a manifest pointing at nothing, bricking the
    *    table. Old unreferenced files are aborted commits' orphans.
    *
    * Superseded MANIFESTS are kept: they are tiny, they carry the
    * streaming batch markers idempotency depends on, and they are what
    * lets the first rule distinguish "replaced" from "in flight".
    * Temp manifest bodies a crashed commit stranded in `_log` are
    * removed under the same age rule as unreferenced data files.
    * Returns the number of data files reclaimed. */
  def vacuum(retention: java.time.Duration =
      java.time.Duration.ofMinutes(15)): Int = {
    val snap = latest().getOrElse(return 0)
    val live = snap.files.map(entryName).toSet
    val everCommitted =
      manifestVersions().flatMap(manifestFiles).map(entryName).toSet
    val cutoff = System.currentTimeMillis() - retention.toMillis
    val s = Files.list(dataDir)
    val all =
      try s.iterator().asScala.toSeq
      finally s.close()
    val dead = all.filter { p =>
      val name = p.getFileName.toString
      !live(name) &&
        (everCommitted(name) ||
          Files.getLastModifiedTime(p).toMillis < cutoff)
    }
    dead.foreach(Files.delete)
    val l = Files.list(logDir)
    // a live commit deletes its own temp file, possibly mid-listing
    try l.iterator().asScala.filter { p =>
      p.getFileName.toString.startsWith(TempManifestPrefix) &&
        scala.util.Try(Files.getLastModifiedTime(p).toMillis).toOption.exists(_ < cutoff)
    }.toSeq.foreach(p => Files.deleteIfExists(p))
    finally l.close()
    dead.size
  }
}

object TxTable {

  /** What one write task folded from its partition's stats inputs:
    * per stats column the [lo, hi] of its non-null values (lo > hi when
    * every value was null), and per Bloom column the bitmap words. */
  private final case class PartStats(partition: Int, lo: Array[Long],
      hi: Array[Long], blooms: Array[Array[Long]])

  /** Spark names each output file after the task's partition id. */
  private val PartFileName = "^part-(\\d+)-".r

  /** Per-partition pass of a stats-collecting write. Each input row is
    * `width` data columns followed by `nStats` long stats inputs and
    * `nBloom * k` Bloom positions in [0, bits); the pass emits the data
    * columns only and, once its rows are exhausted, reports the folded
    * [[PartStats]] to `acc` — nothing for a partition with no rows. */
  private def foldStats(width: Int, nStats: Int, nBloom: Int, k: Int,
      bits: Int, acc: CollectionAccumulator[PartStats])
      : Iterator[Row] => Iterator[Row] = rows => new Iterator[Row] {
    private val lo = Array.fill(nStats)(Long.MaxValue)
    private val hi = Array.fill(nStats)(Long.MinValue)
    private val blooms = Array.fill(nBloom)(new Array[Long](bits / 64))
    private var any = false
    private var reported = false

    def hasNext: Boolean = {
      val more = rows.hasNext
      if (!more && any && !reported) {
        reported = true
        acc.add(PartStats(TaskContext.getPartitionId(), lo, hi, blooms))
      }
      more
    }

    def next(): Row = {
      val r = rows.next()
      any = true
      var i = 0
      while (i < nStats) {
        if (!r.isNullAt(width + i)) {
          val v = r.getLong(width + i)
          if (v < lo(i)) lo(i) = v
          if (v > hi(i)) hi(i) = v
        }
        i += 1
      }
      // never null: xxhash64 of a null key is its seed, so null keys
      // set the seed positions, as the probe side expects
      var j = 0
      while (j < nBloom * k) {
        val p = r.getLong(width + nStats + j).toInt
        blooms(j / k)(p / 64) |= 1L << (p % 64)
        j += 1
      }
      Row.fromSeq(r.toSeq.take(width))
    }
  }
}
