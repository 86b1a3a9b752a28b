package graft.operators

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The crash-atomic segment-store protocol under both persisted
  * indexes ([[LexIndex]]: four flat tables; [[IvfPq]]: one
  * `cell=`-partitioned coded file). The indexes own their layouts and
  * their math; everything below is defined once, here.
  *
  * SEGMENTS AND COMMIT MARKERS (the LSM/table-format discipline).
  * Every mutating write lands as a NAMED SEGMENT — a deterministic
  * set of data files across the store's tables plus a commit marker —
  * and readers only see files whose segment is committed:
  *   - the base build writes plain `part-*` files (the implicit base
  *     segment, always live — a build replaces the dir wholesale
  *     ([[reset]]), so a torn build is a torn store and the recovery
  *     is rebuild);
  *   - a batch append publishes `<appendPrefix>-<id>-<n>.parquet`
  *     files, live only once `<appendMarkers>/<id>` exists
  *     ([[appendSegment]]);
  *   - a streaming ingest batch publishes `ingest-<b>-<n>.parquet`
  *     files, live only once `_ingest_commits/<b>` exists
  *     ([[ingestBatch]]);
  *   - anything else (merged `shard<i>-…` copies — the merge copies
  *     only LIVE files — and compaction rewrites whose marker landed)
  *     is live ([[fileIsLive]]).
  * A marker is written strictly AFTER every data file of its segment
  * is in place, and the marker DIR is created BEFORE the first rename,
  * which switches readers from the wholesale-directory fast path to
  * the filtered listing ([[read]]). So a crash anywhere inside a
  * multi-table or multi-cell publish leaves the whole segment
  * INVISIBLE — a load sees all of a segment or none of it, never torn
  * statistics or a torn coded file. The liveness check is one
  * driver-side listing per table (cost ∝ file count — the manifest
  * read every LSM store pays; a deployment amortizes it in a manifest
  * file).
  *
  * BATCH APPEND ([[appendSegment]]): the index stages its delta under
  * `_append_staging/seg=<id>`, publish renames the staged files to
  * their segment names, the marker lands last, and the staging is
  * dropped. Batch appends are transactional retry-by-caller: the next
  * append rolls a torn attempt back — an UNCOMMITTED staged segment's
  * partially-published files are purged; a committed leftover (marker
  * landed, only the staging cleanup crashed) keeps its files. Crash
  * seams (`failAfter`): "staged" dies after staging, before any
  * publish; "publish-partial" after the first table (flat layout) or
  * cell (partitioned layout) is renamed in; an index may add seams of
  * its own inside its staging ("stage-partial" in LexIndex).
  *
  * STREAMING INGEST ([[ingestBatch]]) — idempotent under micro-batch
  * retry, Structured Streaming's batchId-keyed sink rule. A re-run
  * batch carries the SAME batchId, and a plain append would land its
  * rows twice; instead:
  *  1. the marker `_ingest_commits/<batchId>` short-circuits a replay
  *     of an already-committed batch to a no-op;
  *  2. the batch stages under `_staging/batch=<batchId>` with
  *     overwrite — a retry that died mid-stage rewrites the same dir;
  *  3. publish renames the staged files to DETERMINISTIC
  *     batchId-keyed names, deleting any partial publish of this
  *     batch first — a retry that died mid-publish replaces its own
  *     files byte for byte instead of duplicating them;
  *  4. the marker lands last. Index encodes are deterministic per row,
  *     so a replay reproduces identical files.
  * Work and writes stay delta-sized; base files are never rewritten.
  *
  * TOMBSTONES. A delete appends ids to the side table `tombstones/`
  * ([[deleteIds]]) — the store is untouched, and a single-table
  * append is job-atomic. Loads gate serving through [[liveGate]] (a
  * broadcast anti-join, added only when tombstones exist), so a
  * deleted row is unservable the moment its delete lands. Compaction
  * applies a SNAPSHOT of the tombstone FILES taken up front
  * ([[tombstoneSnapshot]]) and clears only that snapshot
  * ([[clearTombstones]]) strictly AFTER every physical removal: a
  * delete landing mid-compaction stays pending, and a crash at any
  * point leaves tombstones pending — re-applying an already-removed
  * id is a no-op anti-join, so deletes are never lost, at worst
  * re-applied.
  *
  * PLAN-REPLAY COMPACTION PUBLISH (flat layout; single concurrent
  * compactor assumed). The index stages its rewritten segment under
  * `_compact_staging/<table>`; [[commitCompactionPlan]] writes a PLAN
  * (every publish rename, every old file and marker to drop, the new
  * segment's commit, the snapshot tombstones, by name) and then a
  * `_complete` marker. A crash mid-stage restarts fresh (no marker →
  * staging discarded); a crash mid-publish resumes the plan on the
  * next compaction ([[resumeCompaction]] — renames and drops are
  * name-deterministic and idempotent) and NEVER clears tombstones on
  * a resume, since whether a late-landing tombstone made the snapshot
  * is unknowable then. A store carrying `_ingest_commits` receipts is
  * fenced by the index (an ingest publish racing the compactor's drops
  * would be erased while its marker survives); a fenced plan clears
  * the receipts with the folded segments.
  *
  * SHARD MERGE ([[mergeShards]]) is FILE-LEVEL: every shard's LIVE
  * data files and pending tombstones land shard-tagged under the
  * output's matching table (and `cell=`) dirs — no decode, no shuffle,
  * no row read (cost ∝ file count). Shards carrying ingest receipts
  * (per-stream batchIds cannot merge meaningfully — dropping them
  * would let a replayed batch re-apply) or a staged compaction
  * (mid-rewrite, indeterminate) are refused. The copy stands in for a
  * same-filesystem rename or an object-store server-side copy (the
  * merge must not consume its input shards); it runs on a bounded
  * driver pool of [[CopyThreads]] — at real segment counts the
  * per-file round trips, not the bytes, are the cost.
  */
private[graft] object SegmentStore {

  /** What differs between the stores sharing the protocol: the table
    * dirs, whether a table's files sit under `cell=` partition dirs
    * (such a layout has exactly one table), the batch-append file
    * prefix, marker dir and id tag (ids are `<tag><n>`), and the
    * tombstones' key column.
    */
  final case class Layout(tables: Seq[String], partitioned: Boolean,
      appendPrefix: String, appendMarkers: String, appendTag: String,
      tombstoneKey: String) {
    require(!partitioned || tables.size == 1,
      "a partitioned layout has exactly one table")
  }

  val IngestMarkers = "_ingest_commits"
  private val CopyThreads = 8
  private val AppendStaging = "_append_staging"
  private val CompactStaging = "_compact_staging"

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** Replace `dir` wholesale: a build defines a FRESH store, so
    * tombstones, commit markers, staging scratch and trained tables of
    * a previous incarnation must not survive it (leaked markers would
    * no-op batch ids the new store never saw, leaked tombstones would
    * gate its live view).
    */
  def reset(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    if (fs.exists(p)) fs.delete(p, true): Unit
  }

  // ------------------------------------------------- liveness

  /** The ids of the markers under `p` — empty when the dir is absent. */
  private def markerSet(fs: FileSystem, p: Path): Set[String] =
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName).toSet

  /** Is a store file LIVE — i.e. committed? Append- and ingest-tagged
    * files need their marker; everything else is live.
    */
  private def fileIsLive(name: String, layout: Layout, appends: Set[String],
      ingests: Set[String]): Boolean =
    if (name.startsWith(layout.appendPrefix + "-")) appends.contains(name.split("-")(1))
    else if (name.startsWith("ingest-")) ingests.contains(name.split("-")(1))
    else true

  /** The dirs holding a table's data files: the table dir itself, or
    * its `cell=` partitions sorted by name.
    */
  private def leafDirs(fs: FileSystem, table: Path, layout: Layout): Seq[Path] =
    if (!layout.partitioned) Seq(table)
    else fs.listStatus(table)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(_.getPath).sortBy(_.getName).toSeq

  /** The LIVE data files of one store table, sorted. */
  def liveFiles(spark: SparkSession, dir: String, layout: Layout,
      table: String): Seq[Path] = {
    val fs = fsOf(spark, dir)
    val t = new Path(s"$dir/$table")
    if (!fs.exists(t)) return Seq.empty
    val appends = markerSet(fs, new Path(s"$dir/${layout.appendMarkers}"))
    val ingests = markerSet(fs, new Path(s"$dir/$IngestMarkers"))
    leafDirs(fs, t, layout).flatMap(d => fs.listStatus(d).map(_.getPath))
      .filter(p => p.getName.endsWith(".parquet")
        && fileIsLive(p.getName, layout, appends, ingests))
      .sortBy(_.toString)
  }

  /** An explicit file list of one table as a DataFrame (empty list →
    * empty relation); a partitioned table keeps its partition column
    * via basePath.
    */
  def readFiles(spark: SparkSession, dir: String, layout: Layout,
      table: String, schema: StructType, files: Seq[Path]): DataFrame =
    if (files.isEmpty) empty(spark, schema)
    else {
      val r = spark.read.schema(schema)
      (if (layout.partitioned) r.option("basePath", s"$dir/$table") else r)
        .parquet(files.map(_.toString): _*)
    }

  /** A store table as a DataFrame of its LIVE files only. Fast path: a
    * store that never saw a tagged write (no marker dirs) reads the
    * directory wholesale — no listing, no filtering.
    */
  def read(spark: SparkSession, dir: String, layout: Layout, table: String,
      schema: StructType): DataFrame = {
    val fs = fsOf(spark, dir)
    val tagged = fs.exists(new Path(s"$dir/${layout.appendMarkers}")) ||
      fs.exists(new Path(s"$dir/$IngestMarkers"))
    if (!tagged) spark.read.schema(schema).parquet(s"$dir/$table")
    else readFiles(spark, dir, layout, table, schema,
      liveFiles(spark, dir, layout, table))
  }

  // ------------------------------------------------- publish

  /** Next unused id `<tag><n>` under a marker dir: max n + 1. */
  def nextId(fs: FileSystem, markers: Path, tag: String): String = {
    val re = s"^$tag(\\d+)$$".r
    val used = markerSet(fs, markers)
      .flatMap { case re(n) => Some(n.toLong); case _ => None }
    tag + (if (used.isEmpty) 1L else used.max + 1L)
  }

  /** Rename every staged data file of a write into the store as
    * `<name>-<n>.parquet` (n indexes each leaf dir's sorted staged
    * files), first clearing any partial publish under the same name.
    * The "publish-partial" seam stops after the first leaf dir.
    */
  private def publish(fs: FileSystem, dir: String, layout: Layout,
      staging: String, name: String, failAfter: String): Unit = {
    val units = layout.tables.flatMap { t =>
      val staged = new Path(if (layout.partitioned) staging else s"$staging/$t")
      leafDirs(fs, staged, layout).map(src => (src,
        if (layout.partitioned) new Path(s"$dir/$t/${src.getName}")
        else new Path(s"$dir/$t")))
    }
    units.take(if (failAfter == "publish-partial") 1 else units.size)
      .foreach { case (src, target) =>
        if (!fs.exists(target)) fs.mkdirs(target): Unit
        fs.listStatus(target).map(_.getPath)
          .filter(_.getName.startsWith(s"$name-"))
          .foreach(p => fs.delete(p, false): Unit)
        fs.listStatus(src).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).zipWithIndex
          .foreach { case (f, i) =>
            fs.rename(f, new Path(target, s"$name-$i.parquet")): Unit
          }
      }
  }

  /** Land one batch append as a committed segment: roll back a torn
    * earlier attempt, `stage` the delta under the staging dir it is
    * given, publish, commit. See the header for the crash seams.
    */
  def appendSegment(spark: SparkSession, dir: String, layout: Layout,
      failAfter: String)(stage: String => Unit): Unit = {
    val fs = fsOf(spark, dir)
    rollbackTornAppend(fs, dir, layout)
    val markers = new Path(s"$dir/${layout.appendMarkers}")
    val id = nextId(fs, markers, layout.appendTag)
    val staging = s"$dir/$AppendStaging/seg=$id"
    stage(staging)
    if (failAfter == "staged" || failAfter == "stage-partial") return
    fs.mkdirs(markers): Unit // liveness filtering on before the first rename
    publish(fs, dir, layout, staging, s"${layout.appendPrefix}-$id", failAfter)
    if (failAfter == "publish-partial") return
    fs.create(new Path(markers, id)).close() // the commit point
    fs.delete(new Path(s"$dir/$AppendStaging"), true): Unit
  }

  /** Roll back torn batch appends: purge the partially-published
    * (invisible) files of every UNCOMMITTED staged segment, then drop
    * the staging.
    */
  private def rollbackTornAppend(fs: FileSystem, dir: String,
      layout: Layout): Unit = {
    val root = new Path(s"$dir/$AppendStaging")
    if (!fs.exists(root)) return
    val torn = fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("seg=")).map(_.stripPrefix("seg="))
      .filterNot(id => fs.exists(new Path(s"$dir/${layout.appendMarkers}/$id")))
      .map(id => s"${layout.appendPrefix}-$id-")
    if (torn.nonEmpty) for (t <- layout.tables) {
      val tp = new Path(s"$dir/$t")
      if (fs.exists(tp)) leafDirs(fs, tp, layout)
        .flatMap(d => fs.listStatus(d).map(_.getPath))
        .filter(p => torn.exists(p.getName.startsWith))
        .foreach(p => fs.delete(p, false): Unit)
    }
    fs.delete(root, true): Unit
  }

  /** Land one streaming micro-batch, idempotently by `batchId` (see the
    * header). `failAfter` is the crash seam ("publish-partial").
    */
  def ingestBatch(spark: SparkSession, dir: String, layout: Layout,
      batchId: Long, failAfter: String = "")(stage: String => Unit): Unit = {
    val fs = fsOf(spark, dir)
    val marker = new Path(s"$dir/$IngestMarkers/$batchId")
    if (fs.exists(marker)) return
    val staging = s"$dir/_staging/batch=$batchId"
    stage(staging)
    fs.mkdirs(marker.getParent): Unit // liveness filtering on before the first rename
    publish(fs, dir, layout, staging, s"ingest-$batchId", failAfter)
    if (failAfter == "publish-partial") return
    fs.delete(new Path(staging), true): Unit
    fs.create(marker).close()
  }

  // ------------------------------------------------- tombstones

  private def tombstoneSchema(layout: Layout): StructType =
    StructType(Seq(StructField(layout.tombstoneKey, LongType)))

  /** Append ids to the side tombstone table. */
  def deleteIds(ids: DataFrame, dir: String, layout: Layout): Unit =
    ids.select(col(layout.tombstoneKey).cast(LongType).as(layout.tombstoneKey))
      .write.mode("append").parquet(s"$dir/tombstones")

  /** The pending tombstone set — empty (not an error) when no delete
    * has landed since the last compaction.
    */
  def tombstones(spark: SparkSession, dir: String, layout: Layout): DataFrame = {
    val p = new Path(s"$dir/tombstones")
    if (fsOf(spark, dir).exists(p))
      spark.read.schema(tombstoneSchema(layout)).parquet(p.toString)
    else empty(spark, tombstoneSchema(layout))
  }

  /** The load-time live-view gate: the identity while no tombstone is
    * pending (no join node, so deletion costs nothing until a delete
    * lands), else a broadcast anti-join on the tombstone key that
    * keeps the input's column order.
    */
  def liveGate(spark: SparkSession, dir: String,
      layout: Layout): DataFrame => DataFrame = {
    val p = new Path(s"$dir/tombstones")
    if (!fsOf(spark, dir).exists(p)) identity
    else {
      val tombs = broadcast(
        spark.read.schema(tombstoneSchema(layout)).parquet(p.toString))
      df => df.join(tombs, Seq(layout.tombstoneKey), "left_anti")
        .select(df.columns.map(col): _*)
    }
  }

  /** Snapshot the pending tombstone FILES and read exactly them. */
  def tombstoneSnapshot(spark: SparkSession, dir: String,
      layout: Layout): (Seq[Path], DataFrame) = {
    val fs = fsOf(spark, dir)
    val p = new Path(s"$dir/tombstones")
    val files =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).filter(_.isFile).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).toSeq
    (files,
      if (files.isEmpty) empty(spark, tombstoneSchema(layout))
      else spark.read.schema(tombstoneSchema(layout))
        .parquet(files.map(_.toString): _*))
  }

  /** Clear an applied snapshot by file name; the table dir goes once
    * no tombstone file is left in it.
    */
  def clearTombstones(fs: FileSystem, dir: String, names: Seq[String]): Unit = {
    names.foreach(n => fs.delete(new Path(s"$dir/tombstones/$n"), false): Unit)
    val p = new Path(s"$dir/tombstones")
    if (fs.exists(p) &&
        !fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
      fs.delete(p, true): Unit
  }

  // ------------------------------------------------- compaction publish

  /** Finish a compaction that crashed mid-publish (its plan replays,
    * tombstones stay pending) and report true; otherwise discard a
    * compaction that crashed mid-stage and report false.
    */
  def resumeCompaction(fs: FileSystem, dir: String, layout: Layout): Boolean = {
    val stage = new Path(s"$dir/$CompactStaging")
    if (fs.exists(new Path(stage, "_complete"))) {
      publishCompaction(fs, dir, layout, clearTombs = false)
      true
    } else {
      if (fs.exists(stage)) fs.delete(stage, true): Unit
      false
    }
  }

  /** The staging dir of a compaction's rewritten table. */
  def compactionStaging(dir: String, table: String): String =
    s"$dir/$CompactStaging/$table"

  /** Write the plan of a staged compaction and its `_complete`
    * marker: the staged files publish as segment `newId`, the files
    * in `dropped` and the markers of the `folded` segments go, a
    * `fenced` plan also clears the ingest receipts, and the snapshot
    * `tombFiles` clear last. Publishes unless `failAfterStage`.
    */
  def commitCompactionPlan(fs: FileSystem, dir: String, layout: Layout,
      newId: String, dropped: Map[String, Seq[Path]], folded: Set[String],
      fenced: Boolean, tombFiles: Seq[Path], failAfterStage: Boolean): Unit = {
    require(!layout.partitioned, "plan-replay compaction is flat-layout only")
    val seg = layout.appendPrefix
    val plan = new StringBuilder
    for (t <- layout.tables) {
      fs.listStatus(new Path(compactionStaging(dir, t))).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).zipWithIndex
        .foreach { case (f, i) =>
          plan.append(s"pub:$t/${f.getName}:$seg-$newId-$i.parquet\n"): Unit
        }
      dropped(t).foreach(p => plan.append(s"drop:$t/${p.getName}\n"): Unit)
    }
    plan.append(s"commit:$newId\n"): Unit
    folded.foreach { s =>
      if (s.startsWith(s"$seg-"))
        plan.append(s"dropmark:${layout.appendMarkers}/${s.stripPrefix(s"$seg-")}\n"): Unit
      if (s.startsWith("ingest-"))
        plan.append(s"dropmark:$IngestMarkers/${s.stripPrefix("ingest-")}\n"): Unit
    }
    if (fenced) plan.append(s"fence:$IngestMarkers\n"): Unit
    tombFiles.foreach(p => plan.append(s"tomb:${p.getName}\n"): Unit)
    val out = fs.create(new Path(s"$dir/$CompactStaging/_plan"))
    out.write(plan.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    fs.create(new Path(s"$dir/$CompactStaging/_complete")).close()
    if (!failAfterStage) publishCompaction(fs, dir, layout, clearTombs = true)
  }

  /** Replay the staged compaction plan: renames in (invisible until
    * the commit marker), old files and markers dropped, the new
    * segment committed, the fence applied, snapshot tombstones cleared
    * (never on a resume), staging removed. Every step is
    * name-deterministic and idempotent. The brief reader-visible
    * window (old files dropped, new marker not yet landed) is the
    * documented single-compactor / no-concurrent-reader publish window.
    */
  private def publishCompaction(fs: FileSystem, dir: String, layout: Layout,
      clearTombs: Boolean): Unit = {
    val in = fs.open(new Path(s"$dir/$CompactStaging/_plan"))
    val planText = new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    in.close()
    val lines = planText.split("\n").filter(_.nonEmpty).toSeq
    def arg(tag: String): Seq[String] =
      lines.filter(_.startsWith(tag + ":")).map(_.stripPrefix(tag + ":"))
    fs.mkdirs(new Path(s"$dir/${layout.appendMarkers}")): Unit
    // 1. renames in (files stay invisible: no marker yet)
    arg("pub").foreach { l =>
      val Array(tableAndSrc, dstName) = l.split(":")
      val Array(t, srcName) = tableAndSrc.split("/")
      val src = new Path(s"${compactionStaging(dir, t)}/$srcName")
      if (fs.exists(src)) {
        val target = new Path(s"$dir/$t")
        if (!fs.exists(target)) fs.mkdirs(target): Unit
        val dst = new Path(target, dstName)
        if (fs.exists(dst)) fs.delete(dst, false): Unit
        fs.rename(src, dst): Unit
      }
    }
    // 2. drop the rewritten segments' old files and markers
    (arg("drop") ++ arg("dropmark")).foreach { rel =>
      val p = new Path(s"$dir/$rel")
      if (fs.exists(p)) fs.delete(p, false): Unit
    }
    // 3. commit the new segment
    arg("commit").foreach { id =>
      fs.create(new Path(s"$dir/${layout.appendMarkers}/$id"), true).close()
    }
    // 4. stream fence: the folded stream's receipts die with it
    if (arg("fence").nonEmpty) {
      val p = new Path(s"$dir/$IngestMarkers")
      if (fs.exists(p)) fs.delete(p, true): Unit
    }
    // 5. snapshot tombstones — strictly after every publish step, and
    // NEVER on a resumed publish
    if (clearTombs) clearTombstones(fs, dir, arg("tomb"))
    fs.delete(new Path(s"$dir/$CompactStaging"), true): Unit
  }

  // ------------------------------------------------- shard merge

  /** File-level merge of shard stores into `outDir` (see the header).
    * `verify` runs after the refusal checks and before the output is
    * replaced; `whole` names subdirs copied verbatim from the first
    * shard (trained tables the caller verified identical).
    */
  def mergeShards(spark: SparkSession, shardDirs: Seq[String],
      outDir: String, layout: Layout, whole: Seq[String] = Nil,
      verify: => Unit = ()): Unit = {
    require(shardDirs.nonEmpty, "mergeIndexes: no shards")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, outDir)
    shardDirs.foreach { d =>
      require(!fs.exists(new Path(s"$d/$IngestMarkers")),
        s"mergeIndexes: shard $d carries $IngestMarkers receipts - " +
          "it is a serving store, not a build shard; compact its ingest " +
          "into a fresh build before merging")
      require(!fs.exists(new Path(s"$d/$CompactStaging")),
        s"mergeIndexes: shard $d carries a staged compaction - finish " +
          "or discard it (compactIndex) before merging")
    }
    verify
    val out = new Path(outDir)
    if (fs.exists(out)) fs.delete(out, true): Unit
    whole.foreach { sub =>
      val p = new Path(s"${shardDirs.head}/$sub")
      if (fs.exists(p))
        FileUtil.copy(fs, p, fs, new Path(s"$outDir/$sub"), false, conf): Unit
    }
    val copies: Seq[(Path, Path)] = shardDirs.zipWithIndex.flatMap {
      case (d, i) =>
        val data = layout.tables.flatMap { t =>
          liveFiles(spark, d, layout, t).map(f => (f,
            if (layout.partitioned) s"$outDir/$t/${f.getParent.getName}"
            else s"$outDir/$t"))
        }
        val tomb = new Path(s"$d/tombstones")
        val tombs =
          if (!fs.exists(tomb)) Seq.empty
          else fs.listStatus(tomb).map(_.getPath)
            .filter(_.getName.endsWith(".parquet"))
            .map(f => (f, s"$outDir/tombstones")).toSeq
        (data ++ tombs).map { case (f, to) => (f, new Path(to, s"shard$i-${f.getName}")) }
    }
    // every output table exists even when no shard has rows (explicit-
    // schema reads of an empty dir yield empty relations)
    (layout.tables.map(t => new Path(s"$outDir/$t")) ++ copies.map(_._2.getParent))
      .distinct.foreach(p => fs.mkdirs(p): Unit)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(CopyThreads, copies.size max 1))
    try {
      copies.map { case (src, dst) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = FileUtil.copy(fs, src, fs, dst, false, conf): Unit
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }
}
