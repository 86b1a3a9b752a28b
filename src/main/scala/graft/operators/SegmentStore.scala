package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The crash-atomic segment-store protocol under both persisted
  * indexes ([[LexIndex]]: four flat tables; [[IvfPq]]: one
  * `cell=`-partitioned coded file). The indexes own their layouts and
  * their math; everything below is defined once, here.
  *
  * ONE MANIFEST LOG PER STORE (the file-sink `_spark_metadata`
  * discipline of Structured Streaming). `_manifest/` is a Spark
  * [[HDFSMetadataLog]] of [[Manifest]] versions; each version names
  * every table's live data files, the pending tombstone files and the
  * applied ingest batchIds. Readers open the latest version
  * ([[open]]) and read its files by name — no listing, no per-file
  * liveness rule. Every mutation (build, batch append, streaming
  * ingest batch, delete, compaction, shard merge) stages its files,
  * renames them into the store, and commits by adding version v+1
  * ([[commit]]): the log's add is an atomic create-if-absent, so a
  * load sees all of a write or none of it, never torn statistics or a
  * torn coded file. A data or tombstone file that no version names is
  * garbage — the leftover of a crashed write — which the next
  * compaction sweeps ([[swapCompaction]]); a crashed write's staging
  * scratch under `_staging/` is replaced by the next write of its
  * kind, and a build removes both with the dir.
  *
  * Inside one JVM the read-latest → add(v+1) step is serialized per
  * store dir (two writers of one store, e.g. an append overlapped with
  * a delete, stage concurrently and commit in turn); the renames into
  * the store run inside that step, so a sweep never meets a renamed
  * but uncommitted file. An add that finds v+1 taken means another
  * process writes the store, and throws.
  *
  * Crash seams (`failAfter`): "staged" dies after staging, before any
  * publish; "publish-partial" after the first table (flat layout) or
  * cell (partitioned layout) is renamed in, before the commit; an
  * index may add seams of its own inside its staging ("stage-partial"
  * in LexIndex, `failAfterStage` in its compaction).
  *
  *   - BUILD ([[commitBuild]]): the index writes its tables into a
  *     [[reset]] dir and the written files become version 0. A torn
  *     build has no version: the recovery is rebuild.
  *   - BATCH APPEND ([[appendSegment]]): the staged delta is renamed in
  *     as `<appendPrefix>-<id>-<n>.parquet` (id = one past the largest
  *     live one). A retry after a crash reuses the id and replaces the
  *     earlier attempt's files.
  *   - STREAMING INGEST ([[ingestBatch]]) — idempotent under
  *     micro-batch retry, Structured Streaming's batchId-keyed sink
  *     rule: a batchId the manifest already lists is a no-op; otherwise
  *     the batch stages under `_staging/batch=<batchId>` with overwrite
  *     and publishes DETERMINISTIC `ingest-<batchId>-<n>.parquet`
  *     names, so a retry that died mid-publish replaces its own files
  *     byte for byte, and the commit records the batchId.
  *   - TOMBSTONES ([[deleteIds]]): a delete stages its ids and commits
  *     them as new tombstone files; the store is untouched. Loads gate
  *     serving through [[liveGate]] (a broadcast anti-join, added only
  *     when tombstones are pending), so a deleted row is unservable the
  *     moment its delete commits.
  *   - COMPACTION ([[swapCompaction]]): the index reads one version —
  *     its tombstones are the snapshot it applies — and stages the
  *     rewritten files; the swap publishes them and commits the latest
  *     version minus the rewritten files and minus the snapshot's
  *     tombstone files. A delete that lands mid-compaction stays
  *     pending, and a crash before the swap leaves the old version in
  *     force with every tombstone pending: tombstones are only ever
  *     retired in the version that drops their rows.
  *   - SHARD MERGE ([[mergeShards]]) is FILE-LEVEL: every shard's live
  *     data files and pending tombstones land shard-tagged under the
  *     output's matching table (and `cell=`) dirs — no decode, no
  *     shuffle, no row read (cost ∝ file count). A shard carrying
  *     ingest receipts is refused (per-stream batchIds cannot merge
  *     meaningfully — dropping them would let a replayed batch
  *     re-apply). The copy stands in for a same-filesystem rename or an
  *     object-store server-side copy (the merge must not consume its
  *     input shards); it runs on a bounded driver pool of
  *     [[CopyThreads]] — at real segment counts the per-file round
  *     trips, not the bytes, are the cost.
  */
private[graft] object SegmentStore {

  /** What differs between the stores sharing the protocol: the table
    * dirs, whether a table's files sit under `cell=` partition dirs
    * (such a layout has exactly one table), the batch-append file
    * prefix and id tag (ids are `<tag><n>`), and the tombstones' key
    * column.
    */
  final case class Layout(tables: Seq[String], partitioned: Boolean,
      appendPrefix: String, appendTag: String, tombstoneKey: String) {
    require(!partitioned || tables.size == 1,
      "a partitioned layout has exactly one table")
  }

  /** One committed version: each table's live data files and the
    * pending tombstone files, as paths relative to the store dir, and
    * the applied ingest batchIds.
    */
  final case class Manifest(files: Map[String, Seq[String]],
      tombstones: Seq[String], batches: Seq[Long]) {
    def of(table: String): Seq[String] = files.getOrElse(table, Nil)
    def withFiles(added: Map[String, Seq[String]]): Manifest =
      copy(files = (files.keySet ++ added.keySet).map(t =>
        t -> (of(t) ++ added.getOrElse(t, Nil)).sorted).toMap)
  }

  private val Empty = Manifest(Map.empty, Nil, Nil)
  private val CopyThreads = 8
  private val Staging = "_staging"
  private val Tombstones = "tombstones"
  /** Each store's manifest log, one per dir in this JVM: it is the
    * lock that serializes the dir's commits, and its cache of the
    * latest versions spares re-reading what this JVM just committed.
    * [[reset]] drops it with the dir.
    */
  private val logs = new ConcurrentHashMap[String, HDFSMetadataLog[Manifest]]()
  private def logOf(spark: SparkSession, dir: String): HDFSMetadataLog[Manifest] =
    logs.computeIfAbsent(dir, _ => new HDFSMetadataLog[Manifest](spark, s"$dir/_manifest"))

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** Replace `dir` wholesale: a build defines a FRESH store, so its
    * manifest, tombstones, staging scratch and trained tables of a
    * previous incarnation must not survive it.
    */
  def reset(spark: SparkSession, dir: String): Unit = {
    logs.remove(dir)
    fsOf(spark, dir).delete(new Path(dir), true): Unit
  }

  // ------------------------------------------------- manifest

  private def latest(log: HDFSMetadataLog[Manifest]): (Long, Manifest) =
    log.getLatest().getOrElse((-1L, Empty))

  /** The reader's open: the latest committed version (an empty one for
    * a store never committed).
    */
  def open(spark: SparkSession, dir: String): Manifest =
    if (!logs.containsKey(dir) && !fsOf(spark, dir).exists(new Path(s"$dir/_manifest"))) Empty
    else latest(logOf(spark, dir))._2

  /** Commit one mutation as version v+1 of `dir`'s manifest: `next`
    * sees the latest version, publishes its files and returns the new
    * version (None commits nothing). Serialized per store dir in this
    * JVM; returns the latest version afterwards.
    */
  private def commit(spark: SparkSession, dir: String)(
      next: Manifest => Option[Manifest]): (Long, Manifest) = {
    val log = logOf(spark, dir)
    log.synchronized {
      val (v, m) = latest(log)
      next(m) match {
        case None => (v, m)
        case Some(n) =>
          if (!log.add(v + 1, n)) throw new IllegalStateException(
            s"store $dir: manifest version ${v + 1} already exists - another " +
              "process is writing this store")
          (v + 1, n)
      }
    }
  }

  /** A store-relative file's full path. */
  private def pathOf(dir: String, rel: String): Path = new Path(s"$dir/$rel")

  /** The live data files of one store table, as full paths. */
  def files(dir: String, m: Manifest, table: String): Seq[Path] =
    m.of(table).map(pathOf(dir, _))

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

  /** A store table of version `m` as a DataFrame. */
  def read(spark: SparkSession, dir: String, layout: Layout, m: Manifest,
      table: String, schema: StructType): DataFrame =
    readFiles(spark, dir, layout, table, schema, files(dir, m, table))

  // ------------------------------------------------- publish

  /** Next unused id `<tag><n>` of `<prefix>-<tag><n>-…` files: one past
    * the largest live n.
    */
  def nextId(m: Manifest, prefix: String, tag: String): String = {
    val re = s"^${java.util.regex.Pattern.quote(s"$prefix-$tag")}(\\d+)-.*".r
    val used = m.files.values.flatten.map(f => new Path(f).getName)
      .collect { case re(n) => n.toLong }
    tag + (if (used.isEmpty) 1L else used.max + 1L)
  }

  /** The dirs holding a table's data files under `root` — the table
    * dir itself, or its `cell=` partitions sorted by name — each with
    * its path relative to `root`.
    */
  private def leaves(fs: FileSystem, root: String, layout: Layout,
      table: String): Seq[(Path, String)] = {
    val t = new Path(s"$root/$table")
    if (!layout.partitioned) Seq((t, table))
    else list(fs, t)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(st => (st.getPath, s"$table/${st.getPath.getName}"))
      .sortBy(_._2)
  }

  /** A dir's entries — none when it does not exist. */
  private def list(fs: FileSystem, d: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    try fs.listStatus(d).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  private def parquetIn(fs: FileSystem, d: Path): Seq[Path] =
    list(fs, d).map(_.getPath).filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  /** Rename `src` to `dst`, replacing what an earlier attempt left there. */
  private def move(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst) && !(fs.delete(dst, false) && fs.rename(src, dst)))
      throw new java.io.IOException(s"rename $src -> $dst failed")

  /** Rename every staged data file of a write (its tables staged
    * under `staging` as under the store dir) into the store as
    * `<name>-<n>.parquet` (n indexes each leaf dir's sorted staged
    * files; an empty name keeps the staged name) and return the
    * store-relative paths per table — None at the "publish-partial"
    * seam, which stops after the first leaf dir.
    */
  private def publish(fs: FileSystem, dir: String, layout: Layout,
      staging: String, name: String, failAfter: String): Option[Map[String, Seq[String]]] = {
    val units = layout.tables.flatMap(t =>
      leaves(fs, staging, layout, t).map { case (src, rel) => (t, src, rel) })
    val out = units.take(if (failAfter == "publish-partial") 1 else units.size)
      .map { case (t, src, rel) =>
        if (!fs.exists(pathOf(dir, rel))) fs.mkdirs(pathOf(dir, rel)): Unit
        t -> parquetIn(fs, src).zipWithIndex.map { case (f, i) =>
          val to = s"$rel/${if (name.isEmpty) f.getName else s"$name-$i.parquet"}"
          move(fs, f, pathOf(dir, to))
          to
        }
      }
    if (failAfter == "publish-partial") None
    else Some(out.groupMapReduce(_._1)(_._2)(_ ++ _))
  }

  /** Commit a freshly written build: every data file the index wrote
    * into its table dirs becomes version 0.
    */
  def commitBuild(spark: SparkSession, dir: String, layout: Layout): Unit = {
    val fs = fsOf(spark, dir)
    commit(spark, dir)(_ => Some(Manifest(layout.tables.map(t => t ->
      leaves(fs, dir, layout, t).flatMap { case (d, rel) =>
        parquetIn(fs, d).map(f => s"$rel/${f.getName}")
      }).toMap, Nil, Nil))): Unit
  }

  /** Land one batch append: `stage` the delta under the staging dir it
    * is given (overwriting what a crashed append left there), publish
    * and commit. See the header for the crash seams.
    */
  def appendSegment(spark: SparkSession, dir: String, layout: Layout,
      failAfter: String)(stage: String => Unit): Unit = {
    val fs = fsOf(spark, dir)
    val staging = new Path(s"$dir/$Staging/append")
    stage(staging.toString)
    if (failAfter == "staged" || failAfter == "stage-partial") return
    commit(spark, dir) { m =>
      val id = nextId(m, layout.appendPrefix, layout.appendTag)
      publish(fs, dir, layout, staging.toString, s"${layout.appendPrefix}-$id", failAfter)
        .map(m.withFiles)
    }
    if (failAfter != "publish-partial") fs.delete(staging, true): Unit
  }

  /** Land one streaming micro-batch, idempotently by `batchId` (see the
    * header). `failAfter` is the crash seam ("publish-partial").
    */
  def ingestBatch(spark: SparkSession, dir: String, layout: Layout,
      batchId: Long, failAfter: String = "")(stage: String => Unit): Unit = {
    if (open(spark, dir).batches.contains(batchId)) return
    val fs = fsOf(spark, dir)
    val staging = s"$dir/$Staging/batch=$batchId"
    stage(staging)
    commit(spark, dir) { m =>
      if (m.batches.contains(batchId)) None
      else publish(fs, dir, layout, staging, s"ingest-$batchId", failAfter)
        .map(f => m.withFiles(f).copy(batches = m.batches :+ batchId))
    }
    if (failAfter != "publish-partial") fs.delete(new Path(staging), true): Unit
  }

  // ------------------------------------------------- tombstones

  private def tombstoneSchema(layout: Layout): StructType =
    StructType(Seq(StructField(layout.tombstoneKey, LongType)))

  /** Commit ids as new pending tombstone files. */
  def deleteIds(ids: DataFrame, dir: String, layout: Layout): Unit = {
    val spark = ids.sparkSession
    val fs = fsOf(spark, dir)
    val staging = new Path(s"$dir/$Staging/delete-${java.util.UUID.randomUUID}")
    ids.select(col(layout.tombstoneKey).cast(LongType).as(layout.tombstoneKey))
      .write.parquet(staging.toString)
    commit(spark, dir) { m =>
      if (!fs.exists(new Path(s"$dir/$Tombstones"))) fs.mkdirs(new Path(s"$dir/$Tombstones")): Unit
      Some(m.copy(tombstones = m.tombstones ++ parquetIn(fs, staging).map { f =>
        move(fs, f, pathOf(dir, s"$Tombstones/${f.getName}"))
        s"$Tombstones/${f.getName}"
      }))
    }
    fs.delete(staging, true): Unit
  }

  /** The pending tombstone set of version `m`. */
  def tombstones(spark: SparkSession, dir: String, layout: Layout,
      m: Manifest): DataFrame =
    if (m.tombstones.isEmpty) empty(spark, tombstoneSchema(layout))
    else spark.read.schema(tombstoneSchema(layout))
      .parquet(m.tombstones.map(pathOf(dir, _).toString): _*)

  /** The load-time live-view gate: the identity while no tombstone is
    * pending (no join node, so deletion costs nothing until a delete
    * lands), else a broadcast anti-join on the tombstone key that
    * keeps the input's column order.
    */
  def liveGate(spark: SparkSession, dir: String, layout: Layout,
      m: Manifest): DataFrame => DataFrame =
    if (m.tombstones.isEmpty) identity
    else {
      val tombs = broadcast(tombstones(spark, dir, layout, m))
      df => df.join(tombs, Seq(layout.tombstoneKey), "left_anti")
        .select(df.columns.map(col): _*)
    }

  // ------------------------------------------------- compaction

  private def compactRoot(dir: String): String = s"$dir/$Staging/compact"

  /** A fresh staging root for a compaction's rewritten tables
    * (`<root>/<table>`): what a crashed compaction left there is gone.
    */
  def compactionStaging(spark: SparkSession, dir: String): String = {
    fsOf(spark, dir).delete(new Path(compactRoot(dir)), true): Unit
    compactRoot(dir)
  }

  /** Swap a staged compaction of `snapshot` in: publish the staged
    * files as `<name>-<n>.parquet` (an empty name keeps the staged
    * names) and commit the LATEST version minus the `dropped` files and
    * minus the snapshot's tombstone files (`fenced` also retires the
    * ingest receipts). Then sweep every data or tombstone file the new
    * version does not name — the rewritten files, the applied
    * tombstones and crashed writes' garbage — and purge the older
    * versions. Compactions of one store are assumed not to overlap.
    */
  def swapCompaction(spark: SparkSession, dir: String, layout: Layout,
      snapshot: Manifest, name: String, dropped: Map[String, Seq[String]],
      fenced: Boolean): Unit = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(new Path(s"$dir/_manifest"))) return
    val gone = dropped.values.flatten.toSet ++ snapshot.tombstones
    val changed = gone.nonEmpty || (fenced && snapshot.batches.nonEmpty)
    val log = logOf(spark, dir)
    log.synchronized {
      val (v, now) = commit(spark, dir) { m =>
        if (!changed) None
        else publish(fs, dir, layout, compactRoot(dir), name, "").map(added =>
          Manifest(m.files.map { case (t, fs0) => t -> fs0.filterNot(gone) },
            m.tombstones.filterNot(gone), if (fenced) Nil else m.batches)
            .withFiles(added))
      }
      sweep(fs, dir, layout, now)
      log.purge(v)
    }
    fs.delete(new Path(compactRoot(dir)), true): Unit
  }

  /** Delete every data and tombstone file that version `m` does not
    * name, and every `cell=` dir left with none.
    */
  private def sweep(fs: FileSystem, dir: String, layout: Layout, m: Manifest): Unit = {
    val live = (m.files.values.flatten ++ m.tombstones).toSet
    (layout.tables.flatMap(leaves(fs, dir, layout, _)) :+
        ((new Path(s"$dir/$Tombstones"), Tombstones))).foreach { case (d, rel) =>
      val (keep, drop) = parquetIn(fs, d).partition(f => live(s"$rel/${f.getName}"))
      if (keep.isEmpty && rel.contains("/cell=")) fs.delete(d, true): Unit
      else drop.foreach(f => fs.delete(f, false): Unit)
    }
  }

  // ------------------------------------------------- shard merge

  /** File-level merge of shard stores into `outDir` (see the header).
    * `verify` runs after the refusal check and before the output is
    * replaced; `whole` names subdirs copied verbatim from the first
    * shard (trained tables the caller verified identical).
    */
  def mergeShards(spark: SparkSession, shardDirs: Seq[String],
      outDir: String, layout: Layout, whole: Seq[String] = Nil,
      verify: => Unit = ()): Unit = {
    require(shardDirs.nonEmpty, "mergeIndexes: no shards")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, outDir)
    val shards = shardDirs.map(d => d -> open(spark, d))
    shards.foreach { case (d, m) =>
      require(m.batches.isEmpty,
        s"mergeIndexes: shard $d carries ingest receipts - it is a serving " +
          "store, not a build shard; compact its ingest into a fresh build " +
          "before merging")
    }
    verify
    reset(spark, outDir)
    whole.foreach { sub =>
      val p = new Path(s"${shardDirs.head}/$sub")
      if (fs.exists(p))
        FileUtil.copy(fs, p, fs, new Path(s"$outDir/$sub"), false, conf): Unit
    }
    def tagged(rel: String, i: Int): String = {
      val p = new Path(rel)
      s"${p.getParent}/shard$i-${p.getName}"
    }
    val indexed = shards.map(_._2).zipWithIndex
    val merged = Manifest(
      layout.tables.map(t => t -> indexed.flatMap { case (m, i) => m.of(t).map(tagged(_, i)) }
        .sorted).toMap,
      indexed.flatMap { case (m, i) => m.tombstones.map(tagged(_, i)) }.sorted, Nil)
    val copies = shards.zipWithIndex.flatMap { case ((d, m), i) =>
      (m.files.values.flatten ++ m.tombstones).map(rel =>
        (pathOf(d, rel), pathOf(outDir, tagged(rel, i))))
    }
    copies.map(_._2.getParent).distinct.foreach(p => fs.mkdirs(p): Unit)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(CopyThreads, copies.size max 1))
    try {
      copies.map { case (src, dst) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = FileUtil.copy(fs, src, fs, dst, false, conf): Unit
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    commit(spark, outDir)(_ => Some(merged)): Unit
  }
}
