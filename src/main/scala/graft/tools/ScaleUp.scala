package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus scaler: tiles the driver-generated testdata
  * R× with per-replica key offsets, producing an order-of-magnitude
  * scale point (sf1 from sf0.1) for empirical plan-shape checks — do
  * the near-linear claims (banded LSH, bucketed ANN, hash aggregates)
  * actually hold at 10×?
  *
  * Distribution fidelity choices:
  *  - id keys get disjoint per-replica offsets (joins/groups see 10×
  *    keys, same per-key density);
  *  - document TEXT is caesar-shifted per replica (lowercase ring):
  *    length, gram counts and WITHIN-replica near-dup structure are
  *    preserved exactly, while cross-replica shingle sets are disjoint
  *    — so candidate-pair volume scales linearly like a real corpus,
  *    instead of exploding quadratically (verbatim tiling would make
  *    every doc a 10-way near-dup);
  *  - event timestamps are unchanged: 10× rows per time bucket, the
  *    "denser fleet" reading of scale;
  *  - dims (region, nation) stay as-is.
  *
  * Output mimics the testdata layout (one `<table>.parquet` FILE per
  * table) so the file-stream glob replay works unchanged.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> [replicas=10] [table ...]
  * (an explicit table list materializes only those tables — the
  * sf10/100× point needs documents+embeddings, not a 60M-row
  * single-file lineitem)
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val reps = if (args.length > 2) args(2).toInt else 10
    val onlyTables: Option[Set[String]] =
      if (args.length > 3) Some(args.drop(3).toSet) else None
    // Text: per-replica AFFINE substitution c -> a*c + b (mod 26), a
    // coprime to 26 — 12 units x 26 offsets = 312 distinct alphabet
    // permutations, so cross-replica gram spaces stay disjoint up to
    // 312 replicas (a plain caesar ring wraps at 26 — replica 26
    // would reproduce replica 0 verbatim and silently turn the linear
    // near-dup-volume invariant into a quadratic cross-replica dup
    // explosion). r < 26 keeps a = 1: exactly the old caesar shift,
    // so sf1 tilings are reproducible. Embeddings: the (rotation,
    // sign) pair is distinct up to 192 replicas (CRT of the 64-cycle
    // rotation and 3-cycle sign pattern) — the binding cap here.
    require(reps >= 1 && reps <= 192, s"replicas must be in [1, 192], got $reps")
    val spark = graft.GraftSession(graft.GraftSession.cpus)

    val lower = "abcdefghijklmnopqrstuvwxyz"
    // multiplicative units of Z/26 — each (a, b) pair is a distinct
    // bijection of the alphabet; unit 1 first so r < 26 degenerates to
    // the caesar shift
    val units = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    def shifted(r: Int): String = {
      val a = units((r / 26) % units.length)
      val b = r % 26
      new String((0 until 26).map(c => lower((a * c + b) % 26)).toArray)
    }

    def tile(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      if (onlyTables.exists(!_.contains(name))) return
      // events goes through the nanos-aware reader; the output is
      // re-written as plain MICROS, which the same reader handles
      val base = if (name == "events") graft.Tables.events(spark, src)
        else graft.Tables.table(spark, src, name)
      val tiled = (0 until reps).map(r => f(base, r)).reduce(_ unionByName _)
      val tmp = s"$out/_tmp_$name"
      // SMALL ROW GROUPS (2 MB, not the 128 MB default): coalesce(1)
      // writes ONE file, and Spark's scan splits a file by byte range
      // but assigns whole ROW GROUPS to splits — a 55 MB single-row-
      // group documents file made every sf10 per-doc scan op run on
      // ONE core of 32 (measured r10: doc_pii_scrub "114x at 100x
      // data" was a serialized scan, not operator cost; a real corpus
      // at this volume is thousands of files and never scan-capped).
      // 2 MB groups give the read side's maxSplitBytes (>= the 4 MB
      // openCost floor) 2+ groups per split at every tiled size.
      tiled.coalesce(1).write
        .option("parquet.block.size", 2 * 1024 * 1024)
        .mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$out/$name.parquet")
      if (dst.exists()) dst.delete()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dir.listFiles().foreach(_.delete()); dir.delete()
      println(s"[scaleup] $name -> ${spark.read.parquet(dst.getPath).count()} rows")
    }
    def copy(name: String): Unit = tile(name, (df, r) => if (r == 0) df else df.limit(0))

    new java.io.File(out).mkdirs()
    copy("region"); copy("nation")
    tile("customer", (df, r) => df.withColumn("c_custkey", col("c_custkey") + r * 1000000L))
    tile("supplier", (df, r) => df.withColumn("s_suppkey", col("s_suppkey") + r * 1000000L))
    tile("part", (df, r) => df.withColumn("p_partkey", col("p_partkey") + r * 1000000L))
    tile("orders", (df, r) => df
      .withColumn("o_orderkey", col("o_orderkey") + r * 10000000L)
      .withColumn("o_custkey", col("o_custkey") + r * 1000000L))
    tile("lineitem", (df, r) => df
      .withColumn("l_orderkey", col("l_orderkey") + r * 10000000L)
      .withColumn("l_partkey", col("l_partkey") + r * 1000000L)
      .withColumn("l_suppkey", col("l_suppkey") + r * 1000000L))
    tile("events", (df, r) => df
      .withColumn("event_id", col("event_id") + r * 100000000L)
      .withColumn("user_id", col("user_id") + r * 1000000L))
    tile("documents", (df, r) => df
      .withColumn("doc_id", col("doc_id") + r * 10000000L)
      .withColumn("text",
        if (r == 0) col("text") else translate(col("text"), lower, shifted(r))))
    // embeddings get the vector analogue of the caesar shift: a
    // per-replica circular dimension shift + sign-flip pattern.
    // Permutation+signs preserve every WITHIN-replica inner product
    // exactly (both vectors transform identically), so near-dup and
    // cell structure inside a replica match the base corpus — while
    // CROSS-replica vectors decorrelate, so near-dup volume scales
    // linearly. Verbatim tiling (the r7 form) made every vector an
    // R-way exact dup: quadratic-in-R pair volume for the dedup
    // family and cos=1.0 saturation for the recall family.
    tile("embeddings", (df, r) => df
      .withColumn("vec_id", col("vec_id") + r * 1000000L)
      .withColumn("embedding",
        if (r == 0) col("embedding")
        else expr(
          s"transform(sequence(0, size(embedding) - 1), i -> CAST(" +
            s"CASE WHEN (i + $r) % 3 = 0 " +
            s"THEN -element_at(embedding, ((i + ${r * 7}) % size(embedding)) + 1) " +
            s"ELSE element_at(embedding, ((i + ${r * 7}) % size(embedding)) + 1) END " +
            "AS FLOAT))")))
    spark.stop()
  }
}
