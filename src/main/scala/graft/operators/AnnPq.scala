package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType}

import graft.functions.expressions.GraftFunctions

/** Product quantization — the standard ANN compression next to scalar
  * int8: the vector is split into `m` subvectors of `dsub` dims, each
  * coded against its own small codebook, so a 64-dim float vector
  * compresses to `m` bytes while ADC search stays sublinearly
  * accurate (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011 — public literature).
  *
  * Codebook training mirrors AnnIvf: deterministic seeded initial
  * centroids (shared across subspaces, so the first assignment is ONE
  * expression), one Lloyd refinement with decimal-exact per-dimension
  * sums (engine-replayable), codebooks collected to the driver — at
  * most m·k·dsub doubles — and shipped back as codegen constants.
  *
  * 100 TB shape: training aggregates over an (id, sub) explode of a
  * SAMPLE-sized corpus (here: the corpus; in production a bounded
  * sample — codebooks need thousands of points, not the corpus), but
  * CODING is a single scan-level projection per vector: m compiled
  * argmin kernels + a constant-array lookup, no joins, no shuffle.
  * The coded table (id + m small ints) is what a 100 TB store keeps
  * hot; reconstruction is again a pure projection.
  */
object AnnPq {

  /** Seeded initial codebook, shared by all subspaces (same xorshift
    * family as AnnIvf.centroids0, its own seed).
    */
  def codebook0(k: Int, dsub: Int, seed: Long = 23L): Array[Array[Double]] =
    AnnIvf.centroids0(k, dsub, seed)

  /** Per-subspace refined codebooks: explode (id, sub, subv), assign
    * to the shared seeded codebook, per-(sub, cell) decimal-exact
    * dimension means — one hash-aggregate with map-side partials.
    * Returns (sub, cell, centroid).
    */
  def refinedCodebooks(vecs: DataFrame, m: Int, dsub: Int, k: Int): DataFrame = {
    val c0 = codebook0(k, dsub)
    val ids = Array.tabulate(k)(identity)
    val subs = vecs
      .select(col("id"), col("v"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .withColumn("subv", expr(s"slice(v, sub * $dsub + 1, $dsub)"))
      .withColumn("cell0", GraftFunctions.nearestCell(col("subv"), c0, ids))
    val sums = (0 until dsub).map(i =>
      sum(try_element_at(col("subv"), lit(i + 1)).cast(DecimalType(18, 6))).as(s"__s$i"))
    subs
      .groupBy(col("sub"), col("cell0"))
      .agg(count(lit(1)).as("__n"), sums: _*)
      .select(col("sub"), col("cell0"),
        array((0 until dsub).map(i =>
          // same NULL-sum pinning as AnnIvf.refinedCentroids
          coalesce(col(s"__s$i"), lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 6)))
            .cast(DoubleType) / col("__n")): _*).as("centroid"))
  }

  /** Driver-side codebook materialization: per subspace, centroids
    * ascending by ORIGINAL cell id and re-indexed positionally — the
    * final code is the POSITION (0..k'−1), matching the oracle's
    * `ROW_NUMBER() OVER (PARTITION BY sub ORDER BY cell) − 1`. Empty
    * cells vanish per subspace, deterministically.
    */
  def collectCodebooks(cb: DataFrame, m: Int): Array[Array[Array[Double]]] = {
    val rows = cb.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    Array.tabulate(m)(s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3))
  }

  /** Codes + reconstruction as pure projections over one corpus scan:
    * per subspace a compiled argmin kernel (codes) and a constant
    * array-of-arrays lookup (reconstruction).
    *
    * @return input columns + `code_0..code_{m-1}` (int) + `recon`
    *         (array&lt;double&gt; of the full dim)
    */
  def encode(vecs: DataFrame, books: Array[Array[Array[Double]]],
      dsub: Int): DataFrame = {
    val m = books.length
    // a subspace codebook is empty only when the TRAINING corpus was
    // empty (no members → no refined cells); the plan must still
    // type-check (EmptyInputSpec) — null-typed stand-ins keep every
    // downstream expression ARRAY<DOUBLE> without ever evaluating
    val codeCols = (0 until m).map { s =>
      if (books(s).isEmpty) lit(-1).as(s"code_$s")
      else GraftFunctions.nearestCell(
        expr(s"slice(v, ${s * dsub + 1}, $dsub)"),
        books(s), Array.tabulate(books(s).length)(identity)).as(s"code_$s")
    }
    val coded = vecs.select(vecs.columns.map(col) ++ codeCols: _*)
    val reconCols: Seq[Column] = (0 until m).map { s =>
      if (books(s).isEmpty) lit(null).cast(ArrayType(DoubleType))
      else {
        val bookLit = array(books(s).map(c => array(c.map(lit): _*)): _*)
        element_at(bookLit, col(s"code_$s") + 1)
      }
    }
    coded.withColumn("recon", concat(reconCols: _*))
  }

  /** Codes packed as ONE `array<int>` column — the STORED index form
    * (m small ints per vector, the only per-vector payload a coded
    * inverted file ships through an ADC join). Same per-subspace
    * argmin kernels as [[encode]]; no reconstruction is materialized —
    * ADC consumers score codes directly against the query
    * ([[graft.functions.expressions.AnnKernels.adcCosineFromQuery]]).
    *
    * @return input columns + `codes` (array&lt;int&gt; of length m;
    *         −1 marks an empty-codebook subspace, skipped by ADC)
    */
  def encodeCodes(vecs: DataFrame, books: Array[Array[Array[Double]]],
      dsub: Int): DataFrame = {
    val m = books.length
    val codeCols: Seq[Column] = (0 until m).map { s =>
      if (books(s).isEmpty) lit(-1)
      else GraftFunctions.nearestCell(
        expr(s"slice(v, ${s * dsub + 1}, $dsub)"),
        books(s), Array.tabulate(books(s).length)(identity))
    }
    vecs.select(vecs.columns.map(col) :+ array(codeCols: _*).as("codes"): _*)
  }
}
