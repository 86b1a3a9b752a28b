package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.{IvfPq, LexIndex, SegmentStore}

/** Model-based crash property over both segment-store layouts (the
  * four flat LexIndex tables and the `cell=`-partitioned IvfPq coded
  * file). Each generated sequence builds a fresh store, then runs
  * random appends, fresh or replayed ingest batches, deletes,
  * compactions and shard merges, crashing at any seam the operation
  * has. After every step the loaded store is compared, row for row,
  * with the tables a build of the model's documents yields:
  *   - the serving views hold exactly the model's live documents;
  *   - the raw tables hold each document at most once, never one whose
  *     write crashed, and their statistics are those of their own rows
  *     (no torn segment is visible);
  *   - every raw document that is no longer live is still tombstoned
  *     (tombstones are never cleared before they are applied);
  *   - a compaction with no crashed one before it leaves raw == live.
  */
class StoreCrashPropSpec extends SparkSpec {
  import StoreCrashPropSpec._

  /** Sequences per layout and steps per sequence (after the build). */
  private val Sequences = 8
  private val Steps = 8

  private val stepGen: Gen[Step] = Gen.frequency(
    1 -> Gen.const(Build),
    3 -> (for (n <- Gen.choose(1, 6); s <- Gen.frequency(3 -> 0, 2 -> Gen.choose(1, 3)))
      yield Append(n, s)),
    4 -> (for (n <- Gen.choose(1, 6); r <- Gen.frequency(3 -> -1, 2 -> Gen.choose(0, 3));
        t <- Gen.oneOf(true, false)) yield Ingest(n, r, t)),
    3 -> (for (n <- Gen.choose(1, 4); sp <- Gen.frequency(4 -> false, 1 -> true))
      yield Delete(n, sp)),
    3 -> (for (t <- Gen.frequency(2 -> false, 1 -> true);
        u <- Gen.frequency(2 -> false, 1 -> true)) yield Compact(t, u)),
    1 -> Gen.choose(1, 5).map(Merge(_)))

  private val seqGen: Gen[List[Step]] = Gen.listOfN(Steps, stepGen)

  /** What the model knows of one store. Ids are never reused, so a
    * crashed write's ids can never legitimately appear. */
  private final class Model(var dir: String) {
    var live = Set.empty[Long]
    var ever = Set.empty[Long]
    val committed = mutable.LinkedHashMap.empty[Long, Seq[Long]] // ingest receipts
    val torn = mutable.LinkedHashMap.empty[Long, Seq[Long]] // ingest batches that crashed
    var ingestDirty = false // an ingest ran since the last build, merge or fence
    var compactCrashed = false
    var nextBatch = 0L
  }

  /** One layout's operations over a document-id set. */
  private trait Store {
    def seams: Seq[String]
    def fenced: Boolean // compaction refuses an unfenced ingest store
    def tornCompaction: Boolean // compaction has a crash seam
    def build(ids: Seq[Long], dir: String): Unit
    def append(ids: Seq[Long], dir: String, failAfter: String): Unit
    def ingest(ids: Seq[Long], dir: String, batchId: Long, failAfter: String): Unit
    def delete(ids: Seq[Long], dir: String): Unit
    def compact(dir: String, torn: Boolean, ingestFenced: Boolean): Unit
    def merge(dirs: Seq[String], out: String): Unit
    /** The raw ids of the loaded store, after checking its tables. */
    def check(m: Model): Set[Long]
    def tombstones(dir: String): Set[Long]
  }

  /** Store dirs of the running sequence, removed when it ends. */
  private val seqDirs = mutable.ArrayBuffer.empty[String]
  private def tmp(tag: String): String = {
    seqDirs += s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_crashprop_${tag}_" +
      java.util.UUID.randomUUID.toString.take(8)
    seqDirs.last
  }

  private object Lex extends Store {
    private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    /** Lowercase words joined by single spaces: the store's
      * split(lower(trim(text)), "\\s+") is then a plain split. */
    def text(id: Long): String =
      (0 until (1 + (id % 5).toInt)).map(k => vocab(((id * 7 + k * k * 3) % 12).toInt))
        .mkString(" ")
    private def docs(ids: Seq[Long]): DataFrame = {
      import spark.implicits._
      ids.map(i => (i, text(i))).toDF("doc_id", "text")
    }
    def seams = Seq("stage-partial", "staged", "publish-partial")
    def fenced = true
    def tornCompaction = true
    def build(ids: Seq[Long], dir: String): Unit = LexIndex.buildIndex(docs(ids), dir)
    def append(ids: Seq[Long], dir: String, failAfter: String): Unit =
      LexIndex.appendToIndex(docs(ids), dir, failAfter)
    def ingest(ids: Seq[Long], dir: String, b: Long, failAfter: String): Unit =
      SegmentStore.ingestBatch(spark, dir, LexIndex.layout, b, failAfter)(
        LexIndex.writeTables(docs(ids), _, ""))
    def delete(ids: Seq[Long], dir: String): Unit = {
      import spark.implicits._
      LexIndex.deleteFromIndex(ids.toDF("doc_id"), dir)
    }
    def compact(dir: String, torn: Boolean, ingestFenced: Boolean): Unit =
      LexIndex.compactIndex(spark, dir, failAfterStage = torn, ingestFenced = ingestFenced)
    def merge(dirs: Seq[String], out: String): Unit = LexIndex.mergeIndexes(spark, dirs, out)

    private def posting(ids: Set[Long]): Seq[(Long, String, Long)] =
      ids.toSeq.flatMap(i => text(i).split(" ").groupBy(identity)
        .map { case (t, xs) => (i, t, xs.length.toLong) }).sorted
    private def dl(ids: Set[Long]): Seq[(Long, Long)] =
      ids.toSeq.map(i => (i, text(i).split(" ").length.toLong)).sorted

    def check(m: Model): Set[Long] = {
      val l = LexIndex.loadIndex(spark, m.dir)
      def p(df: DataFrame) = df.select("doc_id", "token", "tf").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      def d(df: DataFrame) = df.select("doc_id", "dl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val rawDl = d(l.dl)
      val raw = rawDl.map(_._1).toSet
      assert(raw.size == rawDl.size, s"a document is stored twice: $rawDl")
      assert(p(l.livePostings) == posting(m.live), "live postings != build(live)")
      assert(d(l.liveDl) == dl(m.live), "live dl != build(live)")
      assert(p(l.postings) == posting(raw), "raw postings != build(raw)")
      assert(rawDl == dl(raw), "raw dl != build(raw)")
      val df = posting(raw).groupBy(_._2).map { case (t, xs) => (t, xs.size.toLong) }
        .toSeq.sorted
      assert(l.df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted == df,
        "df != build(raw)")
      val tot = l.totals.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(tot == Seq((raw.size.toLong, dl(raw).map(_._2).sum)), s"totals $tot != build(raw)")
      raw
    }
    def tombstones(dir: String): Set[Long] =
      LexIndex.tombstonesOf(spark, dir).collect().map(_.getLong(0)).toSet
  }

  private object Vec extends Store {
    private lazy val universe: DataFrame = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .persist()
    /** Frozen halves trained once; every build and shard encodes under them. */
    private lazy val halves = {
      val n = universe.count()
      IvfPq.trainHalves(universe, n, dim = 64, m = 16, dsub = 4, kCodes = 64)
    }
    lazy val ids: IndexedSeq[Long] =
      universe.select("id").collect().map(_.getLong(0)).sorted.toIndexedSeq
    private lazy val coded: Map[Long, (Int, List[Int])] =
      IvfPq.codedInvertedFile(halves._1, universe, halves._2, 4).collect()
        .map(r => r.getLong(1) -> ((r.getInt(0), r.getSeq[Int](2).toList))).toMap
    private def vecs(ids: Seq[Long]): DataFrame = universe.filter(col("id").isin(ids: _*))

    def seams = Seq("staged", "publish-partial")
    def fenced = false
    def tornCompaction = false
    def build(ids: Seq[Long], dir: String): Unit =
      IvfPq.encodeShard(halves._1, halves._2, 4, vecs(ids), dir)
    def append(ids: Seq[Long], dir: String, failAfter: String): Unit =
      IvfPq.appendToIndex(halves._1, halves._2, 4, vecs(ids), dir, failAfter)
    def ingest(ids: Seq[Long], dir: String, b: Long, failAfter: String): Unit =
      SegmentStore.ingestBatch(spark, dir, IvfPq.layout, b, failAfter)(
        IvfPq.stageCoded(halves._1, halves._2, 4, vecs(ids), _))
    def delete(ids: Seq[Long], dir: String): Unit = {
      import spark.implicits._
      IvfPq.deleteFromIndex(ids.toDF("id"), dir)
    }
    def compact(dir: String, torn: Boolean, ingestFenced: Boolean): Unit =
      IvfPq.compactIndex(spark, dir): Unit
    def merge(dirs: Seq[String], out: String): Unit = IvfPq.mergeIndexes(spark, dirs, out)

    def check(m: Model): Set[Long] = {
      val l = IvfPq.loadIndex(spark, m.dir)
      def rows(df: DataFrame) = df.select("cell", "id", "codes").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList)).toSeq.sortBy(_._2)
      def want(ids: Set[Long]) =
        ids.toSeq.map(i => (coded(i)._1, i, coded(i)._2)).sortBy(_._2)
      val raw = rows(l.inverted)
      val rawIds = raw.map(_._2).toSet
      assert(rawIds.size == raw.size, "a vector is stored twice")
      assert(raw == want(rawIds), "raw coded rows != encode(raw)")
      assert(rows(l.live) == want(m.live), "live coded rows != encode(live)")
      rawIds
    }
    def tombstones(dir: String): Set[Long] =
      IvfPq.tombstonesOf(spark, dir).collect().map(_.getLong(0)).toSet
  }

  /** Run one sequence; any violated invariant throws. */
  private def run(store: Store, steps: List[Step], tag: String,
      fresh: () => Long): Unit = {
    val m = new Model(tmp(tag))
    def take(n: Int) = (0 until n).map(_ => fresh())
    def resetTo(ids: Seq[Long]): Unit = {
      store.build(ids, m.dir)
      m.live = ids.toSet; m.ever ++= ids
      m.committed.clear(); m.torn.clear()
      m.ingestDirty = false; m.compactCrashed = false
    }
    def verify(step: Step, cleanCompaction: Boolean): Unit = {
      val raw = store.check(m)
      val tombs = store.tombstones(m.dir)
      assert(m.live.subsetOf(raw), s"after $step: live docs missing from the store")
      assert(raw.subsetOf(m.ever), s"after $step: a crashed write's rows are visible")
      assert((raw -- m.live).subsetOf(tombs),
        s"after $step: a deleted doc is stored but no longer tombstoned")
      assert((tombs & m.live).isEmpty, s"after $step: a live doc is tombstoned")
      if (cleanCompaction)
        assert(raw == m.live, s"after $step: compaction left deleted docs behind")
    }
    resetTo(take(8))
    verify(Build, cleanCompaction = false)
    for (step <- steps) {
      var clean = false
      val ran = step match {
        case Build =>
          resetTo(m.live.toSeq.sorted); true
        case Append(n, seam) =>
          val ids = take(n)
          val s = if (seam == 0) "" else store.seams((seam - 1) % store.seams.size)
          store.append(ids, m.dir, s)
          if (s.isEmpty) { m.live ++= ids; m.ever ++= ids }
          true
        case Ingest(_, _, _) if m.compactCrashed => false
        case Ingest(n, replay, torn) =>
          val replayable = (m.committed ++ m.torn).toSeq
          val (b, ids) =
            if (replay >= 0 && replayable.nonEmpty) replayable(replay % replayable.size)
            else { m.nextBatch += 1; (m.nextBatch, take(n)) }
          store.ingest(ids, m.dir, b, if (torn) "publish-partial" else "")
          m.ingestDirty = true
          if (!torn && !m.committed.contains(b)) {
            m.torn -= b; m.committed(b) = ids; m.live ++= ids; m.ever ++= ids
          } else if (torn && !m.committed.contains(b)) m.torn(b) = ids
          true
        case Delete(n, spurious) =>
          val victims = scala.util.Random.shuffle(m.live.toSeq.sorted).take(n) ++
            (if (spurious) Seq(-1L - fresh()) else Nil)
          store.delete(victims, m.dir)
          m.live --= victims
          true
        case Compact(_, true) if store.fenced && !m.compactCrashed && m.committed.nonEmpty =>
          val e = intercept[IllegalArgumentException](store.compact(m.dir, false, false))
          assert(e.getMessage.contains("ingest"), e.getMessage)
          true
        case Compact(torn0, _) =>
          val torn = torn0 && store.tornCompaction
          val wasCrashed = m.compactCrashed
          store.compact(m.dir, torn, ingestFenced = store.fenced && m.ingestDirty)
          if (torn) m.compactCrashed = true
          else {
            clean = !wasCrashed
            m.compactCrashed = false
            if (store.fenced && m.ingestDirty) { m.committed.clear(); m.ingestDirty = false }
          }
          true
        case Merge(_) if m.compactCrashed || (m.ingestDirty && m.committed.isEmpty) => false
        case Merge(_) if m.committed.nonEmpty =>
          val e = intercept[IllegalArgumentException](
            store.merge(Seq(m.dir), tmp(tag + "_refused")))
          assert(e.getMessage.contains("ingest"), e.getMessage)
          true
        case Merge(n) =>
          val ids = take(n)
          val shard = tmp(tag + "_shard")
          store.build(ids, shard)
          val out = tmp(tag + "_merged")
          store.merge(Seq(m.dir, shard), out)
          m.dir = out
          m.live ++= ids; m.ever ++= ids; m.ingestDirty = false
          true
      }
      if (ran) verify(step, clean)
    }
  }

  private def property(store: Store, tag: String, fresh: Int => () => Long): Unit = {
    var seq = 0
    val prop = Prop.forAllNoShrink(seqGen) { steps =>
      seq += 1
      try run(store, steps, s"$tag$seq", fresh(seq))
      finally { seqDirs.foreach(SegmentStore.reset(spark, _)); seqDirs.clear() }
      true
    }
    val r = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(Sequences).withInitialSeed(20261018L), prop)
    assert(r.passed, r.status.toString)
  }

  test(s"lexical store: $Sequences generated crash sequences keep the loaded store == build(model)") {
    scala.util.Random.setSeed(7L)
    property(Lex, "lex", _ => { var next = 0L; () => { next += 1; next } })
  }

  test(s"vector store: $Sequences generated crash sequences keep the loaded store == encode(model)") {
    scala.util.Random.setSeed(7L)
    property(Vec, "vec", _ => {
      val ids = Vec.ids; var next = -1
      () => { next += 1; ids(next % ids.size) }
    })
  }
}

object StoreCrashPropSpec {
  sealed trait Step
  case object Build extends Step
  final case class Append(n: Int, seam: Int) extends Step // seam 0 = none
  final case class Ingest(n: Int, replay: Int, torn: Boolean) extends Step // replay < 0 = fresh
  final case class Delete(n: Int, spurious: Boolean) extends Step
  final case class Compact(torn: Boolean, unfenced: Boolean) extends Step
  final case class Merge(n: Int) extends Step
}
