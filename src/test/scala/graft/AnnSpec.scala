package graft

import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {

  test("ann lsh recall@10 vs brute force, and perfect-precision ranks inside probed buckets") {
    val exact = SparkEntry.queries("emb_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = SparkEntry.queries("emb_ann_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(approx.nonEmpty, "ann produced no results")
    val recalls = exact.keys.toSeq.map { q =>
      val hit = approx.getOrElse(q, Set.empty)
      exact(q).intersect(hit).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    // 6-bit codes + Hamming-1 multiprobe covers 7/64 of the space;
    // on this near-uniform corpus mean recall ~0.2-0.5 is expected —
    // assert it beats random bucket selection by a wide margin.
    assert(mean >= 0.15, s"mean recall@10 $mean too low: $recalls")
  }

  test("ann ivf recall@10 vs brute force, deterministic across runs") {
    val exact = SparkEntry.queries("emb_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = SparkEntry.queries("emb_ann_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(approx.nonEmpty, "ivf produced no results")
    val recalls = exact.keys.toSeq.map { q =>
      val hit = approx.getOrElse(q, Set.empty)
      exact(q).intersect(hit).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    // nprobe 2 of 16 cells covers ~1/8 of a near-uniform corpus;
    // assert it beats random cell selection by a wide margin
    assert(mean >= 0.15, s"mean recall@10 $mean too low: $recalls")
    // seeded centroids + decimal-exact refinement ⇒ bit-stable output
    val again = SparkEntry.queries("emb_ann_ivf")(spark, sf).collect()
    val first = SparkEntry.queries("emb_ann_ivf")(spark, sf).collect()
    assert(first.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("two-level IVF: wProbe covering every coarse cell reproduces the one-level argmin exactly") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.{AnnIvf, IvfPq}
    val e = Tables.embeddings(spark, sf)
      .withColumn("v", col("embedding").cast(ArrayType(DoubleType)))
    val corpus = e.select(col("vec_id").as("id"), col("v"))
    val idx = AnnIvf.twoLevelIndex(corpus, cells = 16, dim = 64, corpus.count())
    // the same fine centroids, flattened back out of the groups table
    val fine = idx.groups
      .select(explode(arrays_zip(col("gids"), col("gcents"))).as("z"))
      .select(col("z.gids").as("cell"), col("z.gcents").as("c"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val oneLevel = AnnIvf.invertedFile(corpus, fine.map(_._1), fine.map(_._2))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // wProbe = every coarse cell ⇒ the neighborhood is the full fine
    // table ⇒ the packed argmin must equal the one-level argmin bit
    // for bit (same (dist, cell) total order)
    val twoLevel = IvfPq.assign(idx.copy(wProbe = idx.coarseIds.length), corpus)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(twoLevel == oneLevel)
    assert(twoLevel.nonEmpty)
  }

  test("two-level training-sample rate: capped, bounded, and constant at oracle-checked scales") {
    import graft.operators.AnnIvf._
    // at every oracle-checked scale the rate must resolve to EXACTLY
    // DefaultSampleRate (the oracle inlines it, same coupling as the
    // 16-cell centroid literals)
    for (n <- Seq(200L, 2000L, 20000L, 200000L))
      assert(sampleRateFor(n) == DefaultSampleRate, s"n=$n")
    // past the cap the sampled-row count stays ~TrainCap: training is
    // O(cap x cells), linear in n — not the O(n·cells) the 100x point
    // measured for the one-level path. The ppm floor holds the cap to
    // ~10^11 vectors (~a 100 TB corpus of 64-dim vectors).
    for (n <- Seq(2000000L, 20000000L, 2000000000L, 100000000000L)) {
      val rate = sampleRateFor(n)
      assert(rate >= 1 && rate < DefaultSampleRate, s"n=$n rate=$rate")
      val sampled = n * rate / SampleModulus
      assert(sampled <= 2 * TrainCap, s"n=$n samples $sampled")
    }
    assert(sampleRateFor(0) == DefaultSampleRate)
  }

  test("two-level IVF recall@10 vs brute force") {
    val exact = SparkEntry.queries("emb_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = SparkEntry.queries("emb_ann_ivf_two_level")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(approx.nonEmpty, "two-level ivf produced no results")
    val recalls = exact.keys.toSeq.map { q =>
      val hit = approx.getOrElse(q, Set.empty)
      exact(q).intersect(hit).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    // sampled training + wProbe-2 coarse pruning on top of nprobe-2:
    // strictly more approximation than one-level IVF, but must still
    // beat random cell selection by a wide margin
    assert(mean >= 0.12, s"mean recall@10 $mean too low: $recalls")
  }

  test("two-level recall audit: bands bounded, totals equal the production-assignment recount") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.{AnnIvf, IvfPq}
    import graft.functions.expressions.GraftFunctions
    val rows = SparkEntry.queries("emb_cell_recall_two_level")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "same-cell cannot exceed exact")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // independent recount over the PRODUCTION (wProbe=2) assignment:
    // the audit must describe the index emb_cell_dedup_two_level uses
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = corpus.count()
    val idx = AnnIvf.twoLevelIndex(corpus, cells = 16, dim = 64, n)
    assert(idx.wProbe == 2, "the builder sets the production wProbe")
    val cells = IvfPq.assign(idx, corpus)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val sub = corpus.filter(col("id") < 500)
    val a = sub.select(col("id").as("a_id"), col("v").as("av"))
    val b = sub.select(col("id").as("b_id"), col("v").as("bv"))
    val pairs = a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", GraftFunctions.cosineSimilarity(col("av"), col("bv")))
      .filter(col("cos") >= 0.4)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sameCell = pairs.count { case (x, y) => cells(x) == cells(y) }
    assert(rows.map(_.getLong(1)).sum == pairs.length, "n_exact conserved across bands")
    assert(rows.map(_.getLong(2)).sum == sameCell, "n_same_cell equals the wProbe-2 recount")
  }

  test("wProbe tuning curve: monotone scan volume, w=2 is production, w=max is the one-level argmin") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.{AnnIvf, IvfPq}
    import graft.functions.expressions.GraftFunctions
    val rows = SparkEntry.queries("emb_two_level_probe_curve")(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    val scans = rows.map(_.getLong(4))
    assert(scans.zip(scans.tail).forall { case (x, y) => y >= x },
      s"scan volume not monotone: ${scans.toSeq}")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "same-cell cannot exceed exact")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0, "scan_frac in [0, 1]")
    }
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = corpus.count()
    val idx = AnnIvf.twoLevelIndex(corpus, cells = 16, dim = 64, n)
    val sub = corpus.filter(col("id") < 500)
    val pairs = sub.select(col("id").as("a_id"), col("v").as("av"))
      .join(sub.select(col("id").as("b_id"), col("v").as("bv")), col("a_id") < col("b_id"))
      .withColumn("cos", GraftFunctions.cosineSimilarity(col("av"), col("bv")))
      .filter(col("cos") >= 0.4)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def sameUnder(assign: Map[Long, Int]): Long =
      pairs.count { case (x, y) => assign(x) == assign(y) }.toLong
    // w=2 row must equal the PRODUCTION assignment's same-cell count
    assert(idx.wProbe == 2, "the builder sets the production wProbe")
    val prod = IvfPq.assign(idx, sub)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(rows(1).getLong(2) == sameUnder(prod), "w=2 equals the production assignment")
    // w=maxW covers every coarse cell (coarseK(16)=4) — the assignment
    // IS the one-level argmin over the flattened sampled-trained fine
    // table (the AnnSpec wProbe=all property, read off the curve)
    val fine = idx.groups
      .select(explode(arrays_zip(col("gids"), col("gcents"))).as("z"))
      .select(col("z.gids").as("cell"), col("z.gcents").as("c"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val oneLevel = AnnIvf.invertedFile(sub, fine.map(_._1), fine.map(_._2))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(rows(3).getLong(2) == sameUnder(oneLevel), "w=4 equals the one-level argmin")
  }

  test("regime handover: cutover pinned, both dispatch arms bit-equal their explicit builds") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.{AnnIvf, IvfPq}
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = corpus.count()
    def cellsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // the cutover is structural, not prose: a corpus AT the ceiling is
    // one-level, one vector past it is two-level
    val atMax = IvfPq.indexAuto(corpus, n, dim = 64, oneLevelMax = n)
    val pastMax = IvfPq.indexAuto(corpus, n, dim = 64, oneLevelMax = n - 1)
    assert(atMax.isInstanceOf[IvfPq.OneLevelIndex])
    assert(pastMax.isInstanceOf[IvfPq.TwoLevelIndex])
    // below the ceiling: the built index IS the one-level build
    val (ids, cents) = AnnIvf.collectCentroids(
      AnnIvf.refinedCentroids(corpus, cells = AnnIvf.adaptiveCells(n), dim = 64))
    val oneLevel = cellsOf(AnnIvf.invertedFile(corpus, ids, cents))
    assert(cellsOf(IvfPq.assign(atMax, corpus)) == oneLevel)
    // past the ceiling: the built index IS the two-level build at the
    // production wProbe
    val idx = AnnIvf.twoLevelIndex(corpus, cells = AnnIvf.adaptiveCells(n), dim = 64, n)
    assert(pastMax.asInstanceOf[IvfPq.TwoLevelIndex].wProbe == AnnIvf.WProbe)
    assert(cellsOf(IvfPq.assign(pastMax, corpus)) == cellsOf(IvfPq.assign(idx, corpus)))
  }

  test("int8 quantization: high recall@10, near-1 recon cosine, bounded mae") {
    // asymmetric quantized search must track the exact ranking closely —
    // int8 keeps ~2-3 decimal digits per dim, so recall@10 stays high
    val exact = SparkEntry.queries("emb_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val quant = SparkEntry.queries("emb_quantized_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      exact(q).intersect(quant.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"quantized mean recall@10 $mean too low: $recalls")
    // per-vector quality: reconstruction cosine ≈ 1, mae ≤ scale/2
    // (max per-element quantization error is half a code step)
    val rows = SparkEntry.queries("emb_int8_quantize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(1); val mae = r.getDouble(2)
      val recon = r.getDouble(4)
      assert(recon >= 0.999, s"recon_cos $recon for vec ${r.getLong(0)}")
      assert(mae <= scale / 2 + 1e-12, s"mae $mae > scale/2 ${scale / 2}")
    }
  }

  test("pq quantization: recall beats random, bounded recon error, deterministic") {
    // 16 subspaces × 64 codes ≈ 42× compression. This corpus is
    // near-uniform noise — the worst case for PQ (nothing to
    // cluster), and neighbor margins are tiny (max cos ≈ 0.51) — so
    // the honest bar is the LSH/IVF one: recall@10 well above random
    // selection (10/500 = 0.02), not int8's 0.8.
    val exact = SparkEntry.queries("emb_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val pq = SparkEntry.queries("emb_pq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      exact(q).intersect(pq.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.15, s"pq mean recall@10 $mean too low: $recalls")
    val rows = SparkEntry.queries("emb_pq_codes")(spark, sf).collect()
    assert(rows.length == Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      assert(r.getString(1).split(",").length == 16, s"codes ${r.getString(1)}")
      assert(r.getDouble(2) < 0.2, s"mae ${r.getDouble(2)} for vec ${r.getLong(0)}")
      assert(r.getDouble(3) > 0.3, s"recon_cos ${r.getDouble(3)} for vec ${r.getLong(0)}")
    }
    // seeded codebooks + decimal-exact refinement ⇒ bit-stable output
    val again = SparkEntry.queries("emb_pq_codes")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("ivf+pq composed search: recall vs exact, agreement with pure IVF, exact re-rank dominance, deterministic") {
    val exactRows = SparkEntry.queries("emb_cosine_topk")(spark, sf).collect()
    val exact = exactRows.map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val composed = SparkEntry.queries("emb_ivfpq_topk")(spark, sf).collect()
    assert(composed.nonEmpty, "ivf+pq produced no results")
    val comp = composed.map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // recall@10 vs brute force: routing loses what emb_ann_ivf loses
    // (nprobe 2/16 cells), ADC can only lose candidates it pushed out
    // of the rerank-30 pool — measured 0.56 on this corpus
    val recalls = exact.keys.toSeq.map { q =>
      exact(q).intersect(comp.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.4, s"ivf+pq mean recall@10 $meanRecall too low: $recalls")
    // agreement with the pure-IVF exact ranking (same routing, so the
    // divergence is ONLY the ADC top-30 pool) — measured 0.66
    val ivf = SparkEntry.queries("emb_ann_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val overlaps = ivf.keys.toSeq.map { q =>
      ivf(q).intersect(comp.getOrElse(q, Set.empty)).size.toDouble / ivf(q).size
    }
    val meanOverlap = overlaps.sum / overlaps.size
    assert(meanOverlap >= 0.5, s"ivf+pq vs ivf mean overlap $meanOverlap too low: $overlaps")
    // the final scores are EXACT cosines over survivors, so no rank's
    // score may exceed the brute-force score at the same rank
    val exactByRank = exactRows.map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    composed.foreach { r =>
      val key = (r.getLong(0), r.getInt(1))
      exactByRank.get(key).foreach { ex =>
        assert(r.getDouble(3) <= ex + 1e-9,
          s"composed cos ${r.getDouble(3)} beats exact $ex at $key")
      }
    }
    // seeded centroids + codebooks, decimal-exact means ⇒ bit-stable
    val again = SparkEntry.queries("emb_ivfpq_topk")(spark, sf).collect()
    assert(composed.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("true ADC: LUT-scored codes equal the reconstruction cosine, bit-stable across runs") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.AnnPq
    import graft.functions.expressions.GraftFunctions
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val books = AnnPq.collectCodebooks(
      AnnPq.refinedCodebooks(corpus, 16, 4, 64), 16)
    // ADC via the LUT kernels (the production hot path: codes only)
    val coded = AnnPq.encodeCodes(corpus, books, 4).select(col("id"), col("codes"))
    val q = corpus.filter(col("id") < 3)
      .select(col("id").as("qid"), col("v").as("qv"),
        GraftFunctions.pqQueryLut(col("v"), books, 4).as("lut"))
    val viaLut = q.crossJoin(coded)
      .select(col("qid"), col("id"),
        GraftFunctions.adcCosine(col("lut"), col("codes"), books).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the mathematically identical reconstruction form it replaced
    val recon = AnnPq.encode(corpus, books, 4).select(col("id"), col("recon"))
    val viaRecon = q.crossJoin(recon)
      .select(col("qid"), col("id"),
        GraftFunctions.cosineSimilarity(col("qv"), col("recon")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(viaRecon.nonEmpty)
    viaRecon.foreach { case (k, want) =>
      // same real number, different (blocked vs flat) fold association:
      // agreement to 1e-9 relative catches any math error while
      // allowing re-association ulps; the oracle replays the blocked
      // form bit-exactly (the hash gate)
      assert(math.abs(viaLut(k) - want) <= 1e-9 * math.max(1.0, math.abs(want)),
        s"$k: lut ${viaLut(k)} vs recon $want")
    }
    val again = q.crossJoin(coded)
      .select(col("qid"), col("id"),
        GraftFunctions.adcCosine(col("lut"), col("codes"), books).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaLut == again, "ADC scoring must be bit-stable")
    // the allocation-free direct form the hot paths execute must be
    // BIT-equal to the LUT formulation (same blocked folds — this is
    // what keeps the adcCtes oracle valid after the kernel swap)
    val viaDirect = q.crossJoin(coded)
      .select(col("qid"), col("id"),
        GraftFunctions.adcCosineFromQuery(col("qv"), col("codes"), books, 4).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaDirect == viaLut,
      "direct ADC must bit-equal the LUT formulation")
  }

  test("composed search regime handover: dispatch pinned, two-level arm at wProbe=all reproduces one-level bit-for-bit") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.{AnnIvf, AnnPq, IvfPq}
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = corpus.count()
    // the cutover is structural: below the ceiling one-level, past it
    // two-level — the composed search can no longer be pinned to the
    // one-level index by accident (the r10 verdict's hole)
    assert(IvfPq.indexAuto(corpus, n, dim = 64).isInstanceOf[IvfPq.OneLevelIndex])
    assert(IvfPq.indexAuto(corpus, n, dim = 64, oneLevelMax = n - 1)
      .isInstanceOf[IvfPq.TwoLevelIndex])
    val queries = corpus.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("v").as("qv"))
    val books = AnnPq.collectCodebooks(
      AnnPq.refinedCodebooks(corpus, 16, 4, 64), 16)
    val (ids, cents) = AnnIvf.collectCentroids(
      AnnIvf.refinedCentroids(corpus, cells = 16, dim = 64))
    val explicitOne = IvfPq.topKWith(IvfPq.OneLevelIndex(ids, cents), books, 4,
        corpus, queries, k = 10, nprobe = 2, rerank = 30)
      .collect().map(_.toString).sorted.toSeq
    // the default dispatch IS the explicit one-level build
    val auto = IvfPq.topK(corpus, n, dim = 64, queries, k = 10, nprobe = 2,
        rerank = 30, m = 16, dsub = 4, kCodes = 64)
      .collect().map(_.toString).sorted.toSeq
    assert(auto == explicitOne)
    // two-level arm, 100% training sample (fine centroids = the
    // one-level build), wProbe covering every coarse cell: assignment
    // AND probes equal the one-level argmin exactly, same codebooks ⇒
    // the COMPOSED output (ADC ranks, exact re-rank, every column) is
    // bit-equal — the wProbe=all property lifted to the whole search
    val idx = AnnIvf.twoLevelIndex(corpus, cells = 16, dim = 64, n,
      sampleRate = AnnIvf.SampleModulus)
    val two = IvfPq.topKWith(idx.copy(wProbe = idx.coarseIds.length),
        books, 4, corpus, queries, k = 10, nprobe = 2, rerank = 30)
      .collect().map(_.toString).sorted.toSeq
    assert(two == explicitOne)
    assert(two.nonEmpty)
  }

  test("IVF-flat top-k: the two-level index at wProbe=all returns exactly the one-level rows") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.{AnnIvf, IvfPq}
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = corpus.count()
    val queries = corpus.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("v").as("qv"))
    val (ids, cents) = AnnIvf.collectCentroids(
      AnnIvf.refinedCentroids(corpus, cells = 16, dim = 64))
    val one = IvfPq.flatTopK(IvfPq.OneLevelIndex(ids, cents), corpus, queries,
        k = 10, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    // a 100% training sample makes the fine centroids the one-level
    // build, and wProbe = every coarse cell makes both the assignment
    // and the nprobe-2 probe argmin over the whole fine table — so the
    // one top-k body must return the one-level rows exactly
    val idx = AnnIvf.twoLevelIndex(corpus, cells = 16, dim = 64, n,
      sampleRate = AnnIvf.SampleModulus)
    val two = IvfPq.flatTopK(idx.copy(wProbe = idx.coarseIds.length), corpus, queries,
        k = 10, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(one.nonEmpty)
    assert(two == one)
  }

  test("composed two-level search: non-empty, exact-score dominance, deterministic") {
    val exactRows = SparkEntry.queries("emb_cosine_topk")(spark, sf).collect()
    val exactByRank = exactRows.map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val composed = SparkEntry.queries("emb_ivfpq_topk_two_level")(spark, sf).collect()
    assert(composed.nonEmpty, "two-level ivf+pq produced no results")
    // final scores are EXACT cosines over survivors: no rank's score
    // may exceed the brute-force score at the same rank
    composed.foreach { r =>
      val key = (r.getLong(0), r.getInt(1))
      exactByRank.get(key).foreach { ex =>
        assert(r.getDouble(3) <= ex + 1e-9,
          s"two-level composed cos ${r.getDouble(3)} beats exact $ex at $key")
      }
    }
    // sampled training + coarse pruning + ADC pool: strictly more
    // approximation than the one-level composition, but recall must
    // still beat random selection by a wide margin
    val exact = exactRows.map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val comp = composed.map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      exact(q).intersect(comp.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.1, s"two-level composed mean recall@10 $mean too low: $recalls")
    val again = SparkEntry.queries("emb_ivfpq_topk_two_level")(spark, sf).collect()
    assert(composed.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("persisted index: the loaded artifact reproduces the in-memory build bit-for-bit") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = corpus.count()
    val dir = tmpDir("idx_spec")
    val (index, books) = IvfPq.buildIndex(corpus, n, dim = 64, m = 16,
      dsub = 4, kCodes = 64, dir = dir)
    val loaded = IvfPq.loadIndex(spark, dir)
    (index, loaded.index) match {
      case (IvfPq.OneLevelIndex(ids, cents), IvfPq.OneLevelIndex(lids, lcents)) =>
        assert(lids.toSeq == ids.toSeq)
        assert(lcents.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
      case other => fail(s"regime mismatch across the store round-trip: $other")
    }
    assert(loaded.books.map(_.map(_.toSeq).toSeq).toSeq ==
      books.map(_.map(_.toSeq).toSeq).toSeq, "codebooks must round-trip")
    val built = IvfPq.codedInvertedFile(index, corpus, books, 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
    val stored = loaded.inverted
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
    assert(stored == built, "the stored coded file must equal the build")
    // manifest op is consistent with the corpus: inverted rows = n
    val manifest = SparkEntry.queries("emb_index_build")(spark, sf).collect()
    assert(manifest.map(_.getString(0)).toSeq ==
      Seq("centroids", "codebooks", "inverted"))
    assert(manifest.find(_.getString(0) == "inverted").get.getLong(1) == n)
  }

  test("incremental append: append == encode(base ∪ delta) under the frozen index; empty delta is a no-op") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val isDelta = col("id") % 10 === 7
    val base = all.filter(!isDelta)
    val delta = all.filter(isDelta)
    val nBase = base.count()
    val nDelta = delta.count()
    assert(nDelta > 0, "spec needs a non-empty delta slice")
    val dir = tmpDir("idx_app")
    val (index, books) = IvfPq.buildIndex(base, nBase, dim = 64, m = 16,
      dsub = 4, kCodes = 64, dir = dir)
    IvfPq.appendToIndex(IvfPq.loadIndex(spark, dir), delta, dir)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
    val stored = asSet(IvfPq.loadIndex(spark, dir).inverted)
    // the production property: the appended store is bit-equal to a
    // one-shot encode of the union under the SAME frozen halves —
    // frozen assignment/encode are per-row maps, so order can't matter
    val direct = asSet(IvfPq.codedInvertedFile(index, all, books, 4))
    assert(stored == direct,
      "appended store must equal the frozen-index encode of base ∪ delta")
    assert(stored.size == nBase + nDelta)
    // empty-delta append: a no-op on the store, not a crash
    IvfPq.appendToIndex(IvfPq.loadIndex(spark, dir), delta.limit(0), dir)
    assert(asSet(IvfPq.loadIndex(spark, dir).inverted) == stored,
      "zero-row append must leave the store unchanged")
    // the manifest op agrees: appended = base + delta rows, delta row
    // counts exactly the slice, balance row is a sane imbalance factor
    val m = SparkEntry.queries("emb_index_append")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(m("appended")._1 == nBase + nDelta)
    assert(m("delta")._1 == nDelta)
    assert(m("balance")._3 >= 1.0, "max/mean imbalance is >= 1 by definition")
    // compaction: three more appends fragment the touched cells; the
    // compactor folds ONLY those back to one file per cell and the
    // store content is bit-preserved
    (1 to 3).foreach { _ =>
      IvfPq.appendToIndex(IvfPq.loadIndex(spark, dir), delta.limit(5), dir)
    }
    val before = asSet(IvfPq.loadIndex(spark, dir).inverted)
    val beforeCount = IvfPq.loadIndex(spark, dir).inverted.count()
    val compacted = IvfPq.compactIndex(spark, dir)
    assert(compacted.nonEmpty, "three appends must fragment at least one cell")
    assert(asSet(IvfPq.loadIndex(spark, dir).inverted) == before,
      "compaction must preserve store content exactly")
    assert(IvfPq.loadIndex(spark, dir).inverted.count() == beforeCount,
      "compaction must preserve row multiplicity")
    val fs = new org.apache.hadoop.fs.Path(s"$dir/inverted")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/inverted"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .foreach { st =>
        val files = fs.listStatus(st.getPath)
          .count(_.getPath.getName.endsWith(".parquet"))
        assert(files <= 1, s"${st.getPath.getName}: $files files post-compaction")
      }
    // a second compaction finds nothing to do
    assert(IvfPq.compactIndex(spark, dir).isEmpty, "compaction must be idempotent")
  }

  test("vector batch append crash windows: a torn append is whole-append-invisible and rolls back") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val isDelta = col("id") % 10 === 7
    val base = all.filter(!isDelta)
    val delta = all.filter(isDelta)
    assert(delta.count() > 0, "spec needs a non-empty delta slice")
    val dir = tmpDir("idx_crash")
    val (index, books) = IvfPq.buildIndex(base, base.count(), dim = 64,
      m = 16, dsub = 4, kCodes = 64, dir = dir)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
    val baseStored = asSet(IvfPq.loadIndex(spark, dir).inverted)
    // crash after staging completes, before any publish
    IvfPq.appendToIndex(IvfPq.loadIndex(spark, dir), delta, dir,
      failAfter = "staged")
    assert(asSet(IvfPq.loadIndex(spark, dir).inverted) == baseStored,
      "a staged-but-unpublished append must be invisible")
    // THE torn window: one cell's files renamed in, the rest not, no
    // manifest version — the bytes are inside the store's cell= dirs
    // but loadIndex must see NONE of the append (whole append or none)
    IvfPq.appendToIndex(IvfPq.loadIndex(spark, dir), delta, dir,
      failAfter = "publish-partial")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inv = new org.apache.hadoop.fs.Path(s"$dir/inverted")
    def tornFiles(): Seq[String] = fs.listStatus(inv)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .flatMap(st => fs.listStatus(st.getPath)
        .map(f => s"inverted/${st.getPath.getName}/${f.getPath.getName}"))
      .filter(_.split("/").last.startsWith("append-")).toSeq
    assert(tornFiles().nonEmpty,
      "the crash seam must leave partially-published coded files on disk")
    assert(asSet(IvfPq.loadIndex(spark, dir).inverted) == baseStored,
      "a torn multi-cell publish leaked partial coded rows")
    // the next append call replaces the torn attempt and lands clean:
    // store == one-shot encode of base ∪ delta (frozen halves)
    IvfPq.appendToIndex(IvfPq.loadIndex(spark, dir), delta, dir)
    assert(asSet(IvfPq.loadIndex(spark, dir).inverted) ==
      asSet(IvfPq.codedInvertedFile(index, all, books, 4)),
      "post-rollback append diverges from encode(base ∪ delta)")
    // every append file on disk is one the manifest names, staging is gone
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_staging/append")),
      "a completed append must clear its staging")
    val committed = graft.operators.SegmentStore.open(spark, dir).of("inverted").toSet
    assert(tornFiles().forall(committed.contains),
      "an uncommitted append file survived the retry")
  }

  test("tombstone delete: live view drops the ids immediately, compaction removes them physically and clears the set") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = all.count()
    val isDel = col("id") % 3 === 1
    val nDel = all.filter(isDel).count()
    assert(nDel > 0, "spec needs a non-empty delete slice")
    val dir = tmpDir("idx_del")
    val (index, books) = IvfPq.buildIndex(all, n, dim = 64, m = 16,
      dsub = 4, kCodes = 64, dir = dir)
    IvfPq.deleteFromIndex(all.filter(isDel).select(col("id")), dir)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
    val loaded = IvfPq.loadIndex(spark, dir)
    // the raw store is untouched by the delete; the live view excludes
    // exactly the tombstoned ids — bit-equal to encoding the surviving
    // corpus under the same frozen index
    assert(loaded.inverted.count() == n, "delete must not rewrite the store")
    val live = asSet(loaded.live)
    assert(live == asSet(IvfPq.codedInvertedFile(index, all.filter(!isDel), books, 4)),
      "live view must equal the frozen-index encode of the surviving corpus")
    assert(live.forall(_._2 % 3 != 1), "no deleted id may be servable")
    // physical removal: compaction rewrites the touched cells minus
    // tombstoned rows and clears the applied set
    val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(overwriteMode)
    val touched = IvfPq.compactIndex(spark, dir)
    assert(spark.conf.getOption(overwriteMode) == modeBefore,
      "compaction must not touch the session's partition overwrite mode")
    assert(touched.nonEmpty, "cells holding tombstoned rows must be rewritten")
    assert(asSet(IvfPq.loadIndex(spark, dir).inverted) == live,
      "post-compaction raw store must equal the live content bit for bit")
    assert(IvfPq.tombstonesOf(spark, dir).count() == 0,
      "applied tombstones must be cleared")
    assert(IvfPq.compactIndex(spark, dir).isEmpty, "compaction must be idempotent")
    // deleting an id absent from the store: the tombstone lands, live
    // is unchanged, and the next compaction rewrites nothing but still
    // clears the (fully applied) set
    import spark.implicits._
    IvfPq.deleteFromIndex(Seq(-999L).toDF("id"), dir)
    assert(asSet(IvfPq.loadIndex(spark, dir).live) == live)
    assert(IvfPq.compactIndex(spark, dir).isEmpty)
    assert(IvfPq.tombstonesOf(spark, dir).count() == 0)
    // the manifest op: live == compacted stats (physical removal is
    // bit-preserving), tombstones row counts exactly the delete slice
    val m = SparkEntry.queries("emb_index_delete")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(m("live") == m("compacted"),
      "compacted store stats must equal the live view's")
    val nDelQ = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 9 === 4).count()
    assert(m("tombstones")._1 == nDelQ)
  }

  test("persisted index two-level: store round-trip + append/delete/compact/serve over a two-level store") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    // the forced regime (oneLevelMax = -1, the emb_ivfpq_topk_two_level
    // convention): every lifecycle op below runs against the store a
    // >10^7-vector deployment actually writes — the coarse/groups
    // persistence and loadIndex's two-level arm, previously dead at
    // every tested scale
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val isDelta = col("id") % 10 === 7
    val base = all.filter(!isDelta)
    val delta = all.filter(isDelta)
    val nBase = base.count()
    assert(delta.count() > 0)
    val dir = tmpDir("idx_2l")
    val (index, books) = IvfPq.buildIndex(base, nBase, dim = 64, m = 16,
      dsub = 4, kCodes = 64, dir = dir, oneLevelMax = -1L)
    val idx = index match {
      case i: IvfPq.TwoLevelIndex => assert(i.wProbe == 2); i
      case other => fail(s"forced build must select the two-level regime: $other")
    }
    // store round-trip: coarse constants, groups table, codebooks, and
    // the coded file all reproduce the in-memory build bit for bit
    val loaded = IvfPq.loadIndex(spark, dir)
    val lidx = loaded.index match {
      case i: IvfPq.TwoLevelIndex => assert(i.wProbe == 2); i
      case other => fail(s"two-level store loaded as $other")
    }
    assert(lidx.coarseIds.toSeq == idx.coarseIds.toSeq)
    assert(lidx.coarseCents.map(_.toSeq).toSeq == idx.coarseCents.map(_.toSeq).toSeq)
    def groupSet(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getInt(0), r.getSeq[scala.collection.Seq[Double]](1).map(_.toList).toList,
        r.getSeq[Int](2).toList)
    }.toSet
    assert(groupSet(lidx.groups) == groupSet(idx.groups), "groups table must round-trip")
    assert(loaded.books.map(_.map(_.toSeq).toSeq).toSeq ==
      books.map(_.map(_.toSeq).toSeq).toSeq)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
    assert(asSet(loaded.inverted) == asSet(IvfPq.codedInvertedFile(index, base, books, 4)),
      "the stored two-level coded file must equal the build")
    // serve from the LOADED two-level store: the composed search equals
    // the in-memory composition (what st_ivfpq_serve_topk relies on)
    val queries = all.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("v").as("qv"))
    val servedFromStore = IvfPq.topKWith(loaded.index, loaded.books, loaded.dsub,
        base, queries, k = 10, nprobe = 2, rerank = 30)
      .collect().map(_.toString).sorted.toSeq
    val inMemory = IvfPq.topKWith(index, books, 4,
        base, queries, k = 10, nprobe = 2, rerank = 30)
      .collect().map(_.toString).sorted.toSeq
    assert(servedFromStore.nonEmpty)
    assert(servedFromStore == inMemory,
      "serving from the loaded two-level store must equal the in-memory composition")
    // incremental ingest under the FROZEN two-level index
    IvfPq.appendToIndex(loaded, delta, dir)
    val appended = asSet(IvfPq.loadIndex(spark, dir).inverted)
    assert(appended == asSet(IvfPq.codedInvertedFile(index, all, books, 4)),
      "two-level append must equal the frozen-index encode of base ∪ delta")
    // tombstone delete: live view == frozen encode of the survivors
    val isDel = col("id") % 3 === 1
    IvfPq.deleteFromIndex(all.filter(isDel).select(col("id")), dir)
    val afterDel = IvfPq.loadIndex(spark, dir)
    assert(afterDel.index.isInstanceOf[IvfPq.TwoLevelIndex])
    val live = asSet(afterDel.live)
    assert(live == asSet(IvfPq.codedInvertedFile(index, all.filter(!isDel), books, 4)),
      "two-level live view must equal the frozen-index encode of the surviving corpus")
    // compaction over the two-level store: content bit-preserved,
    // applied set cleared, idempotent
    assert(IvfPq.compactIndex(spark, dir).nonEmpty)
    assert(asSet(IvfPq.loadIndex(spark, dir).inverted) == live,
      "two-level compaction must preserve live content exactly")
    assert(IvfPq.tombstonesOf(spark, dir).count() == 0)
    assert(IvfPq.compactIndex(spark, dir).isEmpty)
    // and the post-compaction store still serves through the two-level arm
    val servedAfter = IvfPq.loadIndex(spark, dir)
    assert(servedAfter.index.isInstanceOf[IvfPq.TwoLevelIndex])
    assert(IvfPq.topKWith(servedAfter.index, servedAfter.books, servedAfter.dsub,
        all.filter(!isDel), queries, k = 10, nprobe = 2, rerank = 30)
      .collect().nonEmpty)
  }

  test("streaming ingest idempotence: a replayed micro-batch cannot change store multiplicity at any crash point") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val isDelta = col("id") % 10 === 7
    val base = all.filter(!isDelta)
    val nBase = base.count()
    val dir = tmpDir("idx_retry")
    val (index, books) = IvfPq.buildIndex(base, nBase, dim = 64, m = 16,
      dsub = 4, kCodes = 64, dir = dir)
    val loaded = IvfPq.loadIndex(spark, dir)
    val batch0 = all.filter(isDelta).filter(col("id") % 20 === 7)   // first micro-batch
    val batch1 = all.filter(isDelta).filter(col("id") % 20 === 17)  // second micro-batch
    val n0 = batch0.count(); val n1 = batch1.count()
    assert(n0 > 0 && n1 > 0, "spec needs two non-empty micro-batches")
    def asBag(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList))
      .groupBy(identity).view.mapValues(_.length).toMap
    IvfPq.appendBatchToIndex(loaded, batch0, dir, batchId = 0L)
    val afterB0 = asBag(IvfPq.loadIndex(spark, dir).inverted)
    assert(afterB0.values.sum == nBase + n0)
    assert(afterB0.values.forall(_ == 1), "no duplicate rows after a clean batch")
    // replay after a successful commit (Structured Streaming re-runs a
    // failed trigger with the SAME batchId): the commit log no-ops it
    IvfPq.appendBatchToIndex(loaded, batch0, dir, batchId = 0L)
    assert(asBag(IvfPq.loadIndex(spark, dir).inverted) == afterB0,
      "a committed batch replay must be a no-op")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash MID-publish of the SECOND batch: some cells' files renamed
    // in, no manifest version — invisible, and the retry re-runs the
    // whole body: deterministic batchId-keyed filenames mean it
    // REPLACES its own files instead of double-appending
    graft.operators.SegmentStore.ingestBatch(spark, dir, IvfPq.layout, 1L,
        failAfter = "publish-partial")(
      IvfPq.stageCoded(loaded.index, loaded.books, loaded.dsub, batch1, _))
    val published = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/inverted"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .flatMap(st => fs.listStatus(st.getPath).map(_.getPath))
      .filter(_.getName.startsWith("ingest-1-"))
    assert(published.nonEmpty, "batch 1 must have published batchId-keyed files")
    assert(asBag(IvfPq.loadIndex(spark, dir).inverted) == afterB0,
      "a replay across the publish/commit crash window must not duplicate rows")
    // the retry lands it; the final store equals the frozen-index
    // encode of base ∪ both batches, multiplicity 1
    IvfPq.appendBatchToIndex(loaded, batch1, dir, batchId = 1L)
    val finalBag = asBag(IvfPq.loadIndex(spark, dir).inverted)
    assert(finalBag.values.sum == nBase + n0 + n1)
    assert(finalBag == asBag(IvfPq.codedInvertedFile(index,
        base.unionByName(batch0).unionByName(batch1), books, 4)),
      "the ingested store must equal the frozen-index encode, exactly once each")
  }

  test("streaming ingest: a first batch torn mid-publish on a fresh store is invisible; its replay lands once") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.{IvfPq, SegmentStore}
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val isDelta = col("id") % 10 === 7
    val base = all.filter(!isDelta)
    val batch = all.filter(isDelta)
    val dir = tmpDir("idx_torn0")
    val (index, books) = IvfPq.buildIndex(base, base.count(), dim = 64,
      m = 16, dsub = 4, kCodes = 64, dir = dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SegmentStore.open(spark, dir).batches.isEmpty,
      "a fresh build carries no ingest receipts")
    def asBag(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList))
      .groupBy(identity).view.mapValues(_.length).toMap
    val loaded = IvfPq.loadIndex(spark, dir)
    val baseStored = asBag(loaded.inverted)
    // crash the store's FIRST ingest batch after one cell's files are
    // renamed in, before the commit: the shared publish's seam
    SegmentStore.ingestBatch(spark, dir, IvfPq.layout, 0L,
        failAfter = "publish-partial")(
      IvfPq.stageCoded(loaded.index, loaded.books, loaded.dsub, batch, _))
    val inv = new org.apache.hadoop.fs.Path(s"$dir/inverted")
    val cells = fs.listStatus(inv)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
    val tornCells = cells.count(st => fs.listStatus(st.getPath)
      .exists(_.getPath.getName.startsWith("ingest-0-")))
    assert(tornCells == 1, s"the seam must leave exactly one cell published, got $tornCells")
    assert(asBag(IvfPq.loadIndex(spark, dir).inverted) == baseStored,
      "a torn first ingest batch leaked rows into the live view")
    // the replay of the same batchId completes it, each row exactly once
    IvfPq.appendBatchToIndex(loaded, batch, dir, batchId = 0L)
    val after = asBag(IvfPq.loadIndex(spark, dir).inverted)
    assert(after.values.forall(_ == 1), "the replay duplicated rows")
    assert(after == asBag(IvfPq.codedInvertedFile(index, all, books, 4)),
      "the replayed store must equal the frozen-index encode of base ∪ batch")
  }

  test("a rebuild replaces the store wholesale: no trained tables of the previous regime survive") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = corpus.count()
    val dir = tmpDir("idx_rebuild")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def has(sub: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
    IvfPq.buildIndex(corpus, n, dim = 64, m = 16, dsub = 4, kCodes = 64,
      dir = dir, oneLevelMax = -1L)
    assert(has("coarse") && has("groups") && !has("centroids"))
    IvfPq.buildIndex(corpus, n, dim = 64, m = 16, dsub = 4, kCodes = 64, dir = dir)
    assert(has("centroids"))
    assert(!has("coarse") && !has("groups"),
      "a one-level rebuild left the two-level build's trained tables behind")
    assert(IvfPq.loadIndex(spark, dir).index.isInstanceOf[IvfPq.OneLevelIndex])
  }

  test("full-cell takedown: compaction deletes the emptied cell instead of resurrecting it") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = all.count()
    val dir = tmpDir("idx_cellgone")
    IvfPq.buildIndex(all, n, dim = 64, m = 16, dsub = 4, kCodes = 64, dir = dir)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
    val store = IvfPq.loadIndex(spark, dir)
    // tombstone EVERY row of one occupied cell — the GDPR worst case
    // dynamic partition overwrite cannot express (zero output rows for
    // the cell ⇒ its old files would be left in place)
    val victim = store.inverted.groupBy(col("cell")).count()
      .orderBy(col("count"), col("cell")).head.getInt(0)
    // materialized: the lazy plan would re-read the store AFTER
    // compaction deletes the cell and re-apply an EMPTY tombstone set
    import spark.implicits._
    val victimIds = store.inverted.filter(col("cell") === victim)
      .select(col("id")).collect().map(_.getLong(0)).toSeq.toDF("id")
    val nVictim = victimIds.count()
    assert(nVictim > 0, "spec needs an occupied victim cell")
    IvfPq.deleteFromIndex(victimIds, dir)
    val live = asSet(IvfPq.loadIndex(spark, dir).live)
    assert(live.forall(_._1 != victim), "live view still serves the tombstoned cell")
    val touched = IvfPq.compactIndex(spark, dir)
    assert(touched.contains(victim), "the emptied cell must be a touched cell")
    // the resurrection bug: old files left behind + tombstones cleared
    // would make these rows servable again — the store must instead
    // have physically dropped the whole cell
    val after = IvfPq.loadIndex(spark, dir)
    assert(asSet(after.inverted) == live,
      "post-compaction store must equal the pre-compaction live view")
    assert(asSet(after.live) == live)
    assert(IvfPq.tombstonesOf(spark, dir).count() == 0)
    val fs = new org.apache.hadoop.fs.Path(s"$dir/inverted")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/inverted/cell=$victim")),
      "the emptied cell directory must be deleted")
    // crash-retry widening (ADVICE #4): the clear is ordered last, so a
    // crash leaves tombstones pending. Re-apply the same tombstones (the
    // recovered state) and re-compact: nothing resurrects, content holds.
    IvfPq.deleteFromIndex(victimIds, dir)
    assert(asSet(IvfPq.loadIndex(spark, dir).live) == live,
      "re-applied tombstones of already-removed ids must be a no-op on the live view")
    IvfPq.compactIndex(spark, dir)
    assert(asSet(IvfPq.loadIndex(spark, dir).inverted) == live,
      "re-run compaction after a simulated crash must preserve content")
    assert(IvfPq.tombstonesOf(spark, dir).count() == 0)
  }

  test("compaction crash window: tombstones pending at any interruption point are re-applied, never lost") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfPq
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = all.count()
    val dir = tmpDir("idx_crash")
    val (index, books) = IvfPq.buildIndex(all, n, dim = 64, m = 16,
      dsub = 4, kCodes = 64, dir = dir)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
    val isDel = col("id") % 5 === 2
    val survivors = asSet(IvfPq.codedInvertedFile(index, all.filter(!isDel), books, 4))
    IvfPq.deleteFromIndex(all.filter(isDel).select(col("id")), dir)
    // crash AFTER the physical rewrite but BEFORE the tombstone clear:
    // reproduce that exact on-disk state — run the full compaction,
    // then restore the tombstone set as if the clear never executed
    val tombIds = IvfPq.tombstonesOf(spark, dir).collect().map(_.getLong(0)).toSeq
    IvfPq.compactIndex(spark, dir)
    import spark.implicits._
    IvfPq.deleteFromIndex(tombIds.toDF("id"), dir)
    // recovery semantics: pending tombstones of already-removed ids are
    // harmless under the live anti-join, and the recovery compaction
    // applies-then-clears them without touching surviving content
    assert(asSet(IvfPq.loadIndex(spark, dir).live) == survivors,
      "the store must serve correctly throughout the crash window")
    IvfPq.compactIndex(spark, dir)
    assert(asSet(IvfPq.loadIndex(spark, dir).inverted) == survivors)
    assert(IvfPq.tombstonesOf(spark, dir).count() == 0)
    // a delete landing AFTER the snapshot is NOT cleared by a run that
    // never saw it: apply one compaction's snapshot while a fresh
    // tombstone lands before the clear — modelled by the snapshot rule
    // itself (only snapshotted FILES are deleted). Land two separate
    // tombstone files, remove one manually to stand for "applied
    // snapshot", and verify the other still gates the live view.
    val ids = all.select(col("id")).limit(2).collect().map(_.getLong(0))
    IvfPq.deleteFromIndex(Seq(ids(0)).toDF("id"), dir)
    IvfPq.deleteFromIndex(Seq(ids(1)).toDF("id"), dir)
    assert(IvfPq.tombstonesOf(spark, dir).count() == 2)
    val liveNow = asSet(IvfPq.loadIndex(spark, dir).live)
    assert(!liveNow.exists(r => r._2 == ids(0) || r._2 == ids(1)))
    IvfPq.compactIndex(spark, dir)
    assert(IvfPq.tombstonesOf(spark, dir).count() == 0)
    assert(asSet(IvfPq.loadIndex(spark, dir).live) ==
      survivors.filterNot(r => r._2 == ids(0) || r._2 == ids(1)))
  }

  test("approx_count_distinct within 5% of exact") {
    val approx = SparkEntry.queries("q13_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n <= 0.05, s"$k: approx $a vs exact $n")
    }
  }

  test("adaptiveCells: exactly 16 at every oracle-checked scale, linear beyond") {
    import graft.operators.AnnIvf
    // <= 2000 vectors (sf0.001 / sf0.01 / sf0.1 embeddings) must all
    // resolve to the 16 the centroid-literal oracle replay inlines
    for (n <- Seq(20L, 200L, 2000L)) assert(AnnIvf.adaptiveCells(n) == 16, s"n=$n")
    // beyond the oracle range, cells grow with the corpus so SemDeDup
    // per-cell work (sum of |cell|^2) stays constant
    assert(AnnIvf.adaptiveCells(20000L) == 160)
    assert(AnnIvf.adaptiveCells(2000000L) == 16000)
  }

  test("ivf quality audit: cells partition the corpus, errors consistent with the kernel") {
    val out = SparkEntry.queries("emb_ivf_quality")(spark, sf).collect()
    assert(out.nonEmpty)
    val corpusN = Tables.embeddings(spark, sf).count()
    assert(out.map(_.getLong(1)).sum === corpusN, "cells must partition the corpus")
    out.foreach { r =>
      val (mean, mx) = (r.getDouble(2), r.getDouble(3))
      assert(mean >= 0 && mx >= 0 && mean <= mx + 1e-9,
        s"cell ${r.getInt(0)}: mean $mean > max $mx")
    }
    // NearestCellWithDist's sq agrees with an independent driver-side recompute
    // for one vector per cell
    import graft.operators.AnnIvf
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
    val (ids, cents) = AnnIvf.collectCentroids(
      AnnIvf.refinedCentroids(corpus, cells = 16, dim = 64))
    val probe = corpus.filter(col("id").isin(out.map(_.getLong(4)): _*))
      .select(col("id"),
        graft.functions.expressions.GraftFunctions
          .nearestCellWithDist(col("v"), cents, ids).getField("sq").as("sq"),
        col("v"))
      .collect()
    probe.foreach { r =>
      val v = r.getSeq[Double](2).toArray
      val manual = cents.map { c =>
        v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      }.min
      assert(math.abs(r.getDouble(1) - manual) < 1e-9,
        s"kernel dist ${r.getDouble(1)} vs manual $manual")
    }
  }

  test("matryoshka audit: overlap bounded, top-1 rank present, recall consistent") {
    val out = SparkEntry.queries("emb_matryoshka_recall")(spark, sf).collect()
    assert(out.length === 5, "one row per fixed query")
    out.foreach { r =>
      val overlap = r.getLong(1)
      assert(overlap >= 0 && overlap <= 10)
      assert(r.getLong(2) >= 1, "the full-precision top-1 has SOME truncated rank")
      assert(math.abs(r.getDouble(3) - overlap / 10.0) < 1e-9)
    }
  }

  test("rrf fusion: dense fused ranks, score recomputed from the two input ranks") {
    val out = SparkEntry.queries("emb_rrf_fusion")(spark, sf).collect()
    val byQuery = out.groupBy(_.getLong(0))
    assert(byQuery.size === 5)
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 10), "fused top-10 is dense")
    }
    out.foreach { r =>
      val want = BigDecimal(1.0 / (60.0 + r.getInt(4)) + 1.0 / (60.0 + r.getInt(5)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - want) < 1e-9, "rrf score formula")
    }
    // fusion respects dominance: a neighbor ranked 1st by BOTH retrievers must fuse 1st
    out.filter(r => r.getInt(4) == 1 && r.getInt(5) == 1)
      .foreach(r => assert(r.getInt(1) === 1))
  }

  test("tuned multi-table ANN reaches healthy recall where the 6-bit control cannot") {
    val out = SparkEntry.queries("emb_ann_recall_tuned")(spark, sf).collect()
    assert(out.length === 5)
    val mean = out.map(_.getDouble(4)).sum / out.length
    assert(mean >= 0.8, s"tuned mean recall $mean below the healthy-index bar")
    // the audit must also carry its price: candidates are a strict
    // subset of the corpus (bucket-bounded, not brute force)
    val corpusN = Tables.embeddings(spark, sf).count()
    out.foreach(r => assert(r.getLong(3) < corpusN, "candidate set must not be the whole corpus"))
  }

  test("matryoshka demo (structured corpus) beats the unstructured control decisively") {
    val control = SparkEntry.queries("emb_matryoshka_recall")(spark, sf).collect()
      .map(_.getDouble(3))
    val demo = SparkEntry.queries("emb_matryoshka_demo")(spark, sf).collect()
      .map(_.getDouble(3))
    val (cMean, dMean) = (control.sum / control.length, demo.sum / demo.length)
    assert(dMean >= 0.8, s"structured-corpus prefix recall $dMean below the healthy bar")
    assert(dMean >= cMean + 0.5,
      s"demo ($dMean) must dominate the unstructured control ($cMean) — " +
        "the pair exists to show the audit measures corpus structure")
  }

  test("VectorDecimalMean kernel == the per-dim try_element_at aggregate formulation") {
    // the compiled Lloyd vector-sum must be bit-identical to the
    // 64-wide expression list it replaced, across every degenerate
    // shape the EdgeCase sweep feeds it: short/empty/null vectors,
    // NaN and Infinity coordinates (cast → NULL), and HALF_UP
    // rounding at the 6th dp. (Deliberate hardening deviation, NOT
    // tested here: a finite element outside the DECIMAL(18,6) domain
    // throws under ANSI in the expression form but contributes NULL
    // in the kernel — a total function beats a job-killer at 100 TB,
    // and no real embedding carries ≥1e12 coordinates.)
    import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, LongType, StructField, StructType}
    import graft.functions.expressions.GraftFunctions
    val dim = 5
    def jl(xs: Double*): java.util.List[java.lang.Double] = {
      val l = new java.util.ArrayList[java.lang.Double]()
      xs.foreach(x => l.add(x): Unit)
      l
    }
    val rows = java.util.List.of(
      org.apache.spark.sql.Row(0L, jl(0.1, 0.2, 0.3, 0.4, 0.5)),
      org.apache.spark.sql.Row(0L, jl(1.25, -2.5)),                  // short
      org.apache.spark.sql.Row(0L, null),                            // null vector
      org.apache.spark.sql.Row(1L, jl()),                            // empty
      org.apache.spark.sql.Row(1L, jl(Double.NaN, Double.PositiveInfinity,
        123456.789, 0.0000005, -0.0000005)),
      org.apache.spark.sql.Row(1L, jl(2.0, 3.0, 4.0, 5.0, 6.0)))
    val df = spark.createDataFrame(rows, StructType(Seq(
      StructField("g", LongType), StructField("v", ArrayType(DoubleType)))))
    val viaKernel = df.groupBy(col("g"))
      .agg(GraftFunctions.vectorDecimalMean(col("v"), dim).as("centroid"))
      .orderBy(col("g")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toList))
    val sums = (0 until dim).map(i =>
      sum(try_element_at(col("v"), lit(i + 1)).cast(DecimalType(18, 6))).as(s"__s$i"))
    val viaExprs = df.groupBy(col("g"))
      .agg(count(lit(1)).as("__n"), sums: _*)
      .select(col("g"), array((0 until dim).map(i =>
        coalesce(col(s"__s$i"), lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 6)))
          .cast(DoubleType) / col("__n")): _*).as("centroid"))
      .orderBy(col("g")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toList))
    assert(viaKernel.toSeq === viaExprs.toSeq)
  }

  test("ood score: descending, nonnegative, and the top-1 is the true global max") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.AnnIvf
    import graft.functions.expressions.GraftFunctions
    val out = SparkEntry.queries("emb_ood_score")(spark, sf).collect()
    assert(out.length == 50)
    val dists = out.map(_.getDouble(2))
    assert(dists.forall(_ >= 0.0))
    assert(dists.sameElements(dists.sorted(Ordering[Double].reverse)),
      "scores must be sorted descending")
    // independent recomputation of the global max nearest-centroid
    // distance (same refined centroids, brute-force max, no top-N path)
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val (ids, cents) = AnnIvf.collectCentroids(
      AnnIvf.refinedCentroids(corpus, cells = 16, dim = 64))
    val trueMax = corpus
      .select(sqrt(GraftFunctions.nearestCellWithDist(col("v"), cents, ids)
        .getField("sq")).as("d"))
      .agg(max(col("d"))).head.getDouble(0)
    assert(math.abs(dists.head - trueMax) < 1e-6,
      s"top-1 ${dists.head} vs brute-force max $trueMax")
  }

  test("recall curve: monotone in nprobe, counts conserved, fractions bounded") {
    val rows = SparkEntry.queries("emb_recall_curve")(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    val recalls = rows.map(_.getDouble(3))
    val scans = rows.map(_.getLong(4))
    // probing more cells can only add candidates: recall and scanned
    // volume are non-decreasing in nprobe by construction
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a - 1e-12 },
      s"recall not monotone: ${recalls.toSeq}")
    assert(scans.zip(scans.tail).forall { case (a, b) => b >= a },
      s"scan volume not monotone: ${scans.toSeq}")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "found cannot exceed exact")
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0, "scan_frac in (0, 1]")
    }
  }

  test("ivf+pq rerank curve: monotone in depth, counts conserved, depth-30 row reproduces emb_ivfpq_topk") {
    val rows = SparkEntry.queries("emb_ivfpq_rerank_curve")(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(10, 20, 30, 40, 50))
    val recalls = rows.map(_.getDouble(3))
    val scored = rows.map(_.getLong(4))
    // a deeper re-rank pool can only add candidates: recall and scored
    // volume are non-decreasing in depth by construction
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a - 1e-12 },
      s"recall not monotone: ${recalls.toSeq}")
    assert(scored.zip(scored.tail).forall { case (a, b) => b >= a },
      s"scored volume not monotone: ${scored.toSeq}")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "found cannot exceed exact")
      assert(r.getLong(4) <= 5L * r.getInt(0), "scored bounded by |Q|*depth")
    }
    // cross-check: the depth-30 row IS emb_ivfpq_topk's recall vs
    // exact (same routing, same ADC pool, same exact re-rank) — the
    // curve and the search op may never drift apart
    val exact = SparkEntry.queries("emb_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val topkHits = SparkEntry.queries("emb_ivfpq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).count(exact.contains)
    val d30 = rows.find(_.getInt(0) == 30).get
    assert(d30.getLong(2) == topkHits.toLong,
      s"curve depth-30 n_found ${d30.getLong(2)} != emb_ivfpq_topk hits $topkHits")
  }

  test("multimodal stub: features deterministic and shaped") {
    val out = SparkEntry.queries("mm_feature_stub")(spark, sf).collect()
    assert(out.length == Tables.documents(spark, sf).count())
    out.foreach { r =>
      assert(r.getInt(1) > 0)                  // byte_len
      assert(r.getInt(2) >= 1 && r.getInt(2) <= 640) // fake_width
    }
    // determinism: rerun hashes to same values
    val again = SparkEntry.queries("mm_feature_stub")(spark, sf).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }
}
