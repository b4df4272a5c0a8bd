package graft.llm

import org.apache.spark.sql.DataFrame

import graft.{SparkEntry, SparkSpec}

/** Recall measurement for the ANN tiers against their exact baselines on
  * driver testdata (sf0.01) — the "done" criterion VERDICT r2 set for the
  * multi-band LSH rework and the IVF path. Floors sit safely under the
  * measured values (banded LSH 9/11 pair recall, 35/50 top-k matches,
  * IVF 23/50) so organic testdata drift doesn't flake, while still
  * catching a mis-tuned banding (the round-2 single 8-bit band scored
  * 1/11 and 1/50 here — far below every floor).
  */
class SimilaritySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def pairSet(df: DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
  }

  private def topkSet(df: DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
  }

  test("centroid exemplars equal a local integer-centroid replay (sf0.001)") {
    import spark.implicits._
    val small = "/root/testdata/sf0.001"
    val vecs = graft.Tables.load(spark, small, "embeddings")
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, Long, Array[Float])].collect()
    // replay: micro-quantized per-dim sums per label, then left-fold dot
    val centroids = vecs.groupBy(_._2).map { case (l, vs) =>
      val dims = vs.head._3.length
      l -> (0 until dims).map(d =>
        vs.map(v => math.round(v._3(d).toDouble * 1e6)).sum.toDouble).toArray
    }
    def dotFold(a: Array[Double], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y.toDouble }
    val want = centroids.toSeq.flatMap { case (l, cv) =>
      vecs.map(v => (l, v._1, dotFold(cv, v._3)))
        .sortBy(t => (-t._3, t._2)).take(10).zipWithIndex
        .map { case ((lbl, id, d), i) => (lbl, (i + 1).toLong, id, d) }
    }.toSet
    val got = SparkEntry.queries("sim_centroid_topk")(spark, small)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("int8 quantization reconstruction error stays within scale/2") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // by construction: |x - dequant(quant(x))| ≤ (hi-lo)/255/2 per
    // vector (round to nearest code). The declared query emits the
    // audit scalars; this asserts the bound they're meant to audit.
    val rows = SparkEntry.queries("f14_quantize")(spark, dir)
      .select($"vec_id", $"qlo", $"qhi", $"max_abs_err")
      .as[(Long, Double, Double, Double)].collect()
    assert(rows.length == 500)
    rows.foreach { case (id, lo, hi, err) =>
      val bound = (hi - lo) / 255.0 / 2.0 + 1e-6 // rounding slack on err
      assert(err <= bound, s"vec $id err $err > half-step $bound")
    }
  }

  test("banded embedding LSH recovers most exact probe-vs-corpus near-dup pairs") {
    val exact = pairSet(Dedup.embeddingNearDup(spark, dir))
    val lsh   = pairSet(Dedup.embeddingNearDupLsh(spark, dir))
    val hit = exact.count(lsh.contains)
    assert(exact.nonEmpty)
    // The exact twin is the r10 fixed-count spelling: 10 probe vectors
    // × the full corpus — 43 pairs ≥ 0.30 at sf0.01 (vs ~11 under the
    // old %10 probe-subset), a ~4× larger sample for this law. Expected
    // recall ≈ 0.67 at this regime (p ≈ 0.6, r = 4, 8 bands); binomial
    // std on 43 pairs is ~±0.07, so the 0.5 floor sits >2 std below the
    // expectation — not a tuning knob. Both pair sets are deterministic
    // (fixed testdata, md5-derived hyperplanes), so this is a fixed
    // draw, re-examined only when the hash family or data regenerates.
    assert(hit.toDouble / exact.size >= 0.5,
      s"banded LSH pair recall $hit/${exact.size} under floor 0.5")
  }

  test("multi-band topk LSH recall vs brute force clears the floor") {
    val brute = topkSet(Similarity.topkBrute(spark, dir))
    val lsh   = topkSet(Similarity.topkLsh(spark, dir))
    val hit = brute.count(lsh.contains)
    assert(hit.toDouble / brute.size >= 0.5,
      s"topk LSH recall $hit/${brute.size} under floor 0.5")
  }

  test("IVF recall@k clears the floor and is monotone in nprobe") {
    val brute = topkSet(Similarity.topkBrute(spark, dir))
    val ivf2  = topkSet(Similarity.topkIvf(spark, dir, nprobe = 2))
    val ivf4  = topkSet(Similarity.topkIvf(spark, dir, nprobe = 4))
    val r2 = brute.count(ivf2.contains).toDouble / brute.size
    val r4 = brute.count(ivf4.contains).toDouble / brute.size
    assert(r2 >= 0.35, s"IVF nprobe=2 recall $r2 under floor 0.35")
    // Same seed → same centroids → nprobe=4 probes a superset of lists:
    // recall can only go up.
    assert(r4 >= r2, s"IVF recall not monotone in nprobe: $r4 < $r2")
  }

  test("filtered ANN: predicate exact, ranks contiguous, recall vs exact filtered brute") {
    import spark.implicits._
    val got = Similarity.topkFiltered(spark, dir).cache()
    // (1) the predicate is EXACT on the result, not best-effort: every
    // returned neighbor carries label 3.
    val labels = graft.Tables.load(spark, dir, "embeddings")
      .select($"vec_id".as("neighbor_id"), $"label")
    val offLabel = got.join(labels, "neighbor_id").filter($"label" =!= 3).count()
    assert(offLabel == 0, s"$offLabel filtered ANN rows violate the predicate")
    // (2) per-query ranks are 1..n (n ≤ k) — the window emits a
    // contiguous prefix even when the probed lists hold < k matches.
    val rankSets = got.select($"query_id", $"rank").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq)
    rankSets.foreach { case (q, rs) =>
      assert(rs == (1L to rs.length), s"query $q ranks not contiguous: $rs")
    }
    // (3) recall vs the EXACT filtered answer (driver replay over the
    // 500-vector spec corpus: brute top-5 among label-3 vectors per
    // probe). Over-probing 4 of 16 lists at ~10% selectivity measured
    // 31/50 here; the 0.4 floor sits under it with margin while still
    // catching a starved post-filter composition (filtering a plain
    // top-5 would keep ≈ 0.5 matching rows per query — near-zero
    // recall against the 5-row exact answer).
    val vecs = graft.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"label",
        org.apache.spark.sql.functions.transform($"embedding",
          x => x.cast("double")).as("v"))
      .as[(Long, Int, Array[Double])].collect()
    def dotd(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val exact = vecs.filter(_._1 < Similarity.NumQueryVecs).flatMap {
      case (qid, _, qv) =>
        vecs.filter(t => t._2 == 3 && t._1 != qid)
          .map(t => (t._1, dotd(qv, t._3)))
          .sortBy(t => (-t._2, t._1)).take(Similarity.TopK)
          .map(t => (qid, t._1))
    }.toSet
    val hit = exact.count(topkSet(got).contains)
    got.unpersist()
    assert(hit.toDouble / exact.size >= 0.4,
      s"filtered ANN recall $hit/${exact.size} under floor 0.4")
  }

  test("PQ ADC recall@k clears the floor; deterministic re-run; codes are small ints") {
    val brute = topkSet(Similarity.topkBrute(spark, dir))
    val pq1 = topkSet(Similarity.topkPq(spark, dir))
    val r = brute.count(pq1.contains).toDouble / brute.size
    // 8×16 codebooks (4 B/vector, 64× compression) + exact re-rank of
    // the 10k ADC shortlist; the floor catches a broken encoder by two
    // orders of magnitude (random top-5 of 1500 ≈ 0.003)
    assert(r >= 0.3, s"PQ recall $r under floor 0.3")
    // fixed seeds ⇒ codebooks ⇒ codes ⇒ identical result set
    val pq2 = topkSet(Similarity.topkPq(spark, dir))
    assert(pq1 == pq2, "PQ not deterministic under re-run")
    // refined scores are exact cosines of unit vectors
    import spark.implicits._
    val bad = Similarity.topkPq(spark, dir)
      .filter($"cosine".isNull || org.apache.spark.sql.functions.abs($"cosine") > 1.000001).count()
    assert(bad == 0L)
  }

  test("IVF-PQ recall@k clears the floor; deterministic; neighbors ride probed lists only") {
    val brute = topkSet(Similarity.topkBrute(spark, dir))
    val r1 = topkSet(Similarity.topkIvfPq(spark, dir))
    val hit = brute.count(r1.contains)
    // measured draw 34/50 = 0.68 at nprobe=4/16 lists + 8×16 residual
    // codebooks (close to plain IVF's 0.70 at half the probes — the
    // residual-ADC shortlist costs ~2pp of recall for reading 4-byte
    // codes instead of 256-B vectors); the 0.4 floor catches a broken
    // router or encoder by two orders of magnitude (random ≈ 0.003)
    assert(hit.toDouble / brute.size >= 0.4,
      s"IVF-PQ recall $hit/${brute.size} under floor 0.4")
    // fixed seeds ⇒ coarse lists ⇒ codebooks ⇒ codes ⇒ identical set;
    // collect the re-run ONCE and derive both the set and the
    // per-query counts from it (a third call would re-fit all 9 KMeans
    // models just to count rows)
    import spark.implicits._
    val rows2 = Similarity.topkIvfPq(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
    assert(r1 == rows2.toSet, "IVF-PQ not deterministic under re-run")
    // every query emits exactly k rows (shortlist ≥ k by construction);
    // tied to the production constant, not a hardcoded 5 (ADVICE r10)
    val counts = rows2.groupBy(_._1).values.map(_.length)
    assert(counts.nonEmpty && counts.forall(_ == Similarity.TopK))
  }

  test("IVF-PQ cached (persisted index) equals the fresh-build result bit-for-bit") {
    import spark.implicits._
    // save→load→score round-trip law (VERDICT r10 #2, the ml_rf_churn
    // pattern): the build query trains + scores from in-memory models,
    // the cached query scores from the parquet artifact the build wrote
    // (or ensure trained) — doubles round-trip parquet exactly and the
    // retrain is seed-deterministic, so the two result sets must be
    // IDENTICAL including cosines, not merely recall-equivalent.
    def rows(df: DataFrame) =
      df.select($"query_id", $"neighbor_id", $"cosine", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSet
    val fresh  = rows(Similarity.topkIvfPq(spark, dir))
    val cached = rows(Similarity.topkIvfPqCached(spark, dir))
    assert(fresh == cached && fresh.nonEmpty)
  }

  test("index update: exact-argmin re-encode is optimal vs the stored MLlib codes") {
    import spark.implicits._
    val upd = Similarity.indexUpdate(spark, dir)
      .select($"vec_id", $"sub", $"code", $"l2sq")
      .as[(Long, Long, Long, Double)].collect()
    // every new-batch vector emits exactly one code per subspace
    assert(upd.nonEmpty && upd.length % AnnIndex.M == 0)
    assert(upd.groupBy(t => (t._1, t._2)).values.forall(_.length == 1))
    val (books, codesDf) = AnnIndex.ensurePq(spark, dir)
    val stored = codesDf.collect()
      .map(r => r.getLong(0) -> (0 until AnnIndex.M).map(s => r.getInt(s + 1)))
      .toMap
    val vecs = graft.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dist(qs: Array[Double], c: Array[Double]): Double =
      qs.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    upd.foreach { case (vid, sub, code, l2) =>
      val s = sub.toInt
      val qs = vecs(vid).map(_.toDouble)
        .slice(s * AnnIndex.SubDim, (s + 1) * AnnIndex.SubDim)
      // emitted l2sq IS the distance to the emitted code...
      assert(math.abs(l2 - dist(qs, books(s)(code.toInt))) < 1e-9)
      // ...and is never worse than the stored MLlib-assigned code's
      // distance (MLlib's transform may round differently on near-ties;
      // the exact argmin must win or tie)
      assert(l2 <= dist(qs, books(s)(stored(vid)(s))) + 1e-9,
        s"vec $vid sub $s: exact argmin $l2 worse than stored code")
    }
  }

  test("index stats: list occupancies partition the corpus; shares floor-sum to 1e6") {
    import spark.implicits._
    val rows = Similarity.indexStats(spark, dir)
      .select($"list_id", $"n", $"share_ppm", $"load_ppm")
      .as[(Long, Long, Long, Long)].collect()
    val corpus = graft.Tables.load(spark, dir, "embeddings").count()
    assert(rows.map(_._2).sum == corpus) // every vector in exactly one list
    val shareSum = rows.map(_._3).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - rows.length,
      s"floor-ppm shares sum $shareSum")
  }

  test("knn graph: identical vectors are mutual rank-1; probe rows equal tier-2") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // identical unit vectors MUST share every band bucket -> candidacy
    // is guaranteed, cosine exactly 1.0, mutual rank 1. The third
    // vector is orthogonal; nothing is asserted about its collisions.
    val v = Seq.fill(64)(0.125f)
    val w = (0 until 64).map(i => if (i % 2 == 0) 0.125f else -0.125f)
    val d = java.nio.file.Files.createTempDirectory("knnspec").toString
    Seq((0L, v, 0), (1L, v, 0), (2L, w, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val r1 = SparkEntry.queries("sim_knn_graph")(spark, d)
      .filter($"rank" === 1)
      .select($"vec_id", $"neighbor_id", $"cosine")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(r1(0L)._1 == 1L && math.abs(r1(0L)._2 - 1.0) < 1e-12)
    assert(r1(1L)._1 == 0L && math.abs(r1(1L)._2 - 1.0) < 1e-12)

    // law: the graph restricted to the tier-2 probe set IS the tier-2
    // result (same candidates, same exact ranking) up to rank KnnK.
    val g = Similarity.knnGraph(spark, dir)
      .filter($"vec_id" < Similarity.NumQueryVecs)
      .select($"vec_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Long)].collect().toSet
    val t2 = Similarity.topkLsh(spark, dir)
      .filter($"rank" <= Similarity.KnnK)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(g == t2)
  }

  test("autoBitsPerBand keeps per-bucket fanout constant as the corpus grows") {
    // n/2^r ≈ targetBucketSize across scales, with the 4-bit floor.
    assert(Similarity.autoBitsPerBand(500) == 4)        // floor
    assert(Similarity.autoBitsPerBand(64_000) == 10)    // 64k/2^10 = 62.5
    assert(Similarity.autoBitsPerBand(64_000_000) == 20)
    val r = Similarity.autoBitsPerBand(1_000_000_000L, 128)
    assert((1_000_000_000L >> r) <= 128)
  }

  /** recall-audit law: hits/recall must equal what the two DECLARED
    * pipelines it composes actually intersect to — recomputed here from
    * their own outputs — with one row per probe query (a query whose
    * IVF answer misses everything must still appear with hits = 0). */
  test("recall eval equals the brute∩ivf intersection of its own tiers") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val out = Similarity.recallEval(spark, sf)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val brute = Similarity.topkBrute(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.topkIvf(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val k = Similarity.TopK.toLong
    assert(out.size == Similarity.NumQueryVecs)
    out.foreach { case (q, (hits, ppm)) =>
      val want = brute.count(p => p._1 == q && ivf(p))
      assert(hits == want, s"query $q: hits $hits vs recomputed $want")
      assert(ppm == hits * 1000000L / k)
    }
    // non-vacuous: the nprobe=2 tier must find SOMETHING but is not exact
    assert(out.values.map(_._1).sum > 0)
  }

  test("MMR equals a driver-side greedy replay; diversification engages") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("sim_topk_mmr")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rows) =>
        q -> rows.sortBy(_._5).map(r => (r._2, r._3, r._4)).toSeq
      }
    // replay: candidate pool + quantized sims from the declared brute
    // tier's own outputs, greedy in plain Scala
    // HALF_UP like Spark's round / DuckDB's round (away from zero on
    // ties — java's math.round floors negative ties instead)
    def q6(x: Double): Long = new java.math.BigDecimal(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val cands = Similarity.topkBrute(spark, dir, Similarity.MmrCandidates)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2, q6(r._3)))
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id",
        org.apache.spark.sql.functions.transform($"embedding",
          x => x.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    def dotJvm(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    var diversified = false
    val want = cands.groupBy(_._1).map { case (q, pool0) =>
      var pool = pool0.map { case (_, d, rel) => (d, rel, 0L) }.toSeq
      val relOrder = pool.sortBy { case (d, rel, _) => (-rel, d) }
        .map(_._1).take(Similarity.MmrK)
      val picked = (1 to Similarity.MmrK).map { _ =>
        val best = pool.map { case (d, rel, ms) =>
          (d, rel, 7L * rel - 3L * ms)
        }.minBy { case (d, _, u) => (-u, d) }
        pool = pool.filter(_._1 != best._1).map { case (d, rel, ms) =>
          val s = q6(dotJvm(e(d), e(best._1)))
          (d, rel, math.max(ms, s))
        }
        (best._1, best._2, best._3)
      }
      if (picked.map(_._1) != relOrder) diversified = true
      q -> picked
    }
    assert(out == want, "engine disagrees with the driver-side greedy")
    assert(diversified,
      "MMR never diverged from pure relevance — diversification vacuous")
  }

  test("served MMR: pool is the IVF tier's candidates; overlap floor vs brute-pool twin") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val served = SparkEntry.queries("sim_topk_mmr_served")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(served.nonEmpty)
    // every served pick must come from the served pool (the IVF
    // tier's top-MmrCandidates) with the pool's own rel_micro
    def q6(x: Double): Long = new java.math.BigDecimal(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val pool = Similarity
      .topkIvf(spark, dir, Similarity.MmrCandidates,
        nprobe = Similarity.ServedNprobe)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> q6(r._3)).toMap
    served.foreach { case (q, d, rel, _, _) =>
      assert(pool.get((q, d)).contains(rel), s"pick ($q,$d) not in IVF pool")
    }
    // POOL-recall floor vs the brute pool — the serving-quality metric
    // (pick-set overlap is the wrong law for a greedy diversifier: a
    // few pool misses cascade through the maxsim folds, so even a
    // high-recall pool yields moderately different picks by design)
    val brutePool = Similarity
      .topkBrute(spark, dir, Similarity.MmrCandidates)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val hits = pool.keysIterator.count(brutePool.contains)
    assert(hits * 2 >= brutePool.size,
      s"IVF pool recalled $hits of ${brutePool.size} brute-pool rows")
    // and the served greedy still diversifies: picks are NOT the pure
    // relevance order of its own pool
    val relOrder = served.groupBy(_._1).forall { case (_, rows) =>
      val byPick = rows.sortBy(_._5).map(_._2).toSeq
      val byRel = rows.sortBy(r => (-r._3, r._2)).map(_._2).toSeq
      byPick == byRel
    }
    assert(!relOrder, "served MMR never diverged from pure relevance")
  }
}
