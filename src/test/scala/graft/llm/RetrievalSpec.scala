package graft.llm

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec}

/** Metric-layer law for d_retrieval_eval: the engine's single metric row
  * must equal an independent plain-Scala recomputation over the (already
  * oracle-proven) bm25TopK ranking — and the planted corpus is shaped so
  * the metrics are NON-trivial (a high-tf grade-1 spam doc outranks the
  * only grade-3 doc, so nDCG < 1). */
class RetrievalSpec extends SparkSpec {

  test("retrieval eval equals independent metric arithmetic; spam doc dents nDCG") {
    import spark.implicits._
    // df(spark) = 2 → high idf: the 8×-tf spam doc outscores the
    // grade-3 doc; grade-2 docs carry only the common join/window terms.
    val texts = Seq(
      1L -> "spark spark spark spark spark spark spark spark", // grade 1
      2L -> "spark join window filler") ++                     // grade 3
      (3L to 13L).map(i => i -> s"join window common filler$i") ++ // grade 2
      Seq(14L -> "nothing relevant here at all")               // grade 0
    val docs = texts.map { case (id, t) =>
      (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("retrieval-spec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")

    // independent grade + metric computation over the trusted ranking
    val grade = texts.map { case (id, t) =>
      id -> Retrieval.QueryTerms.count(t.split("\\s+").contains) }.toMap
    val ranks = Retrieval.bm25TopK(
      spark.read.parquet(s"$d/documents.parquet"),
      Retrieval.QueryTerms, 10)
      .select($"doc_id", $"rk").as[(Long, Long)].collect()
      .sortBy(_._2).map(_._1)
    val w = Retrieval.DcgWeightsMicro
    val dcg = ranks.zipWithIndex.map { case (id, i) =>
      grade(id).toLong * w(i) }.sum
    val idealGrades = grade.values.filter(_ > 0).toSeq.sorted.reverse.take(10)
    val idcg = idealGrades.zipWithIndex.map { case (g, i) => g * w(i) }.sum
    val nRelTotal = grade.values.count(_ > 0).toLong
    val nRelRet = ranks.count(grade(_) > 0).toLong
    val firstRel = ranks.indexWhere(grade(_) > 0) + 1

    val out = SparkEntry.queries("d_retrieval_eval")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    val (nRet, relTot, relRet, dcgM, idcgM, ndcg, mrr, p10, rec) = (
      out._1, out._2, out._3, out._4, out._5, out._6, out._7, out._8, out._9)
    assert(nRet == 10L && relTot == nRelTotal && relRet == nRelRet)
    assert(dcgM == dcg && idcgM == idcg)
    assert(ndcg == dcg * 1000000L / idcg)
    assert(mrr == 1000000L / firstRel)
    assert(p10 == nRelRet * 100000L)
    assert(rec == nRelRet * 1000000L / nRelTotal)
    // the plant worked: spam at rank 1 dents nDCG strictly below 1.0
    assert(grade(ranks.head) == 1 && ndcg < 1000000L,
      s"expected a dented nDCG, got $ndcg with ranking ${ranks.toSeq}")
  }

  test("hybrid RRF: fusion arithmetic exact, dense ranks consistent, both lists contribute") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("d_hybrid_rrf")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    assert(out.nonEmpty)
    // (1) RRF arithmetic: rrf_micro is exactly the sum of the two
    // floor terms recomputed from the audit rank columns
    def term(r: Long): Long = if (r > 0) 1000000000L / (60L + r) else 0L
    out.foreach { case ((q, d), (rrf, rs, rd, _)) =>
      assert(rrf == term(rs) + term(rd), s"($q,$d)")
    }
    // (2) dense audit ranks equal the declared brute ranking's
    val brute = graft.llm.Similarity.topkBrute(spark, dir, 20)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    out.foreach { case ((q, d), (_, _, rd, _)) =>
      if (rd > 0) assert(brute((q, d)) == rd, s"dense rank ($q,$d)")
      else assert(!brute.contains((q, d)), s"missed dense hit ($q,$d)")
    }
    // (3) per-query ranks are contiguous 1..n with n ≤ 10, ordered by
    // (rrf desc, doc asc)
    out.groupBy(_._1._1).foreach { case (q, rows) =>
      val byRank = rows.toSeq.sortBy(_._2._4)
      assert(byRank.map(_._2._4) == (1L to byRank.size).toSeq, s"q=$q")
      assert(byRank.size <= 10)
      val keys = byRank.map { case ((_, d), (rrf, _, _, _)) => (-rrf, d) }
      assert(keys == keys.sorted, s"q=$q order")
    }
    // (4) non-vacuity: fusion actually fuses — some doc carries both
    // ranks, and each list contributes somewhere alone
    assert(out.values.exists(v => v._2 > 0 && v._3 > 0), "no overlap")
    assert(out.values.exists(v => v._2 > 0 && v._3 == 0), "sparse-only absent")
    assert(out.values.exists(v => v._2 == 0 && v._3 > 0), "dense-only absent")
  }

  test("served hybrid RRF: IVF dense ranks, recall floor vs the brute-fused twin") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val served = graft.SparkEntry.queries("d_hybrid_rrf_served")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(served.nonEmpty)
    // (1) dense audit ranks equal the persisted IVF tier's ranking —
    // the serve-path substitution is exactly a column swap
    val ivf = graft.llm.Similarity
      .topkIvf(spark, dir, 20, nprobe = graft.llm.Similarity.ServedNprobe)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    served.foreach { case (q, d, _, _, rd, _) =>
      if (rd > 0) assert(ivf((q, d)) == rd, s"dense rank ($q,$d)")
      else assert(!ivf.contains((q, d)), s"missed dense hit ($q,$d)")
    }
    // (2) recall floor: the served fused top-10 keeps ≥ 60% of the
    // brute-fused twin's picks (the IVF pool probes 2 of 16 lists, so
    // perfect agreement is not expected; wholesale divergence would
    // mean the serve tier is ranking a different question)
    val brute = graft.SparkEntry.queries("d_hybrid_rrf")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2)).toSet
    val hits = served.map(r => (r._1, r._2)).count(brute.contains)
    assert(hits * 10 >= brute.size * 6,
      s"served kept $hits of ${brute.size} brute-fused picks")
  }
}
