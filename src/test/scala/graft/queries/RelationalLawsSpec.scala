package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Null-handling laws of the join/fill idioms (SURVEY §5: J2/J3 + P9). */
class RelationalLawsSpec extends SparkSpec {

  test("O4 law: hash-stratified sample hits target rates and survives repartitioning") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val orders = graft.Tables.load(spark, dir, "orders")
    val sampled = SparkEntry.queries("o4_stratified_sample")(spark, dir)

    // Observed per-stratum rate within a binomial-noise tolerance of the
    // target (50/20/10%); sf0.001 strata hold hundreds of rows each.
    val tot = orders.groupBy($"o_orderstatus").count()
      .as[(String, Long)].collect().toMap
    val got = sampled.groupBy($"o_orderstatus").count()
      .as[(String, Long)].collect().toMap
    val target = Map("O" -> 0.5, "F" -> 0.2, "P" -> 0.1)
    for ((st, p) <- target if tot.contains(st)) {
      val n = tot(st).toDouble
      val rate = got.getOrElse(st, 0L) / n
      val tol = 4 * math.sqrt(p * (1 - p) / n) // ±4σ
      assert(math.abs(rate - p) <= tol, s"stratum $st: rate $rate vs $p ± $tol")
    }

    // Reproducibility: the keep decision is a pure function of the data,
    // so sampling a RESHUFFLED input yields the IDENTICAL row set — the
    // property seeded per-partition RNG sampling (sampleBy) lacks.
    import org.apache.spark.sql.functions._
    val pct = graft.llm.TextOps.hash48($"o_orderkey".cast("string")) % 100
    val keep = when($"o_orderstatus" === "O", pct < 50)
      .when($"o_orderstatus" === "F", pct < 20)
      .otherwise(pct < 10)
    val keys = sampled.select($"o_orderkey").as[Long].collect().sorted.toSeq
    val keys2 = orders.repartition(7).filter(keep).select($"o_orderkey")
      .as[Long].collect().sorted.toSeq
    assert(keys.nonEmpty && keys == keys2)
  }

  test("O5 law: grouped split is leakage-free and hits 80/10/10 by group") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val s = SparkEntry.queries("o5_group_hash_split")(spark, dir)
    // leakage-free: every user's events land in exactly ONE split
    val mixed = s.groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.countDistinct($"split").as("k"))
      .filter($"k" > 1).count()
    assert(mixed == 0L)
    // split rates by USER (the unit of assignment), ±4σ binomial
    val byUser = s.select($"user_id", $"split").distinct()
      .groupBy($"split").count().as[(String, Long)].collect().toMap
    val n = byUser.values.sum.toDouble
    for ((split, p) <- Map("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)) {
      val rate = byUser.getOrElse(split, 0L) / n
      val tol = 4 * math.sqrt(p * (1 - p) / n)
      assert(math.abs(rate - p) <= tol, s"$split rate $rate vs $p ± $tol")
    }
  }

  test("O6 law: A-ES weighted sample equals the locally replayed key order") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // The sample is a pure function of the data: recompute every key
    // driver-side with the same hash48 / ln / 9-dp rounding and take the
    // top-5 per source — the distributed result must match EXACTLY.
    val docs = graft.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", $"n_chars")
      .as[(Long, String, Long)].collect()
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.toSeq.map { case (id, src, nc) =>
        val u = (graft.llm.TextOps.hash48Jvm(s"ws:$id") + 1).toDouble /
          281474976710656.0
        // integer nano-key, same HALF_UP quantization as the query
        val key = BigDecimal(math.log(u) / math.max(nc, 1L).toDouble * 1e9)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        (src, id, key)
      }.sortBy { case (_, id, key) => (-key, id) }.take(5)
        .zipWithIndex.map { case ((s, id, _), i) => (s, id, i + 1L) }
    }.toSet
    val got = SparkEntry.queries("o6_weighted_sample")(spark, dir)
      .select($"source", $"doc_id", $"rk")
      .as[(String, Long, Long)].collect().toSet
    assert(got == expected)
    // weighting sanity: sampled docs skew long — the mean sampled
    // n_chars exceeds the corpus mean (n_chars spans ~3 orders of
    // magnitude, so A-ES bias dominates hash noise at any seed).
    val corpusMean = docs.map(_._3).sum.toDouble / docs.length
    val sampleIds = got.map(_._2)
    val sampleMean = docs.filter(d => sampleIds(d._1)).map(_._3).sum.toDouble /
      sampleIds.size
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("A8 law: approx percentiles land within the GK rank-error bound of exact") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // rank error ≤ n/accuracy (accuracy=1000). Convert to a value check:
    // the approx p-quantile must lie between the exact (p ± n/acc / n)
    // quantiles of the same group.
    val li = graft.Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_extendedprice".cast("double").as("x"))
    val approx = SparkEntry.queries("a8_approx_percentiles")(spark, dir)
      .as[(String, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5)).toMap
    // rank tolerance: the GK guarantee is 1/accuracy = 0.1%, but approx
    // returns a real element while exact interpolates between elements —
    // allow 1% of rank (10× the sketch bound) to absorb the
    // interpolation offset at small group sizes; still tight enough to
    // catch a broken sketch by an order of magnitude.
    val eps = 0.01
    for ((flag, vals) <- approx; (p, v) <- Seq(0.25, 0.5, 0.75, 0.95).zip(vals)) {
      val lohi = li.filter($"l_returnflag" === flag)
        .agg(org.apache.spark.sql.functions.expr(
          s"percentile(x, array(${math.max(0, p - eps)}D, ${math.min(1, p + eps)}D))"))
        .head.getSeq[Double](0)
      assert(v >= lohi(0) && v <= lohi(1),
        s"$flag p$p approx $v outside exact band $lohi")
    }
  }

  test("J3 law: left join + na.fill(1) equals union of matched(0) and left_anti(1)") {
    import spark.implicits._
    val universe = Seq(1, 2, 3, 4, 5).toDF("k")
    val buyers = Seq(2, 4).toDF("k").withColumn("label", lit(0))

    val fillForm = universe.join(buyers, Seq("k"), "left_outer")
      .na.fill(1, Seq("label"))
    val antiForm = universe.join(buyers.select($"k"), Seq("k"), "left_semi")
      .withColumn("label", lit(0))
      .unionByName(
        universe.join(buyers.select($"k"), Seq("k"), "left_anti")
          .withColumn("label", lit(1)))

    val a = fillForm.orderBy($"k").as[(Int, Int)].collect().toSeq
    val b = antiForm.orderBy($"k").as[(Int, Int)].collect().toSeq
    assert(a == b)
    assert(a == Seq((1, 1), (2, 0), (3, 1), (4, 0), (5, 1)))
  }

  test("J2 law: left-join chain preserves left cardinality and key set") {
    import spark.implicits._
    val base = Seq(1, 2, 3).toDF("k")
    val f1 = Seq((1, 10.0), (2, 20.0)).toDF("k", "a")
    val f2 = Seq((2, 7L), (9, 9L)).toDF("k", "b") // 9 must not leak in
    val out = base.join(f1, Seq("k"), "left_outer").join(f2, Seq("k"), "left_outer")
    assert(out.count() == 3)
    assert(out.select($"k").as[Int].collect().toSet == Set(1, 2, 3))
    // unmatched rows carry nulls, not dropped rows
    assert(out.filter($"k" === 3 && $"a".isNull && $"b".isNull).count() == 1)
  }

  test("P9 law: na.fill only touches nulls of the named columns") {
    import spark.implicits._
    val df = Seq((Some(1.0), Some("x")), (None, None))
      .toDF("num", "s")
    val filled = df.na.fill(-1.0, Seq("num"))
    assert(filled.filter($"num" === -1.0).count() == 1)
    assert(filled.filter($"s".isNull).count() == 1) // untouched
    val blanket = df.na.fill(-1.0).na.fill("unknow")
    assert(blanket.filter($"s" === "unknow").count() == 1)
  }

  test("A8 law: percentiles are monotone in q and bracketed by min/max") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val ps = SparkEntry.queries("a8_percentiles")(spark, sf)
      .as[(String, Double, Double, Double, Double)].collect()
    assert(ps.nonEmpty)
    val bounds = graft.Tables.load(spark, sf, "lineitem")
      .groupBy($"l_returnflag")
      .agg(min($"l_extendedprice".cast("double")).as("lo"),
           max($"l_extendedprice".cast("double")).as("hi"))
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    ps.foreach { case (flag, p25, p50, p75, p95) =>
      assert(p25 <= p50 && p50 <= p75 && p75 <= p95, s"$flag not monotone")
      val (lo, hi) = bounds(flag)
      assert(p25 >= lo - 1e-9 && p95 <= hi + 1e-9, s"$flag outside [min,max]")
    }
  }

  test("J7 precondition: part names tokenize to exactly two tokens") {
    // The SymSpell blocking guarantee pigeonholes the ≤2 edit budget
    // over TWO token regions (Relational.scala j7 scaladoc). If the
    // generator ever emits 1- or 3-token names this fails loudly and
    // the key scheme needs the k-token generalization, not a silent
    // recall hole.
    import spark.implicits._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val bad = graft.Tables.load(spark, dir, "part")
        .filter(size(split($"p_name", " ")) =!= 2).count()
      assert(bad == 0L, s"$dir: $bad part names without exactly 2 tokens")
    }
  }

  test("J7 law: SymSpell-blocked output equals the unblocked within-brand ground truth") {
    // Recall 1.0 is a THEOREM for this blocking (pigeonhole + del-1
    // neighborhoods); this asserts it empirically against the spelling
    // that enumerates every within-brand pair.
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val p = graft.Tables.load(spark, dir, "part")
      .select($"p_partkey", $"p_name", $"p_brand")
    val truth = p.as("a").join(p.as("b"),
        $"a.p_brand" === $"b.p_brand" && $"a.p_partkey" < $"b.p_partkey" &&
          abs(length($"a.p_name") - length($"b.p_name")) <= 2)
      .filter(levenshtein($"a.p_name", $"b.p_name", 2).between(0, 2))
      .select($"a.p_partkey", $"b.p_partkey")
      .as[(Long, Long)].collect().toSet
    val got = SparkEntry.queries("j7_fuzzy_block")(spark, dir)
      .select($"key_a", $"key_b").as[(Long, Long)].collect().toSet
    assert(got == truth, s"blocked ${got.size} vs truth ${truth.size}")
  }

  test("J7 plan: the levenshtein verify stays above the pair-dedup (no pushdown into the join)") {
    // Catalyst pushing the DP filter through the dedup into the join
    // condition re-runs it on every raw hash-match — measured 19 s vs
    // 4 s at sf0.1. first()-aggregated names are the barrier; this
    // pins it.
    val plan = SparkEntry.queries("j7_fuzzy_block")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val joinConds = "Join Inner, .*".r.findAllIn(plan).toList ++
      "BroadcastHashJoin.*".r.findAllIn(plan).toList ++
      "SortMergeJoin.*".r.findAllIn(plan).toList ++
      "ShuffledHashJoin.*".r.findAllIn(plan).toList
    assert(joinConds.nonEmpty)
    assert(!joinConds.exists(_.contains("levenshtein")),
      s"levenshtein leaked into a join condition:\n$plan")
  }

  test("J8 law: collision counting finds every J>=1/2 pair incl. the boundary") {
    import spark.implicits._
    // baskets: o1=o2={1,2,3,4}; o3={1,2,5,6}; o4={1,2,3}; o5={7};
    // o6={1..8}. Qualifying pairs (J >= 1/2, boundary INCLUDED):
    //   (1,2) 4/4   (1,4),(2,4) 3/4   (1,6),(2,6),(3,6) exactly 4/8.
    // Excluded: (1,3),(2,3) 2/6; (3,4) 2/5; (4,6) 3/8; o5 everywhere.
    val li = (Seq(1L, 2L).flatMap(o => Seq(1L, 2L, 3L, 4L).map((o, _))) ++
      Seq(1L, 2L, 5L, 6L).map((3L, _)) ++
      Seq(1L, 2L, 3L).map((4L, _)) ++
      Seq((5L, 7L)) ++
      (1L to 8L).map((6L, _)))
      .toDF("l_orderkey", "l_partkey")
    val d = java.nio.file.Files.createTempDirectory("j8").toString
    li.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("j8_setsim_join")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(out == Set(
      (1L, 2L, 4L, 4L, 1.0),
      (1L, 4L, 3L, 4L, 0.75), (2L, 4L, 3L, 4L, 0.75),
      (1L, 6L, 4L, 8L, 0.5), (2L, 6L, 4L, 8L, 0.5),
      (3L, 6L, 4L, 8L, 0.5)))
  }

  test("A20 law: union of partial HLL states estimates exactly as one direct sketch") {
    import spark.implicits._
    val out = SparkEntry.queries("a20_hll_merge")(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (st, merged, direct, exact, errBp) =>
      // THE mergeability law: combining per-epoch states is lossless —
      // same estimate as sketching all rows at once
      assert(merged == direct, s"$st: merged $merged != direct $direct")
      // default lgK=12 ⇒ relative error ~1.6%/sqrt? published RSE ≈
      // 0.0326/sqrt(2^12/... ) — allow 5% (500 bp), an order above spec
      assert(errBp <= 500, s"$st: err $errBp bp vs exact $exact")
    }
  }

  test("J9 law: rules carry hand-computed ppm confidence/lift; sub-floor dropped") {
    import spark.implicits._
    // Baskets: {A,B}, {A,B}, {A,C}, {A}. sup A=4, B=2, C=1, N=4.
    // Frequent pair (A,B): sup 2. Rules: A→B conf 2/4 = 500000 ppm;
    // B→A conf 2/2 = 1000000 ppm; lift both = 4·2/(4·2) = 1000000 ppm.
    // (A,C) sup 1 < 2 never becomes a rule.
    val li = Seq(
      (1L, 101L), (1L, 102L), (2L, 101L), (2L, 102L),
      (3L, 101L), (3L, 103L), (4L, 101L))
      .map { case (ok, pk) => (ok, pk, "N", 1.0, 1.0,
        java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) }
      .toDF("l_orderkey", "l_partkey", "l_returnflag", "l_quantity",
        "l_extendedprice", "l_shipdate")
    val d = java.nio.file.Files.createTempDirectory("j9-spec").toString
    li.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("j9_assoc_rules")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (101L, 102L, 2L, 4L, 2L, 500000L, 1000000L),
      (102L, 101L, 2L, 2L, 4L, 1000000L, 1000000L)))
  }

  test("W18 law: all-tied prices rank deterministically by key; quartiles balanced") {
    import spark.implicits._
    // 8 orders, one priority, identical price: percent_rank spreads
    // 0..1 by the KEY tiebreak, ntile(4) puts exactly 2 per quartile
    // in key order — the total-order contract the oracle replays.
    val rows = (1L to 8L).map(k =>
      (k, 1L, "O", 50.0,
        java.sql.Timestamp.valueOf("1997-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val d = java.nio.file.Files.createTempDirectory("w18-spec").toString
    rows.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("w18_rank_suite")(spark, d)
      .select($"o_orderkey", $"pct_rank", $"quartile")
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(out.map(_._2) == (0 to 7).map(_ / 7.0))
    assert(out.map(_._3) == Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L))
  }

  test("O8 law: Poisson weights replay exactly; mean weight is ~1 per replicate") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val orders = graft.Tables.load(spark, dir, "orders")
      .select($"o_orderkey",
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
      .as[(Long, Long)].collect()
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L,
      999406L, 999917L, 999990L, 999999L)
    def weight(r: Int, k: Long): Long = {
      val h = graft.llm.TextOps.hash48Jvm(s"bs:$r:$k") % 1000000L
      cdf.indexWhere(h < _) match { case -1 => 9L; case i => i.toLong }
    }
    val want = (0 until 16).map { r =>
      val ws = orders.map { case (k, c) => (weight(r, k), c) }
      r.toLong -> (ws.map(_._1).sum, ws.map { case (w, c) => w * c }.sum)
    }.toMap
    val got = SparkEntry.queries("o8_poisson_bootstrap")(spark, dir)
      .select($"replicate", $"n_eff", $"sum_cents")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want)
    // Poisson(1): per-replicate effective count within 20% of n (binomial
    // noise at n≈1500 is ~±3%, so this can only fail on a real bug)
    val n = orders.length
    assert(got.values.forall(v => v._1 > n * 8L / 10 && v._1 < n * 12L / 10))
  }

  test("A22 law: unpivot is the exact inverse of pivot; 3 rows per group") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val long = SparkEntry.queries("a22_unpivot")(spark, dir)
    val wide = graft.Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("long")).as("sum_qty"),
        sum(($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long"))
          .as("sum_cents"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val got = long.as[(String, String, Long)].collect()
    assert(got.length == wide.size * 3)
    // every (group, metric) cell round-trips
    for ((flag, (n, q, c)) <- wide) {
      val cells = got.filter(_._1 == flag).map(t => t._2 -> t._3).toMap
      assert(cells == Map("n_rows" -> n, "sum_qty" -> q, "sum_cents" -> c))
    }
    // re-pivoting the long form reconstructs the wide frame
    val repivot = long.groupBy($"l_returnflag").pivot($"metric")
      .agg(first($"value"))
      .as[(String, Long, Long, Long)].collect() // cols sorted: n_rows, sum_cents, sum_qty
      .map(r => r._1 -> (r._2, r._4, r._3)).toMap
    assert(repivot == wide)
  }

  test("U1 shopchannel udf reproduces the reference's quirky 4-way mapping") {
    import spark.implicits._
    val cases = Seq(
      (Some("小程序会员"), Some("门店会员")),
      (Some("小程序会员"), None),
      (None, None),
      (None, Some("门店会员"))) // store-only → udf None → null
      .toDF("w", "s")
    val out = cases.select(Churn.shopchannelUdf($"w", $"s").as("c"))
      .as[Option[String]].collect().toSeq
    assert(out == Seq(Some("门店和小程序"), Some("仅小程序"), Some("仅门店"), None))
  }

  private def j12Dir(nDimKeys: Int): String = {
    import spark.implicits._
    // nDimKeys parts with p_size=1 (brand alternates B1/B2) + one
    // p_size=2 decoy that must never reach the output; lineitem holds
    // two rows per selected part and one for the decoy.
    val parts = ((1 to nDimKeys).map(k =>
      (k.toLong, s"B${k % 2 + 1}", 1)) :+ (90000L, "BX", 2))
      .toDF("p_partkey", "p_brand", "p_size")
    val li = (1 to nDimKeys).flatMap(k => Seq(
      (k.toLong, 2.0, 10.00), (k.toLong, 3.0, 5.50))) :+ (90000L, 1.0, 99.99)
    val d = java.nio.file.Files.createTempDirectory(s"j12-$nDimKeys").toString
    parts.write.mode("overwrite").parquet(s"$d/part.parquet")
    li.toDF("l_partkey", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  test("J12 law: pruned join equals the plain join on both key-count tiers") {
    import spark.implicits._
    // 4 keys → the IN-list tier; 1200 keys → the (min,max)-range tier.
    // Both must emit exactly the unpruned join's aggregate (the pushed
    // filter is redundant with the join — that's the contract).
    for (nKeys <- Seq(4, 1200)) {
      val d = j12Dir(nKeys)
      val out = SparkEntry.queries("j12_minmax_prune")(spark, d)
        .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
      val half = (nKeys / 2).toLong
      val expect = Seq(
        ("B1", 2 * half, 5 * half, 15.50 * half),
        ("B2", 2 * half, 5 * half, 15.50 * half))
      assert(out.map(r => (r._1, r._2, r._3)) ==
        expect.map(r => (r._1, r._2, r._3)), s"nKeys=$nKeys")
      out.zip(expect).foreach { case (o, e) =>
        assert(math.abs(o._4 - e._4) < 1e-6, s"revenue nKeys=$nKeys") }
    }
  }

  test("O7 law: exactly K rows per group; small groups emit whole; sample is deterministic") {
    import spark.implicits._
    // Priority A: 100 orders (must yield exactly 20); priority B: 7
    // orders (smaller than K — all 7 emit, ranked 1..7).
    val orders = ((1L to 100L).map(k => (k, "A")) ++
      (101L to 107L).map(k => (k, "B")))
      .toDF("o_orderkey", "o_orderpriority")
    val d = java.nio.file.Files.createTempDirectory("o7-law").toString
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val run1 = SparkEntry.queries("o7_reservoir_sample")(spark, d)
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    val byGroup = run1.groupBy(_._1)
    assert(byGroup("A").size == 20 && byGroup("B").size == 7)
    assert(byGroup("A").map(_._3) == (1L to 20L) &&
      byGroup("B").map(_._3) == (1L to 7L))
    // determinism: the SAME rows under a DIFFERENT physical layout
    // (rewritten with another partitioning) must select the identical
    // sample — repartitioning the query output would test nothing
    val d2 = java.nio.file.Files.createTempDirectory("o7-law2").toString
    orders.repartition(7).write.mode("overwrite").parquet(s"$d2/orders.parquet")
    val run2 = SparkEntry.queries("o7_reservoir_sample")(spark, d2)
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(run1 == run2)
  }

  test("W19 law: running distinct counts a planted type sequence exactly") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // user 1 sees A, A, B, A, C → n_types 1,1,2,2,3; user 2 sees B → 1.
    // Two events share a timestamp (ids 2,3) — the (ts, event_id) total
    // order must place id=2 (repeat A) before id=3 (first B).
    val rows = Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "A", 1.0, "{}"),
      (2L, t("2024-01-01 10:05:00"), 1L, "A", 1.0, "{}"),
      (3L, t("2024-01-01 10:05:00"), 1L, "B", 1.0, "{}"),
      (4L, t("2024-01-01 10:20:00"), 1L, "A", 1.0, "{}"),
      (5L, t("2024-01-01 10:30:00"), 1L, "C", 1.0, "{}"),
      (6L, t("2024-01-01 09:00:00"), 2L, "B", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = java.nio.file.Files.createTempDirectory("w19-law").toString
    rows.write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("w19_running_distinct")(spark, d)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 2L),
      (4L, 1L, 2L), (5L, 1L, 3L), (6L, 2L, 1L)))
  }

  test("J12 law: an empty dimension yields an empty result, not a full-scan join") {
    import spark.implicits._
    val parts = Seq((1L, "B1", 2)).toDF("p_partkey", "p_brand", "p_size")
    val li = Seq((1L, 2.0, 10.00)).toDF(
      "l_partkey", "l_quantity", "l_extendedprice")
    val d = java.nio.file.Files.createTempDirectory("j12-empty").toString
    parts.write.mode("overwrite").parquet(s"$d/part.parquet")
    li.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    assert(SparkEntry.queries("j12_minmax_prune")(spark, d).isEmpty)
  }
}
