package graft.encode

import java.nio.file.Files
import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Planted-truth + leakage laws for the dictionary-free encoders. */
class EncodersSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("feature hash: indices are the hash48 of each feature, per row") {
    import spark.implicits._
    val events = Seq(
      (7L, ts("2024-01-01 13:30:00"), 130L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = Files.createTempDirectory("enc-fh").toString
    events.write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = SparkEntry.queries("enc_feature_hash")(spark, d)
      .select($"feature_idx").as[Long].collect().toSet
    val expected = Set("et:click", "hr:13", "uk:2") // 130 % 64 = 2
      .map(f => graft.llm.TextOps.hash48Jvm(f) % 1024)
    assert(got == expected)
  }

  test("feature hash: stateless — a repartitioned input encodes identically") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("enc_feature_hash")(spark, dir)
      .as[(Long, Long)].collect().sorted.toSeq
    val b = SparkEntry.queries("enc_feature_hash")(spark, dir)
      .repartition(7).as[(Long, Long)].collect().sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("target encode: hand-checked smoothing; test-split labels cannot leak") {
    import spark.implicits._
    // Pick custkeys landing in train (hash%100 < 80) / test deterministically.
    val inTrain = (1L to 400L).filter(k =>
      graft.llm.TextOps.hash48Jvm(k.toString) % 100 < 80)
    val inTest = (1L to 400L).filterNot(k =>
      graft.llm.TextOps.hash48Jvm(k.toString) % 100 < 80)
    assert(inTrain.size >= 20 && inTest.size >= 5)
    // Segment A: 10 train customers, 4 positive. Segment B: 10 train, 0 pos.
    val aTrain = inTrain.take(10)
    val bTrain = inTrain.slice(10, 20)
    val testKeys = inTest.take(5) // all positive — must NOT move the stats
    val customers = (aTrain.map((_, "A")) ++ bTrain.map((_, "B")) ++
      testKeys.map((_, "A")))
      .toDF("c_custkey", "c_mktsegment")
    val orders = (aTrain.take(4) ++ testKeys).zipWithIndex.map {
      case (k, i) => (9000L + i, k, "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val d = Files.createTempDirectory("enc-te").toString
    customers.write.mode("overwrite").parquet(s"$d/customer.parquet")
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("m12_target_encode")(spark, d)
      .select($"c_mktsegment", $"n_train", $"n_pos", $"te_smooth")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val prior = 4.0 / 20.0
    assert(out("A") == ((10L, 4L, (4L + 20.0 * prior) / (10L + 20.0))))
    assert(out("B") == ((10L, 0L, (0L + 20.0 * prior) / (10L + 20.0))))
    // Leakage law: flip every TEST label (drop their urgent orders) —
    // the encoder table must be bit-identical.
    orders.filter(!$"o_custkey".isin(testKeys: _*))
      .write.mode("overwrite").parquet(s"$d/orders2.parquet")
    val d2 = Files.createTempDirectory("enc-te2").toString
    customers.write.mode("overwrite").parquet(s"$d2/customer.parquet")
    spark.read.parquet(s"$d/orders2.parquet")
      .write.mode("overwrite").parquet(s"$d2/orders.parquet")
    val out2 = SparkEntry.queries("m12_target_encode")(spark, d2)
      .select($"c_mktsegment", $"n_train", $"n_pos", $"te_smooth")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out2 == out)
  }

  test("m25 standard: z-scores replay the exact-stats IEEE chain; constant pins 0") {
    import spark.implicits._
    val bals = Seq(10.00, 20.00, 30.00, 40.00)
    val customers = bals.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("c_custkey", "c_acctbal")
    val d = Files.createTempDirectory("enc-std").toString
    customers.write.mode("overwrite").parquet(s"$d/customer.parquet")
    val out = SparkEntry.queries("m25_standard_scaler")(spark, d)
      .select($"c_custkey", $"z_ppm").as[(Long, Long)].collect().toMap
    val cents = bals.map(b => math.round(b * 100))
    val n = cents.size.toLong
    val sx = BigInt(cents.sum)
    val sxx = cents.map(c => BigInt(c) * c).sum
    val varp = (BigInt(n) * sxx - sx * sx).toDouble / (BigInt(n) * n).toDouble
    val mean = sx.toDouble / n
    val want = cents.zipWithIndex.map { case (c, i) =>
      i.toLong -> math.floor((c - mean) / math.sqrt(varp) * 1e6).toLong
    }.toMap
    assert(out == want)
    // symmetry of the planted series: z(μ−d) = −z(μ+d) − 1 in floor space
    assert(out(0L) + out(3L) == -1L && out(1L) + out(2L) == -1L)
    // constant column → σ = 0 → pinned 0
    Seq((9L, 5.00), (10L, 5.00)).toDF("c_custkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$d/customer.parquet")
    val const = SparkEntry.queries("m25_standard_scaler")(spark, d)
      .select($"z_ppm").as[Long].collect()
    assert(const.forall(_ == 0L))
  }

  test("m12 apply: every row carries its segment's fit value; OOV segment gets the prior") {
    import spark.implicits._
    val inTrain = (1L to 400L).filter(k =>
      graft.llm.TextOps.hash48Jvm(k.toString) % 100 < 80)
    val inTest = (1L to 400L).filterNot(k =>
      graft.llm.TextOps.hash48Jvm(k.toString) % 100 < 80)
    val aTrain = inTrain.take(10)
    // segment C consists ONLY of test-split customers: never seen at
    // fit time → must coalesce to the global prior, not null
    val cTest = inTest.take(3)
    val customers = (aTrain.map((_, "A")) ++ cTest.map((_, "C")))
      .toDF("c_custkey", "c_mktsegment")
    val orders = aTrain.take(4).zipWithIndex.map {
      case (k, i) => (9000L + i, k, "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val d = Files.createTempDirectory("enc-apply").toString
    customers.write.mode("overwrite").parquet(s"$d/customer.parquet")
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("m12_target_apply")(spark, d)
      .as[(Long, String, Double)].collect()
    assert(out.length == aTrain.size + cTest.size)
    val prior = 4.0 / 10.0
    val teA = (4L + 20.0 * prior) / (10L + 20.0)
    assert(out.filter(_._2 == "A").forall(_._3 == teA))
    assert(out.filter(_._2 == "C").forall(_._3 == prior))
  }

  test("m22 corr: perfect linear pair pins r2_ppm=1e6; constant column pins 0") {
    import spark.implicits._
    // ep_cents = 2·qty exactly (price = qty · $0.02) → r² = 1, sign +.
    // discount constant → zero variance → r2_ppm = 0, sgn 0 by contract.
    val li = (1 to 5).map(q => (q.toDouble, q * 0.02, 0.05))
      .toDF("l_quantity", "l_extendedprice", "l_discount")
    val d = Files.createTempDirectory("enc-corr").toString
    li.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("m22_corr")(spark, d)
      .select($"var_x", $"var_y", $"n", $"sgn", $"r2_ppm")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(out(("qty", "ep")) == ((5L, 1L, 1000000L)))
    assert(out(("qty", "disc")) == ((5L, 0L, 0L)))
    assert(out(("ep", "disc")) == ((5L, 0L, 0L)))
    // anti-correlated pair: ep = (6−qty)·$0.02 → sign −1, r² still 1
    (1 to 5).map(q => (q.toDouble, (6 - q) * 0.02, 0.05))
      .toDF("l_quantity", "l_extendedprice", "l_discount")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val neg = SparkEntry.queries("m22_corr")(spark, d)
      .select($"var_x", $"var_y", $"sgn", $"r2_ppm")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(neg(("qty", "ep")) == ((-1L, 1000000L)))
  }

  test("m22 corr: floor chain equals independent integer replay on real data") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val rows = graft.Tables.load(spark, dir, "lineitem")
      .select($"l_quantity".cast("long"),
        ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long"),
        ($"l_discount".cast("decimal(18,4)") * 10000).cast("long"))
      .as[(Long, Long, Long)].collect()
    def stats(xs: Seq[BigInt], ys: Seq[BigInt]): (Long, Long) = {
      val n = BigInt(xs.size)
      val num = n * xs.zip(ys).map { case (a, b) => a * b }.sum - xs.sum * ys.sum
      val vx = n * xs.map(a => a * a).sum - xs.sum * xs.sum
      val vy = n * ys.map(a => a * a).sum - ys.sum * ys.sum
      val r2 = if (vx > 0 && vy > 0) (num.abs * 1000000 / vx * num.abs / vy).toLong
               else 0L
      (num.signum.toLong, r2)
    }
    val q = rows.map(r => BigInt(r._1)).toSeq
    val e = rows.map(r => BigInt(r._2)).toSeq
    val dd = rows.map(r => BigInt(r._3)).toSeq
    val want = Map(("qty", "ep") -> stats(q, e), ("qty", "disc") -> stats(q, dd),
      ("ep", "disc") -> stats(e, dd))
    val got = SparkEntry.queries("m22_corr")(spark, dir)
      .select($"var_x", $"var_y", $"sgn", $"r2_ppm")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got == want)
    // non-vacuous: the synthetic columns are near-independent (that is
    // the point of measuring), but the chain must produce a genuinely
    // nonzero quotient somewhere — all-zero would mean the floor chain
    // collapsed, not that the data is uncorrelated
    assert(got.values.exists(v => v._2 > 0L && v._1 != 0L))
  }

  test("woe/iv: hand-computed micro-nat weights and milli IV contributions") {
    import spark.implicits._
    import java.sql.Timestamp
    // value X: 3 good ('O') + 1 bad ('F'); Y mirrored. G = B = 4.
    // woe_X = ln((3.5*6.5)/(1.5*6.5)) = ln(7/3) = 0.8472979 ->
    // woe_micro 847298; woe_milli floor((1694596+1000)/2000) = 847;
    // iv_milli_X = floor((8*847*2+16)/32) = 424. Y: woe_micro -847298,
    // woe_milli floor(-847.798) = -848, iv_milli = floor((13568+16)/32)
    // = 424 (floor asymmetry is deterministic and mirrored in the
    // oracle - the contract is cross-engine equality, not symmetry).
    val rows = Seq(
      ("X", "O"), ("X", "O"), ("X", "O"), ("X", "F"),
      ("Y", "O"), ("Y", "F"), ("Y", "F"), ("Y", "F"))
      .zipWithIndex.map { case ((pri, st), i) =>
        (i.toLong, 1L, st, 10.0, Timestamp.valueOf("1997-01-01 00:00:00"), pri) }
    val d = java.nio.file.Files.createTempDirectory("enc-woe").toString
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("m13_woe_iv")(spark, d)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("X", 3L, 1L, 847298L, 424L),
      ("Y", 1L, 3L, -847298L, 424L)))
  }

  private def ordersAt(prices: Seq[Double]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    prices.zipWithIndex.map { case (p, i) =>
      (i.toLong + 1L, 1L, "O", p,
        java.sql.Timestamp.valueOf("1997-01-01 00:00:00"), "3-MEDIUM") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
  }

  test("quantile bins: 20 spread prices land 2 per bin with exact cent edges") {
    import spark.implicits._
    // prices i·$2,500 (i = 1..20) straddle multiple $10,000 coarse
    // buckets, so the two-phase rank must stitch cum_below across
    // buckets to reproduce the global order. Bin k gets ranks
    // 2k+1, 2k+2 → lo = 250000·(2k+1), hi = 250000·(2k+2) cents.
    val d = java.nio.file.Files.createTempDirectory("enc-qb").toString
    ordersAt((1 to 20).map(_ * 2500.0))
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("m14_quantile_bins")(spark, d)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val expected = (0 until 10).map { k =>
      (k.toLong, 2L, 250000L * (2 * k + 1), 250000L * (2 * k + 2)) }
    assert(out == expected)
  }

  test("quantile bins: all-tied prices split deterministically by order key") {
    import spark.implicits._
    // 10 identical prices: ntile semantics demand ONE row per bin, and
    // the (cents, o_orderkey) tiebreak pins which — the oracle replays
    // the identical total order, so lo = hi = the shared cents value.
    val d = java.nio.file.Files.createTempDirectory("enc-qb-tie").toString
    ordersAt(Seq.fill(10)(99.99))
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("m14_quantile_bins")(spark, d)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val expected = (0 until 10).map(k => (k.toLong, 1L, 9999L, 9999L))
    assert(out == expected)
  }

  test("m15 minmax: planted endpoints map to 0 and 10^6 ppm; midpoint floors exactly") {
    import spark.implicits._
    val customers = Seq((1L, 0.00), (2L, 5.00), (3L, 10.00), (4L, 3.33))
      .toDF("c_custkey", "c_acctbal")
    val d = Files.createTempDirectory("enc-mm").toString
    customers.write.mode("overwrite").parquet(s"$d/customer.parquet")
    val out = SparkEntry.queries("m15_minmax_scaler")(spark, d)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // 333 cents of [0,1000] → floor(333·10⁶/1000) = 333000 ppm exactly
    assert(out == Seq((1L, 0L, 0L), (2L, 500L, 500000L),
      (3L, 1000L, 1000000L), (4L, 333L, 333000L)))
  }

  test("m16 robust: planted deciles hit the exact type-1 quantiles; negatives floor correctly") {
    import spark.implicits._
    // cents 0,100,...,900 (n=10): p25 = rank ⌈2.5⌉=3 → 200, p50 = rank
    // 5 → 400, p75 = rank ⌈7.5⌉=8 → 700, IQR 500. scaled_ppm =
    // ⌊(c−400)·10⁶/500⌋ — the 0-cent row lands at −800000 (floor, not
    // truncate, on the negative half).
    val customers = (0 until 10).map(k => ((k + 1).toLong, k * 1.00))
      .toDF("c_custkey", "c_acctbal")
    val d = Files.createTempDirectory("enc-rb").toString
    customers.write.mode("overwrite").parquet(s"$d/customer.parquet")
    val out = SparkEntry.queries("m16_robust_scaler")(spark, d)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val expect = (0 until 10).map(k =>
      ((k + 1).toLong, k * 100L,
        Math.floorDiv((k * 100L - 400L) * 1000000L, 500L)))
    assert(out == expect)
    assert(out.head._3 == -800000L && out.last._3 == 1000000L)
  }

  test("m16 robust: zero IQR degenerates to 0") {
    import spark.implicits._
    val customers = Seq((1L, 5.00), (2L, 5.00), (3L, 5.00))
      .toDF("c_custkey", "c_acctbal")
    val d = Files.createTempDirectory("enc-rb2").toString
    customers.write.mode("overwrite").parquet(s"$d/customer.parquet")
    val out = SparkEntry.queries("m16_robust_scaler")(spark, d)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 500L, 0L), (2L, 500L, 0L), (3L, 500L, 0L)))
  }

  test("m15 minmax: a constant column degenerates to 0 instead of dividing by zero") {
    import spark.implicits._
    val customers = Seq((1L, 7.77), (2L, 7.77))
      .toDF("c_custkey", "c_acctbal")
    val d = Files.createTempDirectory("enc-mm2").toString
    customers.write.mode("overwrite").parquet(s"$d/customer.parquet")
    val out = SparkEntry.queries("m15_minmax_scaler")(spark, d)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 777L, 0L), (2L, 777L, 0L)))
  }

  /** BigInt reference of the m20 per-cell milli formula: floor(d²·1000 /
    * (N·n_v·N_c)) decomposed exactly as the query decomposes it. */
  private def chi2CellMilli(o: Long, nc: Long, nv: Long, n: Long): BigInt = {
    val d = BigInt(o) * n - BigInt(nv) * nc
    val den = BigInt(n) * nv * nc
    val d2 = d * d
    (d2 / den) * 1000 + ((d2 % den) * 1000) / den
  }

  test("m20 chi2: planted 2x2 table matches the BigInt reference; constant features score exactly 0") {
    import spark.implicits._
    // Segment A: 10 urgent (pos) + 2 plain; segment B: 2 urgent + 10 plain.
    // nation and balance are CONSTANT across customers, so those two
    // features have a single value each -> chi2 must be exactly 0.
    val keys = (1L to 24L)
    val seg = keys.map(k => if (k <= 12) "A" else "B")
    val pos = keys.map(k => k <= 10 || (k > 12 && k <= 14))
    val customers = keys.zip(seg).map { case (k, s) => (k, s, 3, 100.00) }
      .toDF("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
    val orders = keys.zip(pos).map { case (k, p) =>
      (k * 10, k, if (p) "1-URGENT" else "5-LOW") }
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val d = Files.createTempDirectory("enc-chi2").toString
    customers.write.mode("overwrite").parquet(s"$d/customer.parquet")
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("m20_chi2_rank")(spark, d)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // N=24, P=12; seg cells: A (o1=10,o0=2), B (o1=2,o0=10)
    val expectSeg =
      chi2CellMilli(10, 12, 12, 24) + chi2CellMilli(2, 12, 12, 24) +
        chi2CellMilli(2, 12, 12, 24) + chi2CellMilli(10, 12, 12, 24)
    assert(out("seg") == ("seg", 2L, 1L, expectSeg.toLong))
    // true chi2 = 24*9216/20736 = 10.6667; four identical cells each
    // contribute 8/3 floored to 2666 milli (per-cell floor is the contract)
    assert(expectSeg.toLong == 4 * 2666L)
    assert(out("nat") == ("nat", 1L, 0L, 0L))
    assert(out("bal") == ("bal", 1L, 0L, 0L))
  }

  test("m20 chi2: real data yields all three features with non-negative scores") {
    import spark.implicits._
    val out = SparkEntry.queries("m20_chi2_rank")(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long)].collect()
    assert(out.length == 3 && out.forall(_._4 >= 0L))
  }

  test("m21 impute: hand-checked mask, mean fill, and mode tie-break") {
    import spark.implicits._
    val keys = (1L to 30L)
    val masked = keys.filter(k => graft.llm.TextOps.hash48Jvm(k.toString) % 10 == 0)
    assert(masked.nonEmpty) // the planted mask must actually bite
    // nation: value 7 on even keys, 3 on odd keys -> 15 each, tie -> min (3)
    val customers = keys.map { k =>
      (k, "SEG", if (k % 2 == 0) 7 else 3, k.toDouble) }
      .toDF("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
    val d = Files.createTempDirectory("enc-imp").toString
    customers.write.mode("overwrite").parquet(s"$d/customer.parquet")
    val out = SparkEntry.queries("m21_impute_fit")(spark, d)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.length == 1)
    val (segName, nObs, nMiss, meanFill, modeFill) = out.head
    val obs = keys.filterNot(masked.contains)
    assert(segName == "SEG" && nObs == obs.size.toLong && nMiss == masked.size.toLong)
    assert(meanFill == Math.floorDiv(obs.map(_ * 100L).sum, obs.size.toLong))
    assert(modeFill == 3L) // equal counts -> smallest value wins
  }
}
