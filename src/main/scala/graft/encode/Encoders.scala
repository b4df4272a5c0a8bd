package graft.encode

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Op, Tables}
import graft.llm.TextOps.{hash48, hash48Sql}
import graft.util.Cols._

/** Dictionary-FREE encoders — the two standard alternatives to the
  * [[FeatIndex]] dictionary codec when the vocabulary is unbounded or
  * the fit/apply split must be leakage-safe.
  *
  * The reference's pipeline is dictionary-based (LR/data/
  * churn_featindex.txt); at 100 TB a dictionary is a bottleneck twice —
  * the build is a global distinct and the apply is a giant broadcast.
  * Both encoders here are map-side, stateless functions of the row.
  */
object Encoders extends graft.Registry {

  /** Hashing-trick (feature-hashing) encode of the event stream: each
    * row's categorical features map straight to column indices via
    * idx = hash48(feature) % D — no dictionary build, no broadcast, no
    * OOV slot; collisions merge (the standard trade, benign at the
    * 1024-dim default for 3 features/row). Spark ML's `FeatureHasher`
    * is the library twin (murmur3-based, so not cross-engine
    * checkable); this spelling keeps the engine's own 48-bit hash so
    * the DuckDB oracle replays the exact indices. Emitted as sparse
    * (event_id, feature_idx) pairs, ascending — the same shape the
    * LibSVM writer consumes. ZERO shuffles: pure per-row projection +
    * explode (distinct is per-row inside the array, not a global
    * distinct). */
  private val featureHash: Q = (spark, dir) => {
    import spark.implicits._
    val D = 1024
    val feats = array(
      concat(lit("et:"), $"event_type"),
      concat(lit("hr:"), hour($"ts").cast("string")),
      concat(lit("uk:"), ($"user_id" % 64).cast("string")))
    Tables.load(spark, dir, "events")
      .select($"event_id",
        explode(array_distinct(sort_array(
          transform(feats, f => hash48(f) % D)))).as("feature_idx"))
  }

  /** Leakage-safe smoothed TARGET ENCODING (the high-cardinality
    * categorical encoder gradient-boosted churn models prefer over
    * one-hot): per category c, te(c) = (pos_c + m·prior)/(n_c + m) with
    * m = 20, where the statistics come from the TRAIN SPLIT ONLY (the
    * same deterministic hash split as o5 — computing them on all rows
    * would leak the test labels into the feature). Label: customer
    * placed ≥ 1 urgent-priority order; category: market segment.
    *
    * Scale shape: one custkey-keyed aggregation over orders (partial agg
    * map-side), a co-keyed join to customer (both sides shuffle on
    * custkey once — at warehouse scale these are bucketed tables and
    * the exchange disappears), then a segment-sized aggregate and a
    * 1-row broadcast prior attach. The encoder artifact is this tiny
    * table; applying it is a broadcast map-side join. The smoothing
    * arithmetic is ONE left-associated double chain, mirrored
    * literally in the oracle so both engines compute bit-identical
    * doubles. */
  private val targetEncode: Q = (spark, dir) => {
    import spark.implicits._
    val labels = Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(max(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L))
        .as("pos"))
    val train = Tables.load(spark, dir, "customer")
      .join(labels, $"c_custkey" === $"o_custkey", "left")
      .select($"c_custkey", $"c_mktsegment",
        coalesce($"pos", lit(0L)).as("pos"))
      .filter(hash48($"c_custkey".cast("string")) % 100 < 80)
    val bySeg = train.groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_train"), sum($"pos").as("n_pos"))
    val prior = bySeg.agg(
      (sum($"n_pos").cast("double") / sum($"n_train")).as("prior"))
    bySeg.crossJoin(broadcast(prior))
      .select($"c_mktsegment", $"n_train", $"n_pos",
        roundRatio2($"n_pos" * 100, $"n_train").as("rate"),
        (($"n_pos" + lit(20.0) * $"prior") / ($"n_train" + lit(20.0)))
          .as("te_smooth"))
  }

  /** m13: weight-of-evidence encoding + information value — the credit-
    * scoring standard for categorical features against a binary label
    * (label = order fell through, status 'F'; feature = priority).
    * WOE_i = ln((good_i/G)/(bad_i/B)) with +0.5/Laplace smoothing;
    * IV = Σ (good_i/G − bad_i/B)·WOE_i ranks the feature's separating
    * power. Cross-engine exactness uses the d_lm_score technique: the
    * ln of an EXACT integer rational is quantized to integer micro-nats
    * per category row (dimension-sized — ≤ |values| quantizations, not
    * per-row), and the IV contribution is assembled from integers only:
    * d_numer = good_i·B − bad_i·G (exact), iv_milli =
    * round(d_numer·woe_milli / (G·B)) via the floor-ratio. The product
    * d_numer·woe_milli is ~(N²/4)·|woe_milli| — only ~4× inside int64
    * at sf10 and PAST it around sf30 — so it is carried in
    * DECIMAL(38,0) (HUGEINT on the oracle side) with an exact
    * pmod-floor division: no silent int64 wraparound at any corpus
    * size, and no double anywhere. Scale shape: ONE scan, one
    * dimension-sized aggregate, a 1-row totals attach; the encoder
    * artifact is the emitted table and applying it is a broadcast
    * map-side join. */
  private val woeIv: Q = (spark, dir) => {
    import spark.implicits._
    val byVal = Tables.load(spark, dir, "orders")
      .select($"o_orderpriority",
        ($"o_orderstatus" === "F").as("is_bad"))
      .groupBy($"o_orderpriority")
      .agg(sum(when($"is_bad", 0L).otherwise(1L)).as("n_good"),
        sum(when($"is_bad", 1L).otherwise(0L)).as("n_bad"))
    val tot = byVal.agg(sum($"n_good").as("g"), sum($"n_bad").as("b"))
    byVal.crossJoin(broadcast(tot))
      .withColumn("woe_micro",
        round(log((($"n_good" + 0.5) * ($"b" + 2.5)) /
          (($"n_bad" + 0.5) * ($"g" + 2.5))) * 1e6).cast("long"))
      .withColumn("woe_milli",
        floor(($"woe_micro" * 2 + signum($"woe_micro") * 1000) / 2000)
          .cast("long"))
      .withColumn("iv_num",
        ($"n_good".cast("decimal(38,0)") * $"b"
          - $"n_bad".cast("decimal(38,0)") * $"g") * $"woe_milli" * 2
          + $"g".cast("decimal(38,0)") * $"b")
      .withColumn("iv_den", $"g".cast("decimal(38,0)") * $"b" * 2)
      .select($"o_orderpriority", $"n_good", $"n_bad", $"woe_micro",
        (($"iv_num" - pmod($"iv_num", $"iv_den")) / $"iv_den")
          .cast("long").as("iv_milli"))
  }

  /** m14: equi-depth QUANTILE BINNING (Spark ML QuantileDiscretizer /
    * pandas qcut semantics, made EXACT): 10 bins over the order price
    * with balanced occupancy, emitted as the encoder artifact — bin id,
    * occupancy, and inclusive cent edges — which downstream apply
    * attaches as a broadcast range lookup (never a per-row join).
    *
    * The naive spelling is ntile(10) OVER (ORDER BY price) — a
    * SINGLE-PARTITION global sort, the classic driver-shaped
    * bottleneck. This is the a16 two-phase global rank generalized to a
    * HIGH-CARDINALITY column (prices are ~all-distinct, so a16's
    * per-value histogram would be fact-sized): phase 1 buckets cents
    * coarsely ($10,000-wide value-range buckets — the histogram is
    * RANGE-sized, not row-sized) and takes cum_below per bucket with a
    * window over that tiny histogram; phase 2 ranks inside each bucket
    * only (parallel partitions bounded by bucket occupancy — the same
    * contract repartitionByRange's sampler gives a distributed sort,
    * tunable via the bucket width) ordered by (cents, o_orderkey), so
    * global_rank = cum_below + rank_in_bucket reproduces
    * row_number(ORDER BY cents, key) exactly with NO global sort.
    * bin = ⌊10·(rank−1)/N⌋; the key tiebreak makes the order total and
    * the output deterministic, and every compared column is integer, so
    * the DuckDB oracle — which spells the naive global ROW_NUMBER: same
    * output, opposite scaling — hash-matches at any corpus size. */
  /** The two-phase EXACT global rank shared by m14/m16 (the "no
    * single-partition ntile" machinery): coarse value-range buckets →
    * a range-sized cumulative histogram (the only global window, over
    * buckets not rows) → within-bucket row_number under the total
    * (cents, key) order. Returns the input plus `rk` (1-based global
    * rank) and `n_tot`; the bucketed projection is lazily checkpointed
    * because it feeds the histogram, the rank join, and the total. */
  private def globalRank(df: org.apache.spark.sql.DataFrame, keyCol: String,
                         bucketWidth: Long): org.apache.spark.sql.DataFrame = {
    val o = df.withColumn("bucket",
        ((col("cents") - pmod(col("cents"), lit(bucketWidth))) / bucketWidth)
          .cast("long"))
      .localCheckpoint(false)
    val hist = o.groupBy(col("bucket")).agg(count(lit(1)).as("n_b"))
    val wHist = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.select(col("bucket"),
      coalesce(sum(col("n_b")).over(wHist), lit(0L)).as("cum_below"))
    val tot = o.agg(count(lit(1)).as("n_tot"))
    val wBucket = Window.partitionBy(col("bucket"))
      .orderBy(col("cents"), col(keyCol))
    o.join(broadcast(cum), "bucket")
      .crossJoin(broadcast(tot))
      .withColumn("rk", col("cum_below") + row_number().over(wBucket))
  }

  private val quantileBins: Q = (spark, dir) => {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"),
        (dec2($"o_totalprice") * 100).cast("long").as("cents"))
    globalRank(o, "ok", 1000000L)
      .groupBy(floor(lit(10) * ($"rk" - 1) / $"n_tot").cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        min($"cents").as("lo_cents"), max($"cents").as("hi_cents"))
  }

  /** m15: MIN-MAX SCALING (Spark ML MinMaxScaler semantics on the
    * default [0,1] range) made integer-EXACT: the account balance in
    * cents maps to scaled_ppm = ⌊(cents − lo)·10⁶ / (hi − lo)⌋. The
    * library scaler emits doubles ((x−min)/(max−min) is not
    * cross-engine bit-stable when max−min is not a power of two); the
    * ppm floor is the same information, exactly comparable, and what a
    * feature store would materialize anyway. Scale shape: one 1-row
    * global (min,max) aggregate attached as a broadcast, then a pure
    * map-side projection — ZERO row-wise shuffles; the fit artifact is
    * the 1-row stats table. Headroom is value-bounded, not row-bounded:
    * (cents − lo) ≤ 2·10⁶ so the ·10⁶ product stays ≤ 2·10¹² at ANY
    * corpus size. Degenerate hi = lo (constant column) pins 0, matching
    * Spark ML's 0.5·(min+max) convention being irrelevant here. */
  private val minmaxScaler: Q = (spark, dir) => {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
      .select($"c_custkey", (dec2($"c_acctbal") * 100).cast("long").as("cents"))
    val stats = c.agg(min($"cents").as("lo"), max($"cents").as("hi"))
    c.crossJoin(broadcast(stats))
      .select($"c_custkey", $"cents",
        when($"hi" > $"lo", {
          val num = ($"cents" - $"lo") * 1000000L
          val den = $"hi" - $"lo"
          ((num - pmod(num, den)) / den).cast("long")
        }).otherwise(0L).as("scaled_ppm"))
  }

  /** m16: ROBUST SCALING ((x − median)/IQR — sklearn RobustScaler
    * semantics) made integer-EXACT: scaled_ppm = ⌊(cents − p50)·10⁶ /
    * (p75 − p25)⌋, the outlier-resistant sibling of m15 (a single whale
    * balance shifts min-max scaling arbitrarily; it moves the median and
    * IQR not at all). The quantiles are EXACT type-1 (value at global
    * rank ⌈q·n⌉ under the total (cents, key) order), computed with the
    * m14 two-phase machinery — coarse value-range buckets, a range-sized
    * cumulative histogram, within-bucket windows — so no global sort
    * ever happens; the fit artifact is the 1-row (p25,p50,p75) table and
    * applying it is a broadcast map-side projection. The pmod-floor
    * division is sign-correct for balances below the median (floor, not
    * truncate — the two disagree exactly on the negative half, which a
    * min-max twin never exercises). Degenerate IQR = 0 pins 0. */
  private val robustScaler: Q = (spark, dir) => {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
      .select($"c_custkey", (dec2($"c_acctbal") * 100).cast("long").as("cents"))
    // the shared m14 machinery; ranked feeds both the quantile pick and
    // the final scale map, so pin it once
    val ranked = globalRank(c, "c_custkey", 100000L).localCheckpoint(false)
    // ⌈x/100⌉ in pure integers (x ≥ 0): floor((x+99)/100)
    def ceil100(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (((x + 99) - pmod(x + 99, lit(100L))) / 100L).cast("long")
    val stats = ranked
      .agg(max(when($"rk" === ceil100($"n_tot" * 25), $"cents")).as("p25"),
        max(when($"rk" === ceil100($"n_tot" * 50), $"cents")).as("p50"),
        max(when($"rk" === ceil100($"n_tot" * 75), $"cents")).as("p75"))
    ranked.crossJoin(broadcast(stats))
      .select($"c_custkey", $"cents",
        when($"p75" > $"p25", {
          val num = ($"cents" - $"p50") * 1000000L
          val den = $"p75" - $"p25"
          ((num - pmod(num, den)) / den).cast("long")
        }).otherwise(0L).as("scaled_ppm"))
  }

  /** m20: CHI-SQUARE feature ranking (Spark ML ChiSqSelector / sklearn
    * chi2 semantics) against the m12 churn-proxy label (customer placed
    * ≥ 1 urgent order): for each candidate categorical feature, the χ²
    * statistic of its (value × label) contingency table — the standard
    * fit-time filter that decides which categoricals earn an encoder
    * slot at all. Three candidate features per customer row: market
    * segment, nation bucket, and a $2,500-wide balance bucket.
    *
    * Exactness: the per-cell term (O−E)²/E is assembled from integers
    * only — with d = O·N − n_v·N_c (exact, |d| ≤ N²) the cell equals
    * d²/(N·n_v·N_c), and the milli-scaled floor is decomposed through
    * quotient + remainder so no intermediate exceeds den·10³:
    * q = ⌊d²/den⌋ (≤ N), milli = q·10³ + ⌊(d² mod den)·10³/den⌋. All
    * carried in DECIMAL(38,0) (HUGEINT on the oracle side): den ≤ N³,
    * so the bound den·10³ < 10³⁸ holds to N ≈ 4.6·10¹¹ label rows —
    * genuine 100 TB headroom, vs direct d²·10³ which dies at N ≈ 10⁸.
    *
    * Scale shape: one custkey-keyed label aggregate, a co-keyed join to
    * customer, ONE scan of the joined base exploded ×3 into long
    * format (bounded fanout), a dimension-sized (feature, value) cell
    * aggregate, 1-row totals broadcast, and a ≤-values-sized final
    * aggregate. The artifact is the 3-row ranking; nothing downstream
    * is per-row. */
  private val chi2Rank: Q = (spark, dir) => {
    import spark.implicits._
    val labels = Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(max(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L))
        .as("pos"))
    val cents = (dec2($"c_acctbal") * 100).cast("long")
    val base = Tables.load(spark, dir, "customer")
      .join(labels, $"c_custkey" === $"o_custkey", "left")
      .select($"c_mktsegment",
        ($"c_nationkey" % 5).cast("string").as("nat_bucket"),
        (((cents - pmod(cents, lit(250000L))) / 250000L).cast("long"))
          .cast("string").as("bal_bucket"),
        coalesce($"pos", lit(0L)).as("pos"))
    val long = base.select(explode(array(
        struct(lit("seg").as("feature"), $"c_mktsegment".as("value")),
        struct(lit("nat").as("feature"), $"nat_bucket".as("value")),
        struct(lit("bal").as("feature"), $"bal_bucket".as("value"))))
        .as("fv"), $"pos")
      .select($"fv.feature", $"fv.value", $"pos")
    val cells = long.groupBy($"feature", $"value")
      .agg(sum($"pos").as("o1"), sum(lit(1L) - $"pos").as("o0"))
    val tot = base.agg(count(lit(1)).as("n"), sum($"pos").as("p"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // one cell-term column per class, then summed per feature
    // degenerate-class guard: a single-class label (no urgent orders, or
    // all urgent) makes nc=0 → den=0; unguarded, Spark's non-ANSI decimal
    // division yields NULL while DuckDB's // raises — the engines would
    // fail DIFFERENTLY. The cell's true χ² contribution is 0 there (o=0
    // forces d=0), so pin 0 explicitly; the oracle mirrors the CASE.
    def cellMilli(o: Column, nc: Column, nv: Column, n: Column): Column = {
      val d = dec(o) * n - dec(nv) * nc
      val d2 = d * d
      val den = dec(n) * nv * nc
      val q = (d2 - pmod(d2, den)) / den
      val r = pmod(d2, den)
      when(nc > 0 && nv > 0,
        (q * 1000 + (r * 1000 - pmod(r * 1000, den)) / den).cast("long"))
        .otherwise(lit(0L))
    }
    cells.crossJoin(broadcast(tot))
      .withColumn("nv", $"o1" + $"o0")
      .withColumn("cell_milli",
        cellMilli($"o1", $"p", $"nv", $"n") +
          cellMilli($"o0", $"n" - $"p", $"nv", $"n"))
      .groupBy($"feature")
      .agg(count(lit(1)).as("n_values"),
        sum($"cell_milli").as("chi2_milli"))
      .select($"feature", $"n_values", ($"n_values" - 1L).as("dof"),
        $"chi2_milli")
  }

  /** m21: IMPUTATION-fit artifact (Spark ML Imputer / sklearn
    * SimpleImputer fit semantics) per market segment, under a
    * deterministic hash-planted missingness mask (every 10th customer's
    * balance withheld — the testdata ships no real NULLs, and a planted
    * mask makes the fit oracle-checkable instead of vacuous). Per
    * segment: observed/missing counts, the MEAN fill value for the
    * numeric column (exact integer-cents floor — the engines never
    * divide in double), and the MODE fill value for the categorical
    * (nation key) with the deterministic (count desc, value asc)
    * tie-break via ONE max_by(struct) aggregate — no per-segment window,
    * no sort. Scale shape: one scan, one two-level aggregate pair
    * ((seg, nation) grain → seg grain for the mode; seg grain for the
    * mean), artifact is the segment-sized table; applying it is a
    * broadcast map-side coalesce. */
  private val imputeFit: Q = (spark, dir) => {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
      .select($"c_custkey", $"c_mktsegment", $"c_nationkey",
        (dec2($"c_acctbal") * 100).cast("long").as("cents"),
        (hash48($"c_custkey".cast("string")) % 10 === 0).as("is_missing"))
    val mean = c.groupBy($"c_mktsegment")
      .agg(sum(when(!$"is_missing", 1L).otherwise(0L)).as("n_obs"),
        sum(when($"is_missing", 1L).otherwise(0L)).as("n_missing"),
        sum(when(!$"is_missing", $"cents").otherwise(0L)).as("sum_cents"))
      .select($"c_mktsegment", $"n_obs", $"n_missing",
        // floorDiv (decimal-exact) rather than the inline long/long
        // spelling: long/long divides in double, exact only below 2^53
        floorDiv($"sum_cents", $"n_obs").cast("long").as("mean_fill_cents"))
    val mode = c.groupBy($"c_mktsegment", $"c_nationkey")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"c_mktsegment")
      .agg(max_by($"c_nationkey".cast("long"), struct($"cnt", -$"c_nationkey"))
        .as("mode_fill_nation"))
    mean.join(mode, "c_mktsegment")
  }

  /** m22: exact Pearson CORRELATION matrix over the numeric lineitem
    * columns (quantity, extended price, discount) — the numeric sibling
    * of m20's categorical χ² screen, and the redundancy filter run
    * before any feature makes the assembler (two 0.99-correlated
    * features are one feature and one liability). `Statistics.corr` /
    * DataFrame.stat.corr emit doubles whose partial-sum merge order is
    * nondeterministic; here every compared number is an integer.
    *
    * Exactness: with integer-valued inputs (units, cents, basis points)
    * all five moments (n, Σx, Σy, Σxy, Σx², Σy²) are exact integers in
    * DECIMAL(38,0)/HUGEINT, and r² is emitted as a ppm floor through the
    * m20 quotient decomposition applied ACROSS the two variance factors:
    * num = n·Σxy − Σx·Σy, var_x = n·Σx² − (Σx)², and
    * r²_ppm = ⌊⌊|num|·10⁶ / var_x⌋ · |num| / var_y⌋ — two pmod-floor
    * divisions, never num² (which exceeds 38 digits at sf0.1 already).
    * Cauchy-Schwarz bounds every intermediate: |num| ≤ √(var_x·var_y),
    * so |num|·10⁶ ≤ 10⁶·max(var) and q·|num| ≤ 10⁶·var_y. Headroom is
    * ~sf100, not sf1000: extendedprice cents ≈ 10⁷, so at sf100's
    * ~6·10⁸ rows var_e = n·Σe²−(Σe)² ≈ 6·10⁸·6·10²² ≈ 4·10³¹ and
    * 10⁶·var_e ≈ 4·10³⁷ < 10³⁸; one more decade (sf1000, ~4·10³⁹)
    * overflows DECIMAL(38,0) to NULL on the Spark side while HUGEINT
    * still fits it — past sf100, pre-divide the variance factors by n
    * before the quotient. The sign rides separately (sgn column).
    *
    * Scale shape: ONE scan, ONE 1-row aggregate (partial-agg friendly —
    * nine independent SUMs), and the 3-pair assembly is a 3-row literal
    * frame joined to the broadcast 1-row moments: nothing downstream of
    * the scan is row-scaled. */
  private val corrMatrix: Q = (spark, dir) => {
    import spark.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val l = Tables.load(spark, dir, "lineitem")
      .select($"l_quantity".cast("long").as("q"),
        (dec2($"l_extendedprice") * 100).cast("long").as("e"),
        (dec4($"l_discount") * 10000).cast("long").as("d"))
    val m = l.agg(count(lit(1)).as("n"),
      sum(dec($"q")).as("sq"), sum(dec($"e")).as("se"), sum(dec($"d")).as("sd"),
      sum(dec($"q") * $"q").as("sqq"), sum(dec($"e") * $"e").as("see"),
      sum(dec($"d") * $"d").as("sdd"),
      sum(dec($"q") * $"e").as("sqe"), sum(dec($"q") * $"d").as("sqd"),
      sum(dec($"e") * $"d").as("sed"))
    // ONE pair list drives both the frame and the when-chain — two
    // copies would let an edit drift them apart and coalesce to a
    // silent NULL struct instead of failing
    val pairSpecs = Seq(("qty", "ep"), ("qty", "disc"), ("ep", "disc"))
    val pairs = pairSpecs.toDF("var_x", "var_y")
    def mom(v: String, which: String): Column = v match {
      case "qty"  => if (which == "s") $"sq" else $"sqq"
      case "ep"   => if (which == "s") $"se" else $"see"
      case "disc" => if (which == "s") $"sd" else $"sdd"
    }
    def cross(x: String, y: String): Column = (x, y) match {
      case ("qty", "ep")   => $"sqe"
      case ("qty", "disc") => $"sqd"
      case ("ep", "disc")  => $"sed"
    }
    val assembled = pairs.crossJoin(broadcast(m)).select(
      $"var_x", $"var_y", $"n",
      pairSpecs.map { case (x, y) =>
        val num  = $"n" * cross(x, y) - mom(x, "s") * mom(y, "s")
        val varx = $"n" * mom(x, "ss") - mom(x, "s") * mom(x, "s")
        val vary = $"n" * mom(y, "ss") - mom(y, "s") * mom(y, "s")
        val a = abs(num)
        val r2 = when(varx > 0 && vary > 0,
          floorDiv(floorDiv(a * 1000000, varx).cast("decimal(38,0)") * a,
            vary).cast("long")).otherwise(0L)
        val sg = signum(num).cast("long")
        when($"var_x" === x && $"var_y" === y, struct(r2.as("r2"), sg.as("sg")))
      }.reduce((l, r) => coalesce(l, r)).as("rs"))
    assembled.select($"var_x", $"var_y", $"n",
      $"rs.sg".as("sgn"), $"rs.r2".as("r2_ppm"))
  }

  /** m12b: the APPLY side of the m12 target encoder — the artifact
    * (segment → te_smooth, built leakage-safe on the train split only)
    * broadcast onto EVERY customer row, with the global prior as the
    * out-of-vocabulary fallback (a segment never seen in training must
    * get the prior, not a null the model silently zeros). This is the
    * half the fit-time queries can't prove: fit is dimension-sized,
    * apply is the fact-scale map-side join a feature pipeline actually
    * pays for — one broadcast hash join, zero shuffles of the fact.
    * te stays the same bit-stable double chain the m12 oracle already
    * pins; coalesce order (te, prior) is spelled identically in both
    * engines. */
  private val targetApply: Q = (spark, dir) => {
    import spark.implicits._
    // ONE fit, segment-sized, multiply-consumed (encoder + prior) →
    // pinned per the house pattern, never two fact-scale fit lineages
    val fit = targetEncode(spark, dir).localCheckpoint(false)
    val enc = fit.select($"c_mktsegment", $"te_smooth")
    val prior = fit
      .agg((sum($"n_pos").cast("double") / sum($"n_train")).as("prior"))
    Tables.load(spark, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
      .join(broadcast(enc), Seq("c_mktsegment"), "left")
      .crossJoin(broadcast(prior))
      .select($"c_custkey", $"c_mktsegment",
        coalesce($"te_smooth", $"prior").as("te"))
  }

  /** m25: STANDARD SCALING ((x − μ)/σ, sklearn StandardScaler / Spark
    * ML StandardScaler semantics) — completing the scaler trio after
    * m15 (min-max) and m16 (robust). A library scaler's μ/σ come from
    * order-dependent double partial sums; here the fit statistics are
    * EXACT integers from one 1-row aggregate (n, Σx, Σx² in
    * DECIMAL(38,0)), and the double chain that follows is IEEE-
    * identical in both engines because every input to it is the same
    * exact number: var = ((n·Σx² − (Σx)²) → double) / (n·n → double)
    * (population variance), σ = sqrt(var) — sqrt IS correctly rounded
    * per IEEE 754, unlike ln — μ = (Σx → double)/n, and z_ppm =
    * floor(((x − μ)/σ)·10⁶) (floor of an identical double — no
    * round-tie semantics to disagree on). Scale shape: 1-row stats
    * broadcast + pure map-side projection, zero fact shuffles —
    * identical to m15's. Degenerate σ = 0 pins 0. */
  private val standardScaler: Q = (spark, dir) => {
    import spark.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val c = Tables.load(spark, dir, "customer")
      .select($"c_custkey", (dec2($"c_acctbal") * 100).cast("long").as("cents"))
    val stats = c.agg(count(lit(1)).as("n"), sum(dec($"cents")).as("sx"),
      sum(dec($"cents") * $"cents").as("sxx"))
    c.crossJoin(broadcast(stats))
      .withColumn("varp",
        ($"n" * $"sxx" - $"sx" * $"sx").cast("double") /
          (dec($"n") * $"n").cast("double"))
      .select($"c_custkey", $"cents",
        when($"varp" > 0, floor(
          (($"cents" - $"sx".cast("double") / $"n") / sqrt($"varp")) * 1e6)
          .cast("long")).otherwise(0L).as("z_ppm"))
  }

  val ops: Seq[Op] = Seq(
    // identical IEEE chain: exact HUGEINT stats → double, sqrt is
    // correctly rounded, floor needs no tie rule
    Op("m25_standard_scaler", standardScaler, Some(
      """WITH c AS (
        |  SELECT c_custkey,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM customer),
        |s AS (SELECT COUNT(*) AS n, SUM(CAST(cents AS HUGEINT)) AS sx,
        |             SUM(CAST(cents AS HUGEINT) * cents) AS sxx
        |      FROM c),
        |v AS (SELECT n, sx,
        |             CAST(n * sxx - sx * sx AS DOUBLE) /
        |               CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS varp
        |      FROM s)
        |SELECT c_custkey, cents,
        |       CASE WHEN varp > 0
        |            THEN CAST(floor(((cents - CAST(sx AS DOUBLE) / n)
        |                   / sqrt(varp)) * 1e6) AS BIGINT)
        |            ELSE CAST(0 AS BIGINT) END AS z_ppm
        |FROM c, v""".stripMargin)),

    // the m12 oracle's encoder CTE joined back onto every customer,
    // with the identical prior-fallback coalesce
    Op("m12_target_apply", targetApply, Some(
      s"""WITH lab AS (
         |  SELECT o_custkey,
         |         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS pos
         |  FROM orders GROUP BY 1),
         |train AS (
         |  SELECT c_mktsegment, COALESCE(pos, 0) AS pos
         |  FROM customer LEFT JOIN lab ON c_custkey = o_custkey
         |  WHERE ${hash48Sql("CAST(c_custkey AS VARCHAR)")} % 100 < 80),
         |seg AS (
         |  SELECT c_mktsegment, COUNT(*) AS n_train,
         |         CAST(SUM(pos) AS BIGINT) AS n_pos
         |  FROM train GROUP BY 1),
         |p AS (SELECT CAST(SUM(n_pos) AS DOUBLE) / SUM(n_train) AS prior FROM seg),
         |enc AS (
         |  SELECT c_mktsegment,
         |         (n_pos + 20.0 * prior) / (n_train + 20.0) AS te_smooth
         |  FROM seg, p)
         |SELECT c.c_custkey, c.c_mktsegment,
         |       COALESCE(enc.te_smooth, p.prior) AS te
         |FROM customer c LEFT JOIN enc USING (c_mktsegment), p""".stripMargin)),

    // all operands are non-negative by construction (abs), so plain //
    // is the same floor the Spark side spells with pmod subtraction
    Op("m22_corr", corrMatrix, Some(
      """WITH l AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS e,
        |         CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS d
        |  FROM lineitem),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |         SUM(CAST(q AS HUGEINT)) AS sq, SUM(CAST(e AS HUGEINT)) AS se,
        |         SUM(CAST(d AS HUGEINT)) AS sd,
        |         SUM(CAST(q AS HUGEINT) * q) AS sqq,
        |         SUM(CAST(e AS HUGEINT) * e) AS see,
        |         SUM(CAST(d AS HUGEINT) * d) AS sdd,
        |         SUM(CAST(q AS HUGEINT) * e) AS sqe,
        |         SUM(CAST(q AS HUGEINT) * d) AS sqd,
        |         SUM(CAST(e AS HUGEINT) * d) AS sed
        |  FROM l),
        |p AS (
        |  SELECT 'qty' AS var_x, 'ep' AS var_y, n,
        |         n*sqe - sq*se AS num, n*sqq - sq*sq AS vx, n*see - se*se AS vy
        |  FROM m
        |  UNION ALL SELECT 'qty', 'disc', n,
        |         n*sqd - sq*sd, n*sqq - sq*sq, n*sdd - sd*sd FROM m
        |  UNION ALL SELECT 'ep', 'disc', n,
        |         n*sed - se*sd, n*see - se*se, n*sdd - sd*sd FROM m)
        |SELECT var_x, var_y, n,
        |       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
        |         AS BIGINT) AS sgn,
        |       CAST(CASE WHEN vx > 0 AND vy > 0
        |            THEN (((abs(num) * 1000000) // vx) * abs(num)) // vy
        |            ELSE 0 END AS BIGINT) AS r2_ppm
        |FROM p""".stripMargin)),

    Op("m14_quantile_bins", quantileBins, Some(
      """WITH o AS (
        |  SELECT o_orderkey AS ok,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |r AS (
        |  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, ok) AS rk,
        |         COUNT(*) OVER () AS n_tot
        |  FROM o)
        |SELECT CAST(FLOOR(10 * (rk - 1) / n_tot) AS BIGINT) AS bin,
        |       COUNT(*) AS n, MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
        |FROM r GROUP BY 1""".stripMargin)),

    Op("enc_feature_hash", featureHash, Some(
      s"""WITH f AS (
         |  SELECT event_id, list_sort(list_distinct([
         |    ${hash48Sql("'et:' || event_type")} % 1024,
         |    ${hash48Sql("'hr:' || CAST(hour(CAST(ts AS TIMESTAMP)) AS VARCHAR)")} % 1024,
         |    ${hash48Sql("'uk:' || CAST(user_id % 64 AS VARCHAR)")} % 1024])) AS idx
         |  FROM events)
         |SELECT event_id, unnest(idx) AS feature_idx FROM f""".stripMargin)),

    Op("m20_chi2_rank", chi2Rank, Some(
      s"""WITH lab AS (
         |  SELECT o_custkey,
         |         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS pos
         |  FROM orders GROUP BY 1),
         |base AS (
         |  SELECT c_mktsegment,
         |         CAST(c_nationkey % 5 AS VARCHAR) AS nat_bucket,
         |         CAST(CAST((cents - (((cents % 250000) + 250000) % 250000))
         |           // 250000 AS BIGINT) AS VARCHAR) AS bal_bucket,
         |         COALESCE(pos, 0) AS pos
         |  FROM (SELECT c_mktsegment, c_nationkey, pos,
         |               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |        FROM customer LEFT JOIN lab ON c_custkey = o_custkey)),
         |lng AS (
         |  SELECT 'seg' AS feature, c_mktsegment AS value, pos FROM base
         |  UNION ALL SELECT 'nat', nat_bucket, pos FROM base
         |  UNION ALL SELECT 'bal', bal_bucket, pos FROM base),
         |cells AS (
         |  SELECT feature, value, CAST(SUM(pos) AS BIGINT) AS o1,
         |         CAST(SUM(1 - pos) AS BIGINT) AS o0
         |  FROM lng GROUP BY 1, 2),
         |tot AS (SELECT COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS p FROM base),
         |cls AS (
         |  SELECT feature, value, o1 AS o, p AS nc, o1 + o0 AS nv, n
         |  FROM cells, tot
         |  UNION ALL
         |  SELECT feature, value, o0, n - p, o1 + o0, n FROM cells, tot),
         |term AS (
         |  SELECT feature,
         |         CAST(o AS HUGEINT) * n - CAST(nv AS HUGEINT) * nc AS d,
         |         CAST(n AS HUGEINT) * nv * nc AS den
         |  FROM cls),
         |m AS (SELECT feature,
         |             CASE WHEN den > 0 THEN (d * d) // den ELSE 0 END AS q,
         |             CASE WHEN den > 0 THEN (d * d) % den ELSE 0 END AS r,
         |             den
         |      FROM term),
         |agg AS (
         |  SELECT feature,
         |         CAST(SUM(q * 1000 +
         |           CASE WHEN den > 0 THEN (r * 1000) // den ELSE 0 END)
         |           AS BIGINT) AS chi2_milli
         |  FROM m GROUP BY 1),
         |nvals AS (SELECT feature, COUNT(*) AS n_values FROM cells GROUP BY 1)
         |SELECT feature, n_values, n_values - 1 AS dof, chi2_milli
         |FROM nvals JOIN agg USING (feature)""".stripMargin)),

    Op("m21_impute_fit", imputeFit, Some(
      s"""WITH c AS (
         |  SELECT c_custkey, c_mktsegment, c_nationkey,
         |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         |         ${hash48Sql("CAST(c_custkey AS VARCHAR)")} % 10 = 0 AS is_missing
         |  FROM customer),
         |mn AS (
         |  SELECT c_mktsegment,
         |         CAST(SUM(CASE WHEN is_missing THEN 0 ELSE 1 END) AS BIGINT) AS n_obs,
         |         CAST(SUM(CASE WHEN is_missing THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
         |         CAST(SUM(CASE WHEN is_missing THEN 0 ELSE cents END) AS HUGEINT) AS sum_cents
         |  FROM c GROUP BY 1),
         |mnv AS (
         |  SELECT c_mktsegment, n_obs, n_missing,
         |         CAST((sum_cents - (((sum_cents % n_obs) + n_obs) % n_obs))
         |           // n_obs AS BIGINT) AS mean_fill_cents
         |  FROM mn),
         |g AS (SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt FROM c GROUP BY 1, 2),
         |md AS (
         |  SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS mode_fill_nation
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
         |          ORDER BY cnt DESC, c_nationkey ASC) AS rn FROM g)
         |  WHERE rn = 1)
         |SELECT c_mktsegment, n_obs, n_missing, mean_fill_cents, mode_fill_nation
         |FROM mnv JOIN md USING (c_mktsegment)""".stripMargin)),

    Op("m13_woe_iv", woeIv, Some(
      """WITH v AS (
        |  SELECT o_orderpriority,
        |         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT) AS n_good,
        |         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
        |  FROM orders GROUP BY 1),
        |t AS (SELECT SUM(n_good) AS g, SUM(n_bad) AS b FROM v),
        |w AS (
        |  SELECT v.*, t.g, t.b,
        |         CAST(round(ln(((n_good + 0.5) * (b + 2.5)) /
        |           ((n_bad + 0.5) * (g + 2.5))) * 1e6) AS BIGINT) AS woe_micro
        |  FROM v, t),
        |m AS (
        |  SELECT *, CAST(floor((woe_micro * 2 + sign(woe_micro) * 1000)
        |    / 2000) AS BIGINT) AS woe_milli
        |  FROM w),
        |x AS (
        |  SELECT *,
        |    (CAST(n_good AS HUGEINT) * b - CAST(n_bad AS HUGEINT) * g)
        |      * woe_milli * 2 + CAST(g AS HUGEINT) * b AS iv_num,
        |    CAST(g AS HUGEINT) * b * 2 AS iv_den
        |  FROM m)
        |SELECT o_orderpriority, n_good, n_bad, woe_micro,
        |       CAST((iv_num - (((iv_num % iv_den) + iv_den) % iv_den))
        |         // iv_den AS BIGINT) AS iv_milli
        |FROM x""".stripMargin)),

    Op("m12_target_encode", targetEncode, Some(
      s"""WITH lab AS (
         |  SELECT o_custkey,
         |         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS pos
         |  FROM orders GROUP BY 1),
         |train AS (
         |  SELECT c_mktsegment, COALESCE(pos, 0) AS pos
         |  FROM customer LEFT JOIN lab ON c_custkey = o_custkey
         |  WHERE ${hash48Sql("CAST(c_custkey AS VARCHAR)")} % 100 < 80),
         |seg AS (
         |  SELECT c_mktsegment, COUNT(*) AS n_train, CAST(SUM(pos) AS BIGINT) AS n_pos
         |  FROM train GROUP BY 1),
         |p AS (SELECT CAST(SUM(n_pos) AS DOUBLE) / SUM(n_train) AS prior FROM seg)
         |SELECT c_mktsegment, n_train, n_pos,
         |       ${roundRatio2Sql("n_pos * 100", "n_train")} AS rate,
         |       (n_pos + 20.0 * prior) / (n_train + 20.0) AS te_smooth
         |FROM seg, p""".stripMargin)),

    // naive truth: one global ROW_NUMBER (fine for an oracle); the
    // positive-mod subtraction makes // exact so floor-vs-truncate
    // cannot diverge on negative numerators
    Op("m16_robust_scaler", robustScaler, Some(
      """WITH c AS (
        |  SELECT c_custkey,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |r AS (SELECT cents,
        |             ROW_NUMBER() OVER (ORDER BY cents, c_custkey) AS rk,
        |             COUNT(*) OVER () AS n
        |      FROM c),
        |q AS (SELECT MAX(CASE WHEN rk = (n * 25 + 99) // 100 THEN cents END) AS p25,
        |             MAX(CASE WHEN rk = (n * 50 + 99) // 100 THEN cents END) AS p50,
        |             MAX(CASE WHEN rk = (n * 75 + 99) // 100 THEN cents END) AS p75
        |      FROM r)
        |SELECT c_custkey, cents,
        |       CASE WHEN p75 > p25 THEN
        |         CAST(((cents - p50) * 1000000
        |               - ((((cents - p50) * 1000000) % (p75 - p25)) + (p75 - p25))
        |                 % (p75 - p25))
        |              // (p75 - p25) AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS scaled_ppm
        |FROM c, q""".stripMargin)),

    Op("m15_minmax_scaler", minmaxScaler, Some(
      """WITH c AS (
        |  SELECT c_custkey,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |t AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM c)
        |SELECT c_custkey, cents,
        |       CASE WHEN hi > lo
        |            THEN CAST(((cents - lo) * 1000000) // (hi - lo) AS BIGINT)
        |            ELSE CAST(0 AS BIGINT) END AS scaled_ppm
        |FROM c, t""".stripMargin)))
}
