package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Op
import graft.schemas.ChurnAdapter
import graft.schemas.ChurnAdapter._
import graft.util.Cols._

/** The reference's flagship dataflow: 37 churn features + label
  * (RF/randomforest_churn.scala:40-227), re-expressed Spark-first on the
  * adapter tables.
  *
  * Architecture vs the reference: the reference materializes ~20 per-user
  * frames (window+distinct idiom, 13 single-category frames) and assembles
  * them with 18 same-key left joins (RF:170-198). Semantically every frame
  * is an aggregate over the same sales scan keyed by USR_NUM_ID, so here
  * the whole feature block is ONE hash aggregation with conditional
  * aggregates (map-side partial agg, single shuffle on USR_NUM_ID),
  * followed by 3 joins (members static, 3-month re-agg, points). At 100 TB
  * this turns ~20 shuffles of the sales fact into 2 (main window + 90-day
  * window) plus small dimension joins; goods (= part) is broadcast.
  *
  * The window+distinct spelling itself is kept alive in
  * [[Relational.queries]] ("w14_window_rfm") for operator fidelity.
  */
object Churn extends graft.Registry {

  /** Customer-group flags (RF:140-152): output column, CJK label, PTY ids. */
  val Groups: Seq[(String, String, Seq[Int])] = Seq(
    ("infant_group", "母婴客群", Seq(2501)),
    ("water_product_group", "水产客群", Seq(2104)),
    ("meat_group", "肉禽客群", Seq(2101, 2102)),
    ("beauty_group", "美妆客群", Seq(2502)),
    ("health_group", "保健客群", Seq(2307)),
    ("fruits_group", "水果客群", Seq(2106)),
    ("vegetables_group", "蔬菜客群", Seq(2105)),
    ("pets_group", "家有宠物", Seq(2507)),
    ("snacks_group", "零食客群", Seq(2309)),
    ("smoke_group", "烟民", Seq(2403)),
    ("milk_group", "奶饮品客群", Seq(2306, 2407)),
    ("instant_group", "方便速食客群", Seq(2304)),
    ("grain_group", "粮油客群", Seq(2301)))

  /** The one deliberately-real Scala UDF (U1, RF:117-122) — everything
    * else is native Column expressions. Reproduces the reference's exact
    * (quirky) 4-way mapping, including store-only → None → "unknow". */
  val shopchannelUdf = udf((x: String, y: String) => {
    if (x == "小程序会员" && y == "门店会员") Some("门店和小程序")
    else if (x == "小程序会员" && y != "门店会员") Some("仅小程序")
    else if (x != "小程序会员" && y != "门店会员") Some("仅门店")
    else None
  })

  /** Feature table for buyers in [start, end] — the reference's
    * churnPreprocessing(RF:40-207). */
  def features(spark: SparkSession, sfDir: String,
               start: String = FeatureStart, end: String = FeatureEnd): DataFrame = {
    import spark.implicits._
    val endD = lit(end).cast("date")

    val salesAll = ChurnAdapter.sales(spark, sfDir)
    val salesW = salesAll
      .filter($"ORDER_DATE".between(start, end))
      .join(broadcast(ChurnAdapter.goods(spark, sfDir)), Seq("ITEM_NUM_ID"), "left_outer")

    val isWeekend = dayofweek($"ORDER_DATE").isin(1, 7)

    // Two-level aggregation instead of one groupBy with 3 countDistinct
    // columns: multi-countDistinct makes Catalyst Expand the fact 4×
    // before the shuffle (round-1 plan-audit note). Level 1 pre-aggregates
    // at order grain (USR, TML) — the natural key for frequence and
    // weekend-order counts — so level 2 needs NO distinct at all; both
    // levels get map-side partial aggregation. ORDER_DATE and WX_APP_SIGN
    // are order-constant (one order = one date/channel), so max() at
    // level 1 is exact.
    val perOrderAggs: Seq[Column] =
      Seq[Column](
        max($"ORDER_DATE").as("o_date"),
        sum(dec2($"TRADE_AMOUNT")).as("o_amt"),
        max($"TRADE_AMOUNT").as("o_max_amt"),
        sum(dec4($"DISCOUNT_AMOUNT")).as("o_disc"),
        count($"ITEM_NUM_ID").as("o_items"),
        count(when($"PRICE_TYPE" =!= 0, 1)).as("o_promote"),
        max(when(isWeekend, 1).otherwise(0)).as("o_wknd"),
        max(when($"WX_APP_SIGN" === 1, 1).otherwise(0)).as("o_wx")) ++
        Groups.map { case (colName, _, ids) =>
          max(when($"PTY_NUM_1".isin(ids: _*), 1).otherwise(0)).as(s"o_$colName")
        }
    val perOrder = salesW.groupBy($"USR_NUM_ID", $"TML_NUM_ID")
      .agg(perOrderAggs.head, perOrderAggs.tail: _*)

    val groupAggs: Seq[Column] = Groups.map { case (colName, _, _) =>
      max(col(s"o_$colName")).as(s"gf_$colName")
    }
    val aggExprs: Seq[Column] = Seq(
      max($"o_date").as("last_shop_date"),
      min($"o_date").as("earliest_shop_date"),
      sum($"o_amt").as("monetaryD"),
      max($"o_max_amt").as("max_amount"),
      sum($"o_disc").cast("double").as("save_amount"),
      sum($"o_items").as("items_count"),
      count(lit(1)).as("frequence"),
      sum($"o_promote").as("promote_items_count"),
      count(when($"o_wknd" === 1, 1)).as("wknd_orders"),
      max($"o_wx").as("has_wx"),
      max(when($"o_wx" === 1, $"o_date")).as("wx_last"),
      max(when($"o_wx" =!= 1, 1).otherwise(0)).as("has_st"),
      max(when($"o_wx" =!= 1, $"o_date")).as("st_last")) ++ groupAggs
    val agg0 = perOrder.groupBy($"USR_NUM_ID").agg(aggExprs.head, aggExprs.tail: _*)

    // shops_count is the one genuinely line-grain distinct — its own
    // (USR, SUB_UNIT)-distinct pre-agg, still Expand-free.
    val shops = salesW.select($"USR_NUM_ID", $"SUB_UNIT_NUM_ID").distinct()
      .groupBy($"USR_NUM_ID").agg(count(lit(1)).as("shops_count"))
    val agg = agg0.join(shops, Seq("USR_NUM_ID"), "left_outer")

    // 90-day re-aggregation (RF:155-167) — second, much smaller shuffle.
    val m3 = salesAll
      .filter($"ORDER_DATE" >= date_sub(endD, 90) && $"ORDER_DATE" <= endD)
      .groupBy($"USR_NUM_ID").agg(
        sum(dec2($"TRADE_AMOUNT")).cast("double").as("monetary3"),
        max($"TRADE_AMOUNT").as("max_amount3"),
        count($"ITEM_NUM_ID").as("items_count3"),
        countDistinct($"TML_NUM_ID").as("frequence3"))

    val pts = ChurnAdapter.points(spark, sfDir)
      .filter($"TSC_DTME".between(start, end))
      .groupBy($"USR_NUM_ID")
      .agg(dsum($"RESERVED_INTEGRAL").as("valid_points_sum"))

    val static = ChurnAdapter.members(spark, sfDir).select(
      $"USR_NUM_ID", $"CHANNEL_NUM_ID",
      datediff(endD, $"REGISTRAT_DATE").as("member_day"),
      $"VIP_TYPE_NUM_ID")

    val n100 = ($"monetaryD" * 100).cast("long")
    val groupCols: Seq[Column] = Groups.map { case (colName, label, _) =>
      when(col(s"gf_$colName") === 1, lit(label)).as(colName)
    }

    val derived = agg.select(
      Seq(
        $"USR_NUM_ID",
        datediff($"last_shop_date", $"earliest_shop_date").as("shop_duration"),
        datediff(endD, $"last_shop_date").as("recent"),
        $"monetaryD".cast("double").as("monetary"),
        $"max_amount",
        $"save_amount",
        $"items_count",
        $"frequence",
        $"shops_count",
        broundRatio2(n100, $"frequence").as("avg_amount"),
        broundRatio2($"items_count" * 100, $"frequence").as("item_count_turn"),
        broundRatio2(n100, $"items_count").as("avg_piece_amount"),
        roundRatio2($"promote_items_count" * 100, $"items_count").as("promote_percent"),
        broundRatio2($"wknd_orders" * 100, $"frequence").as("week_percent"),
        datediff(endD, $"wx_last").as("wxapp_diff"),
        datediff(endD, $"st_last").as("store_diff"),
        shopchannelUdf(
          when($"has_wx" === 1, lit("小程序会员")),
          when($"has_st" === 1, lit("门店会员"))).as("shop_channel")) ++
      groupCols: _*)

    derived
      .join(pts, Seq("USR_NUM_ID"), "left_outer")
      .join(static, Seq("USR_NUM_ID"), "left_outer")
      .join(m3, Seq("USR_NUM_ID"), "left_outer")
      .na.fill("unknow")
      .na.fill(0)
  }

  /** Feature table + churn label (RF:212-227): bought in feature window
    * but not in [labelStart, labelEnd] ⇒ label 1. */
  def wideTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val buyers = ChurnAdapter.sales(spark, sfDir)
      .filter($"ORDER_DATE".between(LabelStart, LabelEnd))
      .select($"USR_NUM_ID").distinct()
      .withColumn("label", lit(0))
    features(spark, sfDir)
      .join(buyers, Seq("USR_NUM_ID"), "left_outer")
      .na.fill(1, Seq("label"))
  }

  // ---- U5: repurchase flag (RF:87-95), parameterized window.
  // The reference computes it at 30/90/180 days (RF:97-99 — the
  // last_1/2/4_repurchase frames; never joined into the wide table, dead
  // code there, but the operator itself is window-parametric).
  def repurchase(spark: SparkSession, dir: String, days: Int): DataFrame = {
    import spark.implicits._
    val endD = lit(FeatureEnd).cast("date")
    ChurnAdapter.sales(spark, dir)
      .filter($"ORDER_DATE" >= date_sub(endD, days) && $"ORDER_DATE" <= endD)
      .groupBy($"USR_NUM_ID")
      .agg(countDistinct($"TML_NUM_ID").as("cnt"))
      .filter($"cnt" > 1)
      .withColumn("last_2_repurchase", lit(2))
      .drop("cnt")
  }

  private val u5: Q = (spark, dir) => repurchase(spark, dir, 90)

  /** All three reference windows in one result, keyed by window_days —
    * ONE scan of the 180-day-pruned fact, two-level aggregation (per
    * (user, terminal) window-membership flags, then per-user flag sums
    * = distinct-terminal counts per window). Three distinct-counts with
    * different filters would otherwise either triple the fact scan
    * (union of three groupBys) or hit the Catalyst Expand blowup
    * (multi-countDistinct) — this spelling avoids both. */
  private val u5Windows: Q = (spark, dir) => {
    import spark.implicits._
    val endD = lit(FeatureEnd).cast("date")
    val perTml = ChurnAdapter.sales(spark, dir)
      .filter($"ORDER_DATE" >= date_sub(endD, 180) && $"ORDER_DATE" <= endD)
      .groupBy($"USR_NUM_ID", $"TML_NUM_ID")
      .agg(max(($"ORDER_DATE" >= date_sub(endD, 30)).cast("int")).as("in30"),
           max(($"ORDER_DATE" >= date_sub(endD, 90)).cast("int")).as("in90"))
    perTml.groupBy($"USR_NUM_ID")
      .agg(sum($"in30").as("c30"), sum($"in90").as("c90"),
           count(lit(1)).as("c180"))
      .select($"USR_NUM_ID", explode(array(
          struct(lit(30).as("d"), $"c30".as("cnt")),
          struct(lit(90).as("d"), $"c90".as("cnt")),
          struct(lit(180).as("d"), $"c180".as("cnt")))).as("w"))
      .filter($"w.cnt" > 1)
      .select($"USR_NUM_ID", $"w.d".as("window_days"), lit(2).as("repurchase"))
  }

  // ---- U4: one standalone group-flag query (RF:132-152, meat group)
  private val u4: Q = (spark, dir) => {
    import spark.implicits._
    ChurnAdapter.sales(spark, dir)
      .filter($"ORDER_DATE".between(FeatureStart, FeatureEnd))
      .join(broadcast(ChurnAdapter.goods(spark, dir)), Seq("ITEM_NUM_ID"), "left_outer")
      .filter($"PTY_NUM_1".isin(2101, 2102))
      .select($"USR_NUM_ID").distinct()
      .withColumn("meat_group", lit("肉禽客群"))
  }

  // ---- E4: class-balance report (RF:221-223)
  private val e4: Q = (spark, dir) => {
    import spark.implicits._
    wideTable(spark, dir).groupBy($"label").count().sort($"label")
  }

  // ------------------------------------------------------------------
  // DuckDB oracles — generated from the same metadata as the Spark side.
  // ------------------------------------------------------------------

  private def groupAggSql: String = Groups.map { case (c, _, ids) =>
    s"    MAX(CASE WHEN PTY_NUM_1 IN (${ids.mkString(",")}) THEN 1 ELSE 0 END) AS gf_$c"
  }.mkString(",\n")

  private def groupColSql: String = Groups.map { case (c, label, _) =>
    s"  COALESCE(CASE WHEN gf_$c = 1 THEN '$label' END, 'unknow') AS $c"
  }.mkString(",\n")

  /** Shared feature-block SQL (everything up to the final projection). */
  private def featureCtes(start: String, end: String): String =
    s"""${ChurnAdapter.duckdbWith},
       |salesw AS (
       |  SELECT s.*, g.PTY_NUM_1 FROM sales s
       |  LEFT JOIN goods g USING (ITEM_NUM_ID)
       |  WHERE s.ORDER_DATE BETWEEN DATE '$start' AND DATE '$end'),
       |agg AS (
       |  SELECT USR_NUM_ID,
       |    MAX(ORDER_DATE) AS last_shop_date,
       |    MIN(ORDER_DATE) AS earliest_shop_date,
       |    SUM(CAST(TRADE_AMOUNT AS DECIMAL(18,2))) AS monetaryD,
       |    MAX(TRADE_AMOUNT) AS max_amount,
       |    CAST(SUM(CAST(DISCOUNT_AMOUNT AS DECIMAL(18,4))) AS DOUBLE) AS save_amount,
       |    COUNT(ITEM_NUM_ID) AS items_count,
       |    COUNT(DISTINCT TML_NUM_ID) AS frequence,
       |    COUNT(DISTINCT SUB_UNIT_NUM_ID) AS shops_count,
       |    COUNT(CASE WHEN PRICE_TYPE <> 0 THEN 1 END) AS promote_items_count,
       |    COUNT(DISTINCT CASE WHEN dayofweek(ORDER_DATE) + 1 IN (1,7)
       |          THEN TML_NUM_ID END) AS wknd_orders,
       |    MAX(CASE WHEN WX_APP_SIGN = 1 THEN 1 ELSE 0 END) AS has_wx,
       |    MAX(CASE WHEN WX_APP_SIGN = 1 THEN ORDER_DATE END) AS wx_last,
       |    MAX(CASE WHEN WX_APP_SIGN <> 1 THEN 1 ELSE 0 END) AS has_st,
       |    MAX(CASE WHEN WX_APP_SIGN <> 1 THEN ORDER_DATE END) AS st_last,
       |$groupAggSql
       |  FROM salesw GROUP BY USR_NUM_ID),
       |m3 AS (
       |  SELECT USR_NUM_ID,
       |    CAST(SUM(CAST(TRADE_AMOUNT AS DECIMAL(18,2))) AS DOUBLE) AS monetary3,
       |    MAX(TRADE_AMOUNT) AS max_amount3,
       |    COUNT(ITEM_NUM_ID) AS items_count3,
       |    COUNT(DISTINCT TML_NUM_ID) AS frequence3
       |  FROM sales WHERE ORDER_DATE >= DATE '$end' - 90 AND ORDER_DATE <= DATE '$end'
       |  GROUP BY USR_NUM_ID),
       |pts AS (
       |  SELECT USR_NUM_ID,
       |    CAST(SUM(CAST(RESERVED_INTEGRAL AS DECIMAL(18,2))) AS DOUBLE) AS valid_points_sum
       |  FROM points WHERE TSC_DTME BETWEEN DATE '$start' AND DATE '$end'
       |  GROUP BY USR_NUM_ID),
       |static AS (
       |  SELECT USR_NUM_ID, CHANNEL_NUM_ID,
       |    CAST(date_diff('day', REGISTRAT_DATE, DATE '$end') AS INT) AS member_day,
       |    VIP_TYPE_NUM_ID
       |  FROM members),
       |feat AS (
       |  SELECT agg.USR_NUM_ID,
       |  CAST(date_diff('day', earliest_shop_date, last_shop_date) AS INT) AS shop_duration,
       |  CAST(date_diff('day', last_shop_date, DATE '$end') AS INT) AS recent,
       |  CAST(monetaryD AS DOUBLE) AS monetary,
       |  max_amount, save_amount, items_count, frequence, shops_count,
       |  ${broundRatio2Sql("CAST(monetaryD * 100 AS BIGINT)", "frequence")} AS avg_amount,
       |  ${broundRatio2Sql("items_count * 100", "frequence")} AS item_count_turn,
       |  ${broundRatio2Sql("CAST(monetaryD * 100 AS BIGINT)", "items_count")} AS avg_piece_amount,
       |  ${roundRatio2Sql("promote_items_count * 100", "items_count")} AS promote_percent,
       |  ${broundRatio2Sql("wknd_orders * 100", "frequence")} AS week_percent,
       |  CAST(COALESCE(date_diff('day', wx_last, DATE '$end'), 0) AS INT) AS wxapp_diff,
       |  CAST(COALESCE(date_diff('day', st_last, DATE '$end'), 0) AS INT) AS store_diff,
       |  COALESCE(CASE
       |    WHEN has_wx = 1 AND has_st = 1 THEN '门店和小程序'
       |    WHEN has_wx = 1 AND has_st <> 1 THEN '仅小程序'
       |    WHEN has_wx <> 1 AND has_st <> 1 THEN '仅门店'
       |  END, 'unknow') AS shop_channel,
       |$groupColSql,
       |  COALESCE(pts.valid_points_sum, 0.0) AS valid_points_sum,
       |  static.CHANNEL_NUM_ID, static.member_day, static.VIP_TYPE_NUM_ID,
       |  COALESCE(m3.monetary3, 0.0) AS monetary3,
       |  COALESCE(m3.max_amount3, 0.0) AS max_amount3,
       |  COALESCE(m3.items_count3, 0) AS items_count3,
       |  COALESCE(m3.frequence3, 0) AS frequence3
       |  FROM agg
       |  LEFT JOIN pts USING (USR_NUM_ID)
       |  LEFT JOIN static USING (USR_NUM_ID)
       |  LEFT JOIN m3 USING (USR_NUM_ID))""".stripMargin

  private val featuresOracle: String =
    featureCtes(FeatureStart, FeatureEnd) + "\nSELECT * FROM feat"

  private val wideOracle: String =
    featureCtes(FeatureStart, FeatureEnd) +
      s""",
         |buyers AS (
         |  SELECT DISTINCT USR_NUM_ID, 0 AS label FROM sales
         |  WHERE ORDER_DATE BETWEEN DATE '$LabelStart' AND DATE '$LabelEnd')
         |SELECT feat.*, COALESCE(buyers.label, 1) AS label
         |FROM feat LEFT JOIN buyers USING (USR_NUM_ID)""".stripMargin

  private val e4Oracle: String =
    featureCtes(FeatureStart, FeatureEnd) +
      s""",
         |buyers AS (
         |  SELECT DISTINCT USR_NUM_ID, 0 AS label FROM sales
         |  WHERE ORDER_DATE BETWEEN DATE '$LabelStart' AND DATE '$LabelEnd')
         |SELECT COALESCE(buyers.label, 1) AS label, COUNT(*) AS count
         |FROM feat LEFT JOIN buyers USING (USR_NUM_ID)
         |GROUP BY 1""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("churn_features", (s, d) => features(s, d), Some(featuresOracle)),
    Op("churn_wide_table", (s, d) => wideTable(s, d), Some(wideOracle)),
    Op("e4_class_balance", e4, Some(e4Oracle)),
    Op("u5_repurchase", u5, Some(
      s"""${ChurnAdapter.duckdbWith}
         |SELECT USR_NUM_ID, 2 AS last_2_repurchase FROM sales
         |WHERE ORDER_DATE >= DATE '$FeatureEnd' - 90 AND ORDER_DATE <= DATE '$FeatureEnd'
         |GROUP BY USR_NUM_ID HAVING COUNT(DISTINCT TML_NUM_ID) > 1""".stripMargin)),

    Op("u5_repurchase_windows", u5Windows, Some {
      val one = (d: Int) =>
        s"""SELECT USR_NUM_ID, $d AS window_days, 2 AS repurchase FROM sales
           |WHERE ORDER_DATE >= DATE '$FeatureEnd' - $d AND ORDER_DATE <= DATE '$FeatureEnd'
           |GROUP BY USR_NUM_ID HAVING COUNT(DISTINCT TML_NUM_ID) > 1""".stripMargin
      s"""${ChurnAdapter.duckdbWith}
         |${Seq(30, 90, 180).map(one).mkString("\nUNION ALL\n")}""".stripMargin
    }),
    Op("u4_group_flags", u4, Some(
      s"""${ChurnAdapter.duckdbWith}
         |SELECT DISTINCT s.USR_NUM_ID, '肉禽客群' AS meat_group
         |FROM sales s LEFT JOIN goods g USING (ITEM_NUM_ID)
         |WHERE s.ORDER_DATE BETWEEN DATE '$FeatureStart' AND DATE '$FeatureEnd'
         |  AND g.PTY_NUM_1 IN (2101, 2102)""".stripMargin)))
}
