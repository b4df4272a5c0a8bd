package graft.eval

import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Op

/** Evaluation operators E1-E4 (reference: RF/utils.scala:49-86 and its
  * near-duplicate GBDT/spark/utils.scala:58-95).
  *
  * The reference converts to an RDD and uses MulticlassMetrics
  * (RF/utils.scala:50-51) — a DataFrame→RDD boundary that abandons
  * Catalyst. Here E2 is a single DataFrame aggregation (one shuffle-free
  * pass after predictions), and E3 uses the native `vector_to_array`
  * expression instead of the reference's udf (RF/utils.scala:83-86), so
  * the whole scoring path stays in whole-stage codegen.
  */
object Metrics extends graft.Registry {

  /** E3: positive-class probability from the ml `probability` vector. */
  def positiveProb(probabilityCol: Column): Column =
    vector_to_array(probabilityCol).getItem(1)

  /** E1: area under ROC from rawPrediction (RF/utils.scala:67-74). */
  def auc(predictions: DataFrame,
          labelCol: String = "label",
          rawCol: String = "rawPrediction"): Double =
    new BinaryClassificationEvaluator()
      .setLabelCol(labelCol)
      .setRawPredictionCol(rawCol)
      .setMetricName("areaUnderROC")
      .evaluate(predictions)

  /** E2: accuracy + positive-class precision/recall/F1 at threshold 0.5
    * (RF/utils.scala:49-57), as ONE aggregate pass — the four counts of
    * the confusion matrix are conditional sums, then driver-side ratios.
    */
  def classificationReport(predictions: DataFrame,
                           labelCol: String = "label",
                           predictionCol: String = "prediction"): Map[String, Double] = {
    val l = col(labelCol).cast("double")
    val p = col(predictionCol).cast("double")
    val row = predictions.agg(
      sum(when(l === 1.0 && p === 1.0, 1L).otherwise(0L)).as("tp"),
      sum(when(l === 0.0 && p === 1.0, 1L).otherwise(0L)).as("fp"),
      sum(when(l === 1.0 && p === 0.0, 1L).otherwise(0L)).as("fn"),
      sum(when(l === 0.0 && p === 0.0, 1L).otherwise(0L)).as("tn")
    ).head()
    val (tp, fp, fn, tn) =
      (row.getLong(0).toDouble, row.getLong(1).toDouble,
       row.getLong(2).toDouble, row.getLong(3).toDouble)
    val precision = if (tp + fp > 0) tp / (tp + fp) else 0.0
    val recall    = if (tp + fn > 0) tp / (tp + fn) else 0.0
    val f1 = if (precision + recall > 0) 2 * precision * recall / (precision + recall) else 0.0
    Map(
      "accuracy"  -> (if (tp + fp + fn + tn > 0) (tp + tn) / (tp + fp + fn + tn) else 0.0),
      "precision" -> precision,
      "recall"    -> recall,
      "f1"        -> f1)
  }

  /** Extension: calibration table — equal-width probability bins with
    * (count, mean predicted prob, observed positive rate) per bin. A
    * model is calibrated when mean_prob ≈ frac_pos bin-by-bin; AUC
    * alone cannot see miscalibration (it is rank-only). ONE aggregate
    * pass over the scored output — the bin column is a plain floor
    * expression, so partial aggregation applies at any scale. */
  def calibration(predictions: DataFrame,
                  bins: Int = 10,
                  labelCol: String = "label",
                  probCol: String = "prob1"): DataFrame = {
    val p = col(probCol).cast("double")
    predictions
      .withColumn("bin",
        least(floor(p * bins), lit(bins - 1)).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        avg(p).as("mean_prob"),
        avg(col(labelCol).cast("double")).as("frac_pos"))
      .orderBy(col("bin"))
  }

  /** e5_pr_curve: the threshold-sweep confusion table behind every PR /
    * ROC curve, as a DECLARED oracle-checked query — E2 gives one
    * operating point at 0.5; a model review reads the whole sweep.
    * Score = a deterministic hash-derived milli-probability per
    * customer (the engine-parity stand-in with the exact compute shape
    * of a scored batch — swapping in real model scores is a column
    * substitution); label = customer has a fallen-through ('F') order.
    * All four confusion counts at ALL 11 thresholds come from ONE
    * aggregate pass (44 conditional sums — partial agg applies, no
    * row multiplication), then a 1-row stack unpivots to the curve
    * rows; precision/recall/F1 are exact integer ppm floors
    * (F1 = 2tp/(2tp+fp+fn) — the division-free identity). The oracle
    * spells the sweep as an explode×GROUP BY — independent spelling,
    * same table. */
  /** The shared scored-batch stand-in behind e5/e6: a deterministic
    * hash-derived milli-probability per customer (`s` ∈ [0,1000)) and
    * the fallen-through-order label (`y`). Exactly the compute shape of
    * a scored eval batch — swapping in real model scores is a column
    * substitution. */
  private def scoredLabels(spark: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.TextOps.hash48
    val lab = graft.Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(max(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("y"))
    graft.Tables.load(spark, dir, "customer")
      .select($"c_custkey",
        (hash48(concat(lit("sc:"), $"c_custkey".cast("string"))) % 1000)
          .as("s"))
      .join(lab, $"c_custkey" === $"o_custkey", "left")
      .select($"s", coalesce($"y", lit(0L)).as("y"))
  }

  private val prCurve: Q = (spark, dir) => {
    import spark.implicits._
    val thresholds = 0 to 1000 by 100
    val scored = scoredLabels(spark, dir)
    val aggs = thresholds.flatMap { t => Seq(
      sum(when($"s" >= t && $"y" === 1L, 1L).otherwise(0L)).as(s"tp_$t"),
      sum(when($"s" >= t && $"y" === 0L, 1L).otherwise(0L)).as(s"fp_$t"),
      sum(when($"s" < t && $"y" === 1L, 1L).otherwise(0L)).as(s"fn_$t"),
      sum(when($"s" < t && $"y" === 0L, 1L).otherwise(0L)).as(s"tn_$t")) }
    val one = scored.agg(aggs.head, aggs.tail: _*)
    val stackArgs = thresholds
      .map(t => s"${t}L, tp_$t, fp_$t, fn_$t, tn_$t").mkString(", ")
    def ratioPpm(num: Column, den: Column): Column =
      when(den > 0, ((num - pmod(num, den)) / den).cast("long")).otherwise(0L)
    one.selectExpr(s"stack(${thresholds.size}, $stackArgs)" +
        " as (thresh_milli, tp, fp, fn, tn)")
      .select($"thresh_milli", $"tp", $"fp", $"fn", $"tn",
        ratioPpm($"tp" * 1000000L, $"tp" + $"fp").as("prec_ppm"),
        ratioPpm($"tp" * 1000000L, $"tp" + $"fn").as("rec_ppm"),
        ratioPpm($"tp" * 2000000L, $"tp" * 2 + $"fp" + $"fn").as("f1_ppm"))
  }

  /** e6_calibration: the reliability table as a DECLARED oracle-checked
    * query over the e5 scored shape — deciles of the milli-score, and
    * per bin the expected rate (mean predicted score, in ppm) next to
    * the observed positive rate (ppm). AUC is rank-only; THIS is the
    * table that catches an uncalibrated model. ONE aggregate pass (bin
    * is a floor of the score column — partial agg applies at any
    * scale); the two rates are exact integer ppm floors assembled from
    * the bin's integer sums, carried in DECIMAL(38,0) so sum_s·1000 and
    * n_pos·10⁶ cannot wrap int64 even at a 10¹²-row eval batch (the
    * m13 headroom lesson). */
  private val calibrationTable: Q = (spark, dir) => {
    import spark.implicits._
    // The scale-up happens in DECIMAL (cast BEFORE the multiply): a
    // long·long product would wrap first and cast the wreckage after.
    def ppm(base: Column, factor: Long, den: Column): Column = {
      val n = base.cast("decimal(38,0)") * factor
      ((n - pmod(n, den)) / den).cast("long")
    }
    scoredLabels(spark, dir)
      .groupBy((($"s" - pmod($"s", lit(100L))) / 100L).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum($"y").as("n_pos"),
        sum($"s").as("sum_s"))
      .select($"bin", $"n", $"n_pos",
        ppm($"sum_s", 1000L, $"n").as("exp_ppm"),
        ppm($"n_pos", 1000000L, $"n").as("obs_ppm"))
      .withColumn("gap_ppm", abs($"exp_ppm" - $"obs_ppm"))
  }

  /** e7_multiclass_confusion: the K×K confusion matrix + marginals —
    * the multiclass sibling of e5's binary sweep (priority prediction is
    * the reference's other modeling axis; any segment/priority/intent
    * classifier review reads this table first). Actual class = order
    * priority; predicted = a deterministic hash-derived prediction with
    * a planted 70%-diagonal structure (the engine-parity stand-in:
    * swapping in real predictions is a column substitution — the
    * hash-pick spells CLASSES[h2 % 5] identically in both engines).
    * ONE fact scan → ONE (actual, predicted) aggregate (≤ K² rows);
    * row/column marginals are K-sized aggregates of THAT table joined
    * back (never a second fact pass); recall/precision-contribution
    * are exact ppm floors. */
  private val multiclassConfusion: Q = (spark, dir) => {
    import spark.implicits._
    import graft.llm.TextOps.hash48
    val classes = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val arr = array(classes.map(lit): _*)
    val h1 = hash48(concat(lit("mc:"), $"o_orderkey".cast("string")))
    val h2 = hash48(concat(lit("mp:"), $"o_orderkey".cast("string")))
    val scored = graft.Tables.load(spark, dir, "orders")
      .select($"o_orderpriority".as("actual"),
        when(h1 % 10 < 7, $"o_orderpriority")
          .otherwise(element_at(arr, (h2 % 5).cast("int") + 1))
          .as("predicted"))
    val cells = scored.groupBy($"actual", $"predicted")
      .agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy($"actual").agg(sum($"n").as("n_actual"))
    val colTot = cells.groupBy($"predicted").agg(sum($"n").as("n_predicted"))
    // Cols.ppm scales up in DECIMAL before the multiply — the bare
    // n·10⁶ long product this replaced wraps first at extreme counts
    cells.join(rowTot, "actual").join(colTot, "predicted")
      .select($"actual", $"predicted", $"n", $"n_actual", $"n_predicted",
        graft.util.Cols.ppm($"n", $"n_actual").as("recall_contrib_ppm"),
        graft.util.Cols.ppm($"n", $"n_predicted")
          .as("precision_contrib_ppm"))
  }

  val ops: Seq[Op] = Seq(
    Op("e5_pr_curve", prCurve, Some {
      val h = graft.llm.TextOps.hash48Sql("'sc:' || CAST(c_custkey AS VARCHAR)")
      s"""WITH lab AS (
         |  SELECT o_custkey,
         |         MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS y
         |  FROM orders GROUP BY 1),
         |sc AS (SELECT c_custkey, $h % 1000 AS s FROM customer),
         |j AS (SELECT s, COALESCE(y, 0) AS y
         |      FROM sc LEFT JOIN lab ON o_custkey = c_custkey),
         |th AS (SELECT unnest(generate_series(0, 1000, 100)) AS t),
         |c AS (SELECT t,
         |        CAST(SUM(CASE WHEN s >= t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |        CAST(SUM(CASE WHEN s >= t AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |        CAST(SUM(CASE WHEN s < t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |        CAST(SUM(CASE WHEN s < t AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |      FROM j, th GROUP BY t)
         |SELECT CAST(t AS BIGINT) AS thresh_milli, tp, fp, fn, tn,
         |       CASE WHEN tp + fp > 0
         |            THEN CAST((tp * 1000000) // (tp + fp) AS BIGINT)
         |            ELSE 0 END AS prec_ppm,
         |       CASE WHEN tp + fn > 0
         |            THEN CAST((tp * 1000000) // (tp + fn) AS BIGINT)
         |            ELSE 0 END AS rec_ppm,
         |       CASE WHEN 2 * tp + fp + fn > 0
         |            THEN CAST((tp * 2000000) // (2 * tp + fp + fn) AS BIGINT)
         |            ELSE 0 END AS f1_ppm
         |FROM c""".stripMargin
    }),

    Op("e7_multiclass_confusion", multiclassConfusion, Some {
      val h1 = graft.llm.TextOps.hash48Sql("'mc:' || CAST(o_orderkey AS VARCHAR)")
      val h2 = graft.llm.TextOps.hash48Sql("'mp:' || CAST(o_orderkey AS VARCHAR)")
      s"""WITH cls AS (SELECT ['1-URGENT', '2-HIGH', '3-MEDIUM',
         |  '4-NOT SPECIFIED', '5-LOW'] AS a),
         |sc AS (
         |  SELECT o_orderpriority AS actual,
         |         CASE WHEN $h1 % 10 < 7 THEN o_orderpriority
         |              ELSE a[CAST($h2 % 5 AS INTEGER) + 1] END AS predicted
         |  FROM orders, cls),
         |cells AS (
         |  SELECT actual, predicted, COUNT(*) AS n FROM sc GROUP BY 1, 2),
         |rt AS (SELECT actual, CAST(SUM(n) AS BIGINT) AS n_actual
         |       FROM cells GROUP BY 1),
         |ct AS (SELECT predicted, CAST(SUM(n) AS BIGINT) AS n_predicted
         |       FROM cells GROUP BY 1)
         |SELECT actual, predicted, n, n_actual, n_predicted,
         |       CAST((n * 1000000) // n_actual AS BIGINT) AS recall_contrib_ppm,
         |       CAST((n * 1000000) // n_predicted AS BIGINT)
         |         AS precision_contrib_ppm
         |FROM cells JOIN rt USING (actual) JOIN ct USING (predicted)""".stripMargin
    }),

    Op("e6_calibration", calibrationTable, Some {
      val h = graft.llm.TextOps.hash48Sql("'sc:' || CAST(c_custkey AS VARCHAR)")
      s"""WITH lab AS (
         |  SELECT o_custkey,
         |         MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS y
         |  FROM orders GROUP BY 1),
         |j AS (SELECT $h % 1000 AS s, COALESCE(y, 0) AS y
         |      FROM customer LEFT JOIN lab ON o_custkey = c_custkey),
         |g AS (SELECT CAST(s // 100 AS BIGINT) AS bin, COUNT(*) AS n,
         |             CAST(SUM(y) AS BIGINT) AS n_pos,
         |             SUM(s) AS sum_s
         |      FROM j GROUP BY 1)
         |SELECT bin, n, n_pos,
         |       CAST((sum_s * 1000) // n AS BIGINT) AS exp_ppm,
         |       CAST((n_pos * 1000000) // n AS BIGINT) AS obs_ppm,
         |       CAST(abs((sum_s * 1000) // n - (n_pos * 1000000) // n)
         |         AS BIGINT) AS gap_ppm
         |FROM g""".stripMargin
    }))
}
