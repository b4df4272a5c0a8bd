package graft.eval

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

class MetricsSpec extends SparkSpec {

  test("classificationReport matches hand-computed confusion ratios") {
    import spark.implicits._
    // tp=2 fp=1 fn=1 tn=2
    val pred = Seq(
      (1.0, 1.0), (1.0, 1.0), (1.0, 0.0),
      (0.0, 1.0), (0.0, 0.0), (0.0, 0.0))
      .toDF("label", "prediction")
    val rep = Metrics.classificationReport(pred)
    assert(rep("accuracy") == 4.0 / 6)
    assert(rep("precision") == 2.0 / 3)
    assert(rep("recall") == 2.0 / 3)
    assert(rep("f1") == 2.0 / 3)
  }

  test("calibration bins a calibrated score correctly and covers all rows") {
    import spark.implicits._
    // planted: in each of 4 probability levels, labels occur at exactly
    // the predicted rate → mean_prob == frac_pos per bin (calibrated)
    val rows = Seq.tabulate(400) { i =>
      val p = Seq(0.05, 0.35, 0.65, 0.95)(i % 4)
      val label = if ((i / 4) % 100 < p * 100) 1.0 else 0.0
      (label, p)
    }
    val cal = Metrics.calibration(rows.toDF("label", "prob1"))
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(cal.map(_._2).sum == 400L)
    assert(cal.map(_._1) == Seq(0, 3, 6, 9)) // floor(p*10)
    cal.foreach { case (bin, _, meanP, fracPos) =>
      assert(math.abs(meanP - fracPos) < 1e-9,
        s"bin $bin: mean_prob $meanP vs frac_pos $fracPos")
    }
    // prob exactly 1.0 must land in the LAST bin, not bin 10
    val edge = Metrics.calibration(Seq((1.0, 1.0)).toDF("label", "prob1"))
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(edge == Seq((9, 1L, 1.0, 1.0)))
  }

  test("auc is 1.0 for perfectly separated scores and 0.0 when inverted") {
    import spark.implicits._
    val perfect = Seq(
      (1.0, Vectors.dense(0.1, 0.9)), (1.0, Vectors.dense(0.2, 0.8)),
      (0.0, Vectors.dense(0.8, 0.2)), (0.0, Vectors.dense(0.9, 0.1)))
      .toDF("label", "rawPrediction")
    assert(Metrics.auc(perfect) == 1.0)
    val inverted = perfect.withColumn("label", lit(1.0) - col("label"))
    assert(Metrics.auc(inverted) == 0.0)
  }

  test("positiveProb extracts element 1 of the probability vector (E3)") {
    import spark.implicits._
    val df = Seq(Tuple1(Vectors.dense(0.3, 0.7))).toDF("probability")
    val p = df.select(Metrics.positiveProb($"probability")).head().getDouble(0)
    assert(p == 0.7)
  }

  test("e7 confusion matrix: marginals are consistent and the planted diagonal dominates") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("e7_multiclass_confusion")(spark, dir)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // row marginal = Σ cells of the actual class; ppm = exact floor
    val byActual = rows.groupBy(_._1)
    for ((_, cells) <- byActual) {
      val tot = cells.map(_._3).sum
      assert(cells.forall(_._4 == tot))
      assert(cells.forall(c => c._6 == c._3 * 1000000L / tot))
    }
    val byPred = rows.groupBy(_._2)
    for ((_, cells) <- byPred) {
      val tot = cells.map(_._3).sum
      assert(cells.forall(_._5 == tot))
      assert(cells.forall(c => c._7 == c._3 * 1000000L / tot))
    }
    // the planted 70%-diagonal: every class's diagonal recall beats
    // any single off-diagonal cell of its row
    for ((a, cells) <- byActual) {
      val diag = cells.find(_._2 == a).map(_._3).getOrElse(0L)
      assert(cells.filter(_._2 != a).forall(_._3 < diag))
    }
  }

  test("e5 pr curve equals a plain-Scala threshold sweep; curve laws hold") {
    import spark.implicits._
    import java.sql.Timestamp
    // 30 customers; labels: custkey % 3 == 0 has an 'F' order. Scores
    // are the op's own hash-derived millis, replayed via hash48Jvm.
    val keys = (1L to 30L)
    val customers = keys.map(k => (k, s"c$k", "SEG")).toDF(
      "c_custkey", "c_name", "c_mktsegment")
    val orders = keys.filter(_ % 3 == 0).zipWithIndex.map { case (k, i) =>
      (i.toLong, k, "F", 10.0, Timestamp.valueOf("1997-01-01 00:00:00"), "3-X")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val d = java.nio.file.Files.createTempDirectory("e5-spec").toString
    customers.write.mode("overwrite").parquet(s"$d/customer.parquet")
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")

    val score = keys.map(k =>
      k -> graft.llm.TextOps.hash48Jvm(s"sc:$k") % 1000).toMap
    val label = keys.map(k => k -> (if (k % 3 == 0) 1L else 0L)).toMap
    def conf(t: Int): (Long, Long, Long, Long) = (
      keys.count(k => score(k) >= t && label(k) == 1L).toLong,
      keys.count(k => score(k) >= t && label(k) == 0L).toLong,
      keys.count(k => score(k) < t && label(k) == 1L).toLong,
      keys.count(k => score(k) < t && label(k) == 0L).toLong)

    val out = SparkEntry.queries("e5_pr_curve")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(out.length == 11)
    out.foreach { case (t, tp, fp, fn, tn, prec, rec, f1) =>
      val (etp, efp, efn, etn) = conf(t.toInt)
      assert((tp, fp, fn, tn) == (etp, efp, efn, etn), s"t=$t")
      assert(prec == (if (tp + fp > 0) tp * 1000000L / (tp + fp) else 0L))
      assert(rec == (if (tp + fn > 0) tp * 1000000L / (tp + fn) else 0L))
      assert(f1 == (if (2 * tp + fp + fn > 0)
        tp * 2000000L / (2 * tp + fp + fn) else 0L))
    }
    // curve laws: predicted-positive count and recall are non-increasing
    // in the threshold; the t=0 row classifies everything positive
    val byT = out.map(r => (r._2 + r._3, r._7)) // (tp+fp, rec_ppm)
    assert(byT.sliding(2).forall { case Array(a, b) => b._1 <= a._1 && b._2 <= a._2 })
    assert(out.head._2 + out.head._3 == 30L && out.head._7 == 1000000L)
  }

  test("e6 calibration equals a plain-Scala per-bin recompute; bins partition the batch") {
    import spark.implicits._
    import java.sql.Timestamp
    // Same 30-customer planted batch as e5; expected table replayed
    // via hash48Jvm, integer-exactly.
    val keys = (1L to 30L)
    val customers = keys.map(k => (k, s"c$k", "SEG")).toDF(
      "c_custkey", "c_name", "c_mktsegment")
    val orders = keys.filter(_ % 3 == 0).zipWithIndex.map { case (k, i) =>
      (i.toLong, k, "F", 10.0, Timestamp.valueOf("1997-01-01 00:00:00"), "3-X")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val d = java.nio.file.Files.createTempDirectory("e6-spec").toString
    customers.write.mode("overwrite").parquet(s"$d/customer.parquet")
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")

    val score = keys.map(k =>
      k -> graft.llm.TextOps.hash48Jvm(s"sc:$k") % 1000).toMap
    val label = keys.map(k => k -> (if (k % 3 == 0) 1L else 0L)).toMap
    val expected = keys.groupBy(k => score(k) / 100).map { case (bin, ks) =>
      val n = ks.size.toLong
      val nPos = ks.map(label).sum
      val sumS = ks.map(score).sum
      val exp = sumS * 1000L / n
      val obs = nPos * 1000000L / n
      (bin, (n, nPos, exp, obs, math.abs(exp - obs)))
    }

    val out = SparkEntry.queries("e6_calibration")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.map(_._1).toSet.subsetOf((0L to 9L).toSet))
    assert(out.map(_._2).sum == 30L, "bins must partition the batch")
    out.foreach { case (bin, n, nPos, exp, obs, gap) =>
      assert(expected(bin) == ((n, nPos, exp, obs, gap)), s"bin=$bin")
    }
    assert(out.length == expected.size)
  }
}
