package graft.llm

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** TemporalJoins: planted-scenario semantics + equivalence of the
  * scale-shaped spellings against naive reference spellings on testdata.
  */
class TemporalJoinsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("asofJoin: picks latest prior, strict excludes equal ts, no-match is null") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // two priors → latest (09:30)
      (2L, 10L, ts("2024-01-01 09:10:00")), // one prior  → 09:00
      (3L, 10L, ts("2024-01-01 09:00:00")), // equal-ts right only → strict: null
      (4L, 20L, ts("2024-01-01 12:00:00")), // other key, no right rows → null
      (5L, 30L, ts("2024-01-01 08:00:00"))  // right exists but only AFTER → null
    ).toDF("p_id", "user_id", "ts")
    val right = Seq(
      (101L, 10L, ts("2024-01-01 09:00:00"), 1.0),
      (102L, 10L, ts("2024-01-01 09:30:00"), 2.0),
      (103L, 30L, ts("2024-01-01 09:00:00"), 3.0)
    ).toDF("event_id", "user_id", "ts", "value")

    val out = TemporalJoins.asofJoin(left, right, Seq("user_id"), "ts", "ts",
        rightPayload = Seq("event_id", "value"))
      .select($"p_id", $"asof_event_id", $"asof_value")
      .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, Some(102L), Some(2.0)),
      (2L, Some(101L), Some(1.0)),
      (3L, None, None),
      (4L, None, None),
      (5L, None, None)))

    // inclusive mode: the equal-ts right row becomes visible
    val incl = TemporalJoins.asofJoin(left, right, Seq("user_id"), "ts", "ts",
        rightPayload = Seq("event_id"), strict = false)
      .select($"p_id", $"asof_event_id")
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(incl.find(_._1 == 3L).get._2 == Some(101L))
    assert(incl.find(_._1 == 5L).get._2.isEmpty) // later right still invisible
  }

  test("asofJoin: NULL payload field in the matched row stays NULL (no cross-row mixing)") {
    import spark.implicits._
    // The matched (latest preceding) right row has value = NULL; an older
    // right row has value = 1.0. Per-column last(ignoreNulls) would leak
    // the stale 1.0 into the output — the struct-packed fill must not.
    val left = Seq((1L, 10L, ts("2024-01-01 10:00:00"))).toDF("p_id", "user_id", "ts")
    val right = Seq(
      (101L, 10L, ts("2024-01-01 09:00:00"), Some(1.0)),
      (102L, 10L, ts("2024-01-01 09:30:00"), None: Option[Double])
    ).toDF("event_id", "user_id", "ts", "value")
    val out = TemporalJoins.asofJoin(left, right, Seq("user_id"), "ts", "ts",
        rightPayload = Seq("event_id", "value"))
      .select($"asof_event_id", $"asof_value")
      .as[(Option[Long], Option[Double])].collect().toSeq
    assert(out == Seq((Some(102L), None)))
  }

  test("testdata precondition: no (user_id, ts) ties among view events at any sf") {
    // The ev_asof_join oracle's determinism relies on no µs-precision ts
    // ties between views of the same user (both engines resolve ties
    // arbitrarily). Enforce it loudly so a testdata regen that introduces
    // ties fails here, not as a confusing oracle hash mismatch.
    import spark.implicits._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
         if new java.io.File(dir).isDirectory) {
      val dupes = graft.Tables.load(spark, dir, "events")
        .filter($"event_type" === "view")
        .groupBy($"user_id", $"ts").count()
        .filter($"count" > 1)
        .count()
      assert(dupes == 0L, s"view-event (user_id, ts) ties in $dir")
    }
  }

  test("asofJoin matches the naive pair-max spelling on testdata events") {
    import spark.implicits._
    val ev = graft.Tables.load(spark, sf, "events")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
    val v = ev.filter($"event_type" === "view")
      .select($"event_id".as("v_id"), $"user_id".as("v_user"), $"ts".as("v_ts"))

    val fast = TemporalJoins.asofJoin(
        p, v.withColumnRenamed("v_user", "user_id").withColumnRenamed("v_ts", "ts"),
        Seq("user_id"), "p_ts", "ts", rightPayload = Seq("v_id"))
      .select($"p_id", $"asof_v_id".as("v_id"))

    // naive: expand all prior pairs, keep max v_ts (3 shuffles, pair blowup
    // — the spelling asofJoin exists to avoid, used here as the oracle)
    val naive = p.join(v, $"user_id" === $"v_user" && $"v_ts" < $"p_ts", "left")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"p_id").orderBy($"v_ts".desc_nulls_last)))
      .filter($"rk" === 1)
      .select($"p_id", $"v_id")

    val a = fast.as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    val b = naive.as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("property: asofJoin and boundedRangeJoin equal naive spellings on random events") {
    import spark.implicits._
    import org.scalacheck.Gen
    val userGen = Gen.chooseNum(1L, 5L)
    val tsGen = Gen.chooseNum(0L, 5000L)
    for (_ <- 1 to 3) {
      val left = Gen.listOfN(40, Gen.zip(userGen, tsGen)).sample.get
        .zipWithIndex
        .map { case ((u, t), i) => (i.toLong, u, new Timestamp(t * 1000L)) }
        .toDF("p_id", "user_id", "ts")
      // unique (user, ts) on the right: at equal-ts ties BOTH spellings
      // pick arbitrarily, so ties would make the comparison ill-defined
      val right = Gen.listOfN(80, Gen.zip(userGen, tsGen)).sample.get
        .distinctBy(identity).zipWithIndex
        .map { case ((u, t), i) =>
          (1000L + i, u, new Timestamp(t * 1000L), i * 0.5) }
        .toDF("event_id", "user_id", "ts", "value")

      for (strict <- Seq(true, false)) {
        val fast = TemporalJoins.asofJoin(left, right, Seq("user_id"),
            "ts", "ts", rightPayload = Seq("event_id", "value"),
            strict = strict)
          .select($"p_id", $"asof_event_id", $"asof_value")
          .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
        val cond = $"user_id" === $"r_user" &&
          (if (strict) $"r_ts" < $"l_ts" else $"r_ts" <= $"l_ts")
        val naive = left.withColumnRenamed("ts", "l_ts")
          .join(right.toDF("event_id", "r_user", "r_ts", "value"), cond, "left")
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"p_id").orderBy($"r_ts".desc_nulls_last)))
          .filter($"rk" === 1)
          .select($"p_id", $"event_id", $"value")
          .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
        assert(fast == naive, s"asof strict=$strict diverged")
      }

      for (lag <- Seq(60L, 600L, 3600L)) {
        val fast = TemporalJoins.boundedRangeJoin(left, right,
            Seq("user_id"), "ts", "ts", lagSeconds = lag)
          .select($"p_id", $"r_event_id")
          .as[(Long, Long)].collect().sorted.toSeq
        val naive = left.as("p").join(right.as("v"),
            $"p.user_id" === $"v.user_id" &&
              $"v.ts" >= $"p.ts" - expr(s"INTERVAL $lag seconds") &&
              $"v.ts" < $"p.ts")
          .select($"p_id", $"v.event_id")
          .as[(Long, Long)].collect().sorted.toSeq
        assert(fast == naive, s"range lag=$lag diverged")
      }
    }
  }

  test("boundedRangeJoin: boundary inclusivity and cross-bucket matches") {
    import spark.implicits._
    // lag 60 s; rights planted exactly at the boundaries and across the
    // minute-bucket edge that the bin trick must bridge.
    val left = Seq((1L, 7L, ts("2024-01-01 10:01:30"))).toDF("p_id", "user_id", "ts")
    val right = Seq(
      (201L, 7L, ts("2024-01-01 10:00:30")), // exactly ts - lag → included
      (202L, 7L, ts("2024-01-01 10:00:29")), // just outside → excluded
      (203L, 7L, ts("2024-01-01 10:00:59")), // previous bucket, inside → included
      (204L, 7L, ts("2024-01-01 10:01:29")), // same bucket, inside → included
      (205L, 7L, ts("2024-01-01 10:01:30")), // equal ts → excluded (strict <)
      (206L, 8L, ts("2024-01-01 10:01:00"))  // other key → excluded
    ).toDF("event_id", "user_id", "ts")
    val got = TemporalJoins.boundedRangeJoin(left, right, Seq("user_id"),
        "ts", "ts", lagSeconds = 60)
      .select($"r_event_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(201L, 203L, 204L))
  }

  test("boundedRangeJoin matches the naive range-predicate join on testdata") {
    import spark.implicits._
    val ev = graft.Tables.load(spark, sf, "events")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts")
    val v = ev.filter($"event_type" === "view")
      .select($"event_id", $"user_id", $"ts")
    val lag = 12L * 3600

    val fast = TemporalJoins.boundedRangeJoin(p, v, Seq("user_id"), "ts", "ts", lag)
      .select($"p_id", $"r_event_id".as("v_id"))
    val naive = p.as("p").join(v.as("v"),
        $"p.user_id" === $"v.user_id" &&
          $"v.ts" >= $"p.ts" - expr(s"INTERVAL $lag seconds") &&
          $"v.ts" < $"p.ts")
      .select($"p_id", $"v.event_id".as("v_id"))

    val a = fast.as[(Long, Long)].collect().sorted.toSeq
    val b = naive.as[(Long, Long)].collect().sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("j13 nearest: min |Δt| both directions; equidistant tie prefers earlier; bucket edges covered") {
    import spark.implicits._
    // user 1, purchase at 12:00: views at 11:00 (−1h) and 12:30 (+30m)
    //   → nearest is the LATER one (+30m), proving forward beats
    //   backward when closer (the asof join would pick 11:00).
    // user 2, purchase at 12:00: views at 11:30 and 12:30 — equidistant
    //   → tie must pick the EARLIER view (v_ts asc tiebreak).
    // user 3: view 13h before the purchase → out of ±12h range, absent.
    // user 4, purchase near a 12h-bucket boundary with its view in the
    //   NEIGHBORING bucket 1µs inside the range → the exploded
    //   3-bucket candidate join must still find it.
    val rows = Seq(
      (1L, ts("2024-01-01 12:00:00"), 1L, "purchase", 0.0, "{}"),
      (2L, ts("2024-01-01 11:00:00"), 1L, "view", 1.0, "{}"),
      (3L, ts("2024-01-01 12:30:00"), 1L, "view", 2.0, "{}"),
      (4L, ts("2024-01-01 12:00:00"), 2L, "purchase", 0.0, "{}"),
      (5L, ts("2024-01-01 11:30:00"), 2L, "view", 3.0, "{}"),
      (6L, ts("2024-01-01 12:30:00"), 2L, "view", 4.0, "{}"),
      (7L, ts("2024-01-02 01:00:00"), 3L, "purchase", 0.0, "{}"),
      (8L, ts("2024-01-01 12:00:00"), 3L, "view", 5.0, "{}"),
      (9L, ts("2024-01-01 11:59:59"), 4L, "purchase", 0.0, "{}"),
      (10L, Timestamp.valueOf("2024-01-01 23:59:58.000001"), 4L, "view", 6.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = java.nio.file.Files.createTempDirectory("j13-nearest").toString
    rows.write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("j13_nearest_event")(spark, d)
      .select($"p_id", $"v_id", $"dt_us")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 3L, 1800000000L),            // +30 min beats −1 h
      (4L, 5L, -1800000000L),           // tie → earlier view
      (9L, 10L, 12L * 3600000000L + 1L - 1000000L))) // cross-bucket hit
  }

  test("j13 nearest equals the naive all-pairs rank on testdata") {
    import spark.implicits._
    val fast = SparkEntry.queries("j13_nearest_event")(spark, sf)
      .select($"p_id", $"v_id", $"dt_us")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val ev = graft.Tables.load(spark, sf, "events")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", unix_micros($"ts").as("pus"))
    val v = ev.filter($"event_type" === "view")
      .select($"event_id".as("v_id"), $"user_id".as("vu"),
        unix_micros($"ts").as("vus"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"p_id")
      .orderBy(abs($"vus" - $"pus").asc, $"vus".asc, $"v_id".asc)
    val naive = p.join(v, $"user_id" === $"vu" &&
        abs($"vus" - $"pus") <= 12L * 3600000000L)
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"p_id", $"v_id", ($"vus" - $"pus").as("dt_us"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(fast.nonEmpty && fast == naive)
  }
}
