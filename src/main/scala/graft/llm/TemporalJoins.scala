package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.{Op, Tables}

/** Temporal joins over event streams — the two join shapes a
  * training-data / feature pipeline needs that plain equi-joins don't
  * express (brief: "when the reference has an operator Spark lacks —
  * as-of join, range join — compose existing ops if semantics allow"):
  *
  *  - '''as-of join''' (backward): for each left row, the single most
  *    recent right row at or before its timestamp. The feature-freshness
  *    join: "attach the last profile snapshot / last view event known at
  *    purchase time" — exactly the point-in-time-correct join that
  *    prevents feature leakage in training-set construction.
  *  - '''bounded range join''': all right rows within a fixed lag window
  *    before each left row ("views in the 12 h before the purchase").
  *
  * Both are composed from existing Catalyst operators, so every Spark
  * optimization (partial agg, AQE, codegen) applies — no custom physical
  * plan needed.
  *
  * Scale design:
  *  - `asofJoin` is the union+window spelling of a sort-merge as-of: tag
  *    both sides, union (narrow — no shuffle), ONE shuffle on the key,
  *    one in-partition sort, then `last(_, ignoreNulls)` over a running
  *    row frame fills each left row with the latest preceding right
  *    payload. Cost is a single exchange + sort regardless of how many
  *    right rows precede each left row — there is NO per-pair expansion,
  *    so it survives hot keys with millions of events. (A join-then-
  *    max-then-rejoin spelling shuffles three times and materializes
  *    every candidate pair; at 100 TB the pair blowup is fatal.)
  *  - `boundedRangeJoin` is the binned interval join: both sides bucket
  *    time by the lag width, the right side duplicates into (bucket,
  *    bucket+1) — a fixed 2× expansion, independent of corpus size —
  *    and the range predicate becomes an equi-join on (key, bucket)
  *    plus a residual filter. Candidate pairs are bounded by events
  *    within ±1 lag window per key, never "all history per key", which
  *    is what a bare `t BETWEEN lo AND hi` join predicate degenerates
  *    to (Spark plans it as the equi-join on key with a per-key
  *    quadratic filter; fine for 150 users, fatal for 150 M).
  */
object TemporalJoins extends graft.Registry {

  /** Backward as-of join: for each `left` row, attach the payload of the
    * single latest `right` row with `rightTs < leftTs` (strict, the
    * leakage-safe default) or `rightTs <= leftTs` (`strict = false`),
    * matching on equality of `keys`. Left-outer semantics: left rows with
    * no preceding right row keep NULL payload.
    *
    * Payload columns arrive prefixed (`asof_<col>`); include `rightTs` in
    * `rightPayload` to learn WHICH right row matched. Right rows that tie
    * exactly on (keys, rightTs) are resolved arbitrarily — pre-aggregate
    * the right side if that matters.
    *
    * Plan: one shuffle on `keys`, one sort, one Window — asserted in
    * PlanShapeSpec.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPayload: Seq[String],
      strict: Boolean = true,
      prefix: String = "asof_"): DataFrame = {
    // Sort order at equal timestamps decides visibility: strict puts the
    // left row BEFORE equal-ts right rows (side 0 < 1) so they are not in
    // its frame; inclusive puts it after (side 2 > 1).
    val leftSide = if (strict) 0 else 2
    // The payload travels as ONE struct so the window fill takes every
    // field from the SAME matched right row: per-column last(ignoreNulls)
    // would back-fill a NULL field from an older right row, mixing rows.
    val pType = StructType(rightPayload.map(p =>
      StructField(p, right.schema(p).dataType, nullable = true)))
    val l2 = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(leftSide))
      .withColumn("__p", lit(null).cast(pType))
    val r2 = right
      .withColumn("__ts", col(rightTs))
      .withColumn("__side", lit(1))
      .withColumn("__p", struct(rightPayload.map(col): _*))
      .select(keys.map(col) ++ Seq(col("__ts"), col("__side"), col("__p")): _*)
    val leftOnly = left.columns.filterNot(keys.contains)
    val r3 = leftOnly
      .foldLeft(r2)((df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType)))
      .select(l2.columns.map(col): _*)

    // Explicit ROWS frame: the default RANGE frame would also work (equal
    // __ts + different __side are not peers), but ROWS makes the running
    // "latest right seen so far" reading literal.
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = l2.unionByName(r3)
      .withColumn("__p", last(col("__p"), ignoreNulls = true).over(w))
    filled.filter(col("__side") === leftSide)
      .select(left.columns.map(col) ++
        rightPayload.map(p => col("__p").getField(p).as(prefix + p)): _*)
  }

  /** Bounded-lag range join: every (`left`, `right`) pair with equal
    * `keys` and `rightTs` in `[leftTs - lagSeconds, leftTs)`. Inner-join
    * semantics (pairs only). Right columns arrive prefixed (`rPrefix`).
    *
    * Binned: time is bucketed by the lag width; a right row in bucket b
    * can only match left rows in buckets {b, b+1}, so the right side
    * expands exactly 2× into candidate buckets and the join is a plain
    * equi-join on (keys, bucket) with a residual range filter.
    */
  def boundedRangeJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      lagSeconds: Long,
      rPrefix: String = "r_"): DataFrame = {
    require(lagSeconds > 0, s"lagSeconds must be positive, got $lagSeconds")
    val lagUs = lagSeconds * 1000000L
    val l2 = left.withColumn("__lus", unix_micros(col(leftTs)))
      .withColumn("__lb", floor(col("__lus") / lagUs))
    val rRenamed = right.columns.foldLeft(right)((df, c) =>
      df.withColumnRenamed(c, rPrefix + c))
    val r2 = rRenamed
      .withColumn("__rus", unix_micros(col(rPrefix + rightTs)))
      .withColumn("__rb0", floor(col("__rus") / lagUs))
      .withColumn("__rb", explode(array(col("__rb0"), col("__rb0") + 1)))
    val cond = keys.map(k => col(k) === col(rPrefix + k)).reduce(_ && _) &&
      col("__lb") === col("__rb") &&
      col("__rus") >= col("__lus") - lagUs &&
      col("__rus") < col("__lus")
    l2.join(r2, cond, "inner")
      .drop("__lus", "__lb", "__rus", "__rb0", "__rb")
  }

  /** ev_asof_join: each purchase gets the latest STRICTLY-preceding view
    * by the same user — the point-in-time feature-attachment join. */
  private val asof: Q = (spark, dir) => {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val views = ev.filter($"event_type" === "view")
    asofJoin(purchases, views, Seq("user_id"), "ts", "ts",
        rightPayload = Seq("event_id", "ts", "value"))
      .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"),
        $"asof_event_id".as("v_id"), $"asof_ts".as("v_ts"),
        $"asof_value".as("v_value"))
  }

  /** ev_range_join: all (purchase, view) pairs by the same user with the
    * view in the 12 hours before the purchase. */
  private val range: Q = (spark, dir) => {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val views = ev.filter($"event_type" === "view")
      .select($"event_id", $"user_id", $"ts", $"value")
    boundedRangeJoin(purchases, views, Seq("user_id"), "ts", "ts",
        lagSeconds = 12L * 3600)
      .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"),
        $"r_event_id".as("v_id"), $"r_ts".as("v_ts"), $"r_value".as("v_value"))
  }

  /** j13_nearest_event: NEAREST-in-time join — each purchase gets the
    * single view by the same user that minimizes |Δt|, searched BOTH
    * directions within ±12 h (sensor-fusion / feature-attachment
    * semantics when the best context can follow the anchor; the asof
    * join is the backward-only specialization). Candidate generation is
    * the same µs-bucket trick as [[boundedRangeJoin]] made symmetric:
    * the view side explodes into its bucket and both neighbors, so a
    * candidate pair always shares an equi-join bucket key — an
    * equi-join + bounded dedupe, never a true inequality join. The
    * per-purchase winner is a rank-1 filter under the TOTAL order
    * (|Δt| asc, v_ts asc, v_id asc) — ties (equidistant before/after)
    * deterministically prefer the earlier view — which plans the
    * two-phase WindowGroupLimit (partitions are per-purchase candidate
    * sets, bounded by the ±12 h window). Purchases with no view in
    * range are absent, not null-padded (compose with a left join for
    * the padded variant). Δt is emitted as signed integer µs — exact in
    * both engines. */
  private val nearest: Q = (spark, dir) => {
    import spark.implicits._
    val lagUs = 12L * 3600 * 1000000L
    val ev = Tables.load(spark, dir, "events")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"),
        unix_micros($"ts").as("pus"))
      .withColumn("pb", floor($"pus" / lagUs))
    val v = ev.filter($"event_type" === "view")
      .select($"event_id".as("v_id"), $"user_id".as("v_user"),
        $"ts".as("v_ts"), unix_micros($"ts").as("vus"))
      .withColumn("vb0", floor($"vus" / lagUs))
      .withColumn("vb", explode(array($"vb0" - 1, $"vb0", $"vb0" + 1)))
    val w = Window.partitionBy($"p_id")
      .orderBy(abs($"vus" - $"pus").asc, $"vus".asc, $"v_id".asc)
    // SMJ pinned (the j7 Generate-estimate lesson): Catalyst sizes the
    // view side from its PRE-explode scan stats — 3× under-estimated —
    // and happily broadcasts a fact-scale table; ev_range_join differs
    // because there the broadcast side is the un-exploded one, whose
    // estimate is honest and flips to SMJ at scale on its own.
    p.join(v.hint("merge"), $"user_id" === $"v_user" && $"pb" === $"vb" &&
        abs($"vus" - $"pus") <= lagUs)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"p_id", $"user_id", $"p_ts", $"v_id", $"v_ts",
        ($"vus" - $"pus").as("dt_us"))
  }

  val ops: Seq[Op] = Seq(
    // DuckDB has a native ASOF JOIN — the strongest possible oracle for
    // the composed Spark spelling. events.ts ties at µs precision do not
    // occur in the testdata (asserted while designing; both engines
    // compare at µs once DuckDB casts TIMESTAMP_NS → TIMESTAMP).
    Op("ev_asof_join", asof, Some(
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |     v AS (SELECT * FROM events WHERE event_type = 'view')
        |SELECT p.event_id AS p_id, p.user_id AS user_id,
        |       CAST(p.ts AS TIMESTAMP) AS p_ts,
        |       v.event_id AS v_id, CAST(v.ts AS TIMESTAMP) AS v_ts,
        |       v.value AS v_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.ts < p.ts""".stripMargin)),

    // the naive truth: all in-range pairs ranked per purchase under the
    // same total order; epoch_us keeps Δt exact integer µs
    Op("j13_nearest_event", nearest, Some(
      """WITH p AS (SELECT event_id AS p_id, user_id,
        |             CAST(ts AS TIMESTAMP) AS p_ts FROM events
        |           WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id,
        |        CAST(ts AS TIMESTAMP) AS v_ts FROM events
        |      WHERE event_type = 'view'),
        |c AS (
        |  SELECT p.p_id, p.user_id, p.p_ts, v.v_id, v.v_ts,
        |         epoch_us(v.v_ts) - epoch_us(p.p_ts) AS dt_us,
        |         ROW_NUMBER() OVER (PARTITION BY p.p_id
        |           ORDER BY abs(epoch_us(v.v_ts) - epoch_us(p.p_ts)),
        |                    v.v_ts, v.v_id) AS rk
        |  FROM p JOIN v ON v.user_id = p.user_id
        |   AND abs(epoch_us(v.v_ts) - epoch_us(p.p_ts)) <= 43200000000)
        |SELECT p_id, user_id, p_ts, v_id, v_ts, CAST(dt_us AS BIGINT) AS dt_us
        |FROM c WHERE rk = 1""".stripMargin)),

    Op("ev_range_join", range, Some(
      """SELECT p.event_id AS p_id, p.user_id AS user_id,
        |       CAST(p.ts AS TIMESTAMP) AS p_ts,
        |       v.event_id AS v_id, CAST(v.ts AS TIMESTAMP) AS v_ts,
        |       v.value AS v_value
        |FROM events p JOIN events v
        |  ON v.user_id = p.user_id
        | AND CAST(v.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '12 hours'
        | AND CAST(v.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'""".stripMargin)))
}
