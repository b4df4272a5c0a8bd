package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Op, Tables}

/** Z-order (Morton-curve) data layout — the 100 TB data-SKIPPING lever
  * the scan family (S1/S9) reads through: writing files clustered on an
  * interleaved-bit curve over two predicate dimensions makes per-file
  * (and per-row-group) min/max stats selective on BOTH dims at once,
  * where a linear sort is selective on one and useless on the other.
  * This is what Delta/Iceberg OPTIMIZE ZORDER does; here it is a plain
  * deterministic column + repartitionByRange write, nothing
  * format-specific. The reference's warehouse writes (RF/
  * randomforest_churn.scala:225 saveAsTable) have no layout control at
  * all — this is the scale-native upgrade.
  *
  * DIMENSION NORMALIZATION is the correctness-of-purpose core: each dim
  * is min/max-scaled to a full 16-bit range BEFORE interleaving
  * (integer-exact: floor((v−min)·65535/(max−min))). Skipping this —
  * interleaving raw values — silently degrades to a one-dim sort
  * whenever the dims use different bit widths (a 12-bit day range next
  * to an 8-bit key range leaves the top interleaved bits all-day: the
  * curve IS a day sort and key pruning dies). The min/max pair is a
  * 1-row broadcast stat attach (the BM25/stat-attach house pattern).
  *
  * The z-value itself is pure 64-bit integer bit math (the standard
  * shift-or-mask spread), identical in Spark and DuckDB — so the
  * mapping is oracle-checked exactly, and ZorderSpec measures the
  * SKIPPING: per-file min/max overlap counts under single-dim
  * predicates for a z-order vs a linear layout.
  */
object Layout extends graft.Registry {

  /** Spread the low 16 bits of `x` to even bit positions (Morton). */
  def spread16(x: Column): Column = {
    val a = x.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Interleave two 16-bit dims: a on even bits, b on odd. */
  def zvalue(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Min/max scale to [0, 65535], integer-exact; degenerate range → 0
    * (the f14_quantize guard — 0/0 NaN diverges across engines). */
  def scale16(v: Column, lo: Column, hi: Column): Column =
    when(hi > lo, floor(((v - lo) * 65535L) / (hi - lo)).cast("long"))
      .otherwise(0L)

  // ---- k8_zorder: the layout column itself — orders z-ordered on
  // (o_custkey, order day). One scan + a 1-row stat broadcast; the
  // z-value is a per-row expression (zero extra shuffles — the WRITE
  // adds one range partitioning, which replaces the write's natural
  // round-robin, not an extra pass). At 100 TB the same column feeds
  // repartitionByRange(nFiles, zval) + write, giving every file a tight
  // z-range ⇒ tight min/max boxes on both dims.
  private val zorder: Q = (spark, dir) => {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey",
        datediff($"o_orderdate".cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("day"))
    val stats = o.agg(min($"o_custkey").as("c_lo"), max($"o_custkey").as("c_hi"),
      min($"day").as("d_lo"), max($"day").as("d_hi"))
    o.crossJoin(broadcast(stats))
      .select($"o_orderkey",
        scale16($"o_custkey", $"c_lo", $"c_hi").as("cust16"),
        scale16($"day", $"d_lo", $"d_hi").as("day16"))
      .withColumn("zval", zvalue($"cust16", $"day16"))
  }

  // ---- k9_shard_manifest: the training-shard writer's manifest — the
  // last mile of a data pipeline before the dataloader. Every doc is
  // assigned a shard by hash (deterministic, partition-layout-invariant
  // — the assignment is a pure function of doc_id, so re-ingests and
  // re-partitions reproduce the identical sharding), and the manifest
  // row per shard carries the audit fields a loader checks before
  // training: doc count, byte mass, head/tail doc (the shard's hash
  // range endpoints) and an order-independent content checksum.
  //
  // Scale shape (the op's whole point at 100 TB): there is NO global
  // sort and NO window — shard_id is a map-side mod, and the manifest
  // is ONE hash-partitioned aggregate whose min/max/sum/count all
  // partial-aggregate map-side, so the exchange carries ≤ |shards|
  // rows per task. The head/tail docs come from min/max over a
  // FIXED-WIDTH key string (zero-padded hash then doc_id) — a total
  // order under plain string comparison, which buys argmin-with-
  // tiebreak semantics from a partial-aggregable min instead of a
  // row_number window (48-bit hash ties would otherwise make min_by
  // nondeterministic, the o6 quantized-key lesson in string form).
  // Shard count is CORPUS-ADAPTIVE (~64 docs/shard, clamped [4, 4096]
  // — the gateBits lesson): a fixed count either starves small corpora
  // or makes 100 TB shards unboundedly fat; the count rides a 1-row
  // broadcast stat attach, never a driver collect. The checksum folds
  // each doc's 48-bit hash into a DECIMAL(38,0) sum reduced mod 2^48 —
  // exact at any corpus size int64 can count (the m13 headroom lesson),
  // order-independent so partial aggregation is free.
  private val shardManifest: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"n_chars",
        graft.llm.TextOps.hash48(
          concat(lit("sh:"), $"doc_id".cast("string"))).as("h"))
    val st = docs.agg(count(lit(1)).as("n"))
      .select(least(greatest(
        graft.util.Cols.floorDiv($"n", lit(64)).cast("long"), lit(4L)),
        lit(4096L)).as("s"))
    docs.crossJoin(broadcast(st))
      .select($"doc_id", $"n_chars", $"h", pmod($"h", $"s").cast("long").as("shard_id"),
        concat(lpad($"h".cast("string"), 15, "0"),
               lpad($"doc_id".cast("string"), 19, "0")).as("k"))
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("n_chars"),
        substring(min($"k"), 16, 19).cast("long").as("head_doc_id"),
        substring(max($"k"), 16, 19).cast("long").as("tail_doc_id"),
        (sum($"h".cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          % lit(281474976710656L)).cast("long").as("checksum48"))
  }

  private def spreadSql(x: String): String = {
    val a = s"($x & 65535)"
    val b = s"(($a | ($a << 8)) & 16711935)"
    val c = s"(($b | ($b << 4)) & 252645135)"
    val d = s"(($c | ($c << 2)) & 858993459)"
    s"(($d | ($d << 1)) & 1431655765)"
  }

  val ops: Seq[Op] = Seq(
    Op("k8_zorder", zorder, Some {
      val c16 = "CASE WHEN c_hi > c_lo THEN CAST(floor(((o_custkey - c_lo) * 65535) / (c_hi - c_lo)) AS BIGINT) ELSE 0 END"
      val d16 = "CASE WHEN d_hi > d_lo THEN CAST(floor(((day - d_lo) * 65535) / (d_hi - d_lo)) AS BIGINT) ELSE 0 END"
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey,
         |         CAST(date_diff('day', DATE '1992-01-01',
         |           CAST(o_orderdate AS DATE)) AS BIGINT) AS day
         |  FROM orders),
         |s AS (SELECT MIN(o_custkey) AS c_lo, MAX(o_custkey) AS c_hi,
         |             MIN(day) AS d_lo, MAX(day) AS d_hi FROM o),
         |v AS (SELECT o_orderkey, $c16 AS cust16, $d16 AS day16 FROM o, s)
         |SELECT o_orderkey, cust16, day16,
         |       ${spreadSql("cust16")} | (${spreadSql("day16")} << 1) AS zval
         |FROM v""".stripMargin
    }),
    // Mirrors shardManifest stage for stage: same hash, same adaptive
    // shard count, same fixed-width key-string total order, same mod-2^48
    // checksum fold. `//` is DuckDB's floor division (positive operands
    // here, matching Cols.floorDiv); count(*)/sum are cast to BIGINT so
    // the dtype gate sees the Spark longs.
    Op("k9_shard_manifest", shardManifest, Some {
      val h = graft.llm.TextOps.hash48Sql("'sh:' || CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (SELECT doc_id, n_chars, $h AS h FROM documents),
         |s AS (SELECT least(greatest(count(*) // 64, 4), 4096) AS s FROM d),
         |k AS (SELECT doc_id, n_chars, h, h % s.s AS shard_id,
         |        lpad(CAST(h AS VARCHAR), 15, '0')
         |          || lpad(CAST(doc_id AS VARCHAR), 19, '0') AS kk
         |      FROM d, s)
         |SELECT CAST(shard_id AS BIGINT) AS shard_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |       CAST(substr(min(kk), 16, 19) AS BIGINT) AS head_doc_id,
         |       CAST(substr(max(kk), 16, 19) AS BIGINT) AS tail_doc_id,
         |       CAST(sum(CAST(h AS DECIMAL(38,0))) % 281474976710656
         |         AS BIGINT) AS checksum48
         |FROM k GROUP BY 1""".stripMargin
    }))
}
