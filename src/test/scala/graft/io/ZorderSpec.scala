package graft.io

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Z-order layout: bit-math laws for the Morton curve, and the measured
  * data-skipping claim — per-file min/max boxes from a z-ordered write
  * prune on BOTH dimensions where a linear sort prunes on one. */
class ZorderSpec extends SparkSpec {

  test("morton bit math: interleave is exact and order-embedding on the grid") {
    import spark.implicits._
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L),
      (65535L, 0L), (0L, 65535L), (65535L, 65535L), (255L, 256L))
      .toDF("a", "b")
      .select(Layout.zvalue($"a", $"b").as("z"))
      .as[Long].collect()
    // hand-computed Morton codes: z(a even bits, b odd bits)
    assert(out.toSeq == Seq(0L, 1L, 2L, 3L,
      0x55555555L, 0xAAAAAAAAL, 0xFFFFFFFFL,
      // a=255 → low 8 even bits; b=256 → bit 8 → z bit 17
      0x5555L | (1L << 17)))
  }

  /** Write the same orders under two layouts — linear custkey sort vs
    * z-order — then measure, per layout, how many FILES a custkey-band
    * predicate and a date-band predicate would have to read, using
    * exactly the stats a reader's skipping uses (per-file min/max). */
  test("skipping: z-order prunes both dims; linear sort leaves one unprunable") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val zd = SparkEntry.queries("k8_zorder")(spark, dir)
    val orders = graft.Tables.load(spark, dir, "orders")
      .join(zd, "o_orderkey")
      .select($"o_orderkey", $"o_custkey",
        datediff($"o_orderdate".cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("day"),
        $"cust16", $"day16", $"zval")
    val nFiles = 16

    def writeLayout(sortCol: String): DataFrame = {
      val out = Files.createTempDirectory(s"zorder-$sortCol").toString
      orders.repartitionByRange(nFiles, col(sortCol))
        .write.mode("overwrite").parquet(out)
      // the reader-side stats: per-file min/max on both predicate dims
      spark.read.parquet(out)
        .groupBy(input_file_name().as("f"))
        .agg(min($"o_custkey").as("c_lo"), max($"o_custkey").as("c_hi"),
          min($"day").as("d_lo"), max($"day").as("d_hi"))
    }

    // predicate bands: the middle eighth of each dim's range
    val (cLo, cHi, dLo, dHi) = orders
      .agg(min($"o_custkey"), max($"o_custkey"), min($"day"), max($"day"))
      .as[(Long, Long, Long, Long)].head()
    def band(lo: Long, hi: Long): (Long, Long) = {
      val w = hi - lo; (lo + w * 7 / 16, lo + w * 9 / 16)
    }
    val (cb1, cb2) = band(cLo, cHi)
    val (db1, db2) = band(dLo, dHi)

    def overlaps(stats: DataFrame): (Long, Long) = {
      val cust = stats.filter($"c_hi" >= cb1 && $"c_lo" <= cb2).count()
      val day = stats.filter($"d_hi" >= db1 && $"d_lo" <= db2).count()
      (cust, day)
    }

    val (linCust, linDay) = overlaps(writeLayout("o_custkey"))
    val (zCust, zDay) = overlaps(writeLayout("zval"))

    // linear custkey sort: razor-sharp on custkey…
    assert(linCust <= 3, s"linear layout should prune custkey: $linCust")
    // …and USELESS on date: every file spans the full date range
    assert(linDay == nFiles, s"linear layout cannot prune dates: $linDay")
    // z-order: BOTH dims prune (strictly better than the linear
    // layout's worst dim, the property that matters for mixed workloads)
    assert(zCust < nFiles && zDay < nFiles,
      s"z-order must prune both dims: cust=$zCust day=$zDay")
    assert(math.max(zCust, zDay) < math.max(linCust, linDay),
      s"z-order worst-dim ($zCust, $zDay) must beat linear worst-dim " +
        s"($linCust, $linDay)")
  }
}
