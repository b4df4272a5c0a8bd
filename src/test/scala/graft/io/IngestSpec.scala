package graft.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Ingest robustness — the two properties a 100 TB feed pipeline needs
  * from its scan layer beyond happy-path parsing:
  *
  *  - corrupt-record tolerance: one bad line in a billion must neither
  *    kill the job (FAILFAST default) nor vanish silently; PERMISSIVE +
  *    columnNameOfCorruptRecord quarantines it as data, auditable and
  *    re-processable downstream.
  *  - row provenance: `_metadata.file_path` attaches lineage to every
  *    row at scan time (no join, no extra pass) — which shard produced
  *    a bad training example is a question you must be able to answer.
  */
class IngestSpec extends SparkSpec {

  test("PERMISSIVE JSON scan quarantines corrupt lines; DROPMALFORMED drops them") {
    import spark.implicits._
    val d = Files.createTempDirectory("ingest-corrupt").toString
    Files.write(Paths.get(s"$d/part-0.json"), java.util.Arrays.asList(
      """{"id": 1, "v": 10.5}""",
      """{"id": 2, "v": "NOT A NUMBER"}""",
      """{"id": 3 BROKEN JSON""",
      """{"id": 4, "v": 2.25}"""))

    val schema = "id BIGINT, v DOUBLE, _bad STRING"
    val got = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(s"$d/part-0.json")
      .select($"id", $"v", $"_bad".isNotNull.as("quarantined"))
      .as[(Option[Long], Option[Double], Boolean)].collect().toSeq
      .sortBy(_._1.getOrElse(Long.MaxValue))
    // good rows parse clean; type-mismatch and broken-syntax rows are
    // quarantined with their raw text (fields null, _bad populated)
    assert(got.count(!_._3) == 2)
    assert(got.filter(!_._3).flatMap(_._2) == Seq(10.5, 2.25))
    assert(got.count(_._3) == 2)

    // DROPMALFORMED gotcha, pinned because it WILL bite a pipeline:
    // whether a row is "malformed" is decided against the columns the
    // query actually requires. A bare count() parses no fields → only
    // the syntax-broken line drops (3 survive); projecting `v` makes
    // the type-mismatch row malformed too (2 survive). Row counts under
    // DROPMALFORMED are projection-dependent — audit-grade pipelines
    // must use PERMISSIVE + quarantine column instead (above).
    def malformedRead = spark.read
      .schema("id BIGINT, v DOUBLE")
      .option("mode", "DROPMALFORMED")
      .json(s"$d/part-0.json")
    assert(malformedRead.count() == 3L)
    val kept = malformedRead
      .select($"id", $"v").as[(Option[Long], Option[Double])]
      .collect().toSeq.sortBy(_._1)
    assert(kept == Seq((Some(1L), Some(10.5)), (Some(4L), Some(2.25))))
  }

  test("small-files compaction: range layout yields fewer, key-disjoint files") {
    import spark.implicits._
    // Ingest maintenance at 100 TB: streaming sinks leave thousands of
    // tiny files (listing + task overhead dominate); compaction rewrites
    // them into few target-size files. repartitionByRange gives each
    // output file a DISJOINT key range, so parquet min/max footer stats
    // prune files on key predicates — a free coarse index.
    val d = Files.createTempDirectory("compact").toString
    (0L until 1000L).toDF("id").repartition(20)
      .write.parquet(s"$d/small")
    assert(new java.io.File(s"$d/small").listFiles()
      .count(_.getName.endsWith(".parquet")) == 20)

    spark.read.parquet(s"$d/small")
      .repartitionByRange(2, $"id")
      .sortWithinPartitions($"id")
      .write.parquet(s"$d/compact")

    val files = new java.io.File(s"$d/compact").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length == 2)
    // identical data, and per-file key ranges must not overlap
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"id"), max($"id")).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array((_, hi1), (lo2, _)) => hi1 < lo2
      case _ => true
    })
    val total = spark.read.parquet(s"$d/compact").count()
    assert(total == 1000L)
  }

  test("_metadata.file_path attaches per-row provenance at scan time") {
    import spark.implicits._
    val d = Files.createTempDirectory("ingest-prov").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$d/f1.parquet")
    Seq((2L, "b")).toDF("id", "s").write.parquet(s"$d/f2.parquet")

    val rows = spark.read.parquet(s"$d/f1.parquet", s"$d/f2.parquet")
      .select($"id", col("_metadata.file_path").as("src"))
      .as[(Long, String)].collect().toMap
    assert(rows(1L).contains("f1.parquet"))
    assert(rows(2L).contains("f2.parquet"))
  }

  test("k10 dynamic overwrite replaces ONLY the restated partition") {
    import spark.implicits._
    val orders = Seq(
      (1L, 10L, 100.00, "F"), (2L, 11L, 50.00, "F"),
      (3L, 12L, 70.00, "O"), (4L, 13L, 30.00, "P"))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    val d = Files.createTempDirectory("k10-spec").toString
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("k10_dynamic_overwrite")(spark, d)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // F halved (10000→5000, 5000→2500); O and P SURVIVE the second
    // write untouched — static-mode semantics would have deleted them
    assert(out == Map("F" -> ((2L, 7500L)), "O" -> ((1L, 7000L)),
      "P" -> ((1L, 3000L))))
    // the dynamic mode rides a per-write option — the SESSION conf must
    // never have been flipped (a leaked session-global dynamic mode
    // would silently change every later overwrite-write's semantics)
    assert(!spark.conf.get("spark.sql.sources.partitionOverwriteMode",
      "STATIC").equalsIgnoreCase("dynamic"))
  }

  test("s15 quarantine counts corrupt lines and keeps them out of the good sum") {
    import spark.implicits._
    // keys 13 and 26 are corrupted (truncated JSON); 1, 2 survive
    val orders = Seq((1L, 10.00), (2L, 20.00), (13L, 40.00), (26L, 80.00))
      .toDF("o_orderkey", "o_totalprice")
    val d = Files.createTempDirectory("s15-spec").toString
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("s15_json_quarantine")(spark, d)
      .as[(Long, Long, Long)].collect().head
    assert(out == ((4L, 2L, 3000L))) // 4 rows, 2 quarantined, 1000+2000 cents
  }

  test("s13 writes genuine ORC files (magic bytes) and round-trips typed rows") {
    import spark.implicits._
    val d = Files.createTempDirectory("orc-rt").toString
    val src = Seq((7L, "x", 1.25), (8L, "y", -0.5))
      .toDF("id", "s", "v")
    src.write.mode("overwrite").orc(s"$d/t_orc")
    // ORC file tail: ... 'O' 'R' 'C' <postscript-length byte>
    val f = new java.io.File(s"$d/t_orc").listFiles()
      .filter(_.getName.endsWith(".orc")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    assert(new String(
      bytes.slice(bytes.length - 4, bytes.length - 1), "US-ASCII") == "ORC",
      s"${f.getName} missing ORC tail magic")
    val back = spark.read.schema("id BIGINT, s STRING, v DOUBLE")
      .orc(s"$d/t_orc").as[(Long, String, Double)].collect().toSet
    assert(back == Set((7L, "x", 1.25), (8L, "y", -0.5)))
  }

  test("s14 writes RFC-4180 doubled quotes on disk and round-trips the quirk fields") {
    import spark.implicits._
    // one planted order whose note will carry a comma, a quote, and a
    // newline — assert the physical file doubles the quote (a non-Spark
    // RFC-4180 consumer can parse it) and the read-back is byte-exact
    val d = Files.createTempDirectory("s14-spec").toString
    Seq((1L, "HIGH", "F"), (2L, "LOW", "O"))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("s14_csv_quirks")(spark, d)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "HIGH, \"q\"\nF"), (2L, "LOW, \"q\"\nO")))
    // find the written csv in the process scratch and inspect raw bytes
    val csvDir = Paths.get(graft.util.Scratch.dir("csvq"), "quirks")
    val part = Files.list(csvDir).iterator().asScala
      .find(_.getFileName.toString.endsWith(".csv")).get
    val raw = new String(Files.readAllBytes(part), "UTF-8")
    assert(raw.contains("\"\"q\"\""), s"expected doubled quotes in:\n$raw")
    assert(!raw.contains("\\\""), "backslash-escaped quotes leaked into the file")
  }

  test("k9 compaction: 64 fragments collapse to ceil(n/20k) files with content intact") {
    import spark.implicits._
    val n = 500
    val d = Files.createTempDirectory("k9-spec").toString
    (1 to n).map(k => (k.toLong, k * 1.00))
      .toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    val Seq((nRows, sumCents, nKeys, before, after)) =
      SparkEntry.queries("k9_compaction")(spark, d)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(nRows == n && nKeys == n)
    assert(sumCents == (1 to n).map(_ * 100L).sum)
    assert(before == 64L, s"expected 64 fragment files, got $before")
    assert(after == 1L, s"500 rows must compact to one file, got $after")
  }
}
