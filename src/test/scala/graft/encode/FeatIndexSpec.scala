package graft.encode

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** S4/S5/K6 regression against the reference's own 19-row sample
  * fixtures (LR/data/churn_train_sample.{csv,svm} + the 186-entry
  * churn_featindex.txt). The fixtures are read from the read-only
  * reference checkout at test time; those three tests cancel (assume)
  * if it is absent, and their reference-free twins check the same codec
  * on synthetic fixtures. */
class FeatIndexSpec extends SparkSpec {

  private val RefData = "/root/reference/LR/data"
  private def refAvailable = Files.exists(Paths.get(s"$RefData/churn_featindex.txt"))

  test("reference featindex dictionary parses to 186 entries with per-field other slots") {
    assume(refAvailable)
    val dict = FeatIndex.loadDictFile(s"$RefData/churn_featindex.txt")
    assert(dict.size == 186)
    assert(dict("0:other") == 0)
    // every field has an `other` slot
    val fields = dict.keys.map(_.split(":")(0).toInt).toSet
    assert(fields == (0 until 36).toSet)
    fields.foreach(f => assert(dict.contains(s"$f:other")))
  }

  test("encoding the reference sample CSV reproduces its sample SVM byte-for-byte") {
    assume(refAvailable)
    import spark.implicits._
    val dict = FeatIndex.loadDictFile(s"$RefData/churn_featindex.txt")
    // libsvm_transform.py:14-23 — drop first col (USR_NUM_ID) and last
    // (label) from each CSV row; our encode does the same via field list.
    val csv = spark.read.option("header", "true").csv(s"$RefData/churn_train_sample.csv")
    val fields = csv.columns.drop(1).dropRight(1).toSeq // 36 feature cols
    val encoded = FeatIndex.encode(csv, fields, "label", dict)
    val lines = FeatIndex.toLibsvmLines(encoded).as[String].collect()

    // NOTE: the reference's sample files are cut at different lengths —
    // the CSV has 19 data rows which match SVM lines 1-19 exactly; the
    // SVM carries an orphan 20th line with no CSV counterpart (verified
    // by replaying libsvm_transform.py over the CSV). Compare aligned.
    val expected = scala.io.Source.fromFile(s"$RefData/churn_train_sample.svm", "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toSeq
    assert(lines.length == 19 && expected.length == 20)
    lines.zip(expected.take(19)).foreach { case (got, want) => assert(got == want) }
  }

  test("dense scatter (S5) puts exactly the encoded ones in a 186-dim vector") {
    assume(refAvailable)
    import spark.implicits._
    val dict = FeatIndex.loadDictFile(s"$RefData/churn_featindex.txt")
    val csv = spark.read.option("header", "true").csv(s"$RefData/churn_train_sample.csv")
    val fields = csv.columns.drop(1).dropRight(1).toSeq
    val encoded = FeatIndex.encode(csv, fields, "label", dict)
    val dense = FeatIndex.toDenseVector(encoded, 186)
    val row = dense.select($"indices", $"features").head()
    val idx = row.getSeq[Long](0).toSet
    val vec = row.getAs[org.apache.spark.ml.linalg.Vector](1)
    assert(vec.size == 186)
    (0 until 186).foreach { d =>
      assert(vec(d) == (if (idx.contains(d.toLong)) 1.0 else 0.0))
    }
  }

  // Reference-free twins of the three tests above: a synthetic
  // dictionary in the same `i:value idx` format (three fields, each with
  // its `other` slot) and a synthetic CSV laid out like the reference
  // sample (id column first, label last).
  private def synthetic(): (String, String) = {
    val d = Files.createTempDirectory("featindex-synth")
    val dict = d.resolve("featindex.txt")
    Files.writeString(dict, Seq("0:other 0", "0:a 1", "0:b 2", "1:other 3",
      "1:x 4", "2:other 5", "2:p 6", "2:q 7").mkString("", "\n", "\n"))
    val csv = d.resolve("sample.csv")
    Files.writeString(csv, Seq("USR_NUM_ID,f0,f1,f2,label", "u1,a,x,p,1",
      "u2,b,zz,q,0", "u3,zz,x,zz,1").mkString("", "\n", "\n"))
    (dict.toString, csv.toString)
  }

  private def syntheticEncoded() = {
    val (dictPath, csvPath) = synthetic()
    val dict = FeatIndex.loadDictFile(dictPath)
    val csv = spark.read.option("header", "true").csv(csvPath)
    val fields = csv.columns.drop(1).dropRight(1).toSeq
    FeatIndex.encode(csv, fields, "label", dict)
  }

  test("synthetic featindex dictionary parses with per-field other slots") {
    val dict = FeatIndex.loadDictFile(synthetic()._1)
    assert(dict.size == 8)
    assert(dict("0:other") == 0 && dict("1:other") == 3 && dict("2:other") == 5)
    val fields = dict.keys.map(_.split(":")(0).toInt).toSet
    assert(fields == Set(0, 1, 2))
    fields.foreach(f => assert(dict.contains(s"$f:other")))
  }

  test("encoding a synthetic CSV reproduces hand-written zero-based lines byte-for-byte") {
    import spark.implicits._
    val lines = FeatIndex.toLibsvmLines(syntheticEncoded()).as[String].collect()
    assert(lines.toSeq == Seq("1 1:1 4:1 6:1", "0 2:1 3:1 7:1", "1 0:1 4:1 5:1"))
  }

  test("dense scatter (S5) puts exactly the encoded ones in a synthetic 8-dim vector") {
    val rows = FeatIndex.toDenseVector(syntheticEncoded(), 8)
      .select("features").collect()
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](0).toArray.toSeq)
    def hot(idx: Int*): Seq[Double] =
      (0 until 8).map(d => if (idx.contains(d)) 1.0 else 0.0)
    assert(rows.toSeq == Seq(hot(1, 4, 6), hot(2, 3, 7), hot(0, 4, 5)))
  }

  test("unseen value falls back to the field's other slot") {
    import spark.implicits._
    val dict = Map("0:other" -> 0, "0:x" -> 1, "1:other" -> 2, "1:y" -> 3)
    val df = Seq(("zzz", "y", 1), ("x", "zzz", 0)).toDF("f0", "f1", "label")
    val out = FeatIndex.encode(df, Seq("f0", "f1"), "label", dict)
      .select($"indices").as[Seq[Long]].collect()
    assert(out.toSet == Set(Seq(0L, 3L), Seq(1L, 2L)))
  }

  test("broadcast-join encode path matches the literal path on a 100k-entry dict") {
    import spark.implicits._
    // Synthetic big dictionary: field 0 has 100k values v0..v99999 at
    // global indices 1.., field 1 tiny. Above the threshold encode must
    // switch to per-field broadcast joins; rows must be IDENTICAL to the
    // literal path (forced by a huge threshold).
    val bigDict: Map[String, Int] =
      (Map("0:other" -> 0) ++
        (0 until 100000).map(v => s"0:v$v" -> (v + 1)).toMap ++
        Map("1:other" -> 100001, "1:y" -> 100002))
    val df = Seq(("v0", "y", 1), ("v99999", "zzz", 0), ("unseen", "y", 1))
      .toDF("f0", "f1", "label")
    val viaJoin = FeatIndex.encode(df, Seq("f0", "f1"), "label", bigDict)
    val viaLiteral = FeatIndex.encode(df, Seq("f0", "f1"), "label", bigDict,
      broadcastThreshold = Int.MaxValue)
    // the default threshold really routed the big dict to the join path
    assert(bigDict.size > FeatIndex.EncodeBroadcastThreshold)
    val a = viaJoin.select($"label", $"indices").as[(Double, Seq[Int])].collect().toSet
    val b = viaLiteral.select($"label", $"indices").as[(Double, Seq[Int])].collect().toSet
    assert(a == b)
    assert(a == Set((1.0, Seq(1, 100002)), (0.0, Seq(100000, 100001)),
      (1.0, Seq(0, 100002))))
  }

  test("libsvm write is distributed: one part file per input partition") {
    import spark.implicits._
    val lines = spark.range(0, 1000, 1, 8)
      .select(concat($"id".cast("string"), lit(" 1:1")).as("value"))
    val tmp = Files.createTempDirectory("libsvm-parts").toString
    FeatIndex.writeLibsvmText(lines, s"$tmp/multi")
    def parts(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.startsWith("part-"))
    assert(parts(s"$tmp/multi") == 8)  // one file per input partition
    // distributed parts glob back to the same content
    assert(spark.read.text(s"$tmp/multi").count() == 1000L)
  }

  test("one-based write round-trips through Spark's libsvm source") {
    import spark.implicits._
    val dict = Map("0:other" -> 0, "0:a" -> 1, "0:b" -> 2, "1:other" -> 3, "1:c" -> 4)
    val df = Seq(("a", "c", 1), ("b", "q", 0)).toDF("f0", "f1", "label")
    val encoded = FeatIndex.encode(df, Seq("f0", "f1"), "label", dict)
    val tmp = Files.createTempDirectory("libsvm-rt").toString
    FeatIndex.writeLibsvmText(FeatIndex.toLibsvmLines(encoded, oneBased = true), s"$tmp/d.svm")
    val back = FeatIndex.readLibsvm(spark, s"$tmp/d.svm", dict.size)
      .select($"label", $"features").collect()
    val got = back.map { r =>
      (r.getDouble(0),
       r.getAs[org.apache.spark.ml.linalg.Vector](1).toSparse.indices.toSeq)
    }.toSet
    assert(got == Set((1.0, Seq(1, 4)), (0.0, Seq(2, 3))))
  }
}
