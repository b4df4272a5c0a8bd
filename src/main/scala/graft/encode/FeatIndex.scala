package graft.encode

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Op, Tables}

/** The reference's featindex dictionary codec + LibSVM I/O
  * (S4/S5/K6; FM/fm_libsvm/libsvm_transform.py:1-24 and the 186-entry
  * LR/data/churn_featindex.txt).
  *
  * Dictionary format: text lines `fieldIdx:rawValue globalIndex`, one
  * global one-hot slot per (field, value); every field also carries an
  * `other` slot (the reference dictionary reserves slot 0 of each field
  * for it). Encoding a row = for each field i with value v, look up
  * `i:v` → global index, emit `label idx:1 ...` with indices ascending.
  *
  * Spark-first shape: the dictionary is driver metadata (the reference
  * loads it into a Python dict, libsvm_transform.py:1-8); here it is
  * either BUILT distributedly ([[buildDict]], one pass + tiny window) or
  * loaded from the text format, then applied as a broadcast literal map
  * lookup — a map-side-only encode, no shuffle, fully codegen.
  */
object FeatIndex extends graft.Registry {

  /** Build a featindex dictionary from data: per field, slot `other`
    * first then observed values lexically ascending; global indices run
    * across fields in field order (matching the reference layout
    * `0:other 0, 0:v.. 1-5, 1:other 6, ...`).
    *
    * Scale shape: the per-field rank is a PARTITIONED window
    * (partitionBy field_idx) — a high-cardinality field ranks inside its
    * own partition instead of serializing the whole dictionary through
    * one task (the round-2 global orderBy). The cross-field offsets come
    * from a #fields-row aggregate: that tiny frame is the only place a
    * global-order window runs, and broadcasting it back keeps the join
    * shuffle-free. */
  def buildDict(df: DataFrame, fields: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val perField = fields.zipWithIndex.map { case (f, i) =>
      df.select(lit(i).as("field_idx"), col(f).cast("string").as("raw_value"))
        .distinct()
    }
    val others = fields.indices.map(i =>
      Seq((i, "other")).toDF("field_idx", "raw_value"))
    val all = (perField ++ others).reduce(_ unionAll _)
    // `other` sorts first within its field; rank is per-field.
    val perFieldW = Window.partitionBy($"field_idx").orderBy(
      when($"raw_value" === "other", 0).otherwise(1),
      $"raw_value")
    val local = all.withColumn("local_idx", row_number().over(perFieldW) - 1)
    val offsets = all.groupBy($"field_idx").agg(count(lit(1)).as("n"))
      .withColumn("offset",
        sum($"n").over(Window.orderBy($"field_idx")) - $"n")
      .select($"field_idx", $"offset")
    local.join(broadcast(offsets), Seq("field_idx"))
      .select($"field_idx", $"raw_value",
        ($"local_idx" + $"offset").cast("long").as("global_idx"))
  }

  /** Parse the reference's dictionary text format (`i:value idx`). */
  def loadDictFile(path: String): Map[String, Int] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val parts = line.split("\\s+")
        parts(0) -> parts(1).toInt
      }.toMap

  /** Past this many dictionary entries, [[encode]] switches from the
    * plan-embedded literal map to per-field broadcast joins: a literal
    * map is interpolated into the serialized plan (and into every task
    * binary), which is fine at the reference's 186 entries but would
    * blow up plan serialization at a million. Broadcast blocks ship
    * once per executor instead. */
  val EncodeBroadcastThreshold: Int = 10000

  /** Encode: per field, look up `i:v` in the dict; unseen values fall
    * back to the field's `other` slot — the exact lookup of
    * libsvm_transform.py:18-20 plus the documented fallback the
    * reference dictionary reserves slots for.
    *
    * Small dictionaries (≤ [[EncodeBroadcastThreshold]]) are applied as
    * a codegen'd literal-map lookup — map-side only, zero shuffle.
    * Larger ones switch to one BROADCAST hash join per field on
    * raw_value: still map-side only on the fact side (no fact shuffle,
    * no sort), but the dictionary travels as a broadcast variable
    * instead of inside the plan. Both paths produce identical rows
    * (asserted in FeatIndexSpec on a synthetic 100k-entry dict). */
  def encode(df: DataFrame, fields: Seq[String], labelCol: String,
             dict: Map[String, Int],
             broadcastThreshold: Int = EncodeBroadcastThreshold): DataFrame =
    if (dict.size <= broadcastThreshold) {
      val dictCol = typedlit(dict)
      val idxCols: Seq[Column] = fields.zipWithIndex.map { case (f, i) =>
        coalesce(
          element_at(dictCol, concat(lit(s"$i:"), col(f).cast("string"))),
          element_at(dictCol, lit(s"$i:other")))
      }
      df.select(
        col(labelCol).cast("double").as("label"),
        array(idxCols: _*).as("indices"))
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      // (field_idx, raw_value, idx) rows; the per-field `other` slots
      // stay driver-side scalars (fields.size of them) for the fallback.
      // Malformed keys (no "field:" prefix) are unreachable in the
      // literal path's lookups, so they are skipped here too; a field
      // with no `other` slot falls back to a NULL index, exactly as
      // element_at(map, "i:other") does on the literal path.
      val entries = dict.toSeq.flatMap { case (k, v) =>
        val c = k.indexOf(':')
        if (c <= 0) None
        else k.substring(0, c).toIntOption.map(fi => (fi, k.substring(c + 1), v))
      }
      val dictDf = entries.toDF("field_idx", "raw_value", "idx")
      val others: Seq[Column] = fields.indices.map(i =>
        dict.get(s"$i:other").map(v => lit(v)).getOrElse(lit(null).cast("int")))
      val joined = fields.zipWithIndex.foldLeft(df) { case (acc, (f, i)) =>
        val d = dictDf.filter($"field_idx" === i)
          .select($"raw_value".as(s"__k$i"), $"idx".as(s"__idx$i"))
        acc.join(broadcast(d), acc(f).cast("string") === col(s"__k$i"), "left_outer")
      }
      joined.select(
        col(labelCol).cast("double").as("label"),
        array(fields.indices.map(i =>
          coalesce(col(s"__idx$i"), others(i))): _*).as("indices"))
    }

  /** K6: LibSVM text lines (`label idx:1 idx:1 ...`, label as int when
    * integral). oneBased=false reproduces the reference's zero-based
    * files (its loader passes zero_based=True); oneBased=true is the
    * LibSVM on-disk standard that Spark's `libsvm` source expects (the
    * source subtracts 1 at parse time). */
  def toLibsvmLines(encoded: DataFrame, oneBased: Boolean = false): DataFrame = {
    val shift = if (oneBased) 1 else 0
    encoded.select(
      concat(
        when(col("label") === col("label").cast("long").cast("double"),
          col("label").cast("long").cast("string"))
          .otherwise(col("label").cast("string")),
        lit(" "),
        concat_ws(" ",
          transform(col("indices"),
            i => concat((i + shift).cast("string"), lit(":1")))))
        .as("value"))
  }

  /** S5: dense scatter — float[n] with ones at `indices`
    * (LR/TFRecord_process.py:18-26 semantics) as an ml Vector. */
  def toDenseVector(encoded: DataFrame, numFeatures: Int): DataFrame =
    encoded.withColumn("features",
      array_to_vector(
        transform(sequence(lit(0), lit(numFeatures - 1)),
          d => when(array_contains(col("indices"), d), 1.0).otherwise(0.0))))

  /** K6 write + S4 read (Spark's libsvm source → (label, SparseVector)).
    *
    * Writes DISTRIBUTED part files — the readers (Spark's libsvm source
    * and the reference's loaders) glob a directory, so nothing needs one
    * file, and `coalesce(1)` would serialize the whole dataset through a
    * single task. */
  def writeLibsvmText(lines: DataFrame, path: String): Unit =
    lines.write.mode("overwrite").text(path)

  def readLibsvm(spark: SparkSession, path: String, numFeatures: Int): DataFrame =
    spark.read.format("libsvm")
      .option("numFeatures", numFeatures.toString)
      .load(path)

  // ---- declared queries --------------------------------------------

  /** Demo field set over testdata. */
  val Fields: Seq[String] = Seq("o_orderpriority", "o_orderstatus")

  /** The dictionary itself, DuckDB-checkable. */
  private val dictQ: Q = (spark, dir) => {
    val orders = Tables.load(spark, dir, "orders")
    buildDict(orders, Fields)
  }

  /** Full S4/S5/K6 round-trip: build dict → encode orders → write LibSVM
    * text → read back via Spark's libsvm source → re-emit lines from the
    * parsed (label, SparseVector). Output = the round-tripped lines;
    * oracle = DuckDB building the same lines directly. */
  private val roundtripQ: Q = (spark, dir) => {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val dict = buildDict(orders, Fields).collect()
      .map(r => s"${r.getInt(0)}:${r.getString(1)}" -> r.getLong(2).toInt)
      .toMap
    val encoded = encode(
      orders.withColumn("label", ($"o_orderstatus" === "F").cast("int")),
      Fields, "label", dict)
    val tmp = graft.util.Scratch.dir("libsvm")
    writeLibsvmText(toLibsvmLines(encoded, oneBased = true), s"$tmp/data.svm")
    val parsed = readLibsvm(spark, s"$tmp/data.svm", dict.size) // S4
    import org.apache.spark.ml.functions.vector_to_array
    parsed.select(
      concat(
        when($"label" === $"label".cast("long").cast("double"),
          $"label".cast("long").cast("string")).otherwise($"label".cast("string")),
        lit(" "),
        concat_ws(" ",
          transform(
            filter(
              zip_with(
                vector_to_array($"features"),
                sequence(lit(0), lit(dict.size - 1)),
                (v, i) => when(v === 1.0, i).otherwise(lit(-1))),
              x => x >= 0),
            i => concat(i.cast("string"), lit(":1")))))
        .as("value"))
  }

  private val dictSql =
    """WITH vals AS (
      |  SELECT 0 AS field_idx, CAST(o_orderpriority AS VARCHAR) AS raw_value
      |  FROM orders GROUP BY 2
      |  UNION ALL
      |  SELECT 1, CAST(o_orderstatus AS VARCHAR) FROM orders GROUP BY 2
      |  UNION ALL SELECT 0, 'other' UNION ALL SELECT 1, 'other'),
      |d AS (
      |  SELECT field_idx, raw_value,
      |    row_number() OVER (ORDER BY field_idx,
      |      CASE WHEN raw_value = 'other' THEN 0 ELSE 1 END, raw_value) - 1
      |      AS global_idx
      |  FROM vals)""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("enc_featindex_dict", dictQ,
      Some(dictSql + "\nSELECT field_idx, raw_value, global_idx FROM d")),
    Op("enc_libsvm_roundtrip", roundtripQ, Some(dictSql +
      """
        |SELECT CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS VARCHAR)
        |  || ' ' || CAST(d0.global_idx AS VARCHAR) || ':1 '
        |  || CAST(d1.global_idx AS VARCHAR) || ':1' AS value
        |FROM orders o
        |JOIN d d0 ON d0.field_idx = 0 AND d0.raw_value = CAST(o.o_orderpriority AS VARCHAR)
        |JOIN d d1 ON d1.field_idx = 1 AND d1.raw_value = CAST(o.o_orderstatus AS VARCHAR)""".stripMargin)))
}
