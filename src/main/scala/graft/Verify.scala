package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each selected entry's result → parquet, plus
  * oracle_sql.json holding the oracles of exactly those entries, for the
  * DuckDB compare (tools/check_oracle.py).
  *
  * Usage: Verify <sfDir> <outDir> [q1,q2,...]  (default: every entry) */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val selected = select(args.lift(2))
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    selected.foreach { op =>
      try op.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${op.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${op.name} failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(selected))
    spark.stop()
  }

  /** The registry entries named in a comma-separated filter, or all. */
  def select(filter: Option[String]): Seq[Op] = filter match {
    case Some(names) =>
      val keep = names.split(",").toSet
      SparkEntry.ops.filter(op => keep(op.name))
    case None => SparkEntry.ops
  }

  /** oracle_sql.json: name → oracle SQL for the entries that have one. */
  def oracleJson(ops: Seq[Op]): String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in an oracle would otherwise make the checker's
    // json.load fail and silently zero the correctness check.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    ops.flatMap(op => op.oracle.map(sql => s"${q(op.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
  }
}
