package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** oracle_sql.json carries the oracles of exactly the dumped entries, so
  * a filtered Verify dump is checkable as it stands. */
class VerifySpec extends AnyFunSuite {

  private def oracles(json: String): Map[String, String] =
    parse(json) match {
      case JObject(kv) => kv.map {
        case (k, JString(v)) => k -> v
        case (k, v) => fail(s"$k: not a string: $v")
      }.toMap
      case other => fail(s"not a JSON object: $other")
    }

  test("a filtered dump writes only the selected entries' oracles") {
    val ops = Verify.select(Some("a1_group_sum,ml_rf_churn"))
    assert(ops.map(_.name).toSet == Set("a1_group_sum", "ml_rf_churn"))
    assert(oracles(Verify.oracleJson(ops)) ==
      Map("a1_group_sum" -> SparkEntry.oracleSql("a1_group_sum")))
  }

  test("a full dump writes every oracle") {
    val ops = Verify.select(None)
    assert(ops.size == 227)
    val all = oracles(Verify.oracleJson(ops))
    assert(all.size == 213)
    assert(all == SparkEntry.oracleSql)
  }
}
