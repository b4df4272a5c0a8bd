package graft.queries

import org.apache.spark.sql.SparkSession

import graft.{Registry, SparkEntry, SparkSpec}

/** Partition-invariance law: a declared query's RESULT must be a pure
  * function of the data, not of the cluster shape. On a real cluster the
  * shuffle partition count changes with executor count, AQE re-plans,
  * and config drift — any query whose output moves with it would be
  * silently nondeterministic at 100 TB. The hash-sampling/splitting ops
  * (o4/o5) exist because of this property; this spec enforces it across
  * representative families: shuffle-heavy dedup, iterative CC, window
  * ranking, as-of join, retrieval top-k, and the composed pipeline.
  *
  * r8 (VERDICT r7 Next #6): the law runs over EVERY oracle-bearing
  * query — the full declared surface whose result is contractually a
  * pure function of the data. (ML fits and the other no-oracle entries
  * are excluded by design: their determinism contract is
  * seed-at-fixed-partitioning, covered in MLChurnSpec / the o3 row-set
  * checks.)
  */
class DeterminismSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val queries = SparkEntry.oracleSql.keySet.toSeq.sorted

  private def runSorted(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect().map(_.toString).sorted.toSeq
  }

  test("the registry rejects a key declared twice and an oracle with no query") {
    def module(qs: Seq[String], os: Seq[String]): Registry = new Registry {
      val queries: Map[String, Q] = qs.map(_ -> ((s: SparkSession, _: String) =>
        s.emptyDataFrame)).toMap
      val oracles: Map[String, String] = os.map(_ -> "SELECT 1").toMap
    }
    val shared = intercept[IllegalArgumentException](SparkEntry.merge(
      Seq(module(Seq("a", "b"), Seq("a")), module(Seq("b"), Nil))))
    assert(shared.getMessage.contains("query keys declared by more than one"))
    val orphan = intercept[IllegalArgumentException](SparkEntry.merge(
      Seq(module(Seq("a"), Seq("a", "c")))))
    assert(orphan.getMessage.contains("oracles that name no query: c"))

    assert(SparkEntry.modules.map(_.queries.size).sum == 227)
    assert(SparkEntry.queries.size == 227)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  for (name <- queries) {
    test(s"$name returns identical rows at shuffle.partitions = 32, 5, and 64") {
      val base = runSorted(name)
      assert(base.nonEmpty)
      for (parts <- Seq("5", "64")) {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try {
          val got = runSorted(name)
          assert(got == base,
            s"$name diverged at shuffle.partitions=$parts " +
              s"(${got.size} vs ${base.size} rows)")
        } finally spark.conf.set("spark.sql.shuffle.partitions", "32")
      }
    }
  }
}
