package graft.queries

import org.apache.spark.sql.SparkSession

import graft.{Op, Registry, SparkEntry, SparkSpec}

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

  test("the registry rejects a key declared twice") {
    def module(names: String*): Registry = new Registry {
      val ops: Seq[Op] = names.map(Op(_, (s: SparkSession, _: String) =>
        s.emptyDataFrame))
    }
    val shared = intercept[IllegalArgumentException](SparkEntry.merge(
      Seq(module("a", "b"), module("b"))))
    assert(shared.getMessage.contains("query keys declared more than once: b"))

    assert(SparkEntry.modules.map(_.ops.size).sum == 227)
    assert(SparkEntry.queries.size == 227)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every entry's run function is a class of its module's package") {
    // perfbench attributes an entry's spans to the package its run
    // function's class is named under (graft.<pkg>.<Object>$$Lambda…).
    for (m <- SparkEntry.modules; op <- m.ops) {
      val pkg = m.getClass.getName.split('.').init.mkString(".") + "."
      assert(op.run.getClass.getName.startsWith(pkg),
        s"${op.name}: ${op.run.getClass.getName} is not under $pkg")
    }
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
