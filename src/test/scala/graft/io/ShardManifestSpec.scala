package graft.io

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.llm.TextOps.hash48Jvm

/** k9_shard_manifest: the full manifest is replayed driver-side in plain
  * Scala from the same hash canon (assignment, adaptive shard count,
  * head/tail-by-hash-order, mod-2^48 checksum), plus the conservation
  * and partition-invariance laws the dataloader relies on. */
class ShardManifestSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private case class M(nDocs: Long, nChars: Long, head: Long, tail: Long,
                       checksum: Long)

  /** Plain-Scala replay of the whole manifest from the raw table. */
  private def replay(): Map[Long, M] = {
    import spark.implicits._
    val docs = graft.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
    val s = math.min(math.max(docs.length / 64, 4), 4096).toLong
    docs.groupBy { case (id, _) => hash48Jvm(s"sh:$id") % s }
      .map { case (shard, rows) =>
        val keyed = rows.map { case (id, nc) => (hash48Jvm(s"sh:$id"), id, nc) }
        val sorted = keyed.sortBy { case (h, id, _) => (h, id) }
        val checksum = keyed.map(t => BigInt(t._1)).sum % BigInt(1L << 48)
        shard -> M(rows.length.toLong, rows.map(_._2).sum,
          sorted.head._2, sorted.last._2, checksum.toLong)
      }
  }

  test("k9 manifest equals the plain-Scala replay shard by shard") {
    import spark.implicits._
    val got = SparkEntry.queries("k9_shard_manifest")(spark, dir)
      .select($"shard_id", $"n_docs", $"n_chars", $"head_doc_id",
        $"tail_doc_id", $"checksum48")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> M(r._2, r._3, r._4, r._5, r._6)).toMap
    val want = replay()
    assert(got == want)
    // adaptive shard count engaged: ids live in [0, clamp(n/64, 4,
    // 4096)) — recomputed from the corpus, not hardcoded (ADVICE r12:
    // the driver regenerates testdata between rounds, so a doc-count
    // change must not fail this spec without an engine bug).
    val nDocs = want.values.map(_.nDocs).sum
    val bound = math.min(math.max(nDocs / 64, 4), 4096)
    assert(got.keySet == want.keySet && want.nonEmpty)
    assert(got.keySet.forall(s => s >= 0 && s < bound))
  }

  test("k9 manifest conserves the corpus and is partition-invariant") {
    import spark.implicits._
    val m = SparkEntry.queries("k9_shard_manifest")(spark, dir)
    val (docs, chars) = m.agg(sum($"n_docs"), sum($"n_chars"))
      .as[(Long, Long)].head()
    val (wantDocs, wantChars) = graft.Tables.load(spark, dir, "documents")
      .agg(count(lit(1)), sum($"n_chars")).as[(Long, Long)].head()
    assert(docs == wantDocs && chars == wantChars)
    // the sharding is a pure function of the data, not its layout
    val base = m.orderBy($"shard_id").collect().toSeq
    val conf = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      val again = SparkEntry.queries("k9_shard_manifest")(spark, dir)
        .orderBy($"shard_id").collect().toSeq
      assert(again == base)
    } finally spark.conf.set("spark.sql.shuffle.partitions", conf)
  }
}
