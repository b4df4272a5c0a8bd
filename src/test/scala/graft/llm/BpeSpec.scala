package graft.llm

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec}

/** BPE trainer laws — this op is in the no-oracle set (iterative array
  * fixpoint), so the spec carries the whole verification burden:
  * hand-computed planted merges, the round-trip law, batch/sequential
  * agreement, and partition-invariance. */
class BpeSpec extends SparkSpec {

  private def docsDir(texts: Seq[String]): String = {
    import spark.implicits._
    val d = Files.createTempDirectory("bpe").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "test", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("planted merges: counts, tie order, and the disjointness skip") {
    // word types: aaab ×3, cd ×2. Sliding pair counts:
    //   (a,a) 6; (a,b) 3; (b,</w>) 3; (c,d) 2; (d,</w>) 2.
    // Round 1, K=2 greedy by (count desc, l, r): picks (a,a);
    // (a,b) shares 'a' → SKIPPED; (b,</w>) disjoint → picked.
    val dir = docsDir(Seq("aaab aaab cd", "aaab cd"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (merges, types) = Bpe.train(docs, 1, 2)
    assert(merges == Seq(
      (1, "a", "a", "aa", 6L),
      (2, "b", "</w>", "b</w>", 3L)))
    // greedy left-to-right application: aaab → [aa, a, b</w>]
    import spark.implicits._
    val syms = types.select($"word", $"syms")
      .as[(String, Seq[String])].collect().toMap
    assert(syms("aaab") == Seq("aa", "a", "b</w>"))
    assert(syms("cd") == Seq("c", "d", "</w>"))
  }

  test("round-trip law: token concat restores word + </w> after 5 rounds") {
    import spark.implicits._
    val dir = docsDir(Seq(
      "the quick brown fox jumps over the lazy dog the the quick quick",
      "pack my box with five dozen liquor jugs the quick fox"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (merges, types) = Bpe.train(docs, 5, 4)
    assert(merges.nonEmpty && merges.map(_._1) == (1 to merges.size))
    // every learned merge concatenates its sides
    assert(merges.forall { case (_, l, r, m, _) => l + r == m })
    // within a round (ranks sharing a batch) counts are non-increasing
    val counts = merges.map(_._5)
    types.as[(String, Long, Seq[String])].collect().foreach {
      case (word, _, syms) =>
        assert(syms.mkString == word + "</w>",
          s"round-trip broke for '$word': $syms")
    }
    assert(counts.head == counts.max)
  }

  test("batch round equals applying its merges sequentially (disjointness)") {
    // One K=4 round vs four K=1 rounds on the same corpus: the merge
    // SETS can differ (K=1 can re-merge fresh symbols immediately), but
    // the round-1 batch must equal sequentially applying its own picks
    // in rank order. aaab: batch picks (a,a) then (b,</w>); sequential:
    // round1 (a,a) → [aa,a,b,</w>], recount: (b,</w>) 3, (aa,a) 3,
    // (a,b) 3 — order by (l,r): (a,b)! So sequential K=1 CAN pick
    // (a,b) second where the batch skipped it. Assert exactly that
    // documented divergence — it pins the batching semantics.
    val dir = docsDir(Seq("aaab aaab cd", "aaab cd"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (batch, _) = Bpe.train(docs, 1, 2)
    val (seq1, _) = Bpe.train(docs, 2, 1)
    assert(batch.map(m => (m._2, m._3)) == Seq(("a", "a"), ("b", "</w>")))
    assert(seq1.map(m => (m._2, m._3)) == Seq(("a", "a"), ("a", "b")))
  }

  test("encode: tokens, words, and exact chars_per_token on the tiny corpus") {
    import spark.implicits._
    val dir = docsDir(Seq("aaab aaab cd", "aaab cd"))
    val out = SparkEntry.queries("d_bpe_encode")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // 5 rounds exhaust merges on this corpus: aaab → [aaab</w>] 1 token,
    // cd → [cd</w>] 1 token eventually. doc 0 = aaab aaab cd → 3 words,
    // 3 tokens, 10 chars → 3.33; doc 1 = aaab cd → 2 words 2 tokens
    // 6 chars → 3.0.
    assert(out(0L) == ((0L, 3L, 3L, 3.33)))
    assert(out(1L) == ((1L, 2L, 2L, 3.0)))
  }

  test("determinism: merge table identical under repartitioning") {
    import spark.implicits._
    val dir = docsDir(Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs the quick fox"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val a = Bpe.train(docs, 3, 4)._1
    val b = Bpe.train(docs.repartition(7), 3, 4)._1
    assert(a == b && a.nonEmpty)
  }

  test("selectDisjoint: a pick's minted symbol blocks later picks (no fold cascade)") {
    // (ab,c) and (a,b) are string-disjoint on their SIDES, but applying
    // both in one fold pass would chain a→ab→abc at a single position;
    // the minted-symbol reservation must reject the second.
    val picked = Bpe.selectDisjoint(
      Seq(("ab", "c", 10L), ("a", "b", 9L), ("d", "e", 8L)), 8)
    assert(picked == Seq(("ab", "c", 10L), ("d", "e", 8L)))
    // and symmetrically: a later pair whose sides are fine but whose
    // minted symbol collides with an earlier pick's side is rejected
    val picked2 = Bpe.selectDisjoint(
      Seq(("ab", "c", 10L), ("a", "bc", 9L)), 8)
    assert(picked2 == Seq(("ab", "c", 10L)))
  }
}
