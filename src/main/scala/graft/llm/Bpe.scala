package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Op, Tables}
import graft.util.Cols._

/** Byte-pair-encoding tokenizer TRAINING and application — the piece of
  * an LLM data pipeline that turns a raw corpus into its own vocabulary
  * (reference scope: the repo tokenizes/splits text for its TF pipeline
  * feature dicts, GBDT/tensorflow/get_train_data.py:21-38 builds a
  * vocab→index dict from the corpus; BPE is that idea done at corpus
  * scale).
  *
  * Why this scales to 100 TB — the classic two-level trick (Sennrich's
  * reference implementation, SentencePiece's trainer): BPE statistics
  * depend only on the WORD-TYPE table (distinct word, count), so the
  * corpus is touched exactly ONCE (one word-count shuffle); every merge
  * round after that runs on the vocabulary-sized type table — millions
  * of rows where the corpus has trillions of tokens. Corpus-side
  * tokenization (d_bpe_encode) is then one join of words against the
  * learned word→tokens map — map-side when the vocab broadcast fits,
  * an ordinary word-keyed shuffle join when it doesn't (AQE picks;
  * nothing in the plan assumes either).
  *
  * BATCH-GREEDY rounds: classic BPE picks ONE top pair per iteration —
  * a 50k-merge vocab would mean 50k Spark jobs. Each round here selects
  * the top-K candidate pairs that are pairwise SYMBOL-DISJOINT (no
  * selected pair shares a symbol with another) and applies them
  * simultaneously. Disjoint merges cannot change each other's pair
  * counts (merging (a,b) only touches counts of pairs containing a or
  * b), so within a round the batch result equals applying those K
  * merges sequentially in rank order — the standard distributed-BPE
  * batching; it diverges from strict 1-at-a-time BPE only in that a
  * symbol minted this round cannot be re-merged until the next round.
  * Pair counts use the sliding window (overlaps counted, the reference
  * get_stats convention); application is greedy left-to-right, so
  * "aaaa" under (a,a) becomes [aa, aa].
  *
  * The merge table is NOT SQL-expressible (iterative fixpoint over
  * arrays) → no DuckDB oracle by design; verification = planted-truth
  * hand-computed merges in BpeSpec + the round-trip law (concatenating
  * a word's tokens restores word + "</w>") + determinism under
  * repartitioning (all counts are exact integers; selection is totally
  * ordered by (count desc, left, right)).
  */
object Bpe extends graft.Registry {

  // merge-map key separator: a control char that can never appear in a
  // token (tokens are [a-z]+ runs, "</w>", and their concatenations), so
  // key l+Sep+r is collision-free where bare l+r is ambiguous
  // (("a","bc") and ("ab","c") would both key "abc").
  private val Sep = "\u0001"
  private val EndW = "</w>"  // end-of-word sentinel, merges stay in-word

  /** Distinct (word, n_word) over letter-runs of the lower-cased corpus
    * — the ONE corpus-sized shuffle of the whole trainer. */
  def wordTypes(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(explode(regexp_extract_all(lower($"text"),
        lit("[a-z]+"), lit(0))).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("n_word"))
  }

  /** Greedy rank-order selection of pairwise-INDEPENDENT merges. A
    * pair is selectable only if its left, right, AND minted symbol
    * (l+r) are all unused by earlier picks — the minted-symbol clause
    * closes a cascade hole symbol-disjointness alone leaves open: with
    * picks 1:(ab,c), 2:(a,b) (string-disjoint sides!), the one-pass
    * fold on [a,b,c] would merge (a,b)→ab and then (ab,c)→abc, where
    * sequential rank order gives [ab,c] ((ab,c) is a no-op before 'ab'
    * exists). Reserving l+r means no later pick can consume a symbol
    * this round mints, so the fold can never chain two batch merges at
    * one position — batch == sequential holds unconditionally. */
  def selectDisjoint(cand: Seq[(String, String, Long)], batchK: Int)
      : Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    cand.iterator.filter { case (l, r, _) =>
      if (used(l) || used(r) || used(l + r)) false
      else { used += l; used += r; used += (l + r); true }
    }.take(batchK).toSeq
  }

  /** One batch-greedy training round over the type table. Returns the
    * updated table and this round's merges (rank-ordered). The type
    * table must carry (word, n_word, syms). */
  private def trainRound(types: DataFrame, batchK: Int)
      : (DataFrame, Seq[(String, String, Long)]) = {
    import types.sparkSession.implicits._
    // sliding adjacent pairs, weighted by word frequency; vocab-sized
    val pairs = types
      .select($"n_word",
        zip_with(slice($"syms", lit(1), size($"syms") - 1),
          slice($"syms", lit(2), size($"syms") - 1),
          (l, r) => struct(l.as("l"), r.as("r"))).as("ps"))
      .select(explode($"ps").as("p"), $"n_word")
      .groupBy($"p.l".as("l"), $"p.r".as("r"))
      .agg(sum($"n_word").as("n_pairs"))
      .filter($"n_pairs" >= 2)
    // dimension-sized head of the candidate list → driver (A7-style
    // driver metadata, like the FeatIndex dict and the IVF centroids).
    // A tie-dense round can exhaust a FIXED head before reaching batchK
    // symbol-disjoint picks, silently shrinking the learned vocab — so
    // the head grows (×2 per retry) until either batchK merges are
    // selected or the head provably covers the whole candidate table
    // (fetched < limit ⇒ nothing was truncated). Retries are rare and
    // the candidate table is vocab-sized, so re-running its plan is
    // cheap; ordering is total (n_pairs desc, l, r) so every head size
    // yields the same deterministic prefix.
    @annotation.tailrec
    def pick(mult: Int): Seq[(String, String, Long)] = {
      val cand = pairs
        .orderBy($"n_pairs".desc, $"l".asc, $"r".asc)
        .limit(mult * batchK)
        .as[(String, String, Long)].collect()
      val sel = selectDisjoint(cand.toSeq, batchK)
      if (sel.size >= batchK || cand.length < mult * batchK) sel
      else pick(mult * 2)
    }
    val picked = pick(8)
    if (picked.isEmpty) (types, Seq.empty)
    else {
      val mlit = map(picked.flatMap { case (l, r, _) =>
        Seq(lit(l + Sep + r), lit(l + r)) }: _*)
      // greedy left-to-right fold; disjointness makes one pass per
      // round exact. `syms` is already materialized as a column (the
      // f13/f14/d_winnow interpreted-HOF lesson: never let a lambda
      // capture a recomputed expression).
      val merged = aggregate($"syms",
        array().cast("array<string>"),
        (acc, x) => {
          val key = concat(element_at(acc, -1), lit(Sep), x)
          when(size(acc) > 0 && element_at(mlit, key).isNotNull,
            concat(slice(acc, lit(1), size(acc) - 1),
              array(element_at(mlit, key))))
            .otherwise(concat(acc, array(x)))
        })
      // localCheckpoint: truncate the per-round lineage (the CC /
      // pagerank loop discipline) — vocab-sized, cheap to pin
      (types.select($"word", $"n_word", merged.as("syms"))
        .localCheckpoint(true), picked)
    }
  }

  /** Train `rounds`×`batchK` merges; returns (merge table rows, final
    * word→syms type table). */
  def train(docs: DataFrame, rounds: Int, batchK: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    import docs.sparkSession.implicits._
    var types = wordTypes(docs)
      .select($"word", $"n_word",
        concat(regexp_extract_all($"word", lit("."), lit(0)),
          array(lit(EndW))).as("syms"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 0
    var continue = true
    for (_ <- 1 to rounds if continue) {
      val (next, picked) = trainRound(types, batchK)
      types = next
      if (picked.isEmpty) continue = false
      else picked.foreach { case (l, r, n) =>
        rank += 1; merges += ((rank, l, r, l + r, n))
      }
    }
    (merges.result(), types)
  }

  // ---- d_bpe_train: the learned merge table (rank, left, right,
  // merged symbol, pre-merge pair count). 5 rounds × 8 merges on the
  // documents corpus.
  private val bpeTrain: Q = (spark, dir) => {
    import spark.implicits._
    val (merges, _) = train(Tables.load(spark, dir, "documents"), 5, 8)
    merges.toDF("rank", "left", "right", "merged", "n_pairs")
      .select($"rank".cast("long"), $"left", $"right", $"merged", $"n_pairs")
  }

  // ---- d_bpe_encode: tokenize the corpus with its own learned vocab.
  // The corpus-side plan is ONE explode + ONE join against the final
  // word→tokens map (vocab-sized; AQE broadcasts it when it fits, plain
  // word-keyed shuffle join when it doesn't) + a doc-keyed aggregate.
  // chars_per_token is integer-exact (roundRatio2 over summed lengths).
  private val bpeEncode: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val (_, types) = train(docs, 5, 8)
    val vocab = types.select($"word", size($"syms").as("n_toks"),
      (length($"word")).cast("long").as("n_chars"))
    docs
      .select($"doc_id", explode(regexp_extract_all(lower($"text"),
        lit("[a-z]+"), lit(0))).as("word"))
      .join(vocab, "word")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"n_toks").as("n_tokens"),
        sum($"n_chars").as("sum_chars"))
      .select($"doc_id", $"n_words", $"n_tokens",
        roundRatio2($"sum_chars" * 100, $"n_tokens").as("chars_per_token"))
  }

  /** Iterative array fixpoint — not SQL-expressible; verified by
    * BpeSpec planted truth + round-trip + determinism laws (see the
    * no-oracle table, SURVEY §8). */
  val ops: Seq[Op] = Seq(
    Op("d_bpe_train", bpeTrain),
    Op("d_bpe_encode", bpeEncode))
}
