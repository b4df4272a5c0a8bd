package graft.llm

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec}

/** Planted-truth tests for the round-8 corpus-prep additions:
  * repetition signals, sequence packing, PII-style redaction. The
  * driver's DuckDB oracle proves cross-engine parity; these prove the
  * SEMANTICS on inputs where the right answer is computable by hand. */
class TextOpsSpec extends SparkSpec {

  /** docs: 0 = pure two-token loop (maximal repetition), 1 = all-distinct
    * tokens (zero repetition), 2 = one-token doc (degenerate: no bigrams
    * or trigrams at all). Token counts 10 / 6 / 1 feed the packing test. */
  private lazy val dir: String = {
    import spark.implicits._
    val docs = Seq(
      (0L, "ab cd ab cd ab cd ab cd ab cd", "en", "s0", 29L),
      (1L, "one two three four five six", "en", "s0", 27L),
      (2L, "lonely", "en", "s1", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("textops-spec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("repetition: loop doc maxes the signals, distinct doc zeroes them") {
    import spark.implicits._
    val out = SparkEntry.queries("d_repetition")(spark, dir)
      .select($"doc_id", $"n_trigrams", $"dup_trigram_frac",
        $"top_bigram_share")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // doc 0: 10 tokens -> 8 trigrams, only 2 distinct ("ab cd ab",
    // "cd ab cd") -> dup frac 0.75; 9 bigrams, "ab cd" appears 5 of 9
    assert(out(0L)._2 == 8L)
    assert(math.abs(out(0L)._3 - 0.75) < 1e-9)
    assert(math.abs(out(0L)._4 - 5.0 / 9.0) < 1e-6)
    // doc 1: every trigram/bigram unique
    assert(out(1L)._3 == 0.0)
    assert(math.abs(out(1L)._4 - 0.2) < 1e-9) // 5 bigrams, max count 1
    // doc 2: no n-grams at all -> zeros, not nulls/NaNs
    assert(out(2L)._2 == 0L && out(2L)._3 == 0.0 && out(2L)._4 == 0.0)
  }

  test("packing: per-source manifests conserve docs and tokens, ids start at 0") {
    import spark.implicits._
    val out = SparkEntry.queries("d_pack_sequences")(spark, dir)
      .select($"source", $"seq_id", $"n_docs", $"n_tokens",
        $"first_doc", $"last_doc")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // 16 tokens in s0 and 1 in s1: everything fits in each source's
    // sequence 0 at capacity 2048
    assert(out.toSet == Set(("s0", 0L, 2L, 16L, 0L, 1L),
                            ("s1", 0L, 1L, 1L, 2L, 2L)))
  }

  test("packing: offsets split sequences exactly at the capacity boundary") {
    import spark.implicits._
    // three 1000-token docs in one source: starts at 0 / 1000 / 2000 ->
    // seq 0, seq 0, seq 0 is wrong reading; floor(start/2048) = 0,0,0?
    // 0->0, 1000->0, 2000->0; fourth doc starts 3000 -> seq 1. The doc
    // STRADDLING 2048 (start 2000) still belongs to seq 0 by the
    // offset rule — asserted explicitly so the semantics stay pinned.
    val word = "tok "
    val docs = (0 until 4).map { i =>
      (i.toLong, (word * 1000).trim, "en", "s", 4000L)
    }
    val d = Files.createTempDirectory("packspec").toString
    import spark.implicits._
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("d_pack_sequences")(spark, d)
      .select($"seq_id", $"n_docs", $"n_tokens", $"first_doc", $"last_doc")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set((0L, 3L, 3000L, 0L, 2L), (1L, 1L, 1000L, 3L, 3L)))
  }

  test("source cap keeps exactly K docs per hot source, hash-ordered not id-ordered") {
    import spark.implicits._
    // one source with 150 docs (over the K=100 cap), one with 3 (under)
    val docs = ((0 until 150).map(i => (i.toLong, s"doc number $i", "en", "hot", 10L)) ++
      (150 until 153).map(i => (i.toLong, s"doc number $i", "en", "cold", 10L)))
    val d = Files.createTempDirectory("capspec").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("d_source_cap")(spark, d)
      .select($"source", $"doc_id", $"rk")
      .as[(String, Long, Long)].collect()
    val bySrc = out.groupBy(_._1)
    assert(bySrc("hot").length == 100 && bySrc("cold").length == 3)
    // rank-1 doc of the hot source is the md5-min id, not doc_id 0 —
    // the selection is a deterministic hash sample, not "first K"
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(i: Long) = md.digest(i.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expectedFirst = (0L until 150L).minBy(h)
    assert(bySrc("hot").find(_._3 == 1L).get._2 == expectedFirst)
    assert(expectedFirst != 0L) // the hash order genuinely differs from id order
  }

  test("pii redact: counts, first-match extraction, and global replace agree") {
    import spark.implicits._
    val events = Seq(
      (1L, """{"k": 69, "u": 1234}"""),
      (2L, """{"k": 7}"""),
      (3L, """{"name": "none"}"""))
      .toDF("event_id", "props")
    val d = Files.createTempDirectory("piispec").toString
    // minimal events table: only event_id/props are touched by f15
    events.withColumn("ts", org.apache.spark.sql.functions.lit(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .withColumn("user_id", $"event_id")
      .withColumn("event_type", org.apache.spark.sql.functions.lit("x"))
      .withColumn("value", org.apache.spark.sql.functions.lit(0.0))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("f15_pii_redact")(spark, d)
      .select($"event_id", $"n_matches", $"first_num", $"props_redacted")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)), r.getString(3))).toMap
    assert(out(1L) == ((2L, Some(69L), """{"k": [NUM], "u": [NUM]}""")))
    assert(out(2L) == ((1L, Some(7L), """{"k": [NUM]}""")))
    assert(out(3L) == ((0L, None, """{"name": "none"}""")))
  }

  test("mixture plan: under-budget source keeps all, hot source thins to rate") {
    import spark.implicits._
    // hot: 400 docs × 10 tokens = 4000 tokens; cold: 10 docs × 10 = 100.
    // budget = 0.3 × 4100 / 2 = 615 tokens per source →
    // cold rate = 1e6 (keeps everything), hot rate = 615/4000 ≈ 153750 ppm.
    def tenTok(i: Int) = s"one two three four five six seven eight nine d$i"
    val docs = ((0 until 400).map(i => (i.toLong, tenTok(i), "en", "hot", 10L)) ++
      (400 until 410).map(i => (i.toLong, tenTok(i), "en", "cold", 10L)))
    val d = Files.createTempDirectory("mixspec").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("d_mixture_plan")(spark, d)
      .select($"source", $"src_tokens", $"rate_ppm", $"n_kept", $"kept_tokens")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val (_, coldTok, coldRate, coldKept, coldKeptTok) = out("cold")
    assert(coldTok == 100L && coldRate == 1000000L &&
      coldKept == 10L && coldKeptTok == 100L) // under budget: keep all
    val (_, hotTok, hotRate, hotKept, hotKeptTok) = out("hot")
    assert(hotTok == 4000L)
    // pure-integer plan: (3e6 * tot) div (10 * nsrc * T_s)
    assert(hotRate == (3000000L * 4100L) / (10L * 2L * 4000L))
    // realized sample tracks the planned rate (hash threshold is uniform);
    // with 400 draws at p≈0.154 a ±3σ band is ~±22 docs
    assert(math.abs(hotKept - 400.0 * hotRate / 1e6) < 25)
    assert(hotKeptTok == hotKept * 10L) // every doc is exactly 10 tokens
  }

  test("heavy hitters: exact set above the support boundary, sketch false positives discarded") {
    import spark.implicits._
    // corpus of exactly 1000 tokens: "hot" 600×, "warm" 2×, 398 unique
    // fillers. Threshold cnt·1000 > n=1000 ⇔ cnt ≥ 2: hot and warm
    // qualify; every unique filler (cnt=1, exactly ON the boundary
    // after the strict >) must be excluded even though the freqItems
    // candidate pass may surface it as a false positive.
    val words = Seq.fill(600)("hot") ++ Seq.fill(2)("warm") ++
      (0 until 398).map(i => s"u$i")
    val docs = words.grouped(50).zipWithIndex.map { case (ws, i) =>
      (i.toLong, ws.mkString(" "), "en", "s", 1L)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("hhspec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("d_heavy_hitters")(spark, d)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map("hot" -> (600L, 6000L), "warm" -> (2L, 20L)))
  }

  test("novelty: cloned docs score 0, a unique doc scores 1, short docs absent") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq(
      (30L, base, "en", "s", 1L), // clone pair: every shingle df = 2
      (31L, base, "en", "s", 1L),
      (32L, "one two three four five six seven", "en", "s", 1L), // unique
      (33L, "too short", "en", "s", 1L)) // < 3 tokens: no shingles
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("noveltyspec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("d_novelty")(spark, d)
      .select($"doc_id", $"n_shingles", $"novelty")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(30L) == (6L, 0.0) && out(31L) == (6L, 0.0))
    assert(out(32L) == (5L, 1.0))
    assert(!out.contains(33L))
  }

  test("lm score: in-vocabulary doc scores 0 NLL, OOV doc scores ln(1/p_oov)") {
    import spark.implicits._
    // Snapshot A (even ids) = doc 0: "x x x x" → vocab {x}, tot=4, V=1.
    // B doc 1 = "x": p = (4+0.5)/(4+0.5) = 1 → NLL 0.
    // B doc 3 = "zzz": OOV, p = 0.5/4.5 → NLL = ln 9.
    val docs = Seq(
      (0L, "x x x x", "en", "s", 7L),
      (1L, "x", "en", "s", 1L),
      (3L, "zzz", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("lmspec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("d_lm_score")(spark, d)
      .select($"doc_id", $"n_tok", $"avg_nll")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ((1L, 0.0)))
    val expected = math.rint(math.log(9.0) * 1e6) / 1e6
    assert(out(3L)._1 == 1L && math.abs(out(3L)._2 - expected) < 1e-9)
    assert(!out.contains(0L)) // snapshot-A docs are train, not scored
  }

  test("mask tokens: JVM hash replay reproduces input/target; empty mask pins ''") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s0", 40L),
      (1L, "one", "en", "s0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("mask-spec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("d_mask_tokens")(spark, d)
      .as[(Long, String, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    def expected(id: Long, text: String): (String, String, Long) = {
      val ts = text.toLowerCase.split("\\s+")
      val flags = ts.indices.map(i =>
        TextOps.hash48Jvm(s"mk:$id:$i") % 100 < 15)
      (ts.zip(flags).map { case (t, f) => if (f) "<mask>" else t }
        .mkString(" "),
        ts.zip(flags).collect { case (t, true) => t }.mkString(" "),
        flags.count(identity).toLong)
    }
    assert(out(0L) == expected(0L, "alpha beta gamma delta epsilon zeta eta theta"))
    assert(out(1L) == expected(1L, "one"))
    // the long doc must actually exercise both branches at 15%… if the
    // hash happens to mask nothing, the test is vacuous — pin that the
    // corpus masks at least one token overall OR doc0 masks none and
    // target is '' (both asserted exactly above either way)
    assert(out.values.map(_._3).sum == out.values.map(_._2)
      .map(t => if (t.isEmpty) 0 else t.split(" ").length).sum)
  }

  test("bigram lm: hand-counted bigrams, exact discounted ppm, held-out split excluded") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b c", "en", "s0", 9L),   // train: (a,b)x2 (b,a) (b,c)
      (2L, "a b", "en", "s0", 3L),         // train: (a,b)
      (1L, "z z z z", "en", "s1", 7L))     // held-out — must not train
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("bigram-spec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("d_bigram_lm")(spark, d)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // p(w2|w1) = (4c-3)/(4*c1) in ppm: c(a,b)=3, c1(a)=3 -> 9/12;
    // c(b,a)=c(b,c)=1, c1(b)=2 -> 1/8
    assert(out == Map(
      ("a", "b") -> ((3L, 750000L)),
      ("b", "a") -> ((1L, 125000L)),
      ("b", "c") -> ((1L, 125000L))))
  }

  test("winnow: shared >= w+k-1 token run guarantees a common fingerprint") {
    import spark.implicits._
    // docs 10/11 share an exact 6-token run (w+k-1 = 4+3-1) embedded in
    // otherwise-disjoint text; doc 12 shares nothing. The winnowing
    // guarantee: 10 and 11 MUST have a common fingerprint; 12 must not
    // collide with the shared-run fingerprints of either.
    val run = "alpha bravo charlie delta echo foxtrot"
    val docs = Seq(
      (10L, s"one two $run nine ten", "en", "s", 1L),
      (11L, s"xx yy zz $run qq ww ee rr", "en", "s", 1L),
      (12L, "completely different words with no overlap at all", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("winnowspec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val fp = SparkEntry.queries("d_winnow")(spark, d)
      .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).toSet }
    assert((fp(10L) & fp(11L)).nonEmpty, "winnowing guarantee violated")
    assert((fp(10L) & fp(12L)).isEmpty && (fp(11L) & fp(12L)).isEmpty)
    // short-doc edges: 2 tokens -> no k-gram -> absent; 3 tokens -> one
    // k-gram -> exactly one fingerprint
    val edge = Seq((20L, "just two", "en", "s", 1L),
                   (21L, "exactly three tokens", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d2 = Files.createTempDirectory("winnowspec2").toString
    edge.write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val fp2 = SparkEntry.queries("d_winnow")(spark, d2)
      .as[(Long, Long)].collect().groupBy(_._1)
    assert(!fp2.contains(20L) && fp2(21L).length == 1)
  }

  test("drift: planted snapshot-exclusive terms rank first, stable terms near zero") {
    import spark.implicits._
    // "alpha" appears only in even (snapshot A) docs, "beta" only in odd
    // (snapshot B); "stable" appears equally in both.
    val docs = (0 until 40).map { i =>
      val skew = if (i % 2 == 0) "alpha alpha alpha" else "beta beta beta"
      (i.toLong, s"stable common words here $skew", "en", "s", 40L)
    }
    val d = Files.createTempDirectory("driftspec").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("d_drift")(spark, d)
      .select($"term", $"log_ratio_unat").as[(String, Long)].collect()
    val byTerm = out.toMap
    // the exclusive terms are the two extremes, in opposite directions
    assert(Set(out.head._1, out(1)._1) == Set("alpha", "beta"))
    assert(byTerm("alpha") > 0 && byTerm("beta") < 0)
    // symmetric plant: HALF_UP rounding is odd-symmetric, so exact negation
    assert(byTerm("alpha") + byTerm("beta") == 0L)
    assert(math.abs(byTerm("stable")) < 100000L) // balanced ≈ no drift (µnats)
  }

  test("classifier score: driver-side hash replay matches the distributed sum exactly") {
    import spark.implicits._
    val docs = Seq(
      (0L, "good good text", "en", "s", 14L),
      (1L, "single", "en", "s", 6L),
      (2L, "   ", "en", "s", 3L)) // whitespace-only: no features, dropped
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("clsspec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("d_classifier_score")(spark, d)
      .select($"doc_id", $"n_feat", $"score_milli", $"label")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    def w(feat: String): Long =
      TextOps.hash48Jvm(
        "w:" + (TextOps.hash48Jvm(feat) % 4096).toString) % 2001 - 1000
    // doc 0: unigrams keep MULTIPLICITY (u:good twice), bigrams in order
    val feats0 = Seq("u:good", "u:good", "u:text", "b:good_good", "b:good_text")
    val s0 = feats0.map(w).sum
    assert(out(0L) == ((0L, 5L, s0, if (s0 >= 0) 1L else 0L)))
    val s1 = w("u:single")
    assert(out(1L) == ((1L, 1L, s1, if (s1 >= 0) 1L else 0L)))
    assert(!out.contains(2L))
  }

  test("dataset card: hand-counted volume, lang mix with other-bucket, dup mass") {
    import spark.implicits._
    // 5 docs: en×2 (one exact dup pair), de×1, unknown lang 'xx'×1 →
    // n_other counts it instead of dropping it; 2 sources.
    val docs = Seq(
      (0L, "alpha beta gamma", "en", "sA"),
      (1L, "alpha beta gamma", "en", "sA"), // exact dup of 0
      (2L, "delta epsilon", "de", "sB"),
      (3L, "zeta", "xx", "sB"),
      (4L, "eta theta iota kappa", "en", "sA"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("cardspec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("d_dataset_card")(spark, d).collect().head
    def g(c: String): Long = out.getAs[Long](c)
    assert(g("n_docs") == 5L && g("n_tokens") == 13L)
    assert(g("n_chars") == Seq("alpha beta gamma", "alpha beta gamma",
      "delta epsilon", "zeta", "eta theta iota kappa").map(_.length).sum)
    assert(g("n_sources") == 2L)
    assert(g("n_en") == 3L && g("n_de") == 1L && g("n_other") == 1L &&
      g("n_fr") == 0L && g("n_es") == 0L && g("n_zh") == 0L)
    assert(g("n_exact_dup_docs") == 1L) // 2 copies - 1 distinct
    assert(g("mean_doc_tokens_milli") == 13L * 1000 / 5) // 2600
  }

  test("cms eval: estimates dominate exact counts and match a direct sketch recomputation") {
    import spark.implicits._
    val docs = Seq(
      (0L, "aa bb aa cc aa", "en", "s", 1L),
      (1L, "bb cc dd aa bb", "en", "s", 1L),
      (2L, "aa", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("cms-spec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("d_cms_eval")(spark, d)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val exact = Map("aa" -> 5L, "bb" -> 3L, "cc" -> 2L, "dd" -> 1L)
    // independent CMS recomputation from the declared hash family
    val cells = exact.toSeq.flatMap { case (t, n) =>
      (0 until 4).map(i => ((i, TextOps.hash48Jvm(s"$i:$t") % 1024), n)) }
    val counters = cells.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    for ((t, n) <- exact) {
      val est = (0 until 4)
        .map(i => counters((i, TextOps.hash48Jvm(s"$i:$t") % 1024))).min
      assert(out(t) == ((t, n, est, est - n)), s"term=$t")
      assert(est >= n, s"one-sided error, term=$t")
    }
  }

  test("pii scrub: planted PII is fully redacted, untouched docs pass through verbatim") {
    import spark.implicits._
    // OWN fixture so BOTH plant paths provably fire (hash48-computed:
    // doc 19 trips the email plant, 'pii:19' ≡ 0 mod 7; doc 2 trips the
    // phone plant, 'piiph:2' ≡ 0 mod 11; docs 0/1 trip neither) — with
    // only non-planted ids the email assertions would be VACUOUS and a
    // paired Spark+oracle regression in the email pattern would pass.
    val texts = Map(0L -> "ab cd ab cd ab cd ab cd ab cd",
      1L -> "one two three four five six", 2L -> "lonely",
      19L -> "mail me maybe")
    val pdir = Files.createTempDirectory("pii-spec").toString
    texts.toSeq.map { case (i, t) => (i, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$pdir/documents.parquet")
    val out = SparkEntry.queries("d_pii_scrub")(spark, pdir)
      .select($"doc_id", $"n_emails", $"n_phones", $"clean_text")
      .as[(Long, Long, Long, String)].collect()
    assert(out.length == 4)
    val byId = out.map(r => r._1 -> r).toMap
    // both plant paths demonstrably fired
    assert(byId(19L)._2 == 2L, s"email plant did not fire: ${byId(19L)}")
    assert(byId(2L)._3 == 1L, s"phone plant did not fire: ${byId(2L)}")
    out.foreach { case (id, ne, np, clean) =>
      // the redaction LAW the oracle's value-parity can't state: no
      // email/phone survives the scrub, counts equal the placeholders
      assert(!clean.contains("@"), s"doc $id leaked an email: $clean")
      assert(!clean.matches(".*[0-9]{3}-[0-9]{3}-[0-9]{4}.*"),
        s"doc $id leaked a phone: $clean")
      assert(ne == "<EMAIL>".r.findAllIn(clean).length.toLong, s"doc $id email count")
      assert(np == "<PHONE>".r.findAllIn(clean).length.toLong, s"doc $id phone count")
      // a doc with no planted PII must come through byte-identical
      if (ne == 0 && np == 0)
        assert(clean == texts(id), s"doc $id mutated without PII: $clean")
    }
  }
}
