package graft.llm

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec

/** Laws for the persisted ANN index store's lifecycle plumbing (VERDICT
  * r11 Next #3/#4): the atomic-write failure contract, the store-hygiene
  * sweep, and the value-sensitivity of the corpus signature. These are
  * the non-query guarantees the serve-path oracles lean on — a silent
  * writeAtomic failure degrades serve to retrain-per-call, and an
  * insensitive signature serves a stale index for a regenerated corpus.
  */
class AnnIndexSpec extends SparkSpec {

  private def tmpDir(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def df2 = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
  }

  test("writeAtomic rethrows when the rename fails and no artifact exists") {
    // Plant a real rename failure (VERDICT r11 Next #3): the target path
    // is occupied by a plain FILE, so ATOMIC_MOVE fails and ready() is
    // false — the old broad catch swallowed this and loaders then read
    // a missing artifact; the contract is rethrow.
    val d = tmpDir("graft-annidx-fail")
    val target = d.resolve("sig=1_1_1")
    Files.write(target, Array[Byte](1, 2, 3))
    val e = intercept[java.nio.file.FileSystemException] {
      AnnIndex.writeAtomic(df2, target.toString)
    }
    assert(e.getFile != null)
    // the loser's temp copy must not linger either way
    assert(!Files.list(d).anyMatch(p =>
      p.getFileName.toString.startsWith("_tmp-")))
    graft.util.Scratch.deleteRecursively(d)
  }

  test("writeAtomic stays silent on the exists-race (complete target)") {
    // The lost-race case: a concurrent writer completed the SAME
    // artifact first. The move fails, but ready(target) holds — the
    // loser discards its identical copy silently.
    val d = tmpDir("graft-annidx-race")
    val target = d.resolve("sig=1_1_1")
    AnnIndex.writeAtomic(df2, target.toString) // winner
    assert(AnnIndex.ready(target.toString))
    AnnIndex.writeAtomic(df2, target.toString) // loser: no throw
    assert(AnnIndex.ready(target.toString))
    assert(!Files.list(d).anyMatch(p =>
      p.getFileName.toString.startsWith("_tmp-")))
    graft.util.Scratch.deleteRecursively(d)
  }

  /** A sig dir whose `_FP` sidecar names the corpus in `corpus`. */
  private def sigDir(parent: Path, sig: String, corpus: Path): Path = {
    val sd = Files.createDirectories(parent.resolve(s"sig=$sig"))
    Files.writeString(sd.resolve("_FP"),
      AnnIndex.fsFingerprint(corpus.toString) + "\n")
    sd
  }

  private def corpus(d: Path, n: Int, salt: Int): Unit = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(AnnIndex.Dim)(j =>
        ((i * 37 + j * 11 + salt) % 89) / 89f - 0.5f))
    }.toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
  }

  test("sweep prunes same-tier stale sigs and dead temps, keeps the rest") {
    // A tier is one corpus directory: a stale sig is a sibling whose
    // `_FP` sidecar names the directory being trained.
    val d = tmpDir("graft-annidx-sweep")
    val here = tmpDir("graft-annidx-corpus-a")
    val there = tmpDir("graft-annidx-corpus-b")
    val keep = sigDir(d, "500_1_1", here)
    val staleSameTier = sigDir(d, "500_9_9", here)
    val otherTier = sigDir(d, "500_2_2", there) // same count, other corpus
    val noSidecar = Files.createDirectories(d.resolve("sig=600_1_1"))
    val deadTmp = d.resolve("_tmp-sig=500_9_9-999999999") // pid can't exist
    val liveTmp = d.resolve(
      s"_tmp-sig=500_8_8-${ProcessHandle.current().pid()}")
    Seq(deadTmp, liveTmp).foreach(Files.createDirectories(_))
    AnnIndex.sweep(keep.toString, "500_1_1", here.toString)
    assert(Files.exists(keep), "current artifact must survive")
    assert(!Files.exists(staleSameTier),
      "same-tier regenerated-corpus leftover must be pruned")
    assert(Files.exists(otherTier) && Files.exists(noSidecar),
      "other sf tiers' artifacts must survive (bench would retrain)")
    assert(!Files.exists(deadTmp), "dead writer's temp must be swept")
    assert(Files.exists(liveTmp), "live writer's in-flight temp is not ours")
    Seq(d, here, there).foreach(graft.util.Scratch.deleteRecursively(_))
  }

  test("store stays bounded: exactly one sig dir per tier after ensure") {
    // ensure*() prunes, so the oracle's componentGlob scans a file list
    // whose size is independent of how many corpus generations this
    // tier (corpus directory) has seen.
    val dir = "/root/testdata/sf0.01"
    val (bp, cp) = AnnIndex.ensurePqPaths(spark, dir)
    val tier = AnnIndex.fpPrefix(dir)
    Seq(bp, cp).foreach { comp =>
      val parent = Paths.get(comp).getParent
      val sameTier = Files.list(parent).filter(p =>
        AnnIndex.storedFps(p).exists(_.startsWith(tier))).count()
      assert(sameTier == 1L,
        s"expected exactly one sig dir of $dir under $parent, got $sameTier")
    }
  }

  test("ensure keeps another corpus's artifacts at the same row count") {
    // sf0.001 and sf0.01 both hold 500 embeddings: an ensure at one
    // tier must not prune the other's artifacts.
    val a = tmpDir("graft-annidx-tier-a")
    val b = tmpDir("graft-annidx-tier-b")
    corpus(a, 120, salt = 1)
    corpus(b, 120, salt = 2)
    val paths = Seq(a, b).map(d => AnnIndex.ensureIvfPaths(spark, d.toString))
    assert(paths(0) != paths(1), "distinct corpora must get distinct sigs")
    for ((kp, cp) <- paths; p <- Seq(kp, cp))
      assert(AnnIndex.ready(p), s"$p must survive the other tier's ensure")
    for ((kp, cp) <- paths; p <- Seq(kp, cp))
      graft.util.Scratch.deleteRecursively(Paths.get(p))
    Seq(a, b).foreach(graft.util.Scratch.deleteRecursively(_))
  }

  test("ensure records exactly the fingerprint its sig was resolved from") {
    import spark.implicits._
    // A corpus of its own, so the ensure below trains a new sig dir and
    // its `_FP` sidecar starts empty.
    val d = tmpDir("graft-annidx-fp")
    (0 until 160).map { i =>
      (i.toLong, Array.tabulate(AnnIndex.Dim)(j =>
        ((i * 31 + j * 7) % 97) / 97f - 0.5f))
    }.toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    val dir = d.toString
    val fp = AnnIndex.fsFingerprint(dir)
    val s = AnnIndex.sig(spark, dir)
    val comps = Seq("cents", "codes").map(AnnIndex.componentPath("ivf", _, s))
    comps.foreach(p => graft.util.Scratch.deleteRecursively(Paths.get(p)))
    val (kp, cp) = AnnIndex.ensureIvfPaths(spark, dir)
    assert(Seq(kp, cp) == comps)
    comps.foreach { p =>
      assert(AnnIndex.storedFps(Paths.get(p)) == Seq(fp), s"_FP of $p")
      graft.util.Scratch.deleteRecursively(Paths.get(p))
    }
    graft.util.Scratch.deleteRecursively(d)
  }

  test("corpus signature is value-sensitive, not just id-sensitive") {
    import spark.implicits._
    // Two corpora with IDENTICAL vec_ids whose vectors differ — the
    // ADVICE r11 #2 scenario (generator change between rounds). The
    // (count, Σvec_id) signature was blind to this and served a stale
    // index; the third term must split them.
    val a = tmpDir("graft-annidx-siga")
    val b = tmpDir("graft-annidx-sigb")
    def corpus(shift: Float) = Seq(
      (0L, Array(0.25f + shift, 0.5f)),
      (1L, Array(-0.75f, 0.1f + shift))).toDF("vec_id", "embedding")
    corpus(0.0f).write.parquet(s"$a/embeddings.parquet")
    corpus(0.125f).write.parquet(s"$b/embeddings.parquet")
    val sa = AnnIndex.sig(spark, a.toString)
    val sb = AnnIndex.sig(spark, b.toString)
    assert(sa != sb, s"value change must change the signature ($sa)")
    assert(sa.split("_").take(2).sameElements(sb.split("_").take(2)),
      "count and id terms are identical by construction")
    graft.util.Scratch.deleteRecursively(a)
    graft.util.Scratch.deleteRecursively(b)
  }
}
