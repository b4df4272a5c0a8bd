package graft.llm

import graft.{SparkEntry, SparkSpec}

/** The codec is real: these laws fail if [[Multimodal.encodeKernel]]
  * stops producing genuine PNG streams or [[Multimodal.decodeKernel]]
  * stops reading them back losslessly. */
class MultimodalSpec extends SparkSpec {

  test("encodeKernel emits a genuine PNG byte stream (magic + IHDR)") {
    for (id <- Seq(0L, 7L, 123L, 9999L)) {
      val b = Multimodal.encodeKernel(id)
      // PNG signature: 89 50 4E 47 0D 0A 1A 0A, then the IHDR chunk
      assert(b.length > 24)
      assert((b(0) & 0xff) == 0x89 &&
        new String(b.slice(1, 4), "US-ASCII") == "PNG")
      assert(new String(b.slice(12, 16), "US-ASCII") == "IHDR")
    }
  }

  test("ImageIO round-trip is lossless: decoded pixels equal the generator formula") {
    for (id <- Seq(0L, 7L, 123L, 9999L)) {
      val (w, h, px) = Multimodal.decodeKernel(Multimodal.encodeKernel(id))
      assert(w == Multimodal.pngWidth(id) && h == Multimodal.pngHeight(id))
      for (y <- 0 until h; x <- 0 until w) {
        val p = px(y * w + x)
        assert(p(0) == Multimodal.chanR(id, x, y) &&
          p(1) == Multimodal.chanG(id, x, y) &&
          p(2) == Multimodal.chanB(id, x, y),
          s"id=$id pixel ($x,$y): got ${p.toSeq}")
      }
    }
  }

  test("pixelFeatures fingerprint matches an independently computed md5") {
    // one tiny hand-checked case: 1×1 pixel (10, 11, 12) → hex "0a0b0c"
    val (fp, lum) = Multimodal.pixelFeatures(Array(Array(10, 11, 12)))
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = java.lang.Long.parseLong(
      md.digest("0a0b0c".getBytes("US-ASCII"))
        .take(6).map("%02x".format(_)).mkString, 16)
    assert(fp == want)
    assert(lum == 299L * 10 + 587L * 11 + 114L * 12)
  }

  test("phashKernel equals an independent aHash recomputation from the formulas") {
    for (id <- Seq(0L, 7L, 123L, 9999L)) {
      val (w, h, px) = Multimodal.decodeKernel(Multimodal.encodeKernel(id))
      val got = Multimodal.phashKernel(w, h, px)
      // independent spelling: materialize the 8×8 grid, mean test
      val lums = for (yo <- 0 until 8; xo <- 0 until 8) yield {
        val (xs, ys) = (xo * w / 8, yo * h / 8)
        299L * Multimodal.chanR(id, xs, ys) +
          587L * Multimodal.chanG(id, xs, ys) +
          114L * Multimodal.chanB(id, xs, ys)
      }
      val tot = lums.sum
      val want = lums.map(l => if (l * 64 > tot) '1' else '0').mkString
      assert(got == want, s"id=$id")
      assert(got.length == 64 && got.exists(_ == '1') && got.exists(_ == '0'))
    }
  }

  test("phash dedup groups the planted identical-image pair under one canonical id") {
    import spark.implicits._
    // ids congruent mod lcm(16,12,256) = 768 generate IDENTICAL images
    // (same dims, same channel pattern) → same PNG → same aHash.
    val docs = Seq(5L, 773L, 9L).map(id => (id, "x", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = java.nio.file.Files.createTempDirectory("phash-spec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("mm_phash_dedup")(spark, d)
      .select($"media_id", $"n_same", $"canonical_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((5L, 2L, 5L), (773L, 2L, 5L), (9L, 1L, 9L)))
  }

  test("PCM16LE round-trip: decode(encode(id)) reproduces the sample formula, signs included") {
    for (id <- Seq(0L, 7L, 123L, 9999L)) {
      val got = Multimodal.pcmDecodeKernel(Multimodal.pcmEncodeKernel(id))
      assert(got.length == Multimodal.audioLen(id), s"id=$id")
      val want = Array.tabulate(got.length)(i => Multimodal.audioSample(id, i))
      assert(got.sameElements(want), s"id=$id")
      assert(want.exists(_ < 0) && want.exists(_ > 0), s"id=$id full-swing")
    }
  }

  test("audio energy: top-2 frames match an independent framing recomputation") {
    import spark.implicits._
    val docs = Seq(3L, 11L).map(id => (id, "x", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = java.nio.file.Files.createTempDirectory("audio-spec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("mm_audio_energy")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1)
    for (id <- Seq(3L, 11L)) {
      val n = Multimodal.audioLen(id)
      val nf = (n - 320) / 160 + 1
      val energies = (0 until nf).map { j =>
        (j.toLong, (j * 160 until j * 160 + 320)
          .map(i => { val s = Multimodal.audioSample(id, i).toLong; s * s }).sum)
      }
      val want = energies.sortBy { case (j, e) => (-e, j) }.take(2)
        .zipWithIndex
        .map { case ((j, e), rk) => (id, n.toLong, nf.toLong, j, e, rk + 1L) }
      assert(out(id).sortBy(_._6).toSeq == want, s"id=$id")
    }
  }
}
