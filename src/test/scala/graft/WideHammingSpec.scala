package graft

import org.apache.spark.sql.functions._
import graft.ops.DedupOps
import graft.ops.DedupLedger.{Media, Text}

/** The wide-fingerprint hamming family (VERDICT r13 Next #1): the
  * array-of-longs form must be bit-identical to the proven single-long
  * form on ≤64-bit inputs, exact against exhaustive popcount ground
  * truth on multi-word fingerprints (including band keys that straddle
  * the 64-bit word boundary), and the candidate budget must drop
  * saturated buckets without ever tightening below the BAND_CAP floor.
  * Plus the saturation RULE itself (Next #5): the predicate that goes
  * red if fixture-scale banding constants are reused at corpus scale.
  */
class WideHammingSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic 64-bit scramble (splitmix64 finalizer). */
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def naivePairs(fps: Seq[(Long, Array[Long])],
                         maxHamming: Int): Set[(Long, Long, Long)] =
    (for {
      (i1, h1) <- fps; (i2, h2) <- fps if i1 < i2
      d = h1.zip(h2).map { case (a, b) => java.lang.Long.bitCount(a ^ b).toLong }.sum
      if d <= maxHamming
    } yield (i1, i2, d)).toSet

  private def collected(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("wide form ≡ long form ≡ exhaustive truth on 42-bit fingerprints") {
    val mask42 = (1L << 42) - 1
    // 120 base fingerprints; ids 120-199 are exact copies (identical
    // groups — the dedup-first mass); ids 200-299 flip 1-2 low-entropy
    // bits of a base (near pairs)
    val fps = (0L until 300L).map { id =>
      val base = id % 120
      val h0 = mix(base) & mask42
      val h = if (id < 200) h0
              else h0 ^ (1L << (id % 42)) ^
                   (if (id % 2 == 0) 1L << ((id * 7) % 42) else 0L)
      (id, h)
    }
    val df = fps.toDF("media_id", "h")
    val long = collected(DedupOps.hammingPairs(df, "media_id", "h",
      bands = 3, bandBits = 14, maxHamming = 2))
    val wide = collected(DedupOps.hammingPairsWide(
      df.select(col("media_id"), array(col("h")).as("h")), "media_id", "h",
      fpBits = 42, bands = 3, bandBits = 14, maxHamming = 2))
    val truth = naivePairs(fps.map { case (i, h) => (i, Array(h)) }, 2)
    assert(long == truth, "long form drifted from exhaustive truth")
    assert(wide == long, "wide form drifted from the long form")
  }

  test("wide 120-bit fingerprints match exhaustive popcount (bands straddle words)") {
    // 2-word fingerprints; flips land at bit (id*37)%120, sweeping the
    // word boundary and every band (3x40-bit bands: band 1 = bits
    // 40-79 straddles word 0/word 1)
    val fps = (0L until 250L).map { id =>
      val base = id % 100
      val w = Array(mix(base * 2 + 1), mix(base * 2 + 2) & ((1L << 56) - 1))
      if (id >= 150) {
        val b = (id * 37) % 120
        w(b.toInt >> 6) ^= 1L << (b & 63)
      }
      (id, w)
    }
    val wide = collected(DedupOps.hammingPairsWide(
      fps.toDF("media_id", "h"), "media_id", "h",
      fpBits = 120, bands = 3, bandBits = 40, maxHamming = 2))
    assert(wide == naivePairs(fps, 2))
    // sanity: the fixture actually exercises all three regimes
    assert(wide.exists(_._3 == 0L) && wide.exists(_._3 > 0L))
  }

  test("pairBudgetPerDoc drops a saturated bucket; floor-sized buckets always survive") {
    val mask42 = (1L << 42) - 1
    // 600 distinct fingerprints sharing band 0 (low 14 bits) — a
    // saturated bucket, mutual hamming large. The planted pair (9000,
    // 9001) differs by one bit in band 1 AND one in band 2, so band 0
    // is its ONLY matching band — recall for it depends on the hot
    // bucket surviving.
    val shared = 0x1a2bL
    val hot = (0L until 600L).map { i =>
      (i, (mix(i + 7) & mask42 & ~16383L) | shared)
    }
    val planted = Seq(
      (9000L, (mix(999) & mask42 & ~16383L) | shared),
      (9001L, ((mix(999) & mask42 & ~16383L) | shared) ^ (1L << 20) ^ (1L << 30)))
    val df = (hot ++ planted).toDF("media_id", "h")
    def run(budget: Option[Int]) = collected(DedupOps.hammingPairs(
      df, "media_id", "h", bands = 3, bandBits = 14, maxHamming = 2,
      pairBudgetPerDoc = budget))
    val uncapped = run(None)
    assert(uncapped.contains((9000L, 9001L, 2L)))
    // tiny budget: the 602-wide band-0 bucket exceeds the 200 floor and
    // the budget cannot afford it -> dropped -> the planted pair is lost
    assert(!run(Some(1)).contains((9000L, 9001L, 2L)))
    // generous budget: the cap rises to admit the real bucket
    assert(run(Some(10000)) == uncapped)
    // floor guarantee: a <=200 bucket survives even a zero-ish budget
    val small = ((0L until 50L).map(i =>
      (i, (mix(i + 7) & mask42 & ~16383L) | shared)) ++ planted)
      .toDF("media_id", "h")
    assert(collected(DedupOps.hammingPairs(small, "media_id", "h",
        bands = 3, bandBits = 14, maxHamming = 2,
        pairBudgetPerDoc = Some(1)))
      .contains((9000L, 9001L, 2L)))
  }

  test("budget wiring matches on the wide form too") {
    // same hot-bucket construction in the 120-bit domain (band 0 = low
    // 40 bits shared)
    val sharedLow = 0x12345678abL
    val rows = (0L until 300L).map { i =>
      (i, Array((mix(i) & ~((1L << 40) - 1)) | sharedLow, mix(i + 500)))
    } ++ Seq(
      (9000L, Array((mix(777) & ~((1L << 40) - 1)) | sharedLow, mix(888))),
      // one flip in band 1 (bit 45) and one in band 2 (bit 64+21 = 85):
      // band 0 (the hot bucket) is the only matching band
      (9001L, Array(((mix(777) & ~((1L << 40) - 1)) | sharedLow) ^ (1L << 45),
                    mix(888) ^ (1L << 21))))
    val df = rows.toDF("media_id", "h")
    def run(budget: Option[Int]) = collected(DedupOps.hammingPairsWide(
      df, "media_id", "h", fpBits = 128, bands = 3, bandBits = 40,
      maxHamming = 2, pairBudgetPerDoc = budget))
    assert(run(None).contains((9000L, 9001L, 2L)))
    assert(!run(Some(1)).contains((9000L, 9001L, 2L)))
    assert(run(Some(10000)) == run(None))
  }

  test("saturation rule: fixture-scale banding constants go red at corpus scale") {
    // the exact misuse VERDICT r13 Next #5 names: 3x14-bit bands on a
    // 10^6-row frame is deep in the quadratic regime
    assert(!DedupOps.saturationSafe(1000000L, 3, 14))
    // ...and already unsafe at the measured 200k knee (12.1M candidates
    // at 200k images = 60x per item)
    assert(!DedupOps.saturationSafe(200000L, 3, 14, budgetPerItem = 10L))
    // every gated config is safe at its fixture scale
    assert(DedupOps.saturationSafe(200L, 3, 14))  // q154/q156/q157
    assert(DedupOps.saturationSafe(200L, 3, 17))  // q155
    // the wide form holds the linear regime at corpus scale
    assert(DedupOps.saturationSafe(1000000L, 3, 40))
    assert(DedupOps.saturationSafe(100000000L, 3, 40))
    // the model reproduces the measured knee: ~3.7M uniform-geometry
    // candidates at 200k x 3x14 (SCALING.md r13 addendum 3 measured
    // 12.1M with planted correlation on top)
    val e = DedupOps.expectedBandCandidates(200000L, 3, 14)
    assert(e > 3.5e6 && e < 4.0e6, s"model drifted: $e")
  }

  test("temporal budget caps the shared-position evidence mass without losing the vote") {
    // the temporalStudy pathology in miniature: 500 videos all share
    // frame 0's fingerprint (black intro frame); frames 1-3 are
    // per-video random. One planted copy pair differs by 1 bit at
    // frame 1 only. With the budget on, the 500-wide frame-0 group is
    // dropped from the evidence (it exceeds the 200 floor and a tiny
    // budget), yet the planted pair still votes 3-of-4 through its
    // copy-sized groups; the final answer matches the uncapped run —
    // the cap sheds quadratic evidence, not recall, exactly like the
    // text family's DF cap on stop-grams.
    val mask42 = (1L << 42) - 1
    val intro = 0x1b1b1bL
    val rows: Seq[(Long, Long, Long)] = (0L until 500L).flatMap { v =>
      Seq((v, 0L, intro), (v, 1L, mix(v * 31 + 1) & mask42),
          (v, 2L, mix(v * 31 + 2) & mask42), (v, 3L, mix(v * 31 + 3) & mask42))
    } ++ Seq(
      (9000L, 0L, intro), (9000L, 1L, mix(77) & mask42),
      (9000L, 2L, mix(78) & mask42), (9000L, 3L, mix(79) & mask42),
      (9001L, 0L, intro), (9001L, 1L, (mix(77) & mask42) ^ 4L),
      (9001L, 2L, mix(78) & mask42), (9001L, 3L, mix(79) & mask42))
    val df = rows.toDF("media_id", "f", "h")
    def run(budget: Option[Int]) = DedupOps.temporalNearDupPairs(df,
        "media_id", "f", "h", bands = 3, bandBits = 14, maxHamming = 2,
        minAgree = 3, pairBudgetPerDoc = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1),
                           r.getLong(2), r.getLong(3))).toSet
    val capped = run(Some(1))
    // the dropped intro position costs the pair exactly ONE vote
    // (4-of-4 -> 3-of-4, still over the threshold); the PAIR SET is
    // unchanged — the cap sheds quadratic evidence, not recall
    assert(capped == Set((9000L, 9001L, 3L, 1L)),
      s"planted pair must survive the evidence cap: $capped")
    assert(run(None) == Set((9000L, 9001L, 4L, 1L)),
      "uncapped vote should count the shared intro position too")
  }

  test("temporal: a mass re-upload cluster is budget-IMMUNE (sequence dedup-first) " +
       "and still pairs with its near-copies through the representative") {
    // the round-14 second-review scenario: one video re-uploaded 300
    // times (identical sequences) + 5 copies of a one-bit-off variant.
    // Under the positional evidence cap alone the 300-wide identical
    // groups would exceed the cap at EVERY position and the corpus's
    // most duplicated content would emit zero pairs; sequence-level
    // dedup-first collapses the cluster to ONE rep before positional
    // work, so its C(300,2) member pairs (the output contract) and the
    // 300x5 cross pairs to the variant all survive any budget.
    val mask42 = (1L << 42) - 1
    val a = Array(mix(11) & mask42, mix(12) & mask42,
                  mix(13) & mask42, mix(14) & mask42)
    val b = Array(a(0), a(1) ^ 8L, a(2), a(3)) // one frame, one bit off
    val rows: Seq[(Long, Long, Long)] =
      (0L until 300L).flatMap(v => a.zipWithIndex.map {
        case (h, f) => (v, f.toLong, h) }) ++
      (1000L until 1005L).flatMap(v => b.zipWithIndex.map {
        case (h, f) => (v, f.toLong, h) })
    val got = DedupOps.temporalNearDupPairs(rows.toDF("media_id", "f", "h"),
        "media_id", "f", "h", bands = 3, bandBits = 14, maxHamming = 2,
        minAgree = 3, pairBudgetPerDoc = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1),
                           r.getLong(2), r.getLong(3))).toSet
    assert(got.size == 300 * 299 / 2 + 5 * 4 / 2 + 300 * 5,
      s"expected full cluster + cross pairs, got ${got.size}")
    assert(got.contains((0L, 299L, 4L, 0L)), "within-cluster pair with full votes")
    assert(got.contains((1000L, 1004L, 4L, 0L)))
    assert(got.contains((0L, 1000L, 4L, 1L)),
      "cross pair to the variant must carry the near-frame's distance")
  }

  test("temporalNearDupPairs: agreement vote matches the exhaustive per-frame count") {
    // videos of 3 frame hashes; hand-planted relations
    val f = Array(mix(1) & 0x3ffffffffffL, mix(2) & 0x3ffffffffffL,
                  mix(3) & 0x3ffffffffffL)
    val vids: Seq[(Long, Array[Long])] = Seq(
      0L -> f,                                         // base
      1L -> f.clone(),                                 // exact re-upload
      2L -> Array(f(0), f(1) ^ 2L, f(2)),              // one frame, 1 bit
      3L -> Array(f(0), f(1) ^ 0xfff50L, f(2) ^ 0xabc11L), // 2 frames far
      4L -> Array(mix(40) & 0x3ffffffffffL, mix(41) & 0x3ffffffffffL,
                  mix(42) & 0x3ffffffffffL),           // unrelated
      5L -> Array(f(0), f(1) ^ 2L, f(2)))              // exact copy of 2
    val rows = vids.flatMap { case (id, hs) =>
      hs.zipWithIndex.map { case (h, i) => (id, i.toLong, h) } }
    val got = DedupOps.temporalNearDupPairs(rows.toDF("media_id", "f", "h"),
        "media_id", "f", "h", bands = 3, bandBits = 14, maxHamming = 2,
        minAgree = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
                           r.getLong(2), r.getLong(3))).toSet
    val truth = (for {
      (i1, h1) <- vids; (i2, h2) <- vids if i1 < i2
      per = h1.zip(h2).map { case (a, b) => java.lang.Long.bitCount(a ^ b).toLong }
      agree = per.filter(_ <= 2)
      if agree.length >= 2
    } yield (i1, i2, agree.length.toLong, agree.sum)).toSet
    assert(got == truth)
    // the vote actually separates: v3 agrees on only 1 frame -> absent
    assert(!got.exists(p => p._1 == 0L && p._2 == 3L))
    assert(got.contains((0L, 1L, 3L, 0L)) && got.contains((2L, 5L, 3L, 0L)))
    assert(got.contains((0L, 2L, 3L, 1L)))
  }

  test("temporal wide form ≡ narrow form on one-word frames, ≡ exhaustive " +
       "truth on straddling two-word frames") {
    val mask42 = 0x3ffffffffffL
    // narrow corpus: 40 base 3-frame videos, 20 exact re-uploads, 20
    // one-frame 2-bit edits
    val vids = (0L until 80L).map { id =>
      val base = id % 40
      val hs = Array.tabulate(3)(f => mix(base * 31 + f) & mask42)
      if (id >= 60) hs((id % 3).toInt) ^= 3L
      (id, hs)
    }
    val rows = vids.flatMap { case (id, hs) =>
      hs.zipWithIndex.map { case (h, i) => (id, i.toLong, h) } }
    def collectedT(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
                             r.getLong(2), r.getLong(3))).toSet
    val narrow = collectedT(DedupOps.temporalNearDupPairs(
      rows.toDF("media_id", "f", "h"), "media_id", "f", "h",
      bands = 3, bandBits = 14, maxHamming = 2, minAgree = 2))
    val wideOnNarrow = collectedT(DedupOps.temporalNearDupPairsWide(
      rows.toDF("media_id", "f", "h0")
        .select(col("media_id"), col("f"), array(col("h0")).as("h")),
      "media_id", "f", "h", fpBits = 42, bands = 3, bandBits = 14,
      maxHamming = 2, minAgree = 2))
    assert(wideOnNarrow == narrow,
      "wide temporal form drifted from the narrow form on one-word frames")

    // two-word corpus (120 bits, 3x40-bit straddling bands) against the
    // exhaustive word-wise popcount vote
    val vidsW = (0L until 60L).map { id =>
      val base = id % 30
      val hs = Array.tabulate(3)(f =>
        Array(mix(base * 17 + f), mix(base * 17 + f + 1000) & 0xffffffffffffffL))
      if (id >= 45) hs((id % 3).toInt)(0) ^= 5L // 2 bits, one frame
      (id, hs)
    }
    val rowsW = vidsW.flatMap { case (id, hs) =>
      hs.zipWithIndex.map { case (h, i) => (id, i.toLong, h.toSeq) } }
    val gotW = collectedT(DedupOps.temporalNearDupPairsWide(
      rowsW.toDF("media_id", "f", "h"), "media_id", "f", "h",
      fpBits = 120, bands = 3, bandBits = 40, maxHamming = 2, minAgree = 2))
    val truthW = (for {
      (i1, h1) <- vidsW; (i2, h2) <- vidsW if i1 < i2
      per = h1.zip(h2).map { case (a, b) =>
        a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum }
      agree = per.filter(_ <= 2)
      if agree.length >= 2
    } yield (i1, i2, agree.length.toLong, agree.sum)).toSet
    assert(gotW == truthW,
      "wide temporal vote drifted from exhaustive two-word truth")
  }

  test("marks-arm verdict over one-word arrays ≡ exhaustive popcount " +
       "semantics (the narrow arm's contract survives the array typing)") {
    import graft.ops.{DedupLedger, IndexStore}
    val dir = java.nio.file.Files
      .createTempDirectory("widemarks-equiv").toString
    val mask42 = 0x3ffffffffffL
    val hist = (0L until 40L).map(i => (i, mix(i) & mask42))
    val batch = (100L until 140L).map { id =>
      val h = mix(id % 20) & mask42 // 20 collide with history bases
      val fp = (id % 4) match {
        case 0 => h                       // exact
        case 1 => h ^ 3L                  // hamming 2 -> near
        case 2 => h ^ 0x70007L            // far -> keep
        case _ => mix(id * 97 + 7) & mask42 // unrelated -> keep
      }
      (id, fp)
    }
    DedupLedger.build(dir, "text,media,video",
      Text -> Seq((0L, (0 until 30).map(i => s"w$i").mkString(" ")))
        .toDF("doc_id", "text"),
      Media() -> hist.toDF("media_id", "h")
        .select(col("media_id"), array(col("h")).as("fp")))
    val got = DedupLedger.verdict(Media(), spark,
        batch.toDF("media_id", "h")
          .select(col("media_id"), array(col("h")).as("fp")),
        dir, IndexStore.snapshot(dir))
      .collect()
      .map(r => (r.getLong(0),
                 if (r.isNullAt(1)) -1L else r.getLong(1),
                 if (r.isNullAt(2)) -1L else r.getLong(2),
                 r.getLong(3))).toSet
    val truth = batch.map { case (id, fp) =>
      val ex = hist.filter(_._2 == fp).map(_._1).sorted.headOption
      val nr = hist.filter(h => java.lang.Long.bitCount(h._2 ^ fp) <= 2)
        .map(_._1).sorted.headOption
      (id, ex.getOrElse(-1L), nr.getOrElse(-1L),
       if (ex.isEmpty && nr.isEmpty) 1L else 0L)
    }.toSet
    assert(got == truth,
      "array-typed marks verdict drifted from exhaustive popcount semantics")
  }
}
