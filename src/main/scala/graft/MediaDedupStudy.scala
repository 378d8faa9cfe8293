package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.DedupLedger.{Media, Text, Video}

/** Scale study for the perceptual-dedup topology (q154/q155): the gate
  * fixtures are 200 SF-invariant images/clips, so the 100×-corpus
  * behavior of the fingerprint + banded-hamming-join chain needs its
  * own measurement. Synthesizes N 8x6 BMPs on executors (md5 pixels,
  * 1% planted one-pixel-edited copies), runs the EXACT q154 chain
  * (MediaOps.dHash → 3×14-bit bands → equi-join candidates → popcount
  * ≤ 2), and reports wall time, candidate volume, and pair counts at
  * increasing N — the claim under test being that pair work scales
  * with corpus × bands (plus true-collision mass), never N².
  *
  *   sbt "runMain graft.MediaDedupStudy"
  *
  * Not part of the correctness gate; numbers land in SCALING.md.
  */
object MediaDedupStudy {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    if (args.headOption.contains("wide")) { wideStudy(spark); spark.stop(); return }
    if (args.headOption.contains("temporal")) {
      temporalStudy(spark); spark.stop(); return
    }
    if (args.headOption.contains("ledger")) {
      ledgerStudy(spark); spark.stop(); return
    }
    if (args.headOption.contains("vledger")) {
      videoLedgerStudy(spark); spark.stop(); return
    }

    val W = 8; val H = 6
    def media(n: Long) = {
      val encode = udf((id: Long) => {
        // 1% perturbed copies: ids >= n*99/100 edit base id - n*99/100
        val cut = n * 99 / 100
        val base = if (id >= cut) id - cut else id
        val md = java.security.MessageDigest.getInstance("MD5")
        val px = Array.tabulate(W * H) { p =>
          val x = p % W; val y = p / W
          def ch(c: Int): Int = {
            val b = md.digest(s"$base|$x|$y|$c".getBytes("UTF-8"))(0) & 0xff
            (b + (if (id >= cut && x == 3 && y == 2) 40 else 0)) % 256
          }
          (ch(0), ch(1), ch(2))
        }
        graft.multimodal.BmpDecoder.encode(W, H, px)
      })
      spark.range(0, n, 1, 32)
        .select(col("id").as("media_id"))
        .withColumn("payload", encode(col("media_id")))
        .select(col("media_id"),
          struct(lit("image").as("kind"), lit(W).as("declaredWidth"),
                 lit(H).as("declaredHeight"), lit(0).as("sampleRate")).as("meta"),
          col("payload"))
        .as[graft.multimodal.MediaOps.MediaRecord]
    }

    println("%-9s %-10s %-10s %-10s %-10s"
      .format("N", "hash_s", "join_s", "pairs", "planted"))
    for (n <- Seq(10000L, 50000L, 200000L)) {
      val (hashed, tHash) = timed {
        graft.multimodal.MediaOps.dHash(media(n))
          .filter(col("decoded") === 1L)
          .select(col("media_id"), col("dhash"))
          .localCheckpoint()
      }
      val (nPairs, tJoin) = timed(
        graft.ops.DedupOps.hammingPairs(hashed, "media_id", "dhash",
          bands = 3, bandBits = 14, maxHamming = 2).count())
      println(f"$n%-9d $tHash%-10.2f $tJoin%-10.2f $nPairs%-10d ${n - n * 99 / 100}%-10d")
    }

    // the PATHOLOGY probe: 50k copies of ONE fingerprint among 50k
    // distinct ones — the blank-thumbnail shape. Dedup-first means the
    // band join sees ~50k+1 DISTINCT fingerprints (one representative
    // for the whole identical mass); the quadratic 1.25e9-pair
    // within-group output is deliberately NOT materialized here (pair
    // semantics would emit it; cluster consumers take reps instead) —
    // candidates at the join are what the skew safety is about.
    import spark.implicits._
    val mixed = spark.range(0, 100000L, 1, 32)
      .select(col("id").as("media_id"),
        when(col("id") < 50000L, lit(0x2A5A5A5AL))
          .otherwise(expr("cast(conv(substring(md5(cast(id as string)), 1, 10), 16, 10) as bigint) & 4398046511103"))
          .as("dhash"))
    val (bandRows, tProbe) = timed {
      // distinct-fingerprint band rows = what enters the candidate join
      mixed.groupBy(col("dhash")).agg(min(col("media_id")).as("rep"))
        .count()
    }
    println(f"pathology: 100k rows (50k identical) -> $bandRows%d distinct " +
      f"fingerprints enter the band join (${tProbe}%.2f s)")
    spark.stop()
  }

  /** The WIDE-path follow-up (round 14, closing VERDICT r13 #1): the
    * same planted-copy corpus on the 16x8 grid — dHashWide (120 bits)
    * + hammingPairsWide 3x40-bit bands with the candidate budget — at
    * the scales where the 42-bit/3x14 geometry measured saturation
    * (12.1M candidates at 200k, quadratic beyond). The candidate
    * column is computed from the band-bucket histogram (sum of
    * C(size, 2) over distinct-fingerprint buckets — the volume the
    * self-join emits before the popcount filter); the claim under test
    * is that it stays ~linear in N through 10^6 where the narrow
    * geometry has gone quadratic, and that the budget cap bounds even
    * the narrow geometry. Run: sbt "runMain graft.MediaDedupStudy wide"
    */
  private def wideStudy(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val W = 16; val H = 8
    def media(n: Long) = {
      val encode = udf((id: Long) => {
        val cut = n * 99 / 100
        val base = if (id >= cut) id - cut else id
        val md = java.security.MessageDigest.getInstance("MD5")
        val px = Array.tabulate(W * H) { p =>
          val x = p % W; val y = p / W
          def ch(c: Int): Int = {
            val b = md.digest(s"$base|$x|$y|$c".getBytes("UTF-8"))(0) & 0xff
            (b + (if (id >= cut && x == 3 && y == 2) 40 else 0)) % 256
          }
          (ch(0), ch(1), ch(2))
        }
        graft.multimodal.BmpDecoder.encode(W, H, px)
      })
      spark.range(0, n, 1, 32)
        .select(col("id").as("media_id"))
        .withColumn("payload", encode(col("media_id")))
        .select(col("media_id"),
          struct(lit("image").as("kind"), lit(W).as("declaredWidth"),
                 lit(H).as("declaredHeight"), lit(0).as("sampleRate")).as("meta"),
          col("payload"))
        .as[graft.multimodal.MediaOps.MediaRecord]
    }
    // candidate volume from the bucket histogram over DISTINCT
    // fingerprints — what the band self-join emits pre-popcount
    def bandCandidates(hashed: org.apache.spark.sql.DataFrame,
                       bands: Int, bandBits: Int): Long = {
      val keyed = hashed.select(col("dhash")).distinct()
        .select(explode(expr(s"array(${(0 until bands).map(b =>
          s"named_struct('b', $b, 'k', ${graft.ops.DedupOps.wideBandKeySql(b, bandBits, "dhash")})")
          .mkString(", ")})")).as("bk"))
        .select(col("bk.b").as("b"), col("bk.k").as("k"))
      keyed.groupBy(col("b"), col("k")).agg(count(lit(1)).as("sz"))
        .agg(sum(expr("sz * (sz - 1) DIV 2"))).head.getLong(0)
    }
    println("%-9s %-8s %-8s %-12s %-10s %-10s"
      .format("N", "hash_s", "join_s", "candidates", "pairs", "planted"))
    for (n <- Seq(200000L, 500000L, 1000000L)) {
      val (hashed, tHash) = timed {
        graft.multimodal.MediaOps.dHashWide(media(n), W, H)
          .filter(col("decoded") === 1L)
          .select(col("media_id"), col("dhash"))
          .localCheckpoint()
      }
      val cands = bandCandidates(hashed, bands = 3, bandBits = 40)
      val (nPairs, tJoin) = timed(
        graft.ops.DedupOps.hammingPairsWide(hashed, "media_id", "dhash",
          fpBits = H * (W - 1), bands = 3, bandBits = 40, maxHamming = 2,
          pairBudgetPerDoc = Some(100)).count())
      println(f"$n%-9d $tHash%-8.2f $tJoin%-8.2f $cands%-12d $nPairs%-10d ${n - n * 99 / 100}%-10d")
    }
    // the NARROW geometry at 10^6 with the budget cap wired in: the cap
    // (not the geometry) bounds the join — the q49 discipline available
    // to callers stuck on a 64-bit fingerprint
    val (hashedNarrow, tH) = timed {
      val n = 1000000L
      val cut = n * 99 / 100
      spark.range(0, n, 1, 32)
        .select(col("id").as("media_id"),
          expr(s"CASE WHEN id >= $cut THEN id - $cut ELSE id END").as("b0"))
        .select(col("media_id"),
          expr(("cast(conv(substring(md5(cast(b0 as string)), 1, 11), 16, 10) " +
            "as bigint) & 4398046511103") +
            s" ^ CASE WHEN media_id >= $cut THEN 3 ELSE 0 END").as("dhash"))
        .localCheckpoint()
    }
    val (nCapped, tCap) = timed(
      graft.ops.DedupOps.hammingPairs(hashedNarrow, "media_id", "dhash",
        bands = 3, bandBits = 14, maxHamming = 2,
        pairBudgetPerDoc = Some(10)).count())
    println(f"narrow 3x14 @ 1M + budget 10/doc: ${tH}%.2f s fp, ${tCap}%.2f s join, " +
      f"$nCapped%d pairs (uncapped expectation ~ ${graft.ops.DedupOps
        .expectedBandCandidates(1000000L, 3, 14).toLong}%d candidates)")
  }

  /** The LEDGER lookup join at corpus scale (round 15 — the measured
    * closure of VERDICT r14 #1b): per-item candidate fan-out into the
    * marks table is bands × marks/2^bandBits by arithmetic, unbounded
    * as the ledger grows and UNBOUNDED per bucket when content mass
    * concentrates band keys. Builds a 1M-mark store whose first 100k
    * fingerprints share band-0/band-2 keys (fp = i << 14 — the
    * blank-thumbnail shape in the STORED corpus), probes it with a
    * 10k batch that fans into the hot bucket (1k exact copies of hot
    * members + 9k probes each sitting at hamming 1 from a hot member,
    * the differing bit in BAND 2), and measures the verdict uncapped
    * vs budget-capped — the claim being that the cap bounds the join
    * with the VERDICT UNCHANGED: exact copies resolve through the
    * equality arm (which no cap touches), and the hamming-1 probes
    * still resolve keep=0 because their MATCHING band-1 key lands in
    * a cold ~61-row bucket the cap never sheds — the pigeonhole
    * recall argument, measured. The wide-geometry store at the same
    * 1M marks shows the fan-out gone by band arithmetic alone.
    * Run: sbt "runMain graft.MediaDedupStudy ledger" */
  private def ledgerStudy(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.ops.{DedupLedger, IndexStore}
    import spark.implicits._
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val mask42 = (1L << 42) - 1
    val seedDoc = Seq((0L, "ledger study seed document text")).toDF("doc_id", "text")

    // ---- narrow store: 100k hot-bucket marks + 900k random
    val dirN = java.nio.file.Files.createTempDirectory("graft-ledgerstudy-n").toString
    val marksN = spark.range(0, 1000000L, 1, 32)
      .select(col("id").as("media_id"),
        expr(s"""array(CASE WHEN id < 100000 THEN shiftleft(id, 14)
                 ELSE cast(conv(substring(md5(cast(id as string)), 1, 11), 16, 10)
                      as bigint) & $mask42 END)""").as("fp"))
    val (_, tBuildN) = timed(DedupLedger.build(dirN, "text,media,video",
      Text -> seedDoc, Media() -> marksN))
    val snapN = IndexStore.snapshot(dirN)
    // batch: 1k exact copies of hot members + 9k fan-probes whose
    // band-0 key is the hot bucket's; each fan-probe v = id+200000 has
    // the hot member v - 2^17 (< 100000) at hamming 1 — value bit 17 =
    // fp bit 31, inside band 2 — so every probe is a true near-dup
    // whose recall must survive the shed via its cold band-1 bucket
    val batchN = spark.range(0, 10000L, 1, 32)
      .select((col("id") + 2000000L).as("media_id"),
        expr("""array(CASE WHEN id < 1000 THEN shiftleft(id, 14)
                ELSE shiftleft(id + 200000, 14) END)""").as("fp"))
      .localCheckpoint()
    def keeps(v: org.apache.spark.sql.DataFrame): Long =
      v.agg(sum(col("keep"))).head.getLong(0)
    val (k1, t1) = timed(keeps(
      DedupLedger.verdict(Media(), spark, batchN, dirN, snapN)))
    val (k2, t2) = timed(keeps(
      DedupLedger.verdict(Media(), spark, batchN, dirN, snapN,
        pairBudgetPerItem = Some(10))))
    println(f"narrow 3x14 @ 1M marks (100k hot): build $tBuildN%.1f s; " +
      f"uncapped $t1%.1f s keep=$k1; capped(10/item) $t2%.1f s keep=$k2")

    // ---- wide store: the same 1M marks at 120-bit two-word
    // fingerprints — no hot bucket survives 2^40-key banding
    val mask60 = (1L << 60) - 1
    val dirW = java.nio.file.Files.createTempDirectory("graft-ledgerstudy-w").toString
    def wfp(idExpr: String) =
      s"""array(
         |cast(conv(substring(md5(concat($idExpr, '|a')), 1, 15), 16, 10) as bigint) & $mask60,
         |cast(conv(substring(md5(concat($idExpr, '|b')), 1, 15), 16, 10) as bigint) & $mask60)"""
        .stripMargin
    val marksW = spark.range(0, 1000000L, 1, 32)
      .select(col("id").as("media_id"), expr(wfp("id")).as("fp"))
    val (_, tBuildW) = timed(DedupLedger.build(dirW, "text,media,video",
      Text -> seedDoc, Media(DedupLedger.WideMarks) -> marksW))
    val snapW = IndexStore.snapshot(dirW)
    val batchW = spark.range(0, 10000L, 1, 32)
      .select((col("id") + 2000000L).as("media_id"),
        expr(s"CASE WHEN id < 1000 THEN ${wfp("id")} " +
          s"ELSE ${wfp("(id + 5000000)")} END").as("fp"))
      .localCheckpoint()
    val (k3, t3) = timed(keeps(DedupLedger.verdict(
      Media(DedupLedger.WideMarks), spark, batchW, dirW, snapW)))
    println(f"wide 3x40 @ 1M marks: build $tBuildW%.1f s; " +
      f"uncapped $t3%.1f s keep=$k3")
  }

  /** The VIDEO ledger verdict at corpus scale (round 15): 1M admitted
    * 4-frame videos in a seqs store (4M rows), 200k of them sharing
    * frame 0 — the intro pathology IN THE STORE, since seqRows dedups
    * identical SEQUENCES, not positions — probed by a 10k batch that
    * ALL carries the intro frame (1k exact re-uploads, 4k one-frame
    * edits, 5k novels). Measures: (a) the WIDE geometry uncapped on an
    * intro-free store (the healthy path — per-position fan-out gone by
    * band arithmetic); (b) the narrow geometry + budget on the intro
    * store (the shed carries it: the intro buckets hold 200k rows × 3
    * bands at one position, and every probe fans into them — worse,
    * the skewed join key lands that fan-out on THREE shuffle
    * partitions — while the vote survives on positions 1-3 and exact
    * re-uploads ride the digest arm, which no cap touches). The
    * uncapped-narrow-with-intro cell is deliberately NOT run at 1M:
    * 10k × 600k = 6×10⁹ comparisons through 3 skewed partitions is
    * the measured-hang class the cap exists to prevent (the marks-arm
    * ledgerStudy measured the same mechanism at 162 s on a milder
    * fixture). Run: sbt "runMain graft.MediaDedupStudy vledger" */
  private def videoLedgerStudy(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.ops.{DedupLedger, IndexStore}
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val mask60 = (1L << 60) - 1
    val mask42 = (1L << 42) - 1
    val N = 1000000L

    // ---- (a) WIDE store, no intro, uncapped
    val dirW = java.nio.file.Files
      .createTempDirectory("graft-vledger-w").toString
    def wFrames(idCol: String) =
      s"""array(
         |cast(conv(substring(md5(concat($idCol, '|', f, '|a')), 1, 15), 16, 10) as bigint) & $mask60,
         |cast(conv(substring(md5(concat($idCol, '|', f, '|b')), 1, 15), 16, 10) as bigint) & $mask60)"""
        .stripMargin
    val histW = spark.range(0, N, 1, 32)
      .select(col("id"), explode(expr("sequence(0, 3)")).as("f"))
      .select(col("id").as("media_id"), col("f"),
        expr(wFrames("id")).as("fp"))
    val (_, tBuildW) = timed(
      DedupLedger.append(Video(DedupLedger.WideMarks), histW, dirW, tag = "seed"))
    // batch: 1k exact copies, 4k one-frame 2-bit edits, 5k novels
    val batchW = spark.range(0, 10000L, 1, 32)
      .select(col("id"), explode(expr("sequence(0, 3)")).as("f"))
      .select((col("id") + 2000000L).as("media_id"), col("f"),
        expr(s"""CASE
          |WHEN id < 1000 THEN ${wFrames("id")}
          |WHEN id < 5000 AND f = id % 4 THEN
          |  transform(${wFrames("id")}, (w, i) -> IF(i = 0, w ^ 3L, w))
          |WHEN id < 5000 THEN ${wFrames("id")}
          |ELSE ${wFrames("(id + 7000000)")} END""".stripMargin).as("fp"))
      .localCheckpoint()
    val (kW, tW) = timed(
      DedupLedger.verdict(Video(DedupLedger.WideMarks), spark, batchW,
          dirW, IndexStore.snapshot(dirW))
        .agg(sum(col("keep"))).head.getLong(0))
    println(f"wide 3x40 @ 1M videos (no intro): build $tBuildW%.1f s; " +
      f"uncapped verdict $tW%.1f s, keep=$kW (expect 5000)")

    // ---- (b) NARROW store with a 200k-owner shared intro, capped
    val dirN = java.nio.file.Files
      .createTempDirectory("graft-vledger-n").toString
    def nWord(idCol: String) =
      s"cast(conv(substring(md5(concat($idCol, '|', f)), 1, 11), 16, 10) " +
        s"as bigint) & $mask42"
    val intro = 0x15551555155L
    val histN = spark.range(0, N, 1, 32)
      .select(col("id"), explode(expr("sequence(0, 3)")).as("f"))
      .select(col("id").as("media_id"), col("f"),
        expr(s"array(CASE WHEN f = 0 AND id < 200000 THEN ${intro}L " +
          s"ELSE ${nWord("id")} END)").as("fp"))
    val (_, tBuildN) = timed(
      DedupLedger.append(Video(), histN, dirN, tag = "seed"))
    val batchN = spark.range(0, 10000L, 1, 32)
      .select(col("id"), explode(expr("sequence(0, 3)")).as("f"))
      .select((col("id") + 2000000L).as("media_id"), col("f"),
        // edited frame = 1 + id % 3, always in 1..3: frame 0 is the
        // intro for EVERY probe, so an "edit at f = id % 4" would make
        // the id%4==0 quarter exact copies instead of edits (review
        // find — the cell must measure 4k true one-frame edits)
        expr(s"""array(CASE
          |WHEN f = 0 THEN ${intro}L
          |WHEN id < 1000 THEN ${nWord("id")}
          |WHEN id < 5000 AND f = 1 + id % 3 THEN ${nWord("id")} ^ 3L
          |WHEN id < 5000 THEN ${nWord("id")}
          |ELSE ${nWord("(id + 7000000)")} END)""".stripMargin).as("fp"))
      .localCheckpoint()
    val (kN, tN) = timed(
      DedupLedger.verdict(Video(DedupLedger.NarrowMarks), spark, batchN,
          dirN, IndexStore.snapshot(dirN), pairBudgetPerItem = Some(100))
        .agg(sum(col("keep"))).head.getLong(0))
    println(f"narrow 3x14 @ 1M videos (200k shared intro, ALL probes " +
      f"carry it): build $tBuildN%.1f s; capped(100/item) verdict " +
      f"$tN%.1f s, keep=$kN")

    // ---- (c) the same pathological store under the DEFAULT budget —
    // the cell round 15 deliberately did NOT run (the uncapped default
    // was the measured-hang class: 6x10^9 comparisons landing on three
    // shuffle partitions). Round 16's measured-occupancy ladder must
    // price the correlated intro mass (every probe carries it, so
    // maxOcc ≈ the whole batch) and shed it with no explicit argument.
    val (kD, tD) = timed(
      DedupLedger.verdict(Video(DedupLedger.NarrowMarks), spark, batchN,
          dirN, IndexStore.snapshot(dirN))
        .agg(sum(col("keep"))).head.getLong(0))
    println(f"narrow 3x14 @ 1M videos, DEFAULT budget (the r15 " +
      f"hang-class cell): verdict $tD%.1f s, keep=$kD (expect 5000)")
  }

  /** q157's topology at corpus scale: N four-frame videos (synthetic
    * 42-bit frame fingerprints — the decode cost is measured by the
    * wide/main studies; this measures the per-position banded join +
    * agreement vote), 1% planted copies with ONE frame's hash 2 bits
    * off, and a PATHOLOGY variant where every video shares frame 0
    * (the black intro frame) — per-position dedup-first must collapse
    * that mass to one band row. Run:
    * sbt "runMain graft.MediaDedupStudy temporal" */
  private def temporalStudy(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val mask42 = (1L << 42) - 1
    def frames(n: Long, sharedIntro: Boolean) = {
      val cut = n * 99 / 100
      spark.range(0, n, 1, 32)
        .select(col("id").as("media_id"),
          explode(expr("sequence(0, 3)")).as("f"))
        .withColumn("base",
          expr(s"CASE WHEN media_id >= $cut THEN media_id - $cut ELSE media_id END"))
        .withColumn("h0",
          if (sharedIntro)
            expr(s"""CASE WHEN f = 0 THEN ${0x2a2a2a2aL}L ELSE
                     cast(conv(substring(md5(concat(base, '|', f)), 1, 11), 16, 10)
                          as bigint) & $mask42 END""")
          else
            expr(s"cast(conv(substring(md5(concat(base, '|', f)), 1, 11), 16, 10) " +
              s"as bigint) & $mask42"))
        // planted copies: frame (id % 4) of each copy is 2 bits off
        .withColumn("fhash",
          expr(s"CASE WHEN media_id >= $cut AND f = media_id % 4 " +
            s"THEN h0 ^ 3 ELSE h0 END"))
        .select(col("media_id"), col("f"), col("fhash"))
    }
    println("%-9s %-10s %-8s %-10s %-10s"
      .format("N_videos", "variant", "join_s", "pairs", "planted"))
    for (n <- Seq(200000L, 1000000L); shared <- Seq(false, true)) {
      val fr = frames(n, shared).localCheckpoint()
      val (nPairs, t) = timed(
        graft.ops.DedupOps.temporalNearDupPairs(fr, "media_id", "f", "fhash",
          bands = 3, bandBits = 14, maxHamming = 2, minAgree = 3,
          pairBudgetPerDoc = Some(100)).count())
      println(f"$n%-9d ${if (shared) "intro" else "plain"}%-10s $t%-8.2f " +
        f"$nPairs%-10d ${n - n * 99 / 100}%-10d")
    }

    // WIDE follow-up (round 15, closing VERDICT r14 #1a): the same
    // corpus shapes on 120-bit two-word frame fingerprints (60
    // vote-bits per word — the sparse layout hammingPairsWide's
    // contract admits), 3×40-bit bands. The PLAIN variant runs
    // UNCAPPED — the claim under test is that the wide geometry itself
    // holds per-position candidates linear at 10⁶ videos, with no
    // budget cap carrying the load; the intro pathology keeps the cap
    // (a frame every video shares is quadratic EVIDENCE mass at any
    // fingerprint width — bounding it is the cap's actual job).
    val mask60 = (1L << 60) - 1
    def framesWide(n: Long, sharedIntro: Boolean) = {
      val cut = n * 99 / 100
      def word(salt: String, introConst: Long) = {
        val h = s"cast(conv(substring(md5(concat(base, '|', f, '|$salt')), " +
          s"1, 15), 16, 10) as bigint) & $mask60"
        if (sharedIntro) expr(s"CASE WHEN f = 0 THEN ${introConst}L ELSE $h END")
        else expr(h)
      }
      spark.range(0, n, 1, 32)
        .select(col("id").as("media_id"),
          explode(expr("sequence(0, 3)")).as("f"))
        .withColumn("base",
          expr(s"CASE WHEN media_id >= $cut THEN media_id - $cut ELSE media_id END"))
        .withColumn("w0", word("a", 0x2a2a2a2aL))
        .withColumn("w1", word("b", 0x15151515L))
        .withColumn("fhash",
          expr(s"CASE WHEN media_id >= $cut AND f = media_id % 4 " +
            "THEN array(w0 ^ 3L, w1) ELSE array(w0, w1) END"))
        .select(col("media_id"), col("f"), col("fhash"))
    }
    // per-position candidate volume from the (f, band, key) bucket
    // histogram over DISTINCT per-position fingerprints — what the
    // banded self-join emits pre-popcount
    def wideCandidates(fr: org.apache.spark.sql.DataFrame): Long = {
      val keyed = fr.select(col("f"), col("fhash")).distinct()
        .select(col("f"), explode(expr(s"array(${(0 until 3).map(b =>
          s"named_struct('b', $b, 'k', ${graft.ops.DedupOps.wideBandKeySql(b, 40, "fhash")})")
          .mkString(", ")})")).as("bk"))
        .select(col("f"), col("bk.b").as("b"), col("bk.k").as("k"))
      val r = keyed.groupBy(col("f"), col("b"), col("k"))
        .agg(count(lit(1)).as("sz"))
        .agg(sum(expr("sz * (sz - 1) DIV 2"))).head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    println("%-9s %-10s %-8s %-12s %-10s %-10s"
      .format("N_wide", "variant", "join_s", "candidates", "pairs", "planted"))
    for (n <- Seq(200000L, 1000000L)) {
      val fr = framesWide(n, sharedIntro = false).localCheckpoint()
      val cands = wideCandidates(fr)
      val (nPairs, t) = timed(
        graft.ops.DedupOps.temporalNearDupPairsWide(fr, "media_id", "f",
          "fhash", fpBits = 128, bands = 3, bandBits = 40, maxHamming = 2,
          minAgree = 3).count()) // UNCAPPED — the geometry carries it
      println(f"$n%-9d ${"plain"}%-10s $t%-8.2f $cands%-12d $nPairs%-10d " +
        f"${n - n * 99 / 100}%-10d")
    }
    val frI = framesWide(1000000L, sharedIntro = true).localCheckpoint()
    val (nPairsI, tI) = timed(
      graft.ops.DedupOps.temporalNearDupPairsWide(frI, "media_id", "f",
        "fhash", fpBits = 128, bands = 3, bandBits = 40, maxHamming = 2,
        minAgree = 3, pairBudgetPerDoc = Some(100)).count())
    println(f"1000000   intro+cap  $tI%-8.2f ${"-"}%-12s $nPairsI%-10d 10000")
  }
}
