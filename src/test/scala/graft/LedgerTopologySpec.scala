package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{DedupLedger, DedupOps, IndexStore}
import graft.ops.DedupLedger.{Media, Text, Video}

/** Round-12 VERDICT #1: the ledger verdict's batch side must BROADCAST
  * only while measurably small — the increment scales with ingest rate,
  * not corpus size, so a hard broadcast() hint is a latent driver OOM at
  * production ingest volumes. This spec is the q103 salted-join
  * discipline applied to the ledger: force the size gate shut
  * (maxBroadcast = 0 AND autoBroadcastJoinThreshold = -1, so neither the
  * hint nor Catalyst's own stats can pick a broadcast), assert the
  * executed plan really runs shuffle joins, and assert the verdict is
  * bit-identical — the topology is oracle-invisible.
  */
class LedgerTopologySpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
  private def words(n: Int, seed: String) =
    (0 until n).map(i => s"$seed$i").mkString(" ")
  /** A one-doc text arm beside the narrow media marks `fps`. */
  private def mixedLedger(dir: String,
                          fps: org.apache.spark.sql.DataFrame): Int =
    DedupLedger.build(dir, "text,media,video",
      Text -> docs(0L -> words(30, "h")), Media() -> fps)

  /** The q103 discipline for one arm's verdict: run it with the size
    * gate open, then forced shut (maxBroadcast = 0 AND
    * autoBroadcastJoinThreshold = -1); the forced plan must run shuffle
    * joins, never broadcast, and return the identical verdict. Returns
    * the broadcast run's rows. */
  private def forcedShuffleParity(arm: String)
      (verdict: Long => org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
    val broadcastRun = verdict(256L << 20).collect().map(_.toSeq).toSeq
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val gated = verdict(0L)
      val shuffleRun = gated.collect().map(_.toSeq).toSeq
      // materialize first, then read the ADAPTIVE final plan
      val plan = gated.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin") &&
             !plan.contains("BroadcastExchange"),
        s"size-gated $arm verdict must not broadcast when the gate is shut:\n$plan")
      assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
        s"expected shuffle joins in the forced $arm plan:\n$plan")
      assert(shuffleRun == broadcastRun,
        s"$arm verdict must be identical under shuffle-join topology")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    broadcastRun
  }

  /** A streamed tick's keepers plan ([[DedupLedger.keepersOf]]: the
    * batch anti-joined with its exact and near hit ids) keeps exactly
    * the items the verdict keeps, with the size gate open and forced
    * shut; the forced plan runs no broadcast either. */
  private def keepersParity(arm: DedupLedger.LedgerArm,
                            batch: org.apache.spark.sql.DataFrame,
                            dir: String, snap: IndexStore.Snapshot): Unit = {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col(arm.idCol)).collect().map(_.getLong(0)).toSet
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try for (maxBroadcast <- Seq(256L << 20, 0L)) {
      if (maxBroadcast == 0L)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val want = ids(DedupLedger.verdict(arm, spark, batch, dir, snap,
        maxBroadcast).filter(col("keep") === 1L))
      val kept = DedupLedger.keepersOf(arm, spark, batch, dir, snap,
        maxBroadcast)
      val got = ids(kept)
      assert(got == want, s"${arm.modality} keepers at maxBroadcast=" +
        s"$maxBroadcast: $got, the verdict keeps $want")
      if (maxBroadcast == 0L) {
        val plan = kept.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastExchange"),
          s"the forced ${arm.modality} keepers plan broadcast:\n$plan")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("forced-shuffle ledger verdict: no broadcast in the plan, identical verdict") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-topo").toString
    val history = docs(
      0L -> words(30, "h"),
      1L -> words(30, "x"),
      2L -> words(40, "y"))
    val batch = docs(
      10L -> words(30, "h"),              // exact hit
      11L -> (words(30, "x") + " tail"),  // near hit via signature
      12L -> words(35, "z"))              // clean keep
    DedupLedger.buildLedger(history, dir)
    val snap = IndexStore.snapshot(dir)

    forcedShuffleParity("text") { maxBroadcast =>
      DedupLedger.verdict(Text, spark, batch, dir, snap, maxBroadcast)
    }
    keepersParity(Text, batch, dir, snap)
  }

  test("text keepers collapse: the rep filter equals the groupBy(h) " +
       "collapse with in-batch duplicates and a repeated (doc_id, text), " +
       "gate open and forced shut") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-topo-c").toString
    DedupLedger.buildLedger(docs(0L -> words(30, "h"), 1L -> words(30, "x")), dir)
    val snap = IndexStore.snapshot(dir)
    val batch = docs(
      10L -> words(30, "h"),              // exact hit
      11L -> words(30, "h"),              // its in-batch copy: drops too
      12L -> (words(30, "x") + " tail"),  // near hit
      14L -> words(35, "z"),              // kept, with two later copies
      13L -> words(35, "z"),              //   (the smallest id owns them)
      15L -> words(35, "z"),
      16L -> words(33, "r"),              // a repeated (doc_id, text)
      16L -> words(33, "r"),
      17L -> "two tokens",                // no signature, exact-only
      18L -> "two tokens",
      19L -> words(31, "q"))
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try for (maxBroadcast <- Seq(256L << 20, 0L)) {
      if (maxBroadcast == 0L)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val rows = LedgerTopologySpec.textCollapseParity(spark, batch, dir, snap,
        maxBroadcast, DedupOps.DEFAULT_PAIR_BUDGET)
      assert(rows.map(_._2) == Set(13L, 16L, 17L, 19L),
        s"maxBroadcast=$maxBroadcast: collapsed owners ${rows.map(_._2)}")
      assert(rows.filter(_._3 == null).map(_._2) == Set(17L),
        "only the two-token text carries no signature")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("forced-shuffle MEDIA verdict: the marks-table hamming arm is " +
       "topology-invariant too") {
    // the same discipline on the q158 media arm: history marks 0-2,
    // batch with an exact hit (same fp), a near hit (2 bits off), and
    // a clean keep (far fingerprint)
    val dir = java.nio.file.Files.createTempDirectory("ledger-topo-m").toString
    val histFps = Seq((0L, Seq(0x1234567890aL)), (1L, Seq(0x0fedcba9876L)),
                      (2L, Seq(0x24680ace135L))).toDF("media_id", "fp")
    mixedLedger(dir, histFps)
    val snap = IndexStore.snapshot(dir)
    val batch = Seq(
      (10L, Seq(0x1234567890aL)),               // exact
      (11L, Seq(0x0fedcba9876L ^ (3L << 20))),  // hamming 2
      (12L, Seq(0x3b3b3b3b3b3L))                // keep
    ).toDF("media_id", "fp")

    val broadcastRun = forcedShuffleParity("media") { maxBroadcast =>
      DedupLedger.verdict(Media(), spark, batch, dir, snap, maxBroadcast)
    }
    assert(broadcastRun.map(r => (r.head, r.last)) ==
      Seq((10L, 0L), (11L, 0L), (12L, 1L)), s"fixture truth drifted: $broadcastRun")
    keepersParity(Media(), batch, dir, snap)
  }

  test("forced-shuffle VIDEO verdict: the seqs-table vote arm is " +
       "topology-invariant too") {
    // history videos 0-2 (4 positions each); batch: an exact re-upload
    // of 0, a near copy of 1 (one position 2 bits off: the vote still
    // reads 4-of-4 within hamming 2) and a clean keep
    def fp(o: Long, f: Long): Long =
      new scala.util.Random(o * 31 + f).nextLong() & 0x3ffffffffffL
    def frames(rows: (Long, Long => Long)*) =
      rows.flatMap { case (id, at) => (0L until 4L).map(f => (id, f, Seq(at(f)))) }
        .toDF("media_id", "f", "fp")
    val dir = java.nio.file.Files.createTempDirectory("ledger-topo-vs").toString
    DedupLedger.append(Video(),
      frames((0L until 3L).map(o => o -> (fp(o, _: Long))): _*), dir, "seed")
    val snap = IndexStore.snapshot(dir)
    val batch = frames(
      10L -> (fp(0, _: Long)),
      11L -> ((f: Long) => if (f == 2L) fp(1, f) ^ 3L else fp(1, f)),
      12L -> (fp(50, _: Long)))
    val broadcastRun = forcedShuffleParity("video") { maxBroadcast =>
      DedupLedger.verdict(Video(), spark, batch, dir, snap, maxBroadcast)
    }
    assert(broadcastRun.map(r => (r.head, r.last)) ==
      Seq((10L, 0L), (11L, 0L), (12L, 1L)), s"fixture truth drifted: $broadcastRun")
    keepersParity(Video(), batch, dir, snap)
  }

  test("ledger band join sheds a planted hot mark bucket under the " +
       "candidate budget; exact duplicates stay immune") {
    // VERDICT r14 Next #3: the marks-side lookup join had no candidate
    // budget — per-item fan-out grows with ledger marks (~marks/2^14
    // comparisons per item at the narrow geometry). Plant a bucket of
    // 300 marks that share EVERY band key prefix on band 0 (fps =
    // i << 14 → band-0 key 0 for all) plus a far-away mark, then probe
    // with a tiny budget: the 300-bucket must stop feeding candidates
    // (its C(300, 2) histogram class blows the budget) while an exact
    // duplicate of a hot-bucket member still resolves through the
    // equality arm, which no cap touches.
    val dir = java.nio.file.Files.createTempDirectory("ledger-topo-hot").toString
    val hot = (0 until 300).map(i => (i.toLong, Seq(i.toLong << 14)))
    val histFps = (hot :+ (900L, Seq(0x155551555515555L)))
      .toDF("media_id", "fp")
    mixedLedger(dir, histFps)
    val snap = IndexStore.snapshot(dir)
    // 1001 flips two bits INSIDE band 1 (bits 22-23), so its only
    // surviving pigeonhole matches against mark 9 are the two HOT
    // buckets (band 0 key 0, band 2 key 0) — its band-1 key (9 ^ 768)
    // collides with no mark. 1002's near hit rides the cold mark's
    // size-1 buckets, untouched by any cap.
    val batch = Seq(
      (1000L, Seq(7L << 14)),                  // exact copy of hot member 7
      (1001L, Seq((9L << 14) ^ (3L << 22))),   // hamming 2 off hot member 9
      (1002L, Seq(0x155551555515555L ^ 3L)),   // hamming 2 off the cold mark
      (1003L, Seq(0x2aaaa2aaaa2aaaaL))         // clean keep
    ).toDF("media_id", "fp")

    val uncapped = DedupLedger
      .verdict(Media(), spark, batch, dir, snap)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(uncapped == Seq((1000L, 0L), (1001L, 0L), (1002L, 0L), (1003L, 1L)),
      s"fixture truth drifted: $uncapped")

    val capped = DedupLedger
      .verdict(Media(), spark, batch, dir, snap,
        pairBudgetPerItem = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    // 1000 exact-matches through the equality arm (budget-immune);
    // 1002's near hit sits in cold buckets (kept); 1001's ONLY match
    // lives in the shed hot bucket on every band that still collides
    // (band 0 is the hot one; bands 1-2 keys differ by the fp spread),
    // so its near evidence is gone — keep flips to 1: the documented
    // bounded-degradation trade, never an explosion
    assert(capped == Seq((1000L, 0L), (1001L, 1L), (1002L, 0L), (1003L, 1L)),
      s"capped verdict drifted: $capped")
  }

  test("DEFAULT budget sheds a planted hot bucket (round-16 polarity " +
       "flip): uncapped is now the explicit opt-out") {
    // 2500 marks sharing band-0 AND band-2 keys (fp = i << 14): two
    // hot buckets of 2500 (7500 banded rows — past the zero-job skip
    // slack). A one-item batch gets the default budget 1000 x 1 — the
    // linear cost model prices each hot bucket at 2500 x 1 hits >
    // 1000, so BOTH shed under the DEFAULT call (no pairBudgetPerItem
    // argument at all); the explicit None opt-out keeps them and
    // finds the near hit. This is VERDICT r15 #1's "safe by default":
    // the pathological fan-out class cannot be hit without writing
    // `None` at the call site.
    val dir = java.nio.file.Files.createTempDirectory("ledger-topo-def").toString
    val hot = (0 until 2500).map(i => (i.toLong, Seq(i.toLong << 14)))
    mixedLedger(dir, hot.toDF("media_id", "fp"))
    val snap = IndexStore.snapshot(dir)
    // hamming 2 off hot member 9, flips at band 1's TOP bits (26-27):
    // its band-1 key 9 ^ 12288 collides with no member (keys 0-1099,
    // and no fp equals the probe — flipping low band-1 bits would
    // alias member 9 ^ key exactly), so its ONLY surviving pigeonhole
    // matches ride the two hot buckets
    val batch = Seq((5000L, Seq((9L << 14) ^ (3L << 26))))
      .toDF("media_id", "fp")
    def keepOf(v: org.apache.spark.sql.DataFrame) =
      v.collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val defaultRun = keepOf(DedupLedger
      .verdict(Media(), spark, batch, dir, snap))
    assert(defaultRun == Seq((5000L, 1L)),
      s"default path must shed the planted hot bucket: $defaultRun")
    val optOut = keepOf(DedupLedger
      .verdict(Media(), spark, batch, dir, snap,
        pairBudgetPerItem = None))
    assert(optOut == Seq((5000L, 0L)),
      s"explicit None opt-out must keep the hot bucket: $optOut")
  }

  test("width guard: probing one-word marks at the wide geometry fails " +
       "by name instead of silently admitting every near-duplicate") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-topo-wg").toString
    mixedLedger(dir, Seq((0L, Seq(0x1234567890aL))).toDF("media_id", "fp"))
    val batch = Seq((10L, Seq(0x1234567890aL))).toDF("media_id", "fp")
    val ex = intercept[Exception] {
      DedupLedger.verdict(Media(DedupLedger.WideMarks), spark, batch, dir,
        IndexStore.snapshot(dir)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("fingerprint width")),
      s"expected the width-guard message, got: $ex")
  }

  test("CORRELATED batch: measured occupancy prices the hot bucket a " +
       "uniform expectation would skip (the 162 s hang class)") {
    // 5000 marks share band-0 AND band-2 keys; the batch is 20 probes
    // that ALL carry those keys (each hamming-2 off a different hot
    // member via band-1 top-bit flips, so band-1 never collides or
    // aliases). A uniform batchItems/2^bandBits model prices the hot
    // bucket at ~1 hit -> 5000 ≤ budget 20000 -> skip -> 100k-row
    // fan-out per band (the correlated pathology). The MEASURED
    // max-occupancy (20) prices it at 5000 x 20 = 100k > budget and
    // sheds. Exact duplicates resolve through the equality arm either
    // way.
    val dir = java.nio.file.Files.createTempDirectory("ledger-topo-corr").toString
    val hot = (0 until 5000).map(i => (i.toLong, Seq(i.toLong << 14)))
    mixedLedger(dir, hot.toDF("media_id", "fp"))
    val snap = IndexStore.snapshot(dir)
    val batch = ((0 until 20).map { i =>
      (5000L + i, Seq((i.toLong << 14) ^ (3L << 26)))
    } :+ ((6000L, Seq(7L << 14)))) // exact copy of hot member 7
      .toDF("media_id", "fp")
    def run(budget: Option[Option[Int]]) = {
      val v = budget match {
        case None => // the DEFAULT
          DedupLedger.verdict(Media(), spark, batch, dir, snap)
        case Some(b) => DedupLedger.verdict(Media(), spark, batch, dir, snap,
          pairBudgetPerItem = b)
      }
      v.collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    }
    val default = run(None)
    assert((0 until 20).forall(i => default(5000L + i) == 1L),
      s"default path must shed the correlated hot bucket: $default")
    assert(default(6000L) == 0L, "exact arm is cap-immune")
    val uncapped = run(Some(None))
    assert((0 until 20).forall(i => uncapped(5000L + i) == 0L),
      s"explicit opt-out must keep the near evidence: $uncapped")
  }

  test("modality gate: a text verdict against a store that never " +
       "declared text fails by name; a declared-mixed store bootstraps") {
    // ADVICE r15 #1: the round-15 empty-table fallback let a text
    // verdict pointed at a media-only store silently find zero history
    // and admit every duplicate forever. The fallback is now gated on
    // the store's STAMPED modalities.
    val mediaOnly = java.nio.file.Files.createTempDirectory("ledger-mg1").toString
    IndexStore.setProps(mediaOnly, Map("modalities" -> "media"))
    IndexStore.commitDelta(mediaOnly) {
      Seq((0L, Seq(42L))).toDF("media_id", "fp")
        .groupBy(col("fp")).agg(min(col("media_id")).as("owner"))
        .withColumn("cell", lit(0))
        .select(col("cell"), col("fp"), col("owner"))
        .write.mode("append").partitionBy("cell").parquet(s"$mediaOnly/marks")
    }
    val batch = docs(10L -> words(30, "h"))
    val ex = intercept[Exception] {
      DedupLedger.verdict(Text, spark, batch, mediaOnly,
        IndexStore.snapshot(mediaOnly)).collect()
    }
    assert(ex.getMessage.contains("modalities"),
      s"expected the modality-gate message, got: ${ex.getMessage}")

    // a MIXED store seeded media-first (zero text history) is the
    // legitimate bootstrap: the stamp declares text, so the first text
    // verdict runs against empty history and keeps everything
    val mixed = java.nio.file.Files.createTempDirectory("ledger-mg2").toString
    DedupLedger.build(mixed, "text,media,video",
      Text -> spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, text STRING")),
      Media() -> Seq((0L, Seq(42L))).toDF("media_id", "fp"))
    val v = DedupLedger.verdict(Text, spark, batch, mixed,
        IndexStore.snapshot(mixed))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(v == Seq((10L, 1L)),
      s"declared-mixed store must bootstrap text from empty history: $v")
  }

  test("text ledger budget path: verdict identical to uncapped on a " +
       "fixture with no hot buckets (the wiring itself exercised)") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-topo-tb").toString
    val history = docs(
      0L -> words(30, "h"), 1L -> words(30, "x"), 2L -> words(40, "y"))
    val batch = docs(
      10L -> words(30, "h"),
      11L -> (words(30, "x") + " tail"),
      12L -> words(35, "z"))
    DedupLedger.buildLedger(history, dir)
    val snap = IndexStore.snapshot(dir)
    val uncapped = DedupLedger.verdict(Text, spark, batch, dir, snap)
      .collect().map(_.toSeq).toSeq
    val capped = DedupLedger.verdict(Text, spark, batch, dir, snap,
        pairBudgetPerItem = Some(5))
      .collect().map(_.toSeq).toSeq
    assert(capped == uncapped,
      "text-arm budget must be inert when no signature bucket is hot")
  }

  test("video ledger: a shared intro frame sheds under the budget; the " +
       "vote and the exact arm both survive") {
    // 300 history videos sharing frame 0 (the intro pathology IN THE
    // STORE: seqRows dedups identical SEQUENCES, not positions, so
    // 300 distinct sequences = 300 ledger rows at f=0 sharing every
    // band key), distinct frames 1-3 per owner
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val mask42 = 0x3ffffffffffL
    val intro = 0x15551555155L
    def fp(o: Long, f: Long): Long =
      if (f == 0L) intro else mix(o * 41 + f) & mask42
    val dir = java.nio.file.Files.createTempDirectory("ledger-topo-v").toString
    val histFrames = (0L until 300L)
      .flatMap(o => (0L until 4L).map(f => (o, f, Seq(fp(o, f)))))
      .toDF("media_id", "f", "fp")
    DedupLedger.append(Video(), histFrames, dir, tag = "seed")
    val snap = IndexStore.snapshot(dir)
    val batch = (
      (0L until 4L).map(f => (1000L, f, Seq(fp(3, f)))) ++        // exact of 3
      (0L until 4L).map(f => (1001L, f,
        Seq(if (f == 3) fp(7, f) ^ 3L else fp(7, f)))) ++         // near of 7
      (0L until 4L).map(f => (1002L, f,
        Seq(if (f == 0) intro else mix(90000 + f) & mask42)))     // intro only
    ).toDF("media_id", "f", "fp")
    def run(budget: Option[Int]) = DedupLedger
      .verdict(Video(), spark, batch, dir, snap,
        pairBudgetPerItem = budget)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        r.getLong(3))).toSeq
    val uncapped = run(None)
    assert(uncapped == Seq((1000L, 3L, 3L, 0L), (1001L, -1L, 7L, 0L),
                           (1002L, -1L, -1L, 1L)),
      s"fixture truth drifted: $uncapped")
    // budget 1: the three (f=0, band, intro-key) buckets of size 300
    // shed; 1001's vote drops 4 -> 3 (frames 1-3) but still >= 3, and
    // 1000's exact arm is sequence equality — never banded, cap-immune
    val capped = run(Some(1))
    assert(capped == uncapped,
      "shed intro buckets must cost at most one vote, never the verdict")
  }
}

object LedgerTopologySpec {
  /** The text arm's exact collapse of a tick's keepers (the `rep`
    * filter a delta writes) against the `groupBy(h)` collapse it
    * replaced (owner = the smallest kept doc_id, with its own
    * signature), and against the verdict's kept docs collapsed by text
    * hash. Returns the collapsed `(h, owner, sig)` rows. */
  def textCollapseParity(spark: SparkSession, batch: DataFrame, dir: String,
                         snap: IndexStore.Snapshot, maxBroadcast: Long,
                         budget: Option[Int]): Set[(String, Long, Seq[Long])] = {
    def rows(df: DataFrame): Set[(String, Long, Seq[Long])] =
      df.select(col("h"), col("owner"), col("sig")).collect().map(r =>
        (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getSeq[Long](2))).toSet
    val kept = DedupLedger.keepersOf(Text, spark, batch, dir, snap,
      maxBroadcast, budget)
    val got = rows(Text.collapse(kept))
    val grouped = rows(kept.groupBy(col("h")).agg(min(col("doc_id")).as("owner"),
      min_by(col("sig"), col("doc_id")).as("sig")))
    assert(got == grouped, s"rep collapse $got, groupBy(h) collapse $grouped")
    val keepIds = DedupLedger.verdict(Text, spark, batch, dir, snap,
        maxBroadcast, budget).filter(col("keep") === 1L).select(col("doc_id"))
    val want = batch.join(keepIds, Seq("doc_id"), "left_semi")
      .groupBy(sha2(col("text"), 256).as("h")).agg(min(col("doc_id")).as("owner"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got.map(r => (r._1, r._2)) == want,
      s"collapsed owners ${got.map(_._2)}, the verdict keeps ${want.map(_._2)}")
    got
  }
}
