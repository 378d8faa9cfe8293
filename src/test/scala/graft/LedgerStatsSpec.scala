package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupLedger, IndexStore}
import graft.ops.DedupLedger.{Media, Text, Video}

/** Write-time arm statistics (round 17, VERDICT r16 #1): the shed
  * ladder's healthy-store decision must come from stats the PUBLISHER
  * maintained — zero Spark jobs at verdict time — and the stats must
  * stay SOUND across the store lifecycle:
  *   - rebuild computes the exact banded-bucket histogram (slack 0);
  *   - each delta bumps slack by the delta's max bucket count and rows
  *     by its banded row count (a crashed bump over-counts, never
  *     under-counts, because it lands before the manifest CAS);
  *   - a rebuild CLEARS stale stats before the new content publishes;
  *   - every store a builder writes carries stats, whatever its size,
  *     so a streamed tick's verdict measures nothing ledger-wide;
  *   - compaction rewrites the same rows, so it carries stats coherent
  *     with the head it publishes onto (concurrent appends included)
  *     to its own version;
  *   - stats can only remove work: a hot store (maxBound above the
  *     shed floor) falls back to the runtime histogram and sheds
  *     byte-identically to a store with no stats at all.
  */
class LedgerStatsSpec extends SparkSpec {
  import spark.implicits._

  private val geom = DedupLedger.NarrowMarks
  private val statsKey = s"marks-hist-${geom.params}"
  private val mask42 = (1L << 42) - 1

  /** Distinct pseudo-random fingerprints at geometry `g` — banding 40k
    * of these stays far under the 200-row shed floor per bucket. */
  private def healthyMarks(n: Long, g: DedupLedger.MarksGeom = geom) =
    spark.range(0, n, 1, 4)
      .select(col("id").as("media_id"),
        expr(fpOf("cast(id as string)", g)).as("fp"))

  /** A pseudo-random fingerprint keyed on the SQL string `key`, at the
    * width of `g`: one 42-bit word, or two 60-bit words for the wide
    * 120-bit geometry. */
  private def fpOf(key: String, g: DedupLedger.MarksGeom): String =
    if (g.fpBits <= 64)
      s"array(cast(conv(substring(md5($key), 1, 11), 16, 10) as bigint) & $mask42)"
    else {
      val mask60 = (1L << 60) - 1
      def word(salt: String) = s"cast(conv(substring(md5(concat($key, " +
        s"'|$salt')), 1, 15), 16, 10) as bigint) & $mask60"
      s"array(${word("a")}, ${word("b")})"
    }

  private def seedDoc =
    Seq((0L, "stats spec seed doc")).toDF("doc_id", "text")

  /** A one-doc text arm beside `marks` at geometry `g`. */
  private def mixedLedger(dir: String,
                          marks: org.apache.spark.sql.DataFrame,
                          g: DedupLedger.MarksGeom = geom): Int =
    DedupLedger.build(dir, "text,media,video", Text -> seedDoc,
      Media(g) -> marks)

  private val textKey = "vectors-hist"
  private val textBands = 6 // DedupOps.NUM_SEEDS / ROWS_PER_BAND

  private def textDocs(ids: Seq[Long]) =
    ids.map(i => (i, s"alpha beta gamma delta epsilon zeta token$i end"))
      .toDF("doc_id", "text")

  private def textLedger(n: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory("stats-text")
      .toString + "/led"
    DedupLedger.buildLedger(textDocs(0L until n), dir)
    dir
  }

  /** 10 re-crawled copies of stored docs plus 10 new docs. */
  private def textBatch =
    textDocs(0L until 10L).withColumn("doc_id", col("doc_id") + 100000L)
      .unionByName(textDocs(5000L until 5010L)).localCheckpoint()

  /** Jobs the default-budget and the uncapped text verdicts start while
    * they construct against the head snapshot (memos cleared before
    * each); the two verdicts must agree row for row. */
  private def textVerdictJobs(dir: String): (Int, Int) = {
    val snap = IndexStore.snapshot(dir)
    val batch = textBatch
    DedupLedger.clearShedMemos()
    val (vd, jd) = countJobs(
      DedupLedger.verdict(Text, spark, batch, dir, snap))
    DedupLedger.clearShedMemos()
    val (vn, jn) = countJobs(DedupLedger.verdict(Text, spark, batch,
      dir, snap, pairBudgetPerItem = None))
    assert(vd.collect().toSeq == vn.collect().toSeq,
      "the stats fast path changed the text verdict vs uncapped")
    (jd, jn)
  }

  test("rebuild stamps exact stats; the healthy verdict consults them with " +
       "ZERO jobs and matches the uncapped verdict row for row") {
    // both marks geometries: the narrow 42-bit one and the wide 120-bit
    // one, whose healthy-store default verdict must keep exactly what
    // the uncapped verdict keeps
    for (g <- Seq(geom, DedupLedger.WideMarks)) withClue(s"${g.params}: ") {
      val dir = java.nio.file.Files.createTempDirectory("stats-healthy").toString
      mixedLedger(dir, healthyMarks(40000, g), g)
      val st = IndexStore.armStats(dir, s"marks-hist-${g.params}")
        .getOrElse(fail("rebuild of a corpus-scale store must stamp arm stats"))
      assert(st.slack == 0L, "a fresh rebuild's stats carry no slack")
      assert(st.rows == 40000L * g.bands,
        s"stats rows must equal banded rows, got ${st.rows}")
      assert(st.maxBound <= graft.ops.DedupOps.BAND_CAP,
        "40k random fingerprints over the bands must stay under the floor")

      val snap = IndexStore.snapshot(dir)
      // batch: 100 copies of stored marks + 400 novels
      val batch = spark.range(0, 500, 1, 4)
        .select((col("id") + 1000000L).as("media_id"),
          expr(s"CASE WHEN id < 100 THEN ${fpOf("cast(id as string)", g)} " +
            s"ELSE ${fpOf("concat(id, '|novel')", g)} END").as("fp"))
        .localCheckpoint()
      // the uncapped (None) baseline pays only the saturation
      // sentinel's footer count (declared reads construct from the
      // manifest's file statuses, with no listing job); the DEFAULT path
      // must plan with no more jobs — the ladder's histogram/occupancy
      // measurements all elided by the persisted stats
      DedupLedger.clearShedMemos()
      val (verdictDefault, jobs) = countJobs {
        DedupLedger.verdict(Media(g), spark, batch, dir, snap)
      }
      DedupLedger.clearShedMemos()
      val (verdictNone, jobsNone) = countJobs {
        DedupLedger.verdict(Media(g), spark, batch, dir, snap,
          pairBudgetPerItem = None)
      }
      // DEFAULT runs FIRST (cold frame memo), so <= proves the ladder
      // added nothing: in practice it plans CHEAPER than None, which
      // pays the saturation sentinel's footer count
      assert(jobs <= jobsNone,
        s"a healthy stats-carrying store must plan the default verdict with " +
        s"no auxiliary jobs beyond the uncapped path's ($jobsNone), ran $jobs")
      val got = verdictDefault.collect().map(r =>
        (r.getLong(0), r.isNullAt(1), r.isNullAt(2), r.getLong(3))).toSeq
      val want = verdictNone.collect().map(r =>
        (r.getLong(0), r.isNullAt(1), r.isNullAt(2), r.getLong(3))).toSeq
      assert(got == want, "stats fast path changed the verdict vs uncapped")
      assert(got.count(_._4 == 0L) == 100, "the 100 exact copies must drop")

      // the seqs arm at the same geometry: 2000 four-frame videos, then a
      // batch of 10 re-uploads, 20 near copies (one frame two bits off)
      // and 20 novels
      val seqDir = java.nio.file.Files.createTempDirectory("stats-healthy-seqs")
        .toString
      def frames(n: Long) = spark.range(0, n, 1, 4)
        .select(col("id"), explode(sequence(lit(0L), lit(3L))).as("f"))
      val frameFp = fpOf("concat(id, '|', f)", g)
      DedupLedger.append(Video(g), frames(2000).select(col("id").as("media_id"),
        col("f"), expr(frameFp).as("fp")), seqDir, tag = "seed")
      val seqBatch = frames(50)
        .select((col("id") + 1000000L).as("media_id"), col("f"),
          expr(s"""CASE WHEN id < 10 THEN $frameFp
            |WHEN id < 30 AND f = id % 4 THEN
            |  transform($frameFp, (w, i) -> IF(i = 0, w ^ 3L, w))
            |WHEN id < 30 THEN $frameFp
            |ELSE ${fpOf("concat(id, '|novel|', f)", g)} END""".stripMargin)
            .as("fp"))
        .localCheckpoint()
      def seqVerdict(budget: Option[Option[Int]]) = {
        DedupLedger.clearShedMemos()
        val snapS = IndexStore.snapshot(seqDir)
        budget.fold(DedupLedger.verdict(Video(g), spark, seqBatch, seqDir, snapS))(
          b => DedupLedger.verdict(Video(g), spark, seqBatch, seqDir, snapS,
            pairBudgetPerItem = b))
          .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq.sorted
      }
      val seqDefault = seqVerdict(None)
      assert(seqDefault == seqVerdict(Some(None)),
        "the default seqs verdict changed the keeps vs uncapped")
      assert(seqDefault.count(_._2 == 1L) == 20,
        s"re-uploads and near copies must drop, novels stay: $seqDefault")
    }
  }

  test("every built store carries exact stats whatever its size: a 64-doc " +
       "text ledger's default verdict runs no more jobs than the uncapped " +
       "one") {
    val dir = textLedger(64)
    val st = IndexStore.armStats(dir, textKey)
      .getOrElse(fail("a 64-doc ledger build must stamp text arm stats"))
    assert(st.slack == 0L && st.rows == 64L * textBands &&
      st.version == IndexStore.headVersion(dir).get, s"got $st")
    val (jd, jn) = textVerdictJobs(dir)
    assert(jd <= jn, s"the default-budget verdict ran $jd jobs to the " +
      s"uncapped verdict's $jn: it measured the ledger before its verdict")
    // the mixed builder stamps its text and marks arms; the seqs arm
    // gets exact stats from its first delta
    val mixed = java.nio.file.Files.createTempDirectory("stats-mixed").toString
    mixedLedger(mixed, healthyMarks(500))
    assert(IndexStore.armStats(mixed, textKey).exists(_.rows == textBands),
      "the mixed build must stamp its text arm")
    assert(IndexStore.armStats(mixed, statsKey)
      .exists(_.rows == 500L * geom.bands), "the mixed build must stamp marks")
    val frames = spark.range(0, 10, 1, 2).crossJoin(spark.range(0, 4, 1, 1)
        .withColumnRenamed("id", "f"))
      .select(col("id").as("media_id"), col("f"),
        expr(s"array(cast(conv(substring(md5(concat(id, '/', f)), 1, 11), " +
          s"16, 10) as bigint) & $mask42)").as("fp"))
    DedupLedger.append(Video(geom), frames, mixed, tag = "seqs-1")
    assert(IndexStore.armStats(mixed, s"seqs-hist-${geom.params}")
      .exists(s => s.slack == 0L && s.rows == 40L * geom.bands),
      "the first video delta must stamp exact seqs stats")
    // the seqs SEED builders (the stores q169-q172 clone) stamp exact
    // stats as well: the first verdict against each runs no more jobs
    // than one against a store whose first delta stamped fresh stats
    val fixture = java.nio.file.Files.createTempDirectory("stats-seeds").toString
    textDocs(0L until 100L).write.parquet(s"$fixture/documents.parquet")
    for ((seed, arm) <- Seq(
        DedupLedger.ensureVideoHistoryLedger(spark, fixture) -> Video(),
        DedupLedger.ensureAviVideoHistoryLedger(spark, fixture) ->
          Video(DedupLedger.WideMarks))) {
      val words = (arm.geom.fpBits + 63) / 64
      def seqs(ids: Seq[Long]) = ids.flatMap(i => (0L until 4L).map(f =>
          (i, f, Seq.tabulate(words)(w =>
            new scala.util.Random(i * 131 + f * 7 + w).nextLong() & mask42))))
        .toDF("media_id", "f", "fp")
      val fresh = java.nio.file.Files.createTempDirectory("stats-fresh").toString
      DedupLedger.append(arm, seqs(0L until 10L), fresh, tag = "seed")
      val probe = seqs(1000L until 1010L).localCheckpoint()
      def verdictJobs(dir: String): Int = {
        DedupLedger.clearShedMemos()
        countJobs(DedupLedger.verdict(arm, spark, probe, dir,
          IndexStore.snapshot(dir)))._2
      }
      val (js, jf) = (verdictJobs(seed), verdictJobs(fresh))
      assert(js <= jf, s"the ${arm.geom.params} seqs seed's first verdict " +
        s"ran $js jobs to a fresh-stats store's $jf: its builder stamped " +
        "no arm stats")
      // the seed cache keys on this fixture's path: nothing reuses it
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(seed))
      new java.io.File(s"$seed.lock").delete()
    }
  }

  test("compaction carries the stats to the version it publishes, and the " +
       "next verdict still measures nothing") {
    val dir = textLedger(64)
    DedupLedger.append(Text, textDocs(200L until 210L), dir, tag = "c-1")
    val st0 = IndexStore.armStats(dir, textKey).get
    assert(st0.version == IndexStore.headVersion(dir).get)
    val v = IndexStore.compact(spark, dir)
    assert(IndexStore.headVersion(dir).contains(v))
    val st = IndexStore.armStats(dir, textKey).get
    assert(st.version == v, s"stats must be restamped to the compacted head: $st")
    assert((st.slack, st.rows, st.hist.toSeq) ==
      ((st0.slack, st0.rows, st0.hist.toSeq)),
      "compaction rewrites the same rows; the bound must not change")
    val (jd, jn) = textVerdictJobs(dir)
    assert(jd <= jn, s"after compaction the default verdict ran $jd jobs " +
      s"to the uncapped verdict's $jn")
  }

  test("a content-preserving replacement that carries a concurrent append " +
       "restamps stats that include the append's bump") {
    val dir = textLedger(64)
    val base = IndexStore.snapshot(dir)
    val st0 = IndexStore.armStats(dir, textKey).get
    val (codes, vecs) = IndexStore.frames(spark, dir, base,
      Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
      declaredSchema = true)
    val codesRows = codes.localCheckpoint()
    val vecRows = vecs.localCheckpoint()
    val v = IndexStore.commitReplace(dir, base, preservesContent = true) {
      codesRows.repartition(col("cell")).write.mode("append")
        .partitionBy("cell").parquet(s"$dir/codes")
      vecRows.repartition(col("cell")).write.mode("append")
        .partitionBy("cell").parquet(s"$dir/vectors")
      // the append lands after the rewrite was staged, before the
      // replacement publishes: the carry adopts its files
      DedupLedger.append(Text, textDocs(300L until 320L), dir,
        tag = "mid-replace")
      ()
    }
    assert(IndexStore.headVersion(dir).contains(v))
    val st = IndexStore.armStats(dir, textKey).get
    assert(st.version >= v, s"stats must cover the published head v$v: $st")
    assert(st.rows == st0.rows + 20L * textBands && st.slack >= st0.slack + 1L,
      s"stats must include the carried append's bump: $st0 -> $st")
    val sigs = IndexStore.frames(spark, dir, IndexStore.snapshot(dir),
      Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
      declaredSchema = true)._2
    assert(sigs.count() == 84L, "the replacement must hold base + append rows")
  }

  test("delta commits bump slack and rows soundly; rebuild clears stale " +
       "stats before the new content publishes") {
    val dir = java.nio.file.Files.createTempDirectory("stats-bump").toString
    mixedLedger(dir, healthyMarks(40000))
    val st0 = IndexStore.armStats(dir, statsKey).get
    // a 200-item delta: every fingerprint lands in some bucket, so the
    // bump must record max-per-bucket slack >= 1 and exactly the
    // delta's banded rows
    val delta = spark.range(50000, 50200, 1, 4)
      .select(col("id").as("media_id"),
        expr(s"array(cast(conv(substring(md5(cast(id as string)), 1, 11), " +
          s"16, 10) as bigint) & $mask42)").as("fp"))
    DedupLedger.append(Media(geom), delta, dir, tag = "bump-1")
    val st1 = IndexStore.armStats(dir, statsKey).get
    assert(st1.slack >= 1L, "a non-empty delta must bump slack")
    assert(st1.rows == st0.rows + 200L * geom.bands,
      s"rows must grow by the delta's banded rows, got ${st1.rows}")
    assert(st1.maxBound >= st0.maxBound, "maxBound must be monotone under appends")
    // idempotent replay: the same tag must not double-bump
    DedupLedger.append(Media(geom), delta, dir, tag = "bump-1")
    val st1r = IndexStore.armStats(dir, statsKey).get
    assert((st1r.version, st1r.slack, st1r.rows, st1r.hist.toSeq) ==
      ((st1.version, st1.slack, st1.rows, st1.hist.toSeq)),
      "a replayed tagged delta must not bump stats twice")
    // rebuild: stale stats cleared, fresh exact stats stamped
    mixedLedger(dir, healthyMarks(35000))
    val st2 = IndexStore.armStats(dir, statsKey).get
    assert(st2.slack == 0L && st2.rows == 35000L * geom.bands,
      s"rebuild must restamp exact stats, got $st2")
  }

  test("a hot store falls back to the runtime histogram and sheds " +
       "byte-identically to a store with no stats at all") {
    // 40k marks where 1000 share band-0 AND band-2 keys (fp = i << 14:
    // the blank-thumbnail shape) — a 1000-row bucket far above the
    // 200-row floor, so maxBound blocks the stats fast path
    val dir = java.nio.file.Files.createTempDirectory("stats-hot").toString
    val marks = spark.range(0, 40000, 1, 4)
      .select(col("id").as("media_id"),
        expr(s"""array(CASE WHEN id < 1000 THEN shiftleft(id, 14)
          |ELSE cast(conv(substring(md5(cast(id as string)), 1, 11), 16, 10)
          |     as bigint) & $mask42 END)""".stripMargin).as("fp"))
    mixedLedger(dir, marks)
    val st = IndexStore.armStats(dir, statsKey).get
    assert(st.maxBound > graft.ops.DedupOps.BAND_CAP,
      s"the planted hot bucket must push maxBound past the floor, got $st")
    val snap = IndexStore.snapshot(dir)
    // probes fanning into the hot bucket: hamming-1 neighbors of hot
    // members (differing bit inside band 2), plus novels
    val batch = spark.range(0, 500, 1, 4)
      .select((col("id") + 1000000L).as("media_id"),
        expr("""array(CASE WHEN id < 100 THEN shiftleft(id, 14)
          |ELSE shiftleft(id + 5000, 14) END)""".stripMargin).as("fp"))
      .localCheckpoint()
    DedupLedger.clearShedMemos()
    val withStats = DedupLedger.verdict(Media(geom), spark, batch, dir, snap)
      .collect().toSeq
    // a streamed tick's keepers plan sheds through the same ladder: it
    // keeps exactly the items this shedding verdict keeps
    val kept = DedupLedger.keepersOf(Media(geom), spark, batch, dir, snap)
      .select(col("media_id")).collect().map(_.getLong(0)).toSet
    assert(kept == withStats.filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet,
      "the keepers plan kept other items than the shedding verdict")
    // delete the stats file, clear memos: the pure runtime path
    val f = new java.io.File(s"$dir/_manifest").listFiles()
      .find(_.getName.startsWith("stats.")).get
    assert(f.delete())
    DedupLedger.clearShedMemos()
    val without = DedupLedger.verdict(Media(geom), spark, batch, dir, snap)
      .collect().toSeq
    assert(withStats == without,
      "stats presence changed a hot store's shed verdict")
  }

  private def deleteStats(dir: String): Unit =
    Option(new java.io.File(s"$dir/_manifest").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("stats."))
      .foreach { f => assert(f.delete()); () }

  test("ESCALATED convergence (VERDICT r17 #4): a corpus-scale stats-less " +
       "store converges to stats-present within ONE append tick — the " +
       "write side pays one exact full-arm refresh inside the commit it " +
       "already holds the lock for") {
    val dir = java.nio.file.Files.createTempDirectory("stats-escal").toString
    mixedLedger(dir, healthyMarks(400000))
    // the legacy / starved store: corpus-scale content, NO stats
    deleteStats(dir)
    assert(IndexStore.armStats(dir, statsKey).isEmpty)
    val snap0 = IndexStore.snapshot(dir)
    val bytes = snap0.marks.map(rel =>
      new java.io.File(s"$dir/marks/$rel").length()).sum
    assert(bytes >= (4L << 20),
      s"fixture must exceed the 4 MiB escalation proxy, got $bytes")
    // ONE tick: a small append — the escalation computes the exact
    // full-arm histogram inside this commit and persists it
    val delta = spark.range(500000, 500200, 1, 4)
      .select(col("id").as("media_id"),
        expr(s"array(cast(conv(substring(md5(cast(id as string)), 1, 11), " +
          s"16, 10) as bigint) & $mask42)").as("fp"))
    DedupLedger.append(Media(geom), delta, dir, tag = "escal-1")
    val st = IndexStore.armStats(dir, statsKey)
    assert(st.isDefined, "one tick must converge a stats-less corpus store")
    assert(st.get.slack == 0L &&
      st.get.rows == (400000L + 200L) * geom.bands,
      s"the escalated refresh must be EXACT over arm+delta, got ${st.get}")
    assert(st.get.version == IndexStore.headVersion(dir).get,
      "the refresh must stamp the version this commit publishes")
    // subsequent deltas take the cheap bump branch (no more full scans)
    DedupLedger.append(Media(geom),
      delta.withColumn("media_id", col("media_id") + 1000L),
      dir, tag = "escal-2")
    val st2 = IndexStore.armStats(dir, statsKey).get
    assert(st2.rows == st.get.rows + 200L * geom.bands && st2.slack >= 1L)
    // and fixture-scale stores stay stats-less (the byte gate holds):
    val small = java.nio.file.Files.createTempDirectory("stats-small").toString
    mixedLedger(small, healthyMarks(2000))
    deleteStats(small)
    DedupLedger.append(Media(geom), delta, small, tag = "s-1")
    assert(IndexStore.armStats(small, statsKey).isEmpty,
      "a fixture-scale store must not pay the escalated refresh")
  }

  test("verdict-side self-heal escalates to a BLOCKING stats write after " +
       "3 consecutive skipped opportunistic attempts (contended lock)") {
    val dir = java.nio.file.Files.createTempDirectory("stats-block").toString
    mixedLedger(dir, healthyMarks(400000))
    deleteStats(dir)
    val snap = IndexStore.snapshot(dir)
    val batch = spark.range(0, 50, 1, 2)
      .select((col("id") + 9000000L).as("media_id"),
        expr(s"array(cast(conv(substring(md5(cast(id + 77 as string)), 1, " +
          s"11), 16, 10) as bigint) & $mask42)").as("fp"))
      .localCheckpoint()
    // a holder thread keeps the writer lock for the first two verdicts:
    // their opportunistic tryWithWriterLock self-heals must SKIP
    val release = new java.util.concurrent.CountDownLatch(1)
    val held = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      IndexStore.withWriterLock(dir) { held.countDown(); release.await() }
      ()
    })
    holder.start(); held.await()
    def verdict(): Unit = {
      DedupLedger.clearShedMemos() // force the histogram + heal attempt
      DedupLedger.verdict(Media(geom), spark, batch, dir, snap)
        .collect()
      ()
    }
    try {
      verdict(); verdict()
      assert(IndexStore.armStats(dir, statsKey).isEmpty,
        "skipped opportunistic heals must not have written stats")
      // third consecutive miss crosses the threshold while the lock is
      // STILL held: the opportunistic try skips again, the escalation
      // fires and BLOCKS; the releaser frees the lock while it waits.
      // (Benign race: if this verdict's histogram outlives the release
      // delay, the opportunistic path writes instead — the asserted
      // outcome is identical, and the 2-consecutive-skip prefix above
      // already pinned the counter behavior deterministically.)
      val releaser = new Thread(() => {
        Thread.sleep(2000); release.countDown()
      })
      releaser.start()
      verdict()
      releaser.join()
    } finally { release.countDown(); holder.join() }
    val st = IndexStore.armStats(dir, statsKey)
    assert(st.isDefined && st.get.slack == 0L &&
      st.get.version == snap.version,
      s"the escalated blocking self-heal must persist exact stats: $st")
  }
}
