package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupLedger, IndexStore, VectorOps}
import graft.ops.DedupLedger.{Media, Text, Video}

/** TOMBSTONE deletes — the takedown lifecycle (round 17). A takedown
  * at 100 TB must cost O(deleted), not O(corpus): [[IndexStore.forget]]
  * commits `(modality, id)` rows as a normal tombstone DELTA, every
  * reader subtracts them merge-on-read (zero plan change for stores no
  * takedown has touched), the next compaction makes the drop physical,
  * and vacuum removes the bytes. This spec pins the whole arc plus the
  * contracts around it: id-namespace isolation across a mixed store's
  * modalities, time-travel to pre-forget versions, idempotent tags,
  * concurrent-forget survival across a replacement commit, ledger
  * re-admission semantics, and the modality-stamp guard. */
class TombstoneSpec extends SparkSpec {
  import spark.implicits._

  private def words(n: Int, seed: String) =
    (0 until n).map(i => s"$seed$i").mkString(" ")

  test("ANN store: forget is merge-on-read (serve excludes, next-nearest " +
       "promotes, time travel still sees the rows), compact makes it " +
       "physical, vacuum removes the bytes") {
    val emb = GenFixtures.clusteredEmbeddings(spark, 700).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("idx-tomb").toString
    VectorOps.buildIvfPqIndex(emb, dir, k = 8)
    val vBuilt = IndexStore.headVersion(dir).get

    // take down each query's MEASURED top-1: after the forget it must
    // never be served again and the previous rank-2 must promote
    def serve() = VectorOps.servedIvfPqTopK(spark, dir, emb,
      numQueries = 5, probes = 2, rerank = 10, topK = 3)
    val before = serve().collect()
    val top1 = before.filter(_.getAs[Long]("rn") == 1L)
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("vec_id")).toMap
    val top2 = before.filter(_.getAs[Long]("rn") == 2L)
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("vec_id")).toMap
    val doomed = top1.values.toSet

    val vForget = IndexStore.forget(spark, dir, "vector",
      doomed.toSeq.toDF("vec_id"), tag = Some("takedown-1"))
    assert(vForget == vBuilt + 1, "forget publishes one delta version")
    // the tombstone delta touched NO data arm
    val snapF = IndexStore.snapshot(dir)
    assert(snapF.tombs.nonEmpty &&
      snapF.codes == IndexStore.snapshotAt(dir, vBuilt).codes,
      "forget must add only tombstone files")

    // merge-on-read: the forgotten rows stop being served, the
    // next-nearest candidates promote (still topK rows per query)
    val after = serve().collect()
    assert(after.length == 15, "forget must not shrink the result set")
    assert(after.forall(r => !doomed.contains(r.getAs[Long]("vec_id"))),
      "a forgotten vector must never be served")
    after.filter(_.getAs[Long]("rn") == 1L).foreach { r =>
      val q = r.getAs[Long]("qid")
      // the old rank-2 promotes unless it was itself taken down (it
      // can be another query's top-1)
      if (!doomed.contains(top2(q)))
        assert(r.getAs[Long]("vec_id") == top2(q),
          s"query $q: expected old rank-2 ${top2(q)} to promote, " +
          s"got ${r.getAs[Long]("vec_id")}")
    }
    val nStored = 700 - doomed.size
    val (codesF, vecsF) = IndexStore.frames(spark, dir, snapF)
    assert(codesF.count() == nStored && vecsF.count() == nStored)

    // time travel: the pre-forget version still reads the full store —
    // pinned readers inside the retention window are isolated
    val (codesOld, _) = IndexStore.frames(spark, dir,
      IndexStore.snapshotAt(dir, vBuilt))
    assert(codesOld.count() == 700)

    // idempotent tag: a replayed takedown publishes nothing
    assert(IndexStore.forget(spark, dir, "vector",
      (0L until 5L).toDF("vec_id"), tag = Some("takedown-1")) == vForget)

    // compact folds the tombstones into a physical drop: the rewritten
    // files no longer CONTAIN the rows and the new snapshot carries no
    // tombstones
    VectorOps.compactIvfPqIndex(spark, dir)
    val snapC = IndexStore.snapshot(dir)
    assert(snapC.tombs.isEmpty,
      "compaction must fold applied tombstones away")
    val raw = spark.read.option("basePath", s"$dir/codes")
      .parquet(snapC.codes.map(f => s"$dir/codes/$f"): _*)
    assert(raw.count() == nStored &&
      raw.filter($"vec_id".isin(doomed.toSeq: _*)).count() == 0,
      "compaction must physically drop forgotten rows")
    // serve is bit-stable across the physical drop
    assert(serve().collect().toSeq == after.toSeq,
      "compaction changed serve results")
    // vacuum removes the tombstone bytes with the old data files
    VectorOps.vacuumIvfPqIndex(dir)
    assert(new java.io.File(dir, "tombs").listFiles() == null ||
      !new java.io.File(dir, "tombs").listFiles()
        .exists(_.getName.endsWith(".parquet")),
      "vacuum must delete unreferenced tombstone files")
  }

  test("text ledger: a forgotten owner stops suppressing re-submissions " +
       "— its content is re-admissible as novel under a new owner") {
    val dir = java.nio.file.Files.createTempDirectory("led-tomb").toString
    DedupLedger.buildLedger(Seq(
      0L -> words(30, "h"), 1L -> words(30, "x")).toDF("doc_id", "text"),
      dir)
    // premise: a verbatim copy of doc 0 exact-drops against the ledger
    val batch = Seq(10L -> words(30, "h")).toDF("doc_id", "text")
    val pre = DedupLedger.verdict(Text, spark, batch, dir,
      IndexStore.snapshot(dir)).collect()
    assert(pre.length == 1 && pre(0).getAs[Long]("keep") == 0L &&
      pre(0).getAs[Long]("exact_of") == 0L)

    IndexStore.forget(spark, dir, "text", Seq(0L).toDF("owner"))
    val post = DedupLedger.verdict(Text, spark, batch, dir,
      IndexStore.snapshot(dir)).collect()
    assert(post.length == 1 && post(0).getAs[Long]("keep") == 1,
      s"content whose only owner was forgotten must re-admit: ${post.toSeq}")
    // and the re-admission appends under the NEW owner
    DedupLedger.append(Text, batch, dir, tag = "readmit")
    val re = DedupLedger.verdict(Text, spark, batch, dir,
      IndexStore.snapshot(dir)).collect()
    assert(re(0).getAs[Long]("keep") == 0 &&
      re(0).getAs[Long]("exact_of") == 10L,
      "the re-admitted copy owns its content now")
    // the untouched owner still suppresses
    val other = DedupLedger.verdict(Text, spark,
      Seq(20L -> words(30, "x")).toDF("doc_id", "text"), dir,
      IndexStore.snapshot(dir)).collect()
    assert(other(0).getAs[Long]("keep") == 0 &&
      other(0).getAs[Long]("exact_of") == 1L)
  }

  test("mixed store: modality id namespaces are isolated (forgetting " +
       "video owner 5 keeps media owner 5); stamp guard rejects a " +
       "takedown for a modality the store never ingested") {
    val dir = java.nio.file.Files.createTempDirectory("mix-tomb").toString
    IndexStore.setProps(dir, Map("modalities" -> "media,video"))
    DedupLedger.append(Media(), Seq((5L, Array(100L)), (6L, Array(200L)))
        .toDF("media_id", "fp"), dir, tag = "m1")
    DedupLedger.append(Video(),
      Seq((5L, 0L, Array(300L)), (5L, 1L, Array(301L)),
          (7L, 0L, Array(400L)), (7L, 1L, Array(401L)))
        .toDF("media_id", "f", "fp"), dir, tag = "v1")

    IndexStore.forget(spark, dir, "video", Seq(5L).toDF("owner"))
    val snap = IndexStore.snapshot(dir)
    val marks = IndexStore.marksFrame(spark, dir, snap, IndexStore.MARKS_DDL)
    val seqs = IndexStore.seqsFrame(spark, dir, snap)
    assert(marks.filter($"owner" === 5L).count() == 1,
      "media owner 5 must survive a VIDEO takedown of id 5")
    assert(seqs.filter($"owner" === 5L).count() == 0 &&
      seqs.filter($"owner" === 7L).count() == 2,
      "video owner 5 must be gone, owner 7 untouched")

    // the stamp guard: this store never ingested text
    val err = intercept[IllegalArgumentException] {
      IndexStore.forget(spark, dir, "text", Seq(1L).toDF("owner"))
    }
    assert(err.getMessage.contains("modalities"),
      s"guard must fail by name: ${err.getMessage}")
    // and unknown modalities fail regardless of stamps
    intercept[IllegalArgumentException] {
      IndexStore.forget(spark, dir, "audio", Seq(1L).toDF("owner"))
    }
  }

  test("a rebuild replaces content outright: tombstones do not survive " +
       "it — the rebuild input defines the content, so takedowns " +
       "re-apply against it") {
    val dir = java.nio.file.Files.createTempDirectory("rb-tomb").toString
    val corpus = Seq(
      0L -> words(30, "h"), 1L -> words(30, "x")).toDF("doc_id", "text")
    DedupLedger.buildLedger(corpus, dir)
    IndexStore.forget(spark, dir, "text", Seq(0L).toDF("owner"))
    assert(IndexStore.snapshot(dir).tombs.nonEmpty)
    val (gone, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir),
      Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL))
    assert(gone.filter($"owner" === 0L).count() == 0)
    // rebuild from the RAW corpus (which still carries the content)
    DedupLedger.buildLedger(corpus, dir)
    assert(IndexStore.snapshot(dir).tombs.isEmpty,
      "a rebuild's snapshot is exactly its input — no tombstone carry")
    val (back, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir),
      Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL))
    assert(back.filter($"owner" === 0L).count() == 1,
      "content re-introduced by the rebuild input is served again — " +
      "the documented re-apply contract")
  }

  test("a takedown SURVIVES a drift-triggered cell refine: untouched " +
       "cells' files carry the tombstones forward merge-on-read, the " +
       "next compaction still makes the drop physical") {
    // the resurrection hazard (ADVICE r17): refineCells commits a
    // REPLACEMENT scoped to the drifted cells — if its base carried
    // head's tombstones, commitReplace would drop them from the new
    // snapshot while untouched cells' files (never rewritten, still
    // physically containing the forgotten rows) carry forward
    val emb = GenFixtures.clusteredEmbeddings(spark, 700).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("refine-tomb").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 500), dir, k = 8)
    // a localized diverged blob fires the drift trigger (RetrainSpec's
    // generation-path fixture)
    val blob = emb.filter($"vec_id" >= 500 && $"vec_id" < 650)
      .withColumn("embedding",
        expr("transform(embedding, x -> x + cast(2.5 AS float))"))
      .withColumn("vec_id", $"vec_id" - 500 + 10000)
      .select($"vec_id", $"embedding")
    VectorOps.appendToIvfPqIndex(spark, blob, dir, Some("blob"))
    assert(VectorOps.needsRetrain(spark, dir))

    // take down RESIDENT vectors before the refine; record their cells
    val doomed = (100L until 110L).toSet
    val cellOf = spark.read.option("basePath", s"$dir/vectors")
      .parquet(IndexStore.snapshot(dir).vectors.map(f => s"$dir/vectors/$f"): _*)
      .filter($"vec_id".isin(doomed.toSeq: _*))
      .select($"vec_id", $"cell").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    IndexStore.forget(spark, dir, "vector", doomed.toSeq.toDF("vec_id"))

    val split = VectorOps.refineDriftedCells(spark, dir, minCellMass = 20L)
    assert(split.nonEmpty, "the blob must name drifted cells")
    // the hazard is only exercised if some forgotten row lives OUTSIDE
    // the rewritten cells (the blob is localized, residents spread over
    // all 8 cells, so this holds by construction)
    assert(cellOf.values.exists(c => !split.contains(c)),
      s"fixture must place a forgotten row in an untouched cell: " +
      s"cells=${cellOf.values.toSet} split=$split")

    val head = IndexStore.snapshot(dir)
    assert(head.tombs.nonEmpty,
      "the refine's replacement commit must carry head's tombstones " +
      "forward — untouched cells' files still contain the rows")
    val (codes, vecs) = IndexStore.frames(spark, dir, head)
    assert(codes.filter($"vec_id".isin(doomed.toSeq: _*)).count() == 0 &&
      vecs.filter($"vec_id".isin(doomed.toSeq: _*)).count() == 0,
      "forgotten vectors resurrected by the refine")
    assert(codes.count() == 650 - doomed.size,
      "refine + takedown must lose exactly the forgotten rows")

    // and the lifecycle completes: compaction folds, the drop is
    // physical, vacuum removes the bytes
    VectorOps.compactIvfPqIndex(spark, dir)
    val snapC = IndexStore.snapshot(dir)
    assert(snapC.tombs.isEmpty)
    val raw = spark.read.option("basePath", s"$dir/codes")
      .parquet(snapC.codes.map(f => s"$dir/codes/$f"): _*)
    assert(raw.filter($"vec_id".isin(doomed.toSeq: _*)).count() == 0,
      "post-refine compaction must physically drop forgotten rows")
  }

  test("ANN build stamps modality 'vector': a text takedown against the " +
       "vec_id vocabulary is rejected by name") {
    val emb = GenFixtures.clusteredEmbeddings(spark, 300).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("stamp-ann").toString
    VectorOps.buildIvfPqIndex(emb, dir, k = 4)
    val err = intercept[IllegalArgumentException] {
      IndexStore.forget(spark, dir, "text", Seq(1L).toDF("owner"))
    }
    assert(err.getMessage.contains("modalities"))
    // and the ledger build stamps 'text' symmetrically
    val led = java.nio.file.Files.createTempDirectory("stamp-led").toString
    DedupLedger.buildLedger(Seq(0L -> words(30, "h")).toDF("doc_id", "text"),
      led)
    intercept[IllegalArgumentException] {
      IndexStore.forget(spark, led, "vector", Seq(1L).toDF("vec_id"))
    }
  }

  test("the no-id-column guard and the not-my-modality fast path are " +
       "pure metadata: a tombstoned store reading an armless frame " +
       "launches ZERO Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("meta-tomb").toString
    // a store whose codes arm has NO id column (hypothetical future
    // arm schema), committed through the normal delta protocol
    IndexStore.commitDelta(dir) {
      Seq((0, "aa"), (1, "bb")).toDF("cell", "h")
        .write.mode("append").parquet(s"$dir/codes")
    }
    DedupLedger.append(Media(), Seq((5L, Array(100L))).toDF("media_id", "fp"),
      dir, tag = "m1")
    val vPre = IndexStore.headVersion(dir).get
    IndexStore.forget(spark, dir, "media", Seq(5L).toDF("owner"))
    val snap = IndexStore.snapshot(dir)
    assert(snap.tombs.nonEmpty &&
      snap.tombs.forall(_.startsWith("modality=media/")),
      s"tombstone files must be modality-partitioned: ${snap.tombs}")

    // count NON-sentinel job starts; sentinel jobs (a distinct job
    // group) both drain the FIFO listener bus and mark window edges
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinels = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        if (Option(s.properties)
              .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
              .contains("tomb-sentinel")) sentinels.incrementAndGet()
        else counted.incrementAndGet()
        ()
      }
    }
    def drain(): Unit = {
      val seen = sentinels.get()
      spark.sparkContext.setJobGroup("tomb-sentinel", "drain")
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sentinels.get() == seen && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(sentinels.get() > seen, "listener bus failed to drain")
    }
    def jobsDuring(body: => Unit): Int = {
      drain(); val base = counted.get(); body; drain()
      counted.get() - base
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // media tombstones do NOT target the codes arm: the armless
      // frame must construct and plan with ZERO MARGINAL jobs vs the
      // same read of the pre-forget snapshot (reading parquet at all
      // costs a schema-inference job either way — the guard itself
      // must add nothing; it resolves from the file paths)
      def readArmless(s: IndexStore.Snapshot) =
        IndexStore.frames(spark, dir, s,
          Some("cell INT, h STRING"), Some(IndexStore.VECTORS_DDL))
      val snapPre = IndexStore.snapshotAt(dir, vPre)
      readArmless(snapPre) // warm any path/schema caches once
      val base = jobsDuring { readArmless(snapPre) }
      val n1 = jobsDuring {
        val (codesF, _) = readArmless(snap)
        assert(codesF.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.isEmpty, "a not-my-modality arm must read with zero plan change")
      }
      assert(n1 == base,
        s"not-my-modality armless read launched $n1 jobs (baseline $base)")
      // a MATCHING-modality armless read fails by name — the guard
      // adds no probe job on top of the read's own schema inference
      IndexStore.forget(spark, dir, "text", Seq(0L).toDF("owner"))
      val n2 = jobsDuring {
        val err = intercept[RuntimeException] {
          readArmless(IndexStore.snapshot(dir))
        }
        assert(err.getMessage.contains("no owner/vec_id/doc_id"))
      }
      assert(n2 <= base,
        s"matching-modality armless guard launched $n2 jobs (baseline $base)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("an empty or all-null takedown publishes NOTHING — no version " +
       "bump, no permanent empty tombstone file") {
    val dir = java.nio.file.Files.createTempDirectory("empty-tomb").toString
    DedupLedger.buildLedger(Seq(
      0L -> words(30, "h")).toDF("doc_id", "text"), dir)
    val v = IndexStore.headVersion(dir).get
    assert(IndexStore.forget(spark, dir, "text",
      spark.range(0).select($"id".as("owner"))) == v)
    assert(IndexStore.forget(spark, dir, "text",
      spark.range(2).select(lit(null).cast("long").as("owner"))) == v,
      "all-null ids must short-circuit too")
    assert(IndexStore.headVersion(dir).contains(v) &&
      IndexStore.snapshot(dir).tombs.isEmpty,
      "an empty takedown must leave the store untombstoned")
  }

  test("a forget landing inside a compaction window survives the " +
       "replacement commit merge-on-read (it targets rows the rewrite " +
       "already copied — only the NEXT compaction drops them)") {
    val dir = java.nio.file.Files.createTempDirectory("race-tomb").toString
    DedupLedger.buildLedger(Seq(
      0L -> words(30, "h"), 1L -> words(30, "x")).toDF("doc_id", "text"),
      dir)
    val base = IndexStore.snapshot(dir)
    // the takedown lands while a compaction (replacement over `base`)
    // is in flight
    IndexStore.forget(spark, dir, "text", Seq(1L).toDF("owner"))
    IndexStore.commitReplace(dir, base) {
      // rewrite that adds nothing: the interesting part is the carry
    }
    val head = IndexStore.snapshot(dir)
    assert(head.tombs.nonEmpty,
      "a forget concurrent with a replacement must carry forward")
    val (exact, _) = IndexStore.frames(spark, dir, head,
      Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL))
    assert(exact.filter($"owner" === 1L).count() == 0,
      "the carried tombstone must still subtract merge-on-read")
  }
}
