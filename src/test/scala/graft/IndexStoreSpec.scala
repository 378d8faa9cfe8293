package graft

import org.apache.spark.sql.functions._
import graft.ops.{IndexStore, VectorOps}

/** The persisted-index maintenance half-life (VERDICT r11 "What's
  * missing #1"): appends must not decay the store into small files
  * forever, and no reader may ever observe a torn store. Pins the
  * IndexStore contract end to end:
  *   - N appends then COMPACT → one sized file set per cell, serve
  *     rows identical before/after, and VACUUM leaves exactly the live
  *     snapshot on disk with the answer still identical;
  *   - a serve planned mid-append resolves the pre-append snapshot
  *     (uncommitted part files in the data directories are invisible
  *     until the manifest publishes);
  *   - one snapshot covers codes AND vectors together (lockstep).
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def serve(dir: String, emb: org.apache.spark.sql.DataFrame) =
    VectorOps.servedIvfPqTopK(spark, dir, emb,
      numQueries = 5, probes = 2, rerank = 10, topK = 3)

  test("serve cache: a store re-created at the same path reaching the " +
       "same version with different part-file names invalidates " +
       "(round-17 find: version-only keying served deleted file lists — " +
       "FILE_NOT_EXIST on every re-executed zone gate's later runs)") {
    val emb = GenFixtures.clusteredEmbeddings(spark, 500).localCheckpoint()
    val zone = java.nio.file.Files.createTempDirectory("idx-recreate")
    val dir = new java.io.File(zone.toFile, "index").getAbsolutePath
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    def build(): Unit = {
      rm(new java.io.File(dir))
      VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 400), dir, k = 8)
      VectorOps.appendToIvfPqIndex(spark,
        emb.filter($"vec_id" >= 400), dir, Some("t"))
    }
    build()
    val first = serve(dir, emb).collect() // warms the frames cache
    build() // same path, same final VERSION, new random part names
    // a version-only cache returns the deleted file list here and the
    // read fails FILE_NOT_EXIST; the file-list signature re-lists
    val second = serve(dir, emb).collect()
    assert(second.toSeq == first.toSeq,
      "deterministic rebuild must serve identical results through the cache")
  }

  test("appends then compact: sized file set per cell, identical serve, vacuum-clean") {
    val emb = GenFixtures.clusteredEmbeddings(spark, 600).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("idx-compact").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 450), dir, k = 8)
    // three daily increments — each publishes its own snapshot
    for (lo <- Seq(450, 500, 550))
      VectorOps.appendToIvfPqIndex(spark,
        emb.filter($"vec_id" >= lo && $"vec_id" < lo + 50), dir)
    assert(IndexStore.headVersion(dir).contains(4), "build + 3 appends = v4")
    val before = serve(dir, emb).collect().toSeq
    val filesBefore = IndexStore.snapshot(dir).codes.size
    // the decay this exists to fix: appends accumulated extra files
    assert(filesBefore > 8, s"expected >k code files after 3 appends, got $filesBefore")

    VectorOps.compactIvfPqIndex(spark, dir)
    val snap = IndexStore.snapshot(dir)
    // one sized file per cell, for codes AND the inverted lists
    def cellsOf(fs: Seq[String]) = fs.groupBy(_.split('/').head)
    for ((table, fs) <- Seq("codes" -> snap.codes, "vectors" -> snap.vectors);
         (cell, cf) <- cellsOf(fs)) {
      assert(cell.startsWith("cell="), s"$table file outside a cell dir: $cf")
      assert(cf.size == 1, s"$table $cell not compacted to one file: $cf")
    }
    // identical answer from the compacted snapshot
    val after = serve(dir, emb).collect().toSeq
    assert(before == after, "serve rows changed across compaction")

    // vacuum: physical files == live snapshot, answer still identical
    val removed = VectorOps.vacuumIvfPqIndex(dir)
    assert(removed > 0, "vacuum found nothing to delete after a compaction")
    def physical(sub: String): Set[String] = {
      val root = new java.io.File(dir, sub)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => root.toPath.relativize(f.toPath).toString).toSet
    }
    assert(physical("codes") == snap.codes.toSet)
    assert(physical("vectors") == snap.vectors.toSet)
    assert(serve(dir, emb).collect().toSeq == before,
      "serve rows changed across vacuum")
  }

  test("a serve planned mid-append sees the pre-append snapshot, never a torn store") {
    val emb = GenFixtures.clusteredEmbeddings(spark, 500).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("idx-atomic").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 400), dir, k = 8)
    val v1 = IndexStore.snapshot(dir)

    // simulate the torn mid-append state: data part files exist in the
    // cell directories but NO manifest has published them (exactly what
    // a concurrent lister would see halfway through a batch)
    val orphanDir = new java.io.File(dir, "codes/cell=0")
    val orphan = new java.io.File(orphanDir, "part-torn-orphan.parquet")
    val donor = orphanDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(donor.toPath, orphan.toPath)
    val served = serve(dir, emb.filter($"vec_id" < 400)).collect().toSeq
    val planned = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))._1
    assert(IndexStore.snapshot(dir).codes == v1.codes,
      "unpublished part files leaked into the snapshot")
    assert(planned.count() == 400,
      "reader picked up a torn (unpublished) data file")
    assert(orphan.delete())

    // a reader whose plan resolved BEFORE the append keeps the old
    // snapshot; a reader planned after sees the full batch — both
    // consistent, neither torn
    val preFrames = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))._1
    VectorOps.appendToIvfPqIndex(spark, emb.filter($"vec_id" >= 400), dir)
    assert(preFrames.count() == 400, "pre-append plan drifted to new files")
    val v2 = IndexStore.snapshot(dir)
    assert(v2.version == v1.version + 1)
    val post = IndexStore.frames(spark, dir, v2)
    assert(post._1.count() == 500 && post._2.count() == 500,
      "codes and vectors must publish in lockstep")
    // appended rows actually serve
    assert(serve(dir, emb).count() == 15)
  }

  test("tagged appends are idempotent (streaming replay protection) and " +
       "snapshots time-travel") {
    val emb = GenFixtures.clusteredEmbeddings(spark, 500).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("idx-tags").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 400), dir, k = 8)
    val vBuild = IndexStore.headVersion(dir).get
    val preServe = serve(dir, emb.filter($"vec_id" < 400)).collect().toSeq

    val batch = emb.filter($"vec_id" >= 400)
    VectorOps.appendToIvfPqIndex(spark, batch, dir, tag = Some("stream-7"))
    val vAfter = IndexStore.headVersion(dir).get
    assert(vAfter == vBuild + 1)
    val rowsAfter = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
      ._1.count()
    assert(rowsAfter == 500)

    // the REPLAY: same batch, same tag — must be a complete no-op
    VectorOps.appendToIvfPqIndex(spark, batch, dir, tag = Some("stream-7"))
    assert(IndexStore.headVersion(dir).contains(vAfter),
      "replayed tagged append published a new version")
    assert(IndexStore.frames(spark, dir, IndexStore.snapshot(dir))._1.count()
      == 500, "replayed tagged append double-ingested the batch")
    assert(IndexStore.committedTags(dir) == Set("stream-7"))

    // a DIFFERENT tag ingests normally
    VectorOps.appendToIvfPqIndex(spark,
      batch.withColumn("vec_id", $"vec_id" + 100), dir, tag = Some("stream-8"))
    assert(IndexStore.headVersion(dir).contains(vAfter + 1))

    // time-travel: the pre-append version still serves its exact rows
    val tt = IndexStore.frames(spark, dir, IndexStore.snapshotAt(dir, vBuild))
    assert(tt._1.count() == 400 && tt._2.count() == 400)
    val ttServe = VectorOps.serveIvfPqStoredRowsAt(spark, dir, vBuild,
      emb.filter($"vec_id" < 400), numQueries = 5, probes = 2,
      rerank = 10, topK = 3).collect().toSeq
    assert(ttServe == preServe,
      "time-travel serve diverged from the original pre-append serve")
    // retention window: keepLast=2 retains HEAD and HEAD-1 — the
    // previous version still time-travels (files AND manifest alive),
    // the build version is expired
    IndexStore.vacuum(dir, keepLast = 2)
    val prev = IndexStore.frames(spark, dir,
      IndexStore.snapshotAt(dir, vAfter))
    assert(prev._1.count() == 500, "retained version lost data files")
    intercept[IllegalArgumentException] {
      IndexStore.snapshotAt(dir, vBuild)
    }
    // the aggressive default expires everything but HEAD
    VectorOps.vacuumIvfPqIndex(dir)
    intercept[IllegalArgumentException] {
      IndexStore.snapshotAt(dir, vAfter)
    }
  }

  test("streaming maintenance: micro-batches append exactly once through " +
       "the tagged sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val emb = GenFixtures.clusteredEmbeddings(spark, 500).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("idx-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("idx-stream-ckpt").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 400), dir, k = 8)
    val vBuild = IndexStore.headVersion(dir).get

    implicit val sc = spark.sqlContext
    val src = MemoryStream[(Long, Seq[Float], Int)]
    val stream = src.toDF().toDF("vec_id", "embedding", "label")
    val tail = emb.filter($"vec_id" >= 400)
      .select($"vec_id", $"embedding", $"label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    src.addData(tail.take(50).toIndexedSeq)
    src.addData(tail.drop(50).toIndexedSeq)
    graft.streaming.IndexMaintenance.appendSink(stream, dir, ckpt)
      .start().awaitTermination()

    // AvailableNow drained both batches; each published one snapshot
    val v = IndexStore.headVersion(dir).get
    assert(v > vBuild, "stream published nothing")
    assert(IndexStore.committedTags(dir).nonEmpty)
    assert(IndexStore.frames(spark, dir, IndexStore.snapshot(dir))._1.count()
      == 500, "streamed batches did not all land exactly once")
    // streamed rows serve identically to a batch-appended store
    val batchDir = java.nio.file.Files.createTempDirectory("idx-batch").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 400), batchDir, k = 8)
    VectorOps.appendToIvfPqIndex(spark, emb.filter($"vec_id" >= 400), batchDir)
    assert(serve(dir, emb).collect().toSeq ==
           serve(batchDir, emb).collect().toSeq,
      "streamed store serves differently from the batch-appended store")
  }

  test("q159 shape: kill/resume on the vector layout — a drained checkpoint " +
       "replays as a no-op, a resumed stream ingests only new files") {
    val emb = GenFixtures.clusteredEmbeddings(spark, 500).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("idx-resume").toString
    val landing = java.nio.file.Files.createTempDirectory("idx-landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("idx-resume-ckpt").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 400), dir, k = 8)
    def stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
      .parquet(landing)
    def drain(): Unit =
      graft.streaming.IndexMaintenance.appendSink(stream, dir, ckpt)
        .start().awaitTermination()
    // tick 1
    emb.filter($"vec_id" >= 400 && $"vec_id" < 450)
      .repartition(1).write.mode("overwrite").parquet(landing)
    drain()
    val v1 = IndexStore.headVersion(dir).get
    assert(IndexStore.frames(spark, dir, IndexStore.snapshot(dir))._1.count()
      == 450, "tick 1 did not land")
    // the stream was KILLED (AvailableNow returned); a restart against
    // the fully-drained checkpoint must publish NOTHING
    drain()
    assert(IndexStore.headVersion(dir).contains(v1),
      "drained checkpoint replay published a new version")
    // resume with new files only: tick 2 ingests exactly the delta
    emb.filter($"vec_id" >= 450)
      .repartition(1).write.mode("append").parquet(landing)
    drain()
    assert(IndexStore.frames(spark, dir, IndexStore.snapshot(dir))._1.count()
      == 500, "tick 2 did not land exactly once")
    // content-equivalent to the single batch append (what q159's oracle
    // asserts against the full serve)
    val batchDir = java.nio.file.Files.createTempDirectory("idx-batch2").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 400), batchDir, k = 8)
    VectorOps.appendToIvfPqIndex(spark, emb.filter($"vec_id" >= 400), batchDir)
    assert(serve(dir, emb).collect().toSeq ==
           serve(batchDir, emb).collect().toSeq)
  }

  test("retain-all stores refuse vacuum: every version stays time-travelable") {
    val dir = java.nio.file.Files.createTempDirectory("idx-retain").toString
    def publish(n: Int): Unit =
      IndexStore.commitReplace(dir,
          if (IndexStore.headVersion(dir).isDefined) IndexStore.snapshot(dir)
          else IndexStore.Snapshot(0, Nil, Nil)) {
        Seq((n, s"v$n")).toDF("step", "merge")
          .write.mode("append").parquet(s"$dir/codes")
      }
    publish(1); publish(2)
    // the registry policy (BpeOps.ensureTokenizerRegistry writes this
    // marker): vacuum must be a structural no-op, not a convention
    IndexStore.markRetainAll(dir)
    assert(IndexStore.retainsAll(dir))
    assert(IndexStore.vacuum(dir) == 0,
      "vacuum deleted files from a retain-all store")
    assert(IndexStore.vacuum(dir, keepLast = 1) == 0)
    // v1 — superseded by the v2 replacement — still reads in full
    val v1 = IndexStore.snapshotAt(dir, 1)
    assert(v1.codes.nonEmpty)
    assert(spark.read.parquet(v1.codes.map(f => s"$dir/codes/$f"): _*)
      .count() == 1, "retained version lost data")
  }

  test("marks table rides the snapshot lifecycle: rebuild, delta, vacuum, empty read") {
    val dir = java.nio.file.Files.createTempDirectory("idx-marks").toString
    IndexStore.commitRebuild(dir) {
      Seq((0, "h0", 0L)).toDF("cell", "h", "owner")
        .write.mode("overwrite").parquet(s"$dir/codes")
      Seq((0, 0L, Seq(1L, 2L))).toDF("cell", "doc_id", "sig")
        .write.mode("overwrite").parquet(s"$dir/vectors")
      Seq((3, 0x2aL, 7L)).toDF("cell", "fp", "owner")
        .write.mode("overwrite").parquet(s"$dir/marks")
    }
    val s1 = IndexStore.snapshot(dir)
    assert(s1.marks.nonEmpty, "rebuild did not capture the marks table")
    IndexStore.commitDelta(dir, Some("t1")) {
      Seq((5, 0x33L, 9L)).toDF("cell", "fp", "owner")
        .write.mode("append").parquet(s"$dir/marks")
    }
    val s2 = IndexStore.snapshot(dir)
    assert(s2.marks.size > s1.marks.size, "delta did not track new marks files")
    val marks = IndexStore.marksFrame(spark, dir, s2,
      "cell INT, fp BIGINT, owner BIGINT")
    assert(marks.count() == 2)
    // a replayed tag is a no-op on marks too
    IndexStore.commitDelta(dir, Some("t1")) {
      Seq((6, 0x44L, 11L)).toDF("cell", "fp", "owner")
        .write.mode("append").parquet(s"$dir/marks")
    }
    assert(IndexStore.marksFrame(spark, dir, IndexStore.snapshot(dir),
      "cell INT, fp BIGINT, owner BIGINT").count() == 2)
    // a snapshot with NO marks reads as an empty, correctly-typed frame
    val none = IndexStore.marksFrame(spark, dir, s2.copy(marks = Nil),
      "cell INT, fp BIGINT, owner BIGINT")
    assert(none.count() == 0 &&
      none.schema.fieldNames.toSeq == Seq("cell", "fp", "owner"))
    // time-travel back to v1: one mark row
    assert(IndexStore.marksFrame(spark, dir, s1,
      "cell INT, fp BIGINT, owner BIGINT").count() == 1)
  }

  test("CONCURRENT commitDelta writers: no lost delta, no torn snapshot, " +
       "strictly sequential versions (round-16, VERDICT r15 Next #3)") {
    // a production pipeline has concurrent appenders — e.g. two
    // modality arms of one tick, or two ingest jobs sharing a store.
    // Writers serialize through the per-store lock and each re-reads
    // _HEAD inside it, layering its files onto whatever the previous
    // writer published: after 8 racing deltas every row must be
    // present (no lost delta) and versions must be 2..9 with each
    // manifest a strict superset of its parent (no torn snapshot).
    val dir = java.nio.file.Files.createTempDirectory("idx-race").toString
    IndexStore.commitRebuild(dir) {
      Seq((0, "base", 0L)).toDF("cell", "h", "owner")
        .write.mode("overwrite").parquet(s"$dir/codes")
      Seq((0, 0L, Seq(1L))).toDF("cell", "doc_id", "sig")
        .write.mode("overwrite").parquet(s"$dir/vectors")
    }
    val writers = (1 to 8).map { i =>
      new Thread(() => {
        IndexStore.commitDelta(dir, Some(s"race-$i")) {
          Seq((i, s"h$i", i.toLong)).toDF("cell", "h", "owner")
            .write.mode("append").parquet(s"$dir/codes")
        }
        ()
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    assert(IndexStore.headVersion(dir).contains(9),
      s"rebuild + 8 deltas must publish v9, got ${IndexStore.headVersion(dir)}")
    val (codes, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
    val owners = codes.select(col("owner")).collect().map(_.getLong(0)).toSet
    assert(owners == (0L to 8L).toSet, s"lost delta: owners = $owners")
    // every intermediate manifest is a strict superset of its parent —
    // a writer that read a stale HEAD would have dropped a sibling's files
    for (v <- 2 to 9) {
      val prev = IndexStore.snapshotAt(dir, v - 1).codes.toSet
      val cur = IndexStore.snapshotAt(dir, v).codes.toSet
      assert(prev.subsetOf(cur) && cur.size > prev.size,
        s"v$v is not a strict superset of v${v - 1}")
    }
  }

  test("OCC commits: racing commitDelta writers WITHOUT the advisory lock " +
       "lose no delta and publish sequential versions (VERDICT r16 #2)") {
    // the object-store condition: no FileChannel fence exists, so the
    // manifest CAS (atomic fail-if-exists creation of v<N>.list) is
    // the only serialization — a loser must re-read head, re-layer its
    // files onto the winner's snapshot, and retry
    val dir = java.nio.file.Files.createTempDirectory("idx-occ").toString
    IndexStore.commitRebuild(dir) {
      Seq((0, "base", 0L)).toDF("cell", "h", "owner")
        .write.mode("overwrite").parquet(s"$dir/codes")
      Seq((0, 0L, Seq(1L))).toDF("cell", "doc_id", "sig")
        .write.mode("overwrite").parquet(s"$dir/vectors")
    }
    IndexStore.fenceDisabledForTest = true
    try {
      val writers = (1 to 8).map { i =>
        new Thread(() => {
          IndexStore.commitDelta(dir, Some(s"occ-$i")) {
            // one subdirectory per writer: parquet append committers
            // racing into ONE directory is a Spark-committer concern,
            // not the manifest protocol under test
            Seq((i, s"h$i", i.toLong)).toDF("cell", "h", "owner")
              .write.mode("overwrite").parquet(s"$dir/codes/w$i")
          }
          ()
        })
      }
      writers.foreach(_.start()); writers.foreach(_.join())
    } finally IndexStore.fenceDisabledForTest = false
    assert(IndexStore.headVersion(dir).contains(9),
      s"rebuild + 8 OCC deltas must publish v9, got ${IndexStore.headVersion(dir)}")
    val (codes, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
    val owners = codes.select(col("owner")).collect().map(_.getLong(0)).toSet
    assert(owners == (0L to 8L).toSet, s"lost delta under OCC: owners = $owners")
    // monotone, not STRICTLY growing: an unfenced sibling's files can
    // land inside another writer's listing window and ride the earlier
    // manifest (adopted early — benign, path-keyed union dedups); the
    // owners assertion above already proved completeness
    for (v <- 2 to 9) {
      val prev = IndexStore.snapshotAt(dir, v - 1).codes.toSet
      val cur = IndexStore.snapshotAt(dir, v).codes.toSet
      assert(prev.subsetOf(cur),
        s"v$v dropped files of v${v - 1} under OCC")
    }
  }

  test("the commit point is the manifest CAS, not _HEAD: a stale or lost " +
       "hint never hides a committed version") {
    val dir = java.nio.file.Files.createTempDirectory("idx-hint").toString
    IndexStore.commitRebuild(dir) {
      Seq((0, "base", 0L)).toDF("cell", "h", "owner")
        .write.mode("overwrite").parquet(s"$dir/codes")
      Seq((0, 0L, Seq(1L))).toDF("cell", "doc_id", "sig")
        .write.mode("overwrite").parquet(s"$dir/vectors")
    }
    IndexStore.commitDelta(dir, Some("d1")) {
      Seq((1, "h1", 1L)).toDF("cell", "h", "owner")
        .write.mode("append").parquet(s"$dir/codes")
    }
    assert(IndexStore.headVersion(dir).contains(2))
    // simulate the crash window: a writer died after the manifest CAS
    // but before raising the hint — regress _HEAD by hand
    java.nio.file.Files.write(new java.io.File(dir, "_HEAD").toPath,
      "1".getBytes("UTF-8"))
    assert(IndexStore.headVersion(dir).contains(2),
      "a stale _HEAD hint must not hide the committed v2 manifest")
    val (codes, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
    assert(codes.select(col("owner")).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L), "snapshot() through a stale hint served the old version")
    // and the next commit lands ABOVE the real head, never on top of it
    IndexStore.commitDelta(dir, Some("d2")) {
      Seq((2, "h2", 2L)).toDF("cell", "h", "owner")
        .write.mode("append").parquet(s"$dir/codes")
    }
    assert(IndexStore.headVersion(dir).contains(3))
    assert(IndexStore.snapshotAt(dir, 2).codes.toSet
      .subsetOf(IndexStore.snapshotAt(dir, 3).codes.toSet))
  }

  test("a pre-OCC torn orphan manifest above the hint is never adopted: " +
       "head stays put, the next commit skips its version, vacuum clears it") {
    val dir = java.nio.file.Files.createTempDirectory("idx-orphan").toString
    IndexStore.commitRebuild(dir) {
      Seq((0, "base", 0L)).toDF("cell", "h", "owner")
        .write.mode("overwrite").parquet(s"$dir/codes")
      Seq((0, 0L, Seq(1L))).toDF("cell", "doc_id", "sig")
        .write.mode("overwrite").parquet(s"$dir/vectors")
    }
    IndexStore.commitDelta(dir, Some("d1")) {
      Seq((1, "h1", 1L)).toDF("cell", "h", "owner")
        .write.mode("append").parquet(s"$dir/codes")
    }
    assert(IndexStore.headVersion(dir).contains(2))
    // the legacy crash artifact: a PRE-OCC writer died mid-manifest-
    // write at v3 — a plain Files.write, no commit marker, file list
    // cut off mid-line; _HEAD still says 2
    val codes2 = IndexStore.snapshotAt(dir, 2).codes
    java.nio.file.Files.write(
      new java.io.File(s"$dir/_manifest", "v3.list").toPath,
      (codes2.map(f => s"codes\t$f").mkString("\n") + "\ncodes\ttrunc")
        .getBytes("UTF-8"))
    assert(IndexStore.headVersion(dir).contains(2),
      "an unmarked orphan manifest above the hint must not become HEAD")
    // writers make progress PAST the dead version number instead of
    // hard-looping on EEXIST, and the new head is a marked manifest
    IndexStore.commitDelta(dir, Some("d2")) {
      Seq((2, "h2", 2L)).toDF("cell", "h", "owner")
        .write.mode("append").parquet(s"$dir/codes")
    }
    assert(IndexStore.headVersion(dir).contains(4),
      "the orphan's number stays a permanent gap")
    val (codes, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
    assert(codes.select(col("owner")).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L))
    // vacuum clears the orphan file like any other unretained manifest
    IndexStore.vacuum(dir)
    assert(!new java.io.File(s"$dir/_manifest", "v3.list").exists(),
      "vacuum must clear the unadoptable orphan")
    assert(codes.count() == 3L)
  }

  test("withWriterLock is reentrant per thread and bounded on contention " +
       "(ADVICE r16 #1)") {
    val dir = java.nio.file.Files.createTempDirectory("idx-reent").toString
    // nested same-store entry: the old code hot-spun forever on
    // OverlappingFileLockException here
    val r = IndexStore.withWriterLock(dir) {
      IndexStore.withWriterLock(dir) {
        IndexStore.setProps(dir, Map("k" -> "v")) // a third nesting level
        42
      }
    }
    assert(r == 42)
    assert(IndexStore.props(dir).get("k").contains("v"))
    // and the lock still excludes OTHER threads while held
    val entered = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => {
      IndexStore.withWriterLock(dir) { entered.set(true) }
    })
    IndexStore.withWriterLock(dir) {
      t.start()
      t.join(300)
      assert(!entered.get(), "a second thread entered a held writer lock")
    }
    t.join(5000)
    assert(entered.get(), "the blocked thread must proceed after release")
  }

  test("crash consistency: data files written without a manifest publish " +
       "are invisible to readers, and vacuum reclaims the orphans") {
    // simulate a writer dying BETWEEN the parquet write and the
    // manifest publish: the part files land, _HEAD never moves
    val dir = java.nio.file.Files.createTempDirectory("idx-crash").toString
    IndexStore.commitRebuild(dir) {
      Seq((0, "live", 0L)).toDF("cell", "h", "owner")
        .write.mode("overwrite").parquet(s"$dir/codes")
      Seq((0, 0L, Seq(1L))).toDF("cell", "doc_id", "sig")
        .write.mode("overwrite").parquet(s"$dir/vectors")
    }
    val snapBefore = IndexStore.snapshot(dir)
    // the "crash": an un-published append
    Seq((1, "orphan", 99L)).toDF("cell", "h", "owner")
      .write.mode("append").parquet(s"$dir/codes")
    // readers resolve the manifest, never a directory listing — the
    // orphan is unobservable
    assert(IndexStore.snapshot(dir).codes == snapBefore.codes,
      "a crash mid-append must not change the published snapshot")
    val (codes, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
    assert(codes.select(col("owner")).collect().map(_.getLong(0)).toSet ==
      Set(0L), "orphan rows leaked into a published read")
    // vacuum physically reclaims what no retained snapshot references
    val deleted = IndexStore.vacuum(dir)
    assert(deleted >= 1, "vacuum must reclaim the orphan part files")
    val (codes2, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
    assert(codes2.select(col("owner")).collect().map(_.getLong(0)).toSet ==
      Set(0L), "vacuum changed the served content")
    // and a resumed writer (the retry after the crash) publishes cleanly
    IndexStore.commitDelta(dir, Some("retry")) {
      Seq((1, "retry", 1L)).toDF("cell", "h", "owner")
        .write.mode("append").parquet(s"$dir/codes")
    }
    val (codes3, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
    assert(codes3.select(col("owner")).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L), "post-crash retry must land")
  }

  test("OBJECT-STORE commit primitive (VERDICT r17 #2): racing unfenced " +
       "writers through put-if-absent — NO hard links, NO atomic rename " +
       "— lose no delta and publish sequential versions; the torn-body " +
       "window is covered by the commit-marker trust rule") {
    val dir = java.nio.file.Files.createTempDirectory("idx-objstore").toString
    val sim = IndexStore.CommitPrimitive.SimulatedPutIfAbsent
    try IndexStore.withCommitPrimitive(sim) {
      IndexStore.commitRebuild(dir) {
        Seq((0, "base", 0L)).toDF("cell", "h", "owner")
          .write.mode("overwrite").parquet(s"$dir/codes")
        Seq((0, 0L, Seq(1L))).toDF("cell", "doc_id", "sig")
          .write.mode("overwrite").parquet(s"$dir/vectors")
      }
      // the object-store condition: no FileChannel fence, the
      // conditional PUT is the ONLY serialization
      IndexStore.fenceDisabledForTest = true
      try {
        val writers = (1 to 8).map { i =>
          new Thread(() => {
            IndexStore.commitDelta(dir, Some(s"os-$i")) {
              Seq((i, s"h$i", i.toLong)).toDF("cell", "h", "owner")
                .write.mode("overwrite").parquet(s"$dir/codes/w$i")
            }
            ()
          })
        }
        writers.foreach(_.start()); writers.foreach(_.join())
      } finally IndexStore.fenceDisabledForTest = false
      assert(IndexStore.headVersion(dir).contains(9),
        s"rebuild + 8 put-if-absent deltas must publish v9, got " +
        s"${IndexStore.headVersion(dir)}")
      val (codes, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
      val owners = codes.select(col("owner")).collect().map(_.getLong(0)).toSet
      assert(owners == (0L to 8L).toSet,
        s"lost delta under put-if-absent: owners = $owners")
      for (v <- 2 to 9) {
        assert(IndexStore.snapshotAt(dir, v - 1).codes.toSet
            .subsetOf(IndexStore.snapshotAt(dir, v).codes.toSet),
          s"v$v dropped files of v${v - 1} under put-if-absent")
      }

      // torn-body crash: put-if-absent lands the body with a PLAIN
      // write, so a writer dying mid-body leaves a partial, UNMARKED
      // manifest at its won version — readers must refuse it above the
      // hint and writers must progress past the dead number
      val codes9 = IndexStore.snapshotAt(dir, 9).codes
      java.nio.file.Files.write(
        new java.io.File(s"$dir/_manifest", "v10.list").toPath,
        (codes9.map(f => s"codes\t$f").mkString("\n") + "\ncodes\ttrunc")
          .getBytes("UTF-8"))
      assert(IndexStore.headVersion(dir).contains(9),
        "a torn put-if-absent body above the hint must not become HEAD")
      IndexStore.commitDelta(dir, Some("os-after-torn")) {
        Seq((9, "h9", 9L)).toDF("cell", "h", "owner")
          .write.mode("overwrite").parquet(s"$dir/codes/w9")
      }
      assert(IndexStore.headVersion(dir).contains(11),
        "the torn version's number stays a permanent gap")
      val (codesF, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
      assert(codesF.select(col("owner")).collect().map(_.getLong(0)).toSet ==
        (0L to 9L).toSet)
    } finally sim.reset()
  }

  test("put-if-absent adopts on-disk state from a previous process: a " +
       "lost conditional-PUT register never double-commits a version") {
    // a fresh process (empty register) pointed at an existing store
    // must treat every on-disk manifest as taken, not re-win it
    val dir = java.nio.file.Files.createTempDirectory("idx-objstore2").toString
    IndexStore.commitRebuild(dir) {
      Seq((0, "base", 0L)).toDF("cell", "h", "owner")
        .write.mode("overwrite").parquet(s"$dir/codes")
      Seq((0, 0L, Seq(1L))).toDF("cell", "doc_id", "sig")
        .write.mode("overwrite").parquet(s"$dir/vectors")
    }
    val sim = IndexStore.CommitPrimitive.SimulatedPutIfAbsent
    sim.reset() // the "process restart": register forgets everything
    try IndexStore.withCommitPrimitive(sim) {
      IndexStore.commitDelta(dir, Some("adopt-1")) {
        Seq((1, "h1", 1L)).toDF("cell", "h", "owner")
          .write.mode("append").parquet(s"$dir/codes")
      }
      assert(IndexStore.headVersion(dir).contains(2),
        "the adopted store's v1 must stay v1; the delta lands at v2")
      val (codes, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
      assert(codes.select(col("owner")).collect().map(_.getLong(0)).toSet ==
        Set(0L, 1L))
    } finally sim.reset()
  }

  private def sha256hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("a crash between the manifest CAS and the tag marker write " +
       "cannot double-ingest on replay (round-19 review: the tag rides " +
       "in the manifest; markers heal from retained manifests)") {
    val dir = java.nio.file.Files.createTempDirectory("idx-tagcrash").toString
    IndexStore.commitRebuild(dir) {
      Seq((0, "base", 0L)).toDF("cell", "h", "owner")
        .write.mode("overwrite").parquet(s"$dir/codes")
      Seq((0, 0L, Seq(1L))).toDF("cell", "doc_id", "sig")
        .write.mode("overwrite").parquet(s"$dir/vectors")
    }
    IndexStore.commitDelta(dir, Some("batch-42")) {
      Seq((1, "h1", 1L)).toDF("cell", "h", "owner")
        .write.mode("append").parquet(s"$dir/codes")
    }
    val vTagged = IndexStore.headVersion(dir).get
    // simulate the crash: the CAS'd manifest exists, the marker (and
    // the heal watermark that would have noticed it) do not
    val marker = new java.io.File(dir,
      s"_manifest/tags/${sha256hex("batch-42")}")
    assert(marker.isFile, "premise: the fast-path marker was written")
    assert(marker.delete())
    assert(new java.io.File(dir, "_manifest/tags_healed").delete())
    assert(IndexStore.committedTags(dir).contains("batch-42"),
      "the audit surface must still see the manifest-carried tag")

    // the foreachBatch replay: same tag — must be a complete no-op
    IndexStore.commitDelta(dir, Some("batch-42")) {
      Seq((1, "h1b", 1L)).toDF("cell", "h", "owner")
        .write.mode("append").parquet(s"$dir/codes")
    }
    assert(IndexStore.headVersion(dir).contains(vTagged),
      "replay after a pre-marker crash published a new version " +
      "(double-ingest — the exact hazard the manifest-carried tag closes)")
    val (codes, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
    assert(codes.count() == 2, "replayed batch rows were ingested twice")
    assert(marker.isFile, "the gate pass must heal the marker back")
  }

  test("vacuum heals manifest-carried tags into markers BEFORE pruning " +
       "manifests, so the replay horizon survives retention") {
    val dir = java.nio.file.Files.createTempDirectory("idx-tagvac").toString
    IndexStore.commitRebuild(dir) {
      Seq((0, "base", 0L)).toDF("cell", "h", "owner")
        .write.mode("overwrite").parquet(s"$dir/codes")
      Seq((0, 0L, Seq(1L))).toDF("cell", "doc_id", "sig")
        .write.mode("overwrite").parquet(s"$dir/vectors")
    }
    IndexStore.commitDelta(dir, Some("tick-1")) {
      Seq((1, "h1", 1L)).toDF("cell", "h", "owner")
        .write.mode("append").parquet(s"$dir/codes")
    }
    // bury the tagged manifest under an untagged commit, then recreate
    // the crash state (no marker, no watermark)
    IndexStore.commitDelta(dir) {
      Seq((2, "h2", 2L)).toDF("cell", "h", "owner")
        .write.mode("append").parquet(s"$dir/codes")
    }
    val marker = new java.io.File(dir,
      s"_manifest/tags/${sha256hex("tick-1")}")
    assert(marker.delete())
    assert(new java.io.File(dir, "_manifest/tags_healed").delete())

    IndexStore.vacuum(dir, keepLast = 1)
    assert(marker.isFile,
      "vacuum pruned the tagged manifest without healing its marker")
    val head = IndexStore.headVersion(dir).get
    IndexStore.commitDelta(dir, Some("tick-1")) {
      Seq((1, "h1c", 1L)).toDF("cell", "h", "owner")
        .write.mode("append").parquet(s"$dir/codes")
    }
    assert(IndexStore.headVersion(dir).contains(head),
      "post-vacuum replay of a healed tag double-ingested")
  }

  test("blank ddl stamp: the read falls back to footer inference, same rows " +
       "as an unstamped store") {
    val hist = (0L until 32L)
      .map(i => (i, s"alpha beta gamma delta epsilon token$i end"))
      .toDF("doc_id", "text")
    def ledger(name: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(name).toString + "/led"
      graft.ops.DedupLedger.buildLedger(hist, dir)
      dir
    }
    val blank = ledger("stamp-blank")
    IndexStore.setProps(blank, Map("ddl.codes" -> " ", "ddl.vectors" -> " "))
    val plain = ledger("stamp-none")
    // an empty value deletes the key: the store reads as never stamped
    IndexStore.setProps(plain,
      Map("ddl.version" -> "", "ddl.codes" -> "", "ddl.vectors" -> ""))
    assert(!IndexStore.props(plain).keys.exists(_.startsWith("ddl.")))
    def rows(dir: String) = {
      val (codes, vecs) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
      (codes.schema, vecs.schema,
       codes.orderBy("h").collect().toSeq, vecs.orderBy("doc_id").collect().toSeq)
    }
    val (bc, bv, bcr, bvr) = rows(blank)
    assert(bc.nonEmpty && bv.nonEmpty, "a blank stamp became a zero-column schema")
    assert((bc, bv, bcr, bvr) == rows(plain))
    assert(bcr.size == 32 && bvr.size == 32)
  }
}
