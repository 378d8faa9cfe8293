package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupLedger, IndexStore}

/** Round 21: the declared-schema readers construct their relation
  * DIRECTLY (InMemoryFileIndex over cached manifest file statuses +
  * HadoopFsRelation) instead of through
  * `spark.read.schema(ddl).parquet(files)`. These tests pin that the
  * direct construct is observably IDENTICAL to the reader path — same
  * schema, same scan shape, same partition pruning, same rows — that it
  * lists nothing (no Spark job, however many files), that the frame
  * memo can never serve a stale fileset, and that no session is served
  * a file index another session built. */
class RelationParitySpec extends SparkSpec {
  import spark.implicits._

  /** Cell-pruned executed plan, ids normalized. */
  private def shape(df: org.apache.spark.sql.DataFrame): String = {
    val d = df.filter(col("cell") === 3).select(col("doc_id"))
    d.collect() // finalize (AQE discipline: same Dataset's action)
    d.queryExecution.executedPlan.toString
      .replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
  }

  private def fileIndex(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation].location
    }.getOrElse(fail(s"no file relation in ${df.queryExecution.analyzed}"))

  private def freshLedger(): String = {
    val dir = java.nio.file.Files.createTempDirectory("relpar").toString + "/led"
    val hist = (0L until 64L)
      .map(i => (i, s"alpha beta gamma delta epsilon zeta token$i end"))
      .toDF("doc_id", "text")
    DedupLedger.buildLedger(hist, dir)
    dir
  }

  test("declared read: schema, plan shape and rows match the reader path") {
    val dir = freshLedger()
    val snap = IndexStore.snapshot(dir)
    val (_, sigs) = IndexStore.frames(spark, dir, snap,
      Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
      declaredSchema = true)
    val reader = spark.read.schema(IndexStore.VECTORS_DDL)
      .option("basePath", s"$dir/vectors")
      .parquet(snap.vectors.map(f => s"$dir/vectors/$f"): _*)
    assert(sigs.schema == reader.schema,
      "direct relation must expose the reader path's schema " +
        "(data cols then partition col, same nullability)")
    // partition pruning + scan shape parity on a cell-filtered read
    assert(shape(sigs) == shape(reader),
      "cell-pruned executed plan must match the reader path's")
    val a = sigs.orderBy("doc_id").collect().toSeq
    val b = reader.orderBy("doc_id").collect().toSeq
    assert(a == b, "rows must be identical")
  }

  test("a declared read over more than 32 files constructs with no Spark " +
       "job and matches the reader path, which lists them with a job") {
    // one row per file: 48 vectors files over cells 0-3, past Spark's
    // 32-path parallel-listing threshold
    val dir = java.nio.file.Files.createTempDirectory("relpar-many")
      .toString + "/led"
    IndexStore.setProps(dir, Map("modalities" -> "text"))
    IndexStore.commitRebuild(dir) {
      (0L until 48L).map(i => ((i % 4).toInt, s"h$i", i))
        .toDF("cell", "h", "owner").repartition(4)
        .write.mode("overwrite").option("maxRecordsPerFile", 1L)
        .partitionBy("cell").parquet(s"$dir/codes")
      (0L until 48L).map(i => ((i % 4).toInt, i, Seq(i, i + 1)))
        .toDF("cell", "doc_id", "sig").repartition(4)
        .write.mode("overwrite").option("maxRecordsPerFile", 1L)
        .partitionBy("cell").parquet(s"$dir/vectors")
    }
    val snap = IndexStore.snapshot(dir)
    assert(snap.vectors.size == 48, s"fixture: ${snap.vectors.size} files")
    val (sigs, jobs) = countJobs(IndexStore.frames(spark, dir, snap,
      Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
      declaredSchema = true)._2)
    assert(jobs == 0, s"the declared construct ran $jobs Spark jobs")
    val (reader, readerJobs) = countJobs(
      spark.read.schema(IndexStore.VECTORS_DDL)
        .option("basePath", s"$dir/vectors")
        .parquet(snap.vectors.map(f => s"$dir/vectors/$f"): _*))
    assert(readerJobs >= 1, "negative control: the reader path must list " +
      "48 paths with a Spark job, or this case proves nothing")
    assert(sigs.schema == reader.schema)
    assert(shape(sigs) == shape(reader),
      "cell-pruned executed plan must match the reader path's")
    assert(sigs.orderBy("doc_id").collect().toSeq ==
      reader.orderBy("doc_id").collect().toSeq, "rows must be identical")
  }

  test("frame memo: same snapshot reuses the plan; an append never serves stale") {
    val dir = freshLedger()
    val snap = IndexStore.snapshot(dir)
    def read() = IndexStore.frames(spark, dir, snap,
      Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
      declaredSchema = true)._2
    assert(read() eq read(),
      "same (session, fileset, ddl) must hit the frame memo")
    val before = read().count()
    DedupLedger.appendSurvivors(
      Seq((1000L, "omega psi chi phi upsilon tau extra doc"))
        .toDF("doc_id", "text"), dir, tag = "relpar-append")
    val snap2 = IndexStore.snapshot(dir)
    val after = IndexStore.frames(spark, dir, snap2,
      Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
      declaredSchema = true)._2
    assert(!(after eq read()), "a new fileset must construct a new frame")
    assert(after.count() == before + 1,
      "post-append read must see exactly the appended signature row")
    // the PINNED old snapshot still reads the old fileset (time travel)
    assert(read().count() == before,
      "the pinned snapshot's memoized frame must not see the append")
  }

  test("diffFrames with declared ledger DDLs matches the inference path") {
    val dir = freshLedger()
    val v1 = IndexStore.snapshot(dir)
    DedupLedger.appendSurvivors(
      Seq((2000L, "nu xi omicron pi rho sigma fresh doc"))
        .toDF("doc_id", "text"), dir, tag = "relpar-diff")
    val head = IndexStore.snapshot(dir)
    val (dx, dv) = IndexStore.diffFrames(spark, dir, v1, head,
      Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
      declaredSchema = true)
    val (ix, iv) = IndexStore.diffFrames(spark, dir, v1, head)
    assert(dx.orderBy("owner").collect().toSeq ==
      ix.select(dx.columns.map(col): _*).orderBy("owner").collect().toSeq)
    assert(dv.orderBy("doc_id").collect().toSeq ==
      iv.select(dv.columns.map(col): _*).orderBy("doc_id").collect().toSeq)
  }

  test("two live sessions: each frame memo serves only the session that built it") {
    import org.apache.spark.sql.graftshim.Shim.sessionId
    import graft.ops.VectorOps
    val other = spark.newSession()
    assert(sessionId(other) != sessionId(spark))
    // declared ledger reads
    val dir = freshLedger()
    val snap = IndexStore.snapshot(dir)
    def read(s: org.apache.spark.sql.SparkSession) = IndexStore.frames(s, dir,
      snap, Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
      declaredSchema = true)._2
    val mine = read(spark)
    val theirs = read(other)
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other,
      "the second session was served a frame bound to the first")
    assert((read(spark) eq mine) && (read(other) eq theirs),
      "each session must still hit its own memo entry")
    assert(!(fileIndex(mine) eq fileIndex(theirs)),
      "the two sessions' relations share one file index (it pins the " +
      "session that built it)")
    assert(mine.orderBy("doc_id").collect().toSeq ==
      theirs.orderBy("doc_id").collect().toSeq)
    // ANN serve frames
    val emb = GenFixtures.clusteredEmbeddings(spark, 300).localCheckpoint()
    val idx = java.nio.file.Files.createTempDirectory("relpar-ann").toString
    VectorOps.buildIvfPqIndex(emb, idx, k = 4)
    for (s <- Seq(spark, other)) {
      VectorOps.servedIvfPqCandidates(s, idx, emb, numQueries = 3,
        probes = 2, rerank = 5)
      val cached = VectorOps.storeFramesCache.get(s"${sessionId(s)}|$idx")
      assert(cached.exists(_._2.sparkSession eq s),
        "ANN store frames must be cached under their own session's id")
    }
  }
}
