package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupLedger, IndexStore}
import graft.ops.DedupLedger.Text

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
    DedupLedger.append(Text, Seq((1000L, "omega psi chi phi upsilon tau extra doc"))
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
    DedupLedger.append(Text, Seq((2000L, "nu xi omicron pi rho sigma fresh doc"))
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

  /** Every row of `files` under `dir/sub`, read file by file (a
    * partitioned file's `k=v` directories become columns): the truth a
    * table reader must return, as sorted strings over `cols`. */
  private def fileRows(dir: String, sub: String, files: Seq[String],
                       cols: Seq[String]): Seq[String] =
    files.flatMap { f =>
      f.split('/').init.foldLeft(spark.read.parquet(s"$dir/$sub/$f")) {
        (d, seg) =>
          val Array(k, v) = seg.split("=", 2)
          d.withColumn(k, lit(v.toInt))
      }.select(cols.map(col): _*).collect().map(_.toString).toSeq
    }.sorted

  private def rowsOf(df: org.apache.spark.sql.DataFrame,
                     cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  /** (name, type) of `ddl` in a partitioned read's order: data columns,
    * then `cell`. */
  private def readOrder(ddl: String): Seq[(String, String)] = {
    val st = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    (st.filterNot(_.name == "cell") ++ st.filter(_.name == "cell"))
      .map(f => (f.name, f.dataType.simpleString))
  }

  private def nameTypes(df: org.apache.spark.sql.DataFrame) =
    df.schema.map(f => (f.name, f.dataType.simpleString))

  test("a store holding cell= files and flat delta files returns every row " +
       "through frames (declared and inference) and diffFrames, in the " +
       "partitioned read's column order; compaction keeps every row") {
    // hand-built and unstamped, so the no-DDL reads infer from footers:
    // a cell-partitioned rebuild (48 rows over cells 0-3), then a flat
    // delta (16 rows, `cell` a data column) as a ledger tick writes it
    val dir = java.nio.file.Files.createTempDirectory("relpar-mixed")
      .toString + "/led"
    def codes(ids: Seq[Long]) =
      ids.map(i => ((i % 4).toInt, s"h$i", i)).toDF("cell", "h", "owner")
    def sigs(ids: Seq[Long]) =
      ids.map(i => ((i % 4).toInt, i, Seq(i, i + 1))).toDF("cell", "doc_id", "sig")
    IndexStore.setProps(dir, Map("modalities" -> "text"))
    IndexStore.commitRebuild(dir) {
      codes(0L until 48L).repartition(2).write.mode("overwrite")
        .partitionBy("cell").parquet(s"$dir/codes")
      sigs(0L until 48L).repartition(2).write.mode("overwrite")
        .partitionBy("cell").parquet(s"$dir/vectors")
    }
    val v1 = IndexStore.snapshot(dir)
    IndexStore.commitDelta(dir, Some("flat-delta")) {
      codes(48L until 64L).coalesce(1).write.mode("append").parquet(s"$dir/codes")
      sigs(48L until 64L).coalesce(1).write.mode("append").parquet(s"$dir/vectors")
    }
    val head = IndexStore.snapshot(dir)
    for (fs <- Seq(head.codes, head.vectors))
      assert(fs.exists(_.startsWith("cell=")) && fs.count(!_.contains('/')) == 1,
        s"fixture must mix both layouts: $fs")
    val codeCols = Seq("cell", "h", "owner")
    val sigCols = Seq("cell", "doc_id", "sig")
    val wantCodes = fileRows(dir, "codes", head.codes, codeCols)
    val wantSigs = fileRows(dir, "vectors", head.vectors, sigCols)
    assert(wantCodes.size == 64 && wantSigs.size == 64)

    // negative control: Spark's stock basePath read silently drops the
    // flat file at the table root once a cell= directory is present
    val stock = spark.read.option("basePath", s"$dir/vectors")
      .parquet(head.vectors.map(f => s"$dir/vectors/$f"): _*)
    assert(stock.count() == 48L,
      "negative control: the stock read is expected to lose the flat file")

    val (dx, dv) = IndexStore.frames(spark, dir, head,
      Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
      declaredSchema = true)
    assert(rowsOf(dx, codeCols) == wantCodes && rowsOf(dv, sigCols) == wantSigs,
      "the declared read lost or duplicated rows of the mixed fileset")
    assert(nameTypes(dx) == readOrder(IndexStore.CODES_DDL) &&
      nameTypes(dv) == readOrder(IndexStore.VECTORS_DDL),
      s"declared mixed read order/types: ${dx.schema.toDDL}, ${dv.schema.toDDL}")
    // the all-partitioned read of the same DDL has that same shape
    val (px, _) = IndexStore.frames(spark, dir, v1,
      Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
      declaredSchema = true)
    assert(nameTypes(px) == nameTypes(dx))
    val (ix, iv) = IndexStore.frames(spark, dir, head)
    assert(rowsOf(ix, codeCols) == wantCodes && rowsOf(iv, sigCols) == wantSigs,
      "the inference read lost or duplicated rows of the mixed fileset")
    assert(nameTypes(ix) == readOrder(IndexStore.CODES_DDL) &&
      nameTypes(iv) == readOrder(IndexStore.VECTORS_DDL))

    // diffFrames over v1 -> head reads the delta's flat files only
    val deltaCodes = fileRows(dir, "codes", head.codes.diff(v1.codes), codeCols)
    for ((x, v) <- Seq(IndexStore.diffFrames(spark, dir, v1, head,
                         Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
                         declaredSchema = true),
                       IndexStore.diffFrames(spark, dir, v1, head))) {
      assert(rowsOf(x, codeCols) == deltaCodes && deltaCodes.size == 16)
      assert(v.count() == 16L)
    }
    // a diff over the whole mixed fileset (from an empty snapshot)
    val (ax, _) = IndexStore.diffFrames(spark, dir, v1.copy(codes = Nil,
      vectors = Nil), head, Some(IndexStore.CODES_DDL),
      Some(IndexStore.VECTORS_DDL), declaredSchema = true)
    assert(rowsOf(ax, codeCols) == wantCodes)

    // compaction reads the mixed fileset and gives every row its cell back
    IndexStore.compact(spark, dir)
    val c = IndexStore.snapshot(dir)
    assert((c.codes ++ c.vectors).forall(_.startsWith("cell=")),
      s"compaction must restore the cell layout: ${c.codes ++ c.vectors}")
    val (cx, cv) = IndexStore.frames(spark, dir, c)
    assert(rowsOf(cx, codeCols) == wantCodes && rowsOf(cv, sigCols) == wantSigs,
      "compaction lost or duplicated rows of the mixed fileset")
  }

  test("marksFrame and seqsFrame return every row of a mixed-layout store; " +
       "compaction keeps them") {
    import graft.ops.DedupLedger.{Media, Video}
    val dir = java.nio.file.Files.createTempDirectory("relpar-mixed-mv")
      .toString + "/led"
    def fps(ids: Seq[Long]) =
      ids.map(i => (i, Seq((i * 2654435761L) & ((1L << 42) - 1))))
        .toDF("media_id", "fp")
    def frames(ids: Seq[Long]) = ids.flatMap(i => (0L until 4L).map(f =>
        (i, f, Seq((i * 40503L + f * 2654435761L) & ((1L << 42) - 1)))))
      .toDF("media_id", "f", "fp")
    DedupLedger.build(dir, "text,media,video", Media() -> fps(0L until 40L),
      Video() -> frames(0L until 10L))
    // deltas: one flat file per table
    DedupLedger.append(Media(), fps(1000L until 1020L), dir, "m-delta")
    DedupLedger.append(Video(), frames(1000L until 1005L), dir, "v-delta")
    val head = IndexStore.snapshot(dir)
    for (fs <- Seq(head.marks, head.seqs))
      assert(fs.exists(_.startsWith("cell=")) && fs.count(!_.contains('/')) == 1,
        s"fixture must mix both layouts: $fs")
    val markCols = Seq("cell", "fp", "owner")
    val seqCols = Seq("cell", "owner", "f", "fp", "seqhash")
    val wantMarks = fileRows(dir, "marks", head.marks, markCols)
    val wantSeqs = fileRows(dir, "seqs", head.seqs, seqCols)
    assert(wantMarks.size == 60 && wantSeqs.size == 60)
    def check(snap: IndexStore.Snapshot): Unit = {
      val m = IndexStore.marksFrame(spark, dir, snap, IndexStore.MARKS_DDL)
      val q = IndexStore.seqsFrame(spark, dir, snap)
      assert(rowsOf(m, markCols) == wantMarks, "marks rows")
      assert(rowsOf(q, seqCols) == wantSeqs, "seqs rows")
      assert(nameTypes(m) == readOrder(IndexStore.MARKS_DDL) &&
        nameTypes(q) == readOrder(IndexStore.SEQS_DDL),
        s"order/types: ${m.schema.toDDL}, ${q.schema.toDDL}")
    }
    check(head)
    IndexStore.compact(spark, dir)
    val c = IndexStore.snapshot(dir)
    assert((c.marks ++ c.seqs).forall(_.startsWith("cell=")))
    check(c)
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
    val served = for (s <- Seq(spark, other)) yield {
      val df = VectorOps.servedIvfPqTopK(s, idx, emb, numQueries = 3,
        probes = 2, rerank = 5, topK = 2)
      assert(df.sparkSession eq s)
      val cached = VectorOps.storeFramesCache.get(s"${sessionId(s)}|$idx")
      assert(cached.exists(_._1.sparkSession eq s),
        "ANN store frames must be cached under their own session's id")
      // each session plans the serve operator itself
      df.collect().toSeq
    }
    assert(served(0).length == 6 && served(1) == served(0))
  }
}
