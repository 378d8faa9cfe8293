package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops.{IndexStore, VectorOps}
import graft.plans.IvfPqServeExec

/** The stored IVF-PQ serve operator (`graft.plans.IvfPqServe`) against a
  * pure-Scala reference over the collected codes and vectors rows: the
  * driver-side routing and ADC tables are shared (`routeAndTables`), and
  * everything the operator does after them — the ADC fold, the bounded
  * per-task candidate heaps and their merge, the exact re-rank and both
  * tie-breaks — is recomputed here by full sorts. Rows must match
  * exactly, doubles bit for bit. */
class AnnServeExecSpec extends SparkSpec {
  import spark.implicits._

  private type Out = (Long, Long, Option[Double], Option[Double], Long)

  private def qRowsOf(df: DataFrame, numQueries: Int): Array[(Long, Array[Long])] =
    df.withColumn("q", expr(VectorOps.quantExpr))
      .filter($"vec_id" < numQueries)
      .select($"vec_id", $"q").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)

  private def rowsOf(df: DataFrame): Seq[Out] = df.collect().toSeq.map(rowOut)

  private def rowOut(r: Row): Out =
    (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
     Option(r.getAs[java.lang.Double]("adist")).map(_.doubleValue),
     Option(r.getAs[java.lang.Double]("cos")).map(_.doubleValue),
     r.getAs[Long]("rn"))

  /** The serve recomputed from the snapshot's collected rows. `keep`
    * is the codes-side pre-filter. */
  private def reference(dir: String, snap: IndexStore.Snapshot,
      qRows: Array[(Long, Array[Long])], probes: Int, rerank: Int,
      topK: Int, keep: Row => Boolean = _ => true): Seq[Out] = {
    val meta = VectorOps.storeMeta(spark, dir)
    val (routed, dtabRows) = VectorOps.routeAndTables(qRows, meta, probes)
    val dtab = dtabRows.map { case (q, c, t) => (q, c) -> t }.toMap
    val probed = routed.map(_._2).toSet
    val (codesF, vecsF) = IndexStore.frames(spark, dir, snap)
    val codes = codesF.collect().toSeq.filter(keep).map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
       r.getAs[Seq[Int]]("codes").toArray))
    val vecs = vecsF.collect().toSeq
      .filter(r => probed.contains(r.getAs[Int]("cell")))
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Long]]("q").toArray))
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    qRows.toSeq.flatMap { case (qid, qv) =>
      val cells = routed.filter(_._1 == qid).map(_._2).toSet
      val cands = codes
        .filter { case (id, cell, _) => cells.contains(cell) && id != qid }
        .map { case (id, cell, cs) =>
          val t = dtab((qid, cell))
          val adist = (0 until VectorOps.PQ_M).foldLeft(0.0)((a, i) =>
            a + t(i * VectorOps.PQ_KSUB + cs(i)))
          (adist, id)
        }
        .sortBy(identity).take(rerank)
      val qn = math.sqrt(dot(qv, qv).toDouble)
      cands.flatMap { case (adist, id) =>
        vecs.filter(_._1 == id).map { case (_, v) =>
          (id, adist, dot(v, qv).toDouble / math.sqrt(dot(v, v).toDouble) / qn)
        }
      }.sortBy { case (id, _, cos) => (-cos, id) }.take(topK)
        .zipWithIndex.map { case ((id, adist, cos), i) =>
          (qid, id, Some(adist), Some(cos), (i + 1).toLong)
        }
    }
  }

  private def fixture(n: Long): DataFrame =
    GenFixtures.clusteredEmbeddings(spark, n).localCheckpoint()

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def serveExec(df: DataFrame): IvfPqServeExec =
    df.queryExecution.executedPlan.collectFirst {
      case e: IvfPqServeExec => e
    }.getOrElse(fail(s"no IvfPqServe in the plan:\n" +
      df.queryExecution.executedPlan))

  test("planted ties in adist and cos break on vec_id, a query never " +
       "matches itself, and one warm serve runs at most two jobs") {
    // every vector twice under two ids: identical codes (adist ties)
    // and identical vectors (cos ties) in every candidate set
    val base = fixture(400)
    val emb = base.unionByName(base.withColumn("vec_id", $"vec_id" + 100000L))
    val dir = freshDir("annexec-ties")
    VectorOps.buildIvfPqIndex(emb, dir, k = 8)
    val qRows = qRowsOf(base, 5)
    // odd budgets split tie pairs at both cut-offs
    def serve() = VectorOps.serveIvfPqStoredRows(spark, dir, qRows,
      probes = 2, rerank = 7, topK = 3)
    val got = rowsOf(serve())
    assert(got == reference(dir, IndexStore.snapshot(dir), qRows, 2, 7, 3))
    assert(got.length == 15)
    assert(got.forall { case (qid, id, _, _, _) => id != qid },
      "a query must never be served as its own neighbor")
    assert(got.filter(_._5 == 1L).forall { case (qid, id, _, _, _) =>
      id == qid + 100000L }, s"each query's copy must rank first: $got")
    assert(got.groupBy(t => (t._1, t._4)).exists(_._2.size > 1),
      s"no cos tie reached the result — the fixture plants none: $got")
    // a warm serve: store metadata and frames already cached
    val (warm, jobs) = countJobs(serve().collect())
    assert(warm.map(rowOut).toSeq == got)
    assert(jobs <= 2, s"a stored serve ran $jobs Spark jobs")
    val plan = serve().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"a stored serve exchanged:\n$plan")
    // operators above the node read the same rows (doExecute path)
    assert(serve().groupBy($"qid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      qRows.map(_._1 -> 3L).toMap)
  }

  test("a rerank budget past the probed candidates keeps every candidate") {
    val emb = fixture(300)
    val dir = freshDir("annexec-wide")
    VectorOps.buildIvfPqIndex(emb, dir, k = 8)
    val qRows = qRowsOf(emb, 4)
    val got = rowsOf(VectorOps.serveIvfPqStoredRows(spark, dir, qRows,
      probes = 1, rerank = 5000, topK = 50))
    assert(got == reference(dir, IndexStore.snapshot(dir), qRows, 1, 5000, 50))
    assert(got.nonEmpty)
  }

  test("tombstoned ids are never served and the rest match the reference") {
    val emb = fixture(500)
    val dir = freshDir("annexec-tombs")
    VectorOps.buildIvfPqIndex(emb, dir, k = 8)
    val qRows = qRowsOf(emb, 5)
    def serve() = VectorOps.serveIvfPqStoredRows(spark, dir, qRows,
      probes = 2, rerank = 10, topK = 3)
    val doomed = rowsOf(serve()).filter(_._5 <= 2L).map(_._2).toSet
    IndexStore.forget(spark, dir, "vector", doomed.toSeq.toDF("vec_id"),
      tag = Some("takedown"))
    assert(IndexStore.snapshot(dir).tombs.nonEmpty)
    val got = rowsOf(serve())
    assert(got == reference(dir, IndexStore.snapshot(dir), qRows, 2, 10, 3))
    assert(got.length == 15 && got.forall(t => !doomed.contains(t._2)),
      s"a forgotten vector was served: $got")
  }

  test("q134's label pre-filter runs on the codes side") {
    val emb = fixture(500)
    val dir = freshDir("annexec-filter")
    VectorOps.buildIvfPqIndex(emb, dir, k = 8)
    val qRows = qRowsOf(emb, 5)
    val df = VectorOps.serveIvfPqStoredRows(spark, dir, qRows, probes = 2,
      rerank = 10, topK = 3, candFilter = Some(expr("label % 2 = 0")))
    val got = rowsOf(df)
    val keep = (r: Row) =>
      !r.isNullAt(r.fieldIndex("label")) && r.getAs[Int]("label") % 2 == 0
    assert(got == reference(dir, IndexStore.snapshot(dir), qRows, 2, 10, 3, keep))
    val labels = emb.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.nonEmpty && got.forall(t => labels(t._2) % 2 == 0))
    val exec = serveExec(df)
    assert(exec.left.toString.contains("(label"),
      s"the predicate is not on the codes side:\n${exec.left}")
    assert(!exec.right.toString.contains("label"),
      s"the predicate leaked onto the vectors side:\n${exec.right}")
  }

  test("a refined store serves its generation cells through their own " +
       "codebook") {
    val emb = fixture(700)
    val dir = freshDir("annexec-gen")
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 500), dir, k = 8)
    def shifted(lo: Long, hi: Long, idBase: Long) =
      emb.filter($"vec_id" >= lo && $"vec_id" < hi)
        .withColumn("embedding",
          expr("transform(embedding, x -> x + cast(2.5 AS float))"))
        .withColumn("vec_id", $"vec_id" - lo + idBase)
        .select($"vec_id", $"embedding")
    VectorOps.appendToIvfPqIndex(spark, shifted(500, 650, 10000), dir,
      Some("blob"))
    assert(VectorOps.refineDriftedCells(spark, dir, minCellMass = 20L).nonEmpty)
    assert(VectorOps.storeMeta(spark, dir).genCodebooks.nonEmpty)
    for (queries <- Seq(shifted(500, 505, 0), emb)) {
      val qRows = qRowsOf(queries, 5)
      val got = rowsOf(VectorOps.serveIvfPqStoredRows(spark, dir, qRows,
        probes = 2, rerank = 10, topK = 3))
      assert(got == reference(dir, IndexStore.snapshot(dir), qRows, 2, 10, 3))
      assert(got.length == 15)
    }
  }

  test("a pinned-version serve reads only that version's rows") {
    val emb = fixture(600)
    val dir = freshDir("annexec-pinned")
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 400), dir, k = 8)
    val vBuild = IndexStore.snapshot(dir).version
    VectorOps.appendToIvfPqIndex(spark, emb.filter($"vec_id" >= 400), dir,
      Some("later"))
    val qRows = qRowsOf(emb, 5)
    val pinned = rowsOf(VectorOps.serveIvfPqStoredRowsAt(spark, dir, vBuild,
      emb, numQueries = 5, probes = 2, rerank = 10, topK = 3))
    assert(pinned == reference(dir, IndexStore.snapshotAt(dir, vBuild),
      qRows, 2, 10, 3))
    assert(pinned.forall(_._2 < 400L))
    val head = rowsOf(VectorOps.serveIvfPqStoredRows(spark, dir, qRows,
      probes = 2, rerank = 10, topK = 3))
    assert(head == reference(dir, IndexStore.snapshot(dir), qRows, 2, 10, 3))
  }

  test("the rows do not depend on whole-stage codegen") {
    val emb = fixture(400)
    val dir = freshDir("annexec-codegen")
    VectorOps.buildIvfPqIndex(emb, dir, k = 8)
    val qRows = qRowsOf(emb, 5)
    def serve() = rowsOf(VectorOps.serveIvfPqStoredRows(spark, dir, qRows,
      probes = 3, rerank = 12, topK = 4,
      candFilter = Some(expr("label % 2 = 0"))))
    val on = serve()
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val off = try serve() finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(on.nonEmpty && off == on)
  }
}
