package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupLedger, IndexStore}
import graft.ops.DedupLedger.Text

/** The streamed ledger tick's budget: a warm text tick through
  * `dedupSink` runs at most 11 Spark jobs — the sink's checkpoint and
  * count, the keyed pass (one exchange by exact key: shingle, sign and
  * pick each text's representative), the two batch broadcasts, the
  * ledger scan with the hits broadcast, ONE keepers checkpoint whose
  * exact collapse is a filter, and the commit's two one-file writes
  * plus its one-job stats bump — whether the micro-batch comes from a
  * file source (a measured plan size) or an in-memory one (gated on
  * the sink's row count), and adds exactly one flat data file per
  * table. A mixed tick's count is recorded beside it. */
class LedgerTickSpec extends SparkSpec {
  import spark.implicits._

  /** 30 tokens over a 5000-word vocabulary, deterministic per key. */
  private def text(key: Long): String = {
    val r = new scala.util.Random(key)
    (0 until 30).map(_ => s"w${r.nextInt(5000)}").mkString(" ")
  }

  /** Tick `t` (ids from 1000 * (t + 1)): 10 exact copies of history,
    * 10 one-token edits of history, 40 novels. */
  private def tickRows(t: Int): Seq[(Long, String)] = {
    val base = 1000L * (t + 1)
    (0 until 60).map { i =>
      val id = base + i
      if (i < 10) id -> text(i + 10L * t)
      else if (i < 20) id -> text(i + 10L * t).replaceFirst("^w\\d+", "edit")
      else id -> text(id * 31L)
    }
  }

  private def added(before: IndexStore.Snapshot,
                    after: IndexStore.Snapshot): (Seq[String], Seq[String]) =
    (after.codes.diff(before.codes), after.vectors.diff(before.vectors))

  /** Builds a 200-doc ledger, lands (`land(t)`, one call per tick) and
    * drains a warm-up tick through `stream`, then lands tick 2 and
    * checks its drain against the budget. */
  private def warmTextTick(name: String, stream: org.apache.spark.sql.DataFrame,
                           land: Int => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString + "/led"
    val ckpt = java.nio.file.Files.createTempDirectory(s"$name-ckpt").toString
    DedupLedger.buildLedger(
      (0L until 200L).map(i => i -> text(i)).toDF("doc_id", "text"), dir)
    def drain(): Unit =
      graft.streaming.DedupMaintenance.dedupSink(stream, dir, ckpt)
        .start().awaitTermination()
    // warm-up tick: first-use costs (codegen, file statuses) stay out
    land(0)
    drain()
    land(1)
    val before = IndexStore.snapshot(dir)
    val (_, scopes) = jobScopes(drain())
    val jobs = scopes.size
    val after = IndexStore.snapshot(dir)
    // each job's stage scopes: a job that comes back names its operators
    info(s"warm dedupSink tick ($name): $jobs Spark jobs: " + scopes.zipWithIndex
      .map { case (s, i) => s"job ${i + 1} [${s.sorted.mkString(", ")}]" }
      .mkString("; "))
    assert(after.version == before.version + 1, "the tick must publish")
    assert(jobs <= 11, s"a warm text tick ran $jobs Spark jobs (budget 11)")
    val (codes, vectors) = added(before, after)
    assert(codes.size == 1 && vectors.size == 1,
      s"one data file per table, got codes $codes, vectors $vectors")
    assert((codes ++ vectors).forall(!_.contains('/')),
      s"delta files must be flat: ${codes ++ vectors}")
    // the tick admitted exactly its 40 novels: copies and edits drop
    val owners = IndexStore.frames(spark, dir, after)._1
      .select(col("owner")).as[Long].collect().toSet
    assert(owners.count(_ >= 2000L) == 40,
      s"tick 2 admitted ${owners.count(_ >= 2000L)} docs, want 40")
  }

  test("a warm streamed text tick runs at most 11 Spark jobs and adds " +
       "one flat data file per table") {
    // a parquet landing zone, one file per tick, as the benchmark lands
    val landing = java.nio.file.Files.createTempDirectory("tick-in").toString
    warmTextTick("tick-budget",
      spark.readStream.schema("doc_id LONG, text STRING").parquet(landing),
      t => tickRows(t).toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(landing))
  }

  test("an in-memory micro-batch (no plan size) keeps the broadcasts and " +
       "the 11-job budget") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    warmTextTick("tick-mem", src.toDF().toDF("doc_id", "text"),
      t => { src.addData(tickRows(t)); () })
  }

  test("a warm mixed tick (text and images) adds one flat file per table " +
       "and arm; its job count is recorded") {
    val dir = java.nio.file.Files.createTempDirectory("tick-mixed")
      .toString + "/led"
    val ckpt = java.nio.file.Files.createTempDirectory("tick-mckpt").toString
    def bmp(key: Long): Array[Byte] =
      DedupLedger.mediaFixtureBmp(key, bump = false, 8, 6)
    val histRecs = spark.createDataset((0L until 20L).map(k =>
      graft.multimodal.MediaOps.MediaRecord(k,
        graft.multimodal.MediaOps.MediaMeta("image", 8, 6, 0), bmp(k))))
    val histFps = graft.multimodal.MediaOps.dHashWide(histRecs, 8, 6)
      .filter(col("decoded") === 1L)
      .select(col("media_id"), col("dhash").as("fp"))
    DedupLedger.build(dir, "text,media,video",
      Text -> (0L until 200L).map(i => i -> text(i)).toDF("doc_id", "text"),
      DedupLedger.Media() -> histFps)
    val landing = java.nio.file.Files.createTempDirectory("tick-min").toString
    def land(t: Int): Unit =
      (tickRows(t).map { case (id, s) => ("text", id, s, null: Array[Byte]) } ++
        (0 until 10).map(i => ("image", 1000L * (t + 1) + 500 + i,
          null: String, bmp(if (i < 5) i.toLong else 100L * (t + 1) + i))))
        .toDF("kind", "doc_id", "text", "payload").coalesce(1)
        .write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema("kind STRING, doc_id LONG, text STRING, payload BINARY")
      .parquet(landing)
    def drain(): Unit =
      graft.streaming.DedupMaintenance.mixedSink(stream, dir, ckpt)
        .start().awaitTermination()
    land(0)
    drain()
    land(1)
    val before = IndexStore.snapshot(dir)
    val (_, jobs) = countJobs(drain())
    val after = IndexStore.snapshot(dir)
    info(s"warm mixedSink tick (text + images): $jobs Spark jobs")
    val (codes, vectors) = added(before, after)
    val marks = after.marks.diff(before.marks)
    assert(codes.size == 1 && vectors.size == 1 && marks.size == 1,
      s"one data file per table, got $codes, $vectors, $marks")
    assert((codes ++ vectors ++ marks).forall(!_.contains('/')))
  }
}
