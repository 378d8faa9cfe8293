package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ops.{DedupLedger, IndexStore, VectorOps}
import graft.streaming.{DedupMaintenance, StreamConf}

/** Closed-loop benchmark driver: one client, one JVM, one workload.
  *
  * Each tick, request or query is issued only after the previous one
  * returned. The driver times its own calls into the program's public
  * API and writes everything it saw to one JSON file (`--out`);
  * `run.py` turns that into metrics and checks.
  *
  * Usage: Driver --workload W --rounds N --trace 0|1 --inputs DIR
  *          --tables DIR --work DIR --out FILE --cpus N --params JSON
  *
  * The loop runs `--rounds` whole rounds (a round is one fixed op mix
  * per workload), so every run of a workload issues the same ops,
  * however fast the box is. With `--trace 1`, round 0
  * runs untraced and later rounds alternate: odd rounds with spans and
  * Spark's listeners, even rounds with neither. Both kinds of round
  * then see the same JIT warm-up, so comparing them gives the tracing
  * overhead; the traced rounds give the per-layer numbers.
  */
object Driver {
  final case class Op(kind: String, name: String, id: Int, round: Int,
                      startMs: Double, durS: Double, ok: Boolean,
                      traced: Boolean)

  val ops = mutable.ArrayBuffer[Op]()
  val setup = mutable.LinkedHashMap[String, Any]()
  val checks = mutable.LinkedHashMap[String, Any]()
  val gauges = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[Map[String, String]]()

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timeS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, secs(t0))
  }

  def fail(kind: String, name: String, e: Throwable): Unit =
    failures += Map("op" -> kind, "name" -> name,
      "class" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(2000))

  /** Time one operation; a failure is recorded with its cause, never as
    * a time. */
  private var curRound = -1

  def op(kind: String, name: String)(f: => Unit): Boolean = {
    val id = ops.size
    val traced = Trace.enabled
    val start = Trace.nowMs
    val t0 = System.nanoTime()
    val ok =
      try { Trace.op(id, kind)(f); true }
      catch { case NonFatal(e) => fail(kind, name, e); false }
    ops += Op(kind, name, id, curRound, start, secs(t0), ok, traced)
    ok
  }

  /** A fixed compute-only op (no Spark, no I/O): box-health canary. */
  def canary(): Double = {
    val buf = Array.tabulate[Byte](8 << 20)(i => (i * 31 + 7).toByte)
    val (_, s) = timeS {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      (0 until 6).foreach(_ => md.update(buf))
      md.digest()
    }
    s
  }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def duBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(duBytes).sum
    else f.length

  // ---- listeners --------------------------------------------------------

  private val qeListener = new QeListener
  private val jobListener = new JobListener
  private val streamListener = new StreamListener

  /** Register the public listeners on `sessions` and start recording. */
  def startTracing(spark: SparkSession, sessions: Seq[SparkSession]): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    sessions.distinct.foreach { s =>
      s.listenerManager.register(qeListener)
      s.streams.addListener(streamListener)
    }
    Trace.enabled = true
  }

  /** Let the listener bus deliver the round's last events (no new event
    * for 100 ms, at most 3 s), then stop recording and unregister. */
  def stopTracing(spark: SparkSession, sessions: Seq[SparkSession]): Unit = {
    val t0 = System.nanoTime()
    var n = -1
    while (Trace.events.size != n && secs(t0) < 3.0) {
      n = Trace.events.size
      Thread.sleep(100)
    }
    Trace.enabled = false
    spark.sparkContext.removeSparkListener(jobListener)
    sessions.distinct.foreach { s =>
      s.listenerManager.unregister(qeListener)
      s.streams.removeListener(streamListener)
    }
  }

  /** Closed loop of `rounds` whole rounds (fewer if `round` reports no
    * more input). With tracing requested, odd rounds run traced. */
  def loop(spark: SparkSession, sessions: Seq[SparkSession], rounds: Int,
           trace: Boolean)(round: Int => Boolean): Double = {
    val t0 = System.nanoTime()
    var r = 0
    var more = true
    while (more && r < rounds) {
      val traced = trace && r % 2 == 1
      if (traced) startTracing(spark, sessions)
      curRound = r
      more = round(r)
      if (traced) stopTracing(spark, sessions)
      r += 1
    }
    curRound = -1
    secs(t0)
  }

  // ---- workloads --------------------------------------------------------

  def readParams(s: String): Map[String, Any] =
    org.json4s.jackson.JsonMethods.parse(s).values
      .asInstanceOf[Map[String, Any]]

  def num(p: Map[String, Any], k: String): Int = p(k) match {
    case b: BigInt => b.toInt
    case d: Double => d.toInt
    case other => other.toString.toInt
  }

  def ingestTick(spark: SparkSession, in: String, work: String,
                 p: Map[String, Any], rounds: Int, trace: Boolean): Unit = {
    val history = spark.read.parquet(s"$in/history.parquet")
    val dir = s"$work/ledger"
    setup("ledger_build_s") = timeS(DedupLedger.buildLedger(
      graft.Tables.rebalance(history), dir))._2
    val ss = StreamConf.stateSession(spark, num(p, "stream_partitions"))
    val landing = s"$work/landing"
    val ckpt = s"$work/checkpoint"
    new File(landing).mkdirs()
    val ticks = new File(s"$in/ticks").listFiles.map(_.getName).sorted
    def stream = ss.readStream.schema("doc_id LONG, text STRING")
      .parquet(landing)
    var head = IndexStore.snapshot(dir).version
    def land(t: Int): Unit = Files.copy(Paths.get(s"$in/ticks/${ticks(t)}"),
      Paths.get(s"$landing/${ticks(t)}"), StandardCopyOption.REPLACE_EXISTING)
    def drain(): Unit = {
      val w = Trace.span("streaming.dedupSink")(
        DedupMaintenance.dedupSink(stream, dir, ckpt))
      val q = Trace.span("stream.start")(w.start())
      Trace.span("stream.await")(q.awaitTermination())
      val v = Trace.span("indexstore.snapshot")(IndexStore.snapshot(dir)).version
      require(v > head, s"tick published no ledger version (head stays v$head)")
      head = v
    }
    // warm-up tick: the first batch, untimed, through the same path
    val (_, warm) = timeS { land(0); drain() }
    setup("warmup_s") = warm
    var done = 1
    val compactEvery = num(p, "compact_every")
    var rewritten = 0L
    // a round: `compact_every` ticks, then compaction and vacuum
    val wall = loop(spark, Seq(spark, ss), rounds, trace) { _ =>
      if (done + compactEvery > ticks.length) false
      else {
        (0 until compactEvery).foreach { _ =>
          land(done)
          op("tick", ticks(done))(drain())
          done += 1
        }
        val before = IndexStore.snapshot(dir)
        op("compact", "compact")(
          Trace.span("indexstore.compact")(IndexStore.compact(spark, dir)))
        val after = IndexStore.snapshot(dir)
        head = after.version
        def files(x: IndexStore.Snapshot) =
          (x.codes.map("codes/" + _) ++ x.vectors.map("vectors/" + _)).toSet
        rewritten += (files(after) -- files(before)).toSeq
          .map(f => new File(s"$dir/$f").length).sum
        op("vacuum", "vacuum")(
          Trace.span("indexstore.vacuum")(IndexStore.vacuum(dir)))
        true
      }
    }
    gauges("loop_wall_s") = wall
    gauges("ticks_run") = done
    val snap = IndexStore.snapshot(dir)
    gauges("indexstore.head_version") = snap.version
    gauges("indexstore.manifests") = Option(new File(s"$dir/_manifest")
      .listFiles).toSeq.flatten.count(f =>
        f.getName.startsWith("v") && f.getName.endsWith(".list"))
    gauges("indexstore.data_files") = snap.codes.size + snap.vectors.size
    gauges("indexstore.bytes") = duBytes(new File(dir))
    gauges("indexstore.bytes_rewritten") = rewritten
    gauges("indexstore.cas_retries") = IndexStore.casRetries.get()
    // untimed check input: who owns each distinct text in the ledger
    val owners = spark.read.parquet(snap.codes.map(f => s"$dir/codes/$f"): _*)
      .select(col("owner")).collect().map(_.getLong(0))
    gauges("ledger_docs") = owners.length
    checks("owners") = owners.sorted.toSeq
  }

  val embSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  def annServe(spark: SparkSession, in: String, work: String,
               p: Map[String, Any], rounds: Int, trace: Boolean): Unit = {
    def vecs(df: DataFrame, key: String): Map[Int, Array[(Long, Array[Float])]] =
      df.collect().map(r => (r.getAs[Int](key), (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").toArray)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val base = spark.read.parquet(s"$in/base.parquet")
    val queries = vecs(spark.read.parquet(s"$in/queries.parquet"), "request")
    val deltas = vecs(spark.read.parquet(s"$in/appends.parquet"), "delta")
    val appendsDf = spark.read.parquet(s"$in/appends.parquet")
    val dir = s"$work/index"
    setup("index_build_s") = timeS(VectorOps.buildIvfPqIndex(
      graft.Tables.rebalance(base), dir, num(p, "index_k")))._2
    // brute-force ground truth over the live corpus
    val corpus = mutable.ArrayBuffer[(Long, Array[Float])]()
    corpus ++= base.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val topK = num(p, "top_k")
    val probes = num(p, "probes")
    val rerank = num(p, "rerank")
    var recallHit = 0L
    var recallAll = 0L
    val malformed = mutable.ArrayBuffer[String]()
    def serve(q: Array[(Long, Array[Float])]): Array[Row] = {
      val emb = spark.createDataFrame(
        java.util.Arrays.asList(q.map { case (id, v) => Row(id, v.toSeq) }: _*),
        embSchema)
      val df = Trace.span("vector.serve_construct")(
        VectorOps.servedIvfPqTopK(spark, dir, emb, q.length, probes, rerank,
          topK))
      Trace.span("vector.serve_exec")(df.collect())
    }
    def check(r: Int, q: Array[(Long, Array[Float])], rows: Array[Row]): Unit = {
      val ids = corpus.iterator.map(_._1).toSet
      val byQ = rows.groupBy(_.getAs[Long]("qid"))
      for ((qid, vec) <- q) {
        val got = byQ.getOrElse(qid, Array.empty[Row])
          .map(_.getAs[Long]("vec_id"))
        if (got.length != topK || got.distinct.length != topK ||
            !got.forall(ids.contains))
          malformed += s"request $r query $qid: ${got.mkString(",")}"
        val truth = corpus.map { case (id, v) => (cos(vec, v), id) }
          .sortBy(t => (-t._1, t._2)).take(topK).map(_._2).toSet
        recallHit += got.count(truth.contains)
        recallAll += topK
      }
    }
    val nReq = queries.size
    // warm-up: the last request of the pool, untimed
    val (_, warm) = timeS(serve(queries(nReq - 1)))
    setup("warmup_s") = warm
    val appendEvery = num(p, "append_every")
    val compactEvery = num(p, "compact_every")
    // a round: `append_every` requests, then one append delta; every
    // `compact_every` rounds also compacts and vacuums the index
    var next = 0
    val wall = loop(spark, Seq(spark), rounds, trace) { r =>
      if (next + appendEvery >= nReq || r >= deltas.size) false
      else {
        (0 until appendEvery).foreach { _ =>
          val q = queries(next)
          var rows: Array[Row] = Array.empty
          if (op("serve", s"request-$next") { rows = serve(q) })
            check(next, q, rows)
          next += 1
        }
        if (op("append", s"delta-$r")(Trace.span("vector.append")(
            VectorOps.appendToIvfPqIndex(spark,
              appendsDf.filter(col("delta") === r)
                .select("vec_id", "embedding", "label"), dir))))
          corpus ++= deltas(r)
        if ((r + 1) % compactEvery == 0)
          op("compact", s"compact-$r")(
            Trace.span("vector.compact") {
              VectorOps.compactIvfPqIndex(spark, dir)
              VectorOps.vacuumIvfPqIndex(dir)
            })
        true
      }
    }
    gauges("loop_wall_s") = wall
    val snap = IndexStore.snapshot(dir)
    gauges("indexstore.head_version") = snap.version
    gauges("indexstore.data_files") = snap.codes.size + snap.vectors.size
    gauges("indexstore.bytes") = duBytes(new File(dir))
    gauges("indexstore.cas_retries") = IndexStore.casRetries.get()
    checks("recall_hits") = recallHit
    checks("recall_total") = recallAll
    checks("malformed") = malformed.take(20).toSeq
  }

  def catalogMix(spark: SparkSession, in: String, tables: String, work: String,
                 rounds: Int, trace: Boolean): Unit = {
    import graft.ops._
    val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
      Seq("Relational" -> Relational.queries, "Cleaning" -> Cleaning.queries,
        "TimeWindows" -> TimeWindows.queries, "TextOps" -> TextOps.queries,
        "DedupOps" -> DedupOps.queries, "Advanced" -> Advanced.queries,
        "FunctionFamilies" -> FunctionFamilies.queries,
        "PipelineOps" -> (PipelineOps.queries ++ PipelineOps.queries2),
        "CurationOps" -> CurationOps.queries, "BpeOps" -> BpeOps.queries,
        "JobRecordGate" -> graft.jobs.JobRecordGate.queries)
    val moduleOf = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    val catalog = graft.SparkEntry.queries
    val order = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(s"$in/order.json")), "UTF-8"))
      .values.asInstanceOf[List[String]]
    // one untimed pass warms every query and writes its result for the
    // oracle comparison (the Verify layout: one parquet dir per query)
    val results = s"$work/results"
    val warmBy = mutable.LinkedHashMap[String, Double]()
    setup("warmup_s") = timeS(order.distinct.foreach { n =>
      warmBy(n) = timeS {
        try catalog(n)(spark, tables).coalesce(1).write.mode("overwrite")
          .parquet(s"$results/$n")
        catch { case NonFatal(e) => fail("oracle_pass", n, e) }
      }._2
    })._2
    setup("warmup_by_query_s") = warmBy.toMap
    checks("results_dir") = results
    checks("oracle_sql") = order.distinct.map(n =>
      n -> graft.SparkEntry.oracleSql.getOrElse(n, "")).toMap
    checks("module_of") = order.distinct.map(n =>
      n -> moduleOf.getOrElse(n, "other")).toMap
    // a round: every query of the mix once, in the seeded order
    val mixes = order.grouped(order.distinct.size).toIndexedSeq
    val wall = loop(spark, Seq(spark), rounds, trace) { r =>
      if (r >= mixes.size) false
      else {
        mixes(r).foreach { n =>
          val m = moduleOf.getOrElse(n, "other")
          op("query", n) {
            val df = Trace.span(s"catalog.$m.construct")(
              catalog(n)(spark, tables))
            Trace.span(s"catalog.$m.action")(df.count())
          }
        }
        true
      }
    }
    gauges("loop_wall_s") = wall
  }

  // ---- main ---------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val work = new File(o("work")).getAbsolutePath
    HeapAfterGc.install()
    val control0 = canary()
    val (spark, sessionS) = timeS {
      SparkSession.builder()
        .master(s"local[${o("cpus")}]")
        .config("spark.sql.shuffle.partitions", o("cpus"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    setup("session_s") = sessionS
    val rounds = o("rounds").toInt
    val trace = o("trace") == "1"
    val params = readParams(o("params"))
    val inputs = o("inputs")
    // a failure outside any op (setup, the loop itself) is recorded
    // like an op's, and the result file is still written
    try workload match {
      case "ingest_tick" => ingestTick(spark, inputs, work, params, rounds, trace)
      case "ann_serve" => annServe(spark, inputs, work, params, rounds, trace)
      case "catalog_mix" =>
        catalogMix(spark, inputs, o("tables"), work, rounds, trace)
      case other => sys.error(s"unknown workload $other")
    } catch { case NonFatal(e) => fail("setup", workload, e) }
    val control1 = canary()
    spark.stop() // drains the listener bus before the trace is written
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime.toDouble
    val out = Map(
      "jvm_start_ms" -> jvmStart,
      "first_op_ms" -> ops.headOption.map(_.startMs).getOrElse(Double.NaN),
      "setup" -> setup.toMap,
      "heap_after_gc_peak_mb" -> HeapAfterGc.peakBytes / 1048576.0,
      "control_s" -> Seq(control0, control1),
      "rss_peak_mb" -> vmHwmMb(),
      "ops" -> ops.map(x => Map("kind" -> x.kind, "name" -> x.name,
        "id" -> x.id, "round" -> x.round, "start_ms" -> x.startMs,
        "dur_s" -> x.durS,
        "ok" -> x.ok, "traced" -> x.traced)),
      "failures" -> failures.toList,
      "gauges" -> gauges.toMap,
      "checks" -> checks.toMap,
      "spans" -> Trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)),
      "events" -> Trace.eventList.map(e => Map("kind" -> e.kind,
        "name" -> e.name, "start_ms" -> e.startMs, "end_ms" -> e.endMs,
        "values" -> e.values)))
    Files.writeString(Paths.get(o("out")),
      org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats))
  }
}

/** Peak heap still in use right after a collection, over the whole run:
  * what the program holds, apart from the heap sizing the collector
  * chooses (which the resident set mostly reflects). */
object HeapAfterGc {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile var peakBytes = 0L

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType ==
              GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val used = GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData])
              .getGcInfo.getMemoryUsageAfterGc.values.asScala
              .map(_.getUsed).sum
            if (used > peakBytes) peakBytes = used
          }, null, null)
      case _ =>
    }
}
