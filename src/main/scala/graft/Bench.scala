package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val defaultCpus = math.min(Runtime.getRuntime.availableProcessors(), 32)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    // per-query repetitions: the published number is the MEDIAN, so one
    // cold/contended run (codegen compile, page-cache miss) can't read as
    // a 2x regression in the round artifact
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // shuffle partitions follow the thread count by default; the scale
    // studies override via SPARK_GRAFT_SHUFFLE (at 10x+ data a fixed
    // partition count pushes per-partition shuffle data past spill
    // thresholds — on a real cluster this scales with the data)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      // UTC like every other entry point: the events.ts NTZ→LTZ cast
      // (Tables.scala) reads the naive wall-clock in the session zone, so
      // a non-UTC machine would shift instants for all ts-filtered queries
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (executor threads, codegen compiler, parquet
    // reader) so the first measured query isn't charged for JVM startup
    spark.range(1000).selectExpr("sum(id)").count()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // dev-loop filter: SPARK_GRAFT_BENCH_ONLY=q96b,q123 times just those
    // queries; unset (the driver's mode) runs the full catalog
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // ---- box-state canary (round 20, VERDICT r19 Next #2). The bench
    // box has twice degraded to a UNIFORM 1.3-2.8x per-query inflation
    // that `uptime` cannot see (r18/r19 burned a session each
    // adjudicating "is this run believable"). Make it mechanical:
    // before the catalog, time a fixed CONTROL family (code untouched
    // since round 6 — pure relational/text, no stores, no streams),
    // compare against the recorded baseline, and carry `box_factor` in
    // the artifact so the discard/keep decision stops being prose.
    // The baseline was recorded at local[32]/sf0.1 on a fresh idle box
    // (round-20 baseline run, control min-sum over 2 reps/query);
    // other core counts / SFs / dev-loop subsets get no factor — the
    // constant would not be comparable there.
    val control = Seq("q01_pricing_summary", "q02_topk_orders",
      "q03_shipping_priority", "q05_region_revenue", "q13_window_rank",
      "q16_set_ops", "q42_trigram_freq", "q47_dedup_exact")
    // sec — the canary's OWN statistic (pre-catalog min-of-2, which
    // pays first-execution planning+codegen the catalog's min-of-3
    // amortizes away: the same 8 queries read ~2.9 s there), recorded
    // on the healthy r20 box at the 154 s full-catalog artifact
    val controlBaseline = 6.18
    // round 21 (VERDICT r20 Next #7): `control_min_sum` is emitted on
    // EVERY full-catalog run — raw signal any box can carry — while
    // `box_factor` is still computed only where the recorded baseline
    // constant applies (local[32]/sf0.1); elsewhere a factor against a
    // foreign configuration would be noise dressed as signal.
    val controlSum: Option[Double] =
      if (only.isEmpty) Some {
        control.map { n =>
          val fn = SparkEntry.queries(n)
          (0 until 2).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }.min
        }.sum
      } else None
    val boxFactor: Option[Double] =
      if (sfDir.endsWith("sf0.1") && cpus == "32")
        controlSum.map(_ / controlBaseline)
      else None
    boxFactor.filter(_ > 1.15).foreach { f =>
      println(f"BOX_WARN: control family at ${f}%.2fx the recorded " +
        "idle-box baseline — per-query numbers in this artifact are " +
        "likely uniformly inflated by box state, not code")
    }
    // name -> "<class>: <message>" of the last failure each warm-up,
    // timed query or artifact write raised, so a -1 (or a missing
    // artifact) carries its cause; truncated so a stack-trace-sized
    // message cannot crowd out the tail of the line
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def record(name: String, t: Throwable): Unit =
      errors(name) = s"${t.getClass.getName}: ${t.getMessage}".take(200)
    def warm(name: String)(body: => Any): Unit =
      try { body; () } catch { case t: Throwable => record(s"warmup:$name", t) }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(f => f.exists(name.startsWith)) }
    // q128/q129/q130 serve from a persisted index; build it here,
    // untimed, so the published numbers are serve-only even at runs=1 /
    // cold tmpdir
    if (Seq("q128", "q129", "q130")
          .exists(p => selected.exists(_._1.startsWith(p))))
      // a build failure still surfaces in the timed run
      warm("stored_indexes")(ops.VectorOps.warmStoredIndexes(spark, sfDir))
    // same serve-only discipline for the dedup ledger (q139/q140/q145)
    // and the tick pipeline (q148, which also consumes the ledger)
    if (Seq("q139", "q140", "q145", "q148")
          .exists(p => selected.exists(_._1.startsWith(p))))
      warm("ledger")(ops.DedupLedger.ensureLedger(spark, sfDir))
    // the round-13 artifact stores: q151's compacted ledger, q152's
    // cloneable history seed, and the tokenizer registry (q153 serves
    // from it; q148's tick reads its v1 vocabulary from it)
    if (Seq("q151").exists(p => selected.exists(_._1.startsWith(p))))
      warm("compact_ledger")(ops.DedupLedger.ensureCompactLedger(spark, sfDir))
    if (Seq("q152").exists(p => selected.exists(_._1.startsWith(p))))
      warm("history_ledger")(ops.DedupLedger.ensureHistoryLedger(spark, sfDir))
    if (Seq("q148", "q153").exists(p => selected.exists(_._1.startsWith(p))))
      warm("tokenizer_registry")(ops.BpeOps.ensureTokenizerRegistry(spark, sfDir))
    // BPE merge caches: q141-q143 and q150 read the full-corpus artifact
    if (Seq("q141", "q142", "q143", "q150")
          .exists(p => selected.exists(_._1.startsWith(p))))
      warm("bpe_merges")(ops.BpeOps.trainedMerges(spark, sfDir))
    val results = selected.map { case (name, fn) =>
      val times = (0 until runs).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case t: Throwable => record(name, t); None }
      }.sorted
      // a query with zero successful runs is reported as -1, never as a
      // plausible elapsed time. median = the headline; min = the
      // contention-resistant statistic (a fixed workload's true cost is
      // its fastest observed run — background load only ever adds time)
      if (times.isEmpty) (name, -1.0, -1.0)
      else (name, times(times.size / 2), times.head)
    }
    val failed = results.collect { case (n, t, _) if t < 0 => n }
    // the driver's round artifact keeps only the LAST ~2000 chars of this
    // line, which in round 11 cut the per-query maps at ~q49 alphabetical
    // (VERDICT r11 #8) — emit queries in ASCENDING min order so the
    // hottest (most diagnostic) rows sit at the end of queries_min,
    // inside the preserved tail next to the trailing summary copy
    val ordered = results.sortBy(_._3)
    val qs = ordered.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qmins = ordered.map { case (k, _, m) => s"\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, t, _) if t >= 0 => t }.sum
    val totalMin = results.collect { case (_, _, m) if m >= 0 => m }.sum
    // summary fields at BOTH ends: the round artifact truncates the
    // captured output (round 10 kept only the last ~2000 chars; earlier
    // rounds clipped differently), so the totals/failures ride both the
    // head and the tail — duplicate JSON keys with identical values, and
    // any sane parser (python json.load included) keeps the last copy.
    // n_ok = queries successfully measured; n_catalog = catalog size
    // (failures are in `failed`, never mixed into a count that reads as
    // "measured").
    val nOk = results.count(_._2 >= 0)
    val bf =
      controlSum.map(c =>
        s""","control_min_sum":${math.rint(c * 1000) / 1000}""").getOrElse("") +
      boxFactor.map(f =>
        s""","box_factor":${math.rint(f * 1000) / 1000}""").getOrElse("")
    def jsonStr(v: String): String = v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def line(): String = {
      val es = errors.map { case (k, v) => s"\"${jsonStr(k)}\":\"${jsonStr(v)}\"" }
        .mkString("{", ",", "}")
      val summary = s""""metric":"total","unit":"sec","value":$total,"total_min":$totalMin,"n_ok":$nOk,"n_catalog":${results.size},"failed":$fs,"errors":$es,"runs":$runs$bf,"sf":"$sfDir""""
      s"""{$summary,"queries":$qs,"queries_min":$qmins,$summary}"""
    }
    // belt-and-braces: the full untruncated line as a repo-local file,
    // written before the line is printed so a failed write is reported
    // in it. Only for FULL-catalog runs — a SPARK_GRAFT_BENCH_ONLY dev
    // loop must not clobber the committed full artifact with a 2-query
    // file
    if (only.isEmpty) {
      val json = line()
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_full_local.json"), json + "\n")
      catch { case t: Throwable => record("artifact:BENCH_full_local.json", t) }
    }
    println(line())
    spark.stop()
  }
}
