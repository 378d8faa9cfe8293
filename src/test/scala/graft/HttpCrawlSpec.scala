package graft

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.sources.{FixtureJobServer, HttpCrawl}
import graft.jobs.JobOps

/** S1/S4 live transport against a real HTTP server (localhost, JDK
  * com.sun.net.httpserver): search pages serve FixtureJobServer's
  * reference-shaped job-summary markup (the SAME builders q107's gate
  * server uses, so spec fixture and gate fixture cannot drift), detail
  * pages serve h3/list-row__data rows, and the executor-side crawl must
  * extract, budget errors, land the zone through the DSv2 connector,
  * and feed the kv-pivot. The server IS FixtureJobServer (started with
  * its failKeywords hook for the error-budget test), so spec fixture
  * and q107 gate fixture are one implementation.
  */
class HttpCrawlSpec extends SparkSpec with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var base: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    val (s0, b0) = FixtureJobServer.start(failKeywords = Set("boom"))
    server = s0
    base = b0
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  test("search crawl: fetch -> extract -> typed rows with P6 defaults") {
    val rows = HttpCrawl.crawlKeywords(spark, Seq("區塊鏈", "後端"),
      s"$base/search?keyword={keyword}").collect().sortBy(r => (r.keyword, r.job_url))
    assert(rows.length == 16)
    val r0 = rows.find(r => r.keyword == "區塊鏈" && r.job_url.endsWith("區塊鏈-0?src=list")).get
    assert(r0.job_name == "職位區塊鏈0")       // trimmed
    assert(r0.company == "公司0")
    assert(r0.update_date == "更新2025/03/01") // raw; cleaning is P3's job
    assert(r0.tag == "積極徵才中")
    assert(r0.applicants == "")                // i%3==0 -> absent -> "" default
    val r1 = rows.find(_.job_url.endsWith("區塊鏈-1?src=list")).get
    assert(r1.tag == "" && r1.applicants == "應徵人數 1~6 人")
  }

  test("error budget: failing keyword is skipped, budget exceeds -> abort") {
    // 1 failure <= budget: good keywords still crawl
    val ok = HttpCrawl.crawlKeywords(spark, Seq("a", "boom", "b"),
      s"$base/search?keyword={keyword}", maxErrors = 3).collect()
    assert(ok.length == 16)
    // budget 0 in one task: the query must FAIL, not silently skip
    val ex = intercept[org.apache.spark.SparkException] {
      HttpCrawl.crawlKeywords(spark, Seq("boom"),
        s"$base/search?keyword={keyword}", maxErrors = 0).collect()
    }
    assert(ex.getMessage.contains("error budget") ||
      Option(ex.getCause).exists(_.getMessage.contains("error budget")))
    // empty keyword list is a no-op, not a repartition(0) crash
    assert(HttpCrawl.crawlKeywords(spark, Seq.empty,
      s"$base/search?keyword={keyword}").count() == 0)
  }

  test("detail crawl feeds the kv-pivot (S4 -> §2.3)") {
    val jobs = HttpCrawl.crawlKeywords(spark, Seq("區塊鏈"),
      s"$base/search?keyword={keyword}")
    val details = HttpCrawl.crawlDetails(jobs).toDF()
      .withColumnRenamed("job_url", "job_id")
    val wide = JobOps.kvPivotFirst(details, idCol = "job_id")
      .orderBy(col("job_id"))
    val first = wide.filter(col("job_id").endsWith("區塊鏈-0?src=list")).head()
    assert(first.getAs[String]("management") == "不需負擔管理責任(區塊鏈-0)")
    assert(first.getAs[String]("tools") == "Python、Solidity") // doc-order join
    assert(first.getAs[String]("education") == "大學以上")
    assert(first.getAs[String]("vacation") == null)            // absent label
  }

  test("politeness default: crawl stages cap fetch tasks without being asked") {
    // the reference is single-browser sequential (test.py:178); the
    // DEFAULT must not point defaultParallelism request streams at one
    // host (round-7 ADVICE) — 8 keywords on a 32-core session must plan
    // at most DefaultCrawlParallelism fetch partitions
    val kws = (0 until 8).map(i => s"kw$i")
    val ds = HttpCrawl.crawlKeywords(spark, kws, s"$base/search?keyword={keyword}")
    // == (not <=): the cap must be what bound it — 8 keywords on a
    // local[4] session would otherwise plan 4 fetch partitions
    assert(ds.rdd.getNumPartitions == HttpCrawl.DefaultCrawlParallelism,
      s"default crawl spread over ${ds.rdd.getNumPartitions} tasks")
    val jobs = HttpCrawl.crawlKeywords(spark, Seq("區塊鏈"),
      s"$base/search?keyword={keyword}")
    val det = HttpCrawl.crawlDetails(jobs)
    assert(det.rdd.getNumPartitions == HttpCrawl.DefaultCrawlParallelism,
      s"default detail crawl spread over ${det.rdd.getNumPartitions} tasks")
    // an explicit cap still overrides (bounded by defaultParallelism,
    // 4 in this shared local[4] session)
    val wide = HttpCrawl.crawlKeywords(spark, kws,
      s"$base/search?keyword={keyword}", maxParallelism = 8)
    assert(wide.rdd.getNumPartitions ==
      math.min(8, spark.sparkContext.defaultParallelism))
    val narrow = HttpCrawl.crawlKeywords(spark, kws,
      s"$base/search?keyword={keyword}", maxParallelism = 2)
    assert(narrow.rdd.getNumPartitions == 2)
  }

  test("T4 politeness: parallel tasks cannot multiply the per-host rate") {
    import scala.jdk.CollectionConverters._
    val (srv, log) = FixtureJobServer.startLogged()
    try {
      val base2 = s"http://127.0.0.1:${srv.getAddress.getPort}"
      // 8 keywords spread over up to 8 tasks, all against ONE host: the
      // per-host gate must space the requests >= delayMs apart no
      // matter how the partitioner lays them out. Measured at the SERVER
      // (inter-arrival gaps), not as client-side sleep accounting.
      HttpCrawl.crawlKeywords(spark, (0 until 8).map(i => s"kw$i"),
        s"$base2/search?keyword={keyword}", delayMs = 100L).collect()
      val arrivals = log.asScala.toSeq.collect {
        case (p, t) if p.startsWith("/search") => t
      }.sorted
      assert(arrivals.size == 8)
      val gapsMs = arrivals.sliding(2).map(p => (p(1) - p(0)) / 1e6).toSeq
      // A parallelism-multiplied crawl shows NEAR-ZERO gaps and a
      // collapsed total span; honest throttling shows ~100 ms average
      // spacing even when the OS scheduler delays one dispatch and the
      // next then lands relatively early (a 154/45 catch-up pair was a
      // measured flake on a loaded box — the PAIRWISE span still holds
      // the rate). Assert the rate, not each raw gap: every adjacent
      // PAIR of gaps spans >= 140 ms, every single gap >= 30 ms, and
      // the mean holds near the reservation spacing.
      info(f"smallest inter-arrival gap ${gapsMs.min}%.1f ms")
      assert(gapsMs.forall(_ >= 30.0), s"inter-arrival gaps $gapsMs ms")
      assert(gapsMs.sliding(2).forall(_.sum >= 140.0),
        s"adjacent gap pairs must hold the rate: $gapsMs ms")
      assert(gapsMs.sum / gapsMs.size >= 80.0,
        s"mean spacing collapsed: $gapsMs ms")
    } finally srv.stop(0)

    // distinct hosts never wait on each other
    val t0 = System.nanoTime()
    HttpCrawl.hostThrottle.paced("host-a", 500L)(())
    HttpCrawl.hostThrottle.paced("host-b", 500L)(())
    HttpCrawl.hostThrottle.paced("host-c", 500L)(())
    assert((System.nanoTime() - t0) / 1e6 < 250.0,
      "first acquisition per host must not wait")
  }

  test("full path: crawl -> graft-keyword landing zone -> connector scan") {
    val zone = java.nio.file.Files.createTempDirectory("crawlzone").toString
    val df = HttpCrawl.crawlToZone(spark, Seq("區塊鏈", "後端"),
      s"$base/search?keyword={keyword}", zone)
    // connector semantics intact on crawled data: keyword pruning pushes
    // into the scan (only one directory read)
    val one = df.filter(col("keyword") === "後端")
    assert(one.count() == FixtureJobServer.JOBS_PER_KEYWORD)
    assert(one.select("job_name").collect().map(_.getString(0)).toSet ==
      (0 until FixtureJobServer.JOBS_PER_KEYWORD).map(i => s"職位後端$i").toSet)
    // rate pacing exists (T4): the per-host gate spaces N requests by
    // N-1 intervals (the first one never waits), so two keywords against
    // one host cost at least one full delayMs regardless of layout
    val t0 = System.nanoTime()
    HttpCrawl.crawlKeywords(spark, Seq("x", "y"),
      s"$base/search?keyword={keyword}", delayMs = 120L, maxParallelism = 1)
      .collect()
    assert((System.nanoTime() - t0) / 1e6 >= 120L)
  }
}
