package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, distributed fixture up-scaler for the empirical scaling
  * study (SCALING.md): synthesizes an sf1-equivalent dataset (10x sf0.1)
  * with the same schemas and distributional shape as the driver-provided
  * tables in /root/testdata (TESTDATA.md), so `graft.Bench` can be run at
  * both scales and per-family runtime ratios measured.
  *
  * Design constraints:
  *  - Deterministic: every value is a pure function of (SEED, row id) via
  *    a SplitMix64-scrambled java.util.Random — two runs produce
  *    byte-identical data, and generation order doesn't matter, so the
  *    generator itself is safe to run distributed at any parallelism.
  *  - Distributed: TPC-H tables are up-scaled by key-offset replication
  *    (a narrow map over the base scan — no shuffle, no driver data);
  *    documents/embeddings/events are generated by mapPartitions over
  *    spark.range. Nothing is ever collected.
  *  - Distribution-faithful (measured from sf0.1, see SCALING.md):
  *    documents plant near-duplicate pairs at ~4.5% of rows (1-token
  *    mutation, bigram-Jaccard ~0.98) and exact duplicates at ~0.32%,
  *    matching the base corpus so the dedup family's candidate-pair
  *    growth is measured against a realistic duplication rate (cluster
  *    COUNT scales with corpus size, cluster SIZE stays ~2 — the shape
  *    real web-scale corpora have).
  *  - `events.ts` is written as int64 nanoseconds (not a Spark timestamp)
  *    because the driver tables carry parquet TIMESTAMP(NANOS), which
  *    `Tables.events` reads via nanosAsLong + `timestamp_micros(ts DIV
  *    1000)`; a plain int64 column takes exactly the same read path.
  *
  * Usage: GenFixtures [targetDir] [multiplier]
  *   defaults: /root/repo/fixtures/sf1  10
  */
object GenFixtures {
  val SEED = 20260813L

  /** SplitMix64 finalizer — decorrelates (seed, id, tag) into a PRNG seed. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def rngFor(id: Long, tag: Int): java.util.Random =
    new java.util.Random(mix(SEED ^ mix(id) ^ (tag.toLong << 32)))

  // ---- documents -----------------------------------------------------
  // Vocabulary + proportions measured from /root/testdata/sf0.1.
  private val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs       = Array("zh", "es", "fr", "de")

  private val PNearDup    = 0.045  // rows that are a 1-token mutation of an earlier doc
  private val PExactDup   = 0.0016 // rows that are a byte-exact copy of an earlier doc
  private val PEnglish    = 0.412

  /** Role of a row: 0 = base, 1 = near-dup, 2 = exact dup. Pure in id. */
  private def role(id: Long): Int = {
    if (id < 2) return 0
    val r = rngFor(id, 1).nextDouble()
    if (r < PNearDup) 1 else if (r < PNearDup + PExactDup) 2 else 0
  }

  /** Base text for a BASE row — pure in id (tokens uniform over the
    * 31-word vocab, token count uniform in [10,100] like the sf0.1
    * corpus). Dup rows never call this with their own id.
    */
  private def baseText(id: Long): String = {
    val rng = rngFor(id, 2)
    val n = 10 + rng.nextInt(91)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(rng.nextInt(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  /** Partner (an earlier BASE row) for a dup row: walk back a random
    * offset, then to the nearest base id so clusters stay size ~2 and
    * never chain. Pure in id.
    */
  private def partner(id: Long): Long = {
    val rng = rngFor(id, 3)
    var p = math.max(0L, id - 1 - rng.nextInt(200))
    while (p > 0 && role(p) != 0) p -= 1
    p
  }

  private def docText(id: Long): String = role(id) match {
    case 0 => baseText(id)
    case 2 => baseText(partner(id))
    case _ => // near-dup: replace one token (bigram-Jaccard ~0.98)
      val toks = baseText(partner(id)).split(' ')
      val rng = rngFor(id, 4)
      toks(rng.nextInt(toks.length)) = Vocab(rng.nextInt(Vocab.length))
      toks.mkString(" ")
  }

  def documents(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      val text = docText(id)
      // BpeOps preconditions, asserted at generation time (round-12
      // ADVICE): the wrapped-symbol BPE machinery reserves U+0001/U+0002
      // as symbol delimiters and "</w>" as the end-of-word marker — a
      // corpus violating either corrupts symbol parsing identically in
      // both engines, invisible to the cross-engine hash gate.
      require(!text.contains('\u0001') && !text.contains('\u0002'),
        s"doc $id: text contains a reserved BPE delimiter (U+0001/U+0002)")
      require(!text.split(" ").contains("</w>"),
        s"doc $id: a word aliases the BPE end-of-word marker")
      val rl = rngFor(id, 5)
      val lang =
        if (rl.nextDouble() < PEnglish) "en" else Langs(rl.nextInt(Langs.length))
      (id, text, lang, "src" + (id % 20), text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  // ---- embeddings ----------------------------------------------------
  /** 64-dim unit vectors (isotropic gaussian, normalized) + uniform
    * label in [0,10) — the sf0.1 table has no cluster structure
    * (within-label and cross-label cosine both ~0).
    */
  def embeddings(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      val rng = rngFor(id, 6)
      val v = Array.fill(64)(rng.nextGaussian().toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (id, v.map(_ / norm), rng.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
  }

  // ---- clustered embeddings (recall-measurement fixture) -------------
  // The driver's embeddings table (and [[embeddings]] above, which
  // mirrors it) has NO geometric structure: labels are independent of
  // the vectors, so IVF recall on it is the trivial cells-probed/cells
  // and planted near-dups don't exist. The `vecs` fixture gives the
  // embedding families ground truth (VERDICT r8 #3): 10 directional
  // cluster centroids, label = the generating centroid (within-cluster
  // cosine ~0.4, cross-cluster ~0 — the regime where IVF cell-pruning is
  // the right trade), plus planted near-dup rows — a unit-normalized
  // perturbation of an earlier vector targeting a cosine drawn uniform
  // from [0.45, 0.995], spanning the verify threshold COS_T=0.4 up to
  // the near-exact regime so band-collision recall can be read per
  // stratum.
  private val PVecNear = 0.03
  private val VecDim = 64
  private val NumCells = 10

  private def centroid(l: Int): Array[Double] = {
    val rng = rngFor(1000000L + l, 12)
    val v = Array.fill(VecDim)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def vecRole(id: Long): Boolean =
    id >= 2 && rngFor(id, 8).nextDouble() < PVecNear

  /** Partner (an earlier BASE vector) for a planted near-dup — same
    * walk-back shape as [[partner]]; pure in id.
    */
  private def vecPartner(id: Long): Long = {
    val rng = rngFor(id, 9)
    var p = math.max(0L, id - 1 - rng.nextInt(200))
    while (p > 0 && vecRole(p)) p -= 1
    p
  }

  private def normalize(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Base clustered vector + its label — pure in id. The default
    * spread 0.15 puts within-cluster cosine around 0.4 at dim 64
    * (||0.15·g|| ~ 1.2 against the unit centroid) — well-separated
    * cells, the IVF-favorable regime. Spread ~0.35 blurs cells into
    * each other (within-cluster cosine ~0.3, neighbors leak across
    * cell boundaries) — the regime where single-probe IVF loses and
    * multi-probe earns its keep.
    */
  private def baseVec(id: Long, spread: Double): (Array[Float], Int) = {
    val rng = rngFor(id, 11)
    val label = rng.nextInt(NumCells)
    val c = centroid(label)
    (normalize(Array.tabulate(VecDim)(i => c(i) + spread * rng.nextGaussian())),
     label)
  }

  /** Vector + label for any id: near-dup rows perturb their partner's
    * base vector toward a target cosine t (unit u, gaussian g:
    * cos(u, u + eps·g) ~ 1/sqrt(1 + dim·eps²), so eps² =
    * (1/t² - 1)/dim) and inherit the partner's label — the clustering
    * that produced the cells would put a near-copy in the same cell.
    */
  private def clusteredVec(id: Long, spread: Double = 0.15): (Array[Float], Int) =
    if (!vecRole(id)) baseVec(id, spread)
    else {
      val (u, label) = baseVec(vecPartner(id), spread)
      val rng = rngFor(id, 10)
      val t = 0.45 + 0.545 * rng.nextDouble()
      val eps = math.sqrt((1.0 / (t * t) - 1.0) / VecDim)
      (normalize(Array.tabulate(VecDim)(i => u(i).toDouble + eps * rng.nextGaussian())),
       label)
    }

  def clusteredEmbeddings(spark: SparkSession, n: Long,
                          spread: Double = 0.15): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      val (v, label) = clusteredVec(id, spread)
      (id, v, label)
    }.toDF("vec_id", "embedding", "label")
  }

  /** Planted vector ground truth: one row per near-dup vector, with the
    * exact realized cosine of the FLOAT vectors (the target t drifts a
    * little through the two normalizations — measurement joins use this
    * realized value). Recall ground truth only; never fed to the engine.
    */
  def plantedVecPairs(spark: SparkSession, n: Long,
                      spread: Double = 0.15): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 32).flatMap { id =>
      if (!vecRole(id)) None
      else {
        val p = vecPartner(id)
        val (a, _) = clusteredVec(p, spread)
        val (b, _) = clusteredVec(id, spread)
        val cos = a.zip(b).map { case (x, y) => x.toDouble * y }.sum /
          math.sqrt(a.map(x => x.toDouble * x).sum) /
          math.sqrt(b.map(x => x.toDouble * x).sum)
        Some((p, id, cos))
      }
    }.toDF("v1", "v2", "cos_exact")
  }

  // ---- events --------------------------------------------------------
  private val EventTypes = Array("signup", "purchase", "view", "click", "error")
  /** Jan 2024, 30 days, uniform; user uniform over 1500*mult (user count
    * scales with SF like TPC-H customers); value ~ Exp(mean 50); ts as
    * int64 nanos (see object doc).
    */
  def events(spark: SparkSession, n: Long, users: Long): DataFrame = {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000000L
    val spanNs = 30L * 24 * 3600 * 1000000000L
    spark.range(0, n, 1, 32).map { id =>
      val rng = rngFor(id, 7)
      val ts = t0 + math.abs(rng.nextLong() % spanNs)
      val value = math.rint(-50.0 * math.log1p(-rng.nextDouble()) * 100) / 100
      (id, ts, math.abs(rng.nextLong()) % users, EventTypes(rng.nextInt(5)),
        value, s"""{"k": ${rng.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  // ---- TPC-H replication --------------------------------------------
  /** Up-scale a base table by `mult` key-offset copies: explode a copy
    * index, shift every key column by copy * stride (strides = base-table
    * cardinalities, so FK relationships hold within each copy), and nudge
    * continuous value columns by copy/10000 so value-distinct
    * cardinalities scale with the data instead of collapsing onto the
    * base copy's values. Narrow (no shuffle); names regenerated from the
    * new key where the base table derives them from the key.
    */
  private def replicate(df: DataFrame, mult: Int,
                        keyStrides: Map[String, Long],
                        jitterCols: Seq[String]): DataFrame = {
    var out = df.withColumn("_copy", explode(sequence(lit(0), lit(mult - 1))))
    for ((k, stride) <- keyStrides)
      out = out.withColumn(k, col(k) + col("_copy") * lit(stride))
    for (c <- jitterCols)
      out = out.withColumn(c, round(col(c) + col("_copy") / lit(10000.0), 4))
    out.drop("_copy")
  }

  def main(args: Array[String]): Unit = {
    val target = args.headOption.getOrElse("/root/repo/fixtures/sf1")
    val mult = if (args.length > 1) args(1).toInt else 10
    val base = sys.env.getOrElse("SPARK_GRAFT_BASE_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${math.min(Runtime.getRuntime.availableProcessors(), 32)}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$target/$name.parquet")
      println(s"wrote $name")
    }

    // `GenFixtures <dir> <mult> events`: (re)write only the events table
    // — it is deliberately NOT git-tracked at sf1 (1M rows of pure
    // generator output; everything needed to reproduce it is this code),
    // so a fresh checkout regenerates it before a full-catalog sf1
    // sweep. Deterministic in (n, users) like the main path; remember
    // tools/fix_events_ns.py if the sweep needs NANOS physical type.
    if (args.length > 2 && args(2) == "events") {
      write(events(spark, 100000L * mult, 1500L * mult), "events")
      spark.stop()
      return
    }

    // `GenFixtures <dir> <mult> vecs [spread]` — the CLUSTERED embedding
    // fixture (see clusteredEmbeddings): embeddings + planted_vec_pairs
    // only, the embedding-family recall ground truth RecallSpec reads.
    // Default spread 0.15 = well-separated cells (fixtures/sf1vec,
    // tracked); 0.35 = boundary-blurred cells, the multi-probe regime.
    if (args.length > 2 && args(2) == "vecs") {
      val spread = if (args.length > 3) args(3).toDouble else 0.15
      write(clusteredEmbeddings(spark, 2000L * mult, spread), "embeddings")
      write(plantedVecPairs(spark, 2000L * mult, spread), "planted_vec_pairs")
      spark.stop()
      return
    }

    // fixed-cardinality dims: copy as-is
    for (t <- Seq("region", "nation"))
      write(spark.read.parquet(s"$base/$t.parquet"), t)

    val customer = spark.read.parquet(s"$base/customer.parquet")
    val nCust = 15000L
    write(replicate(customer, mult, Map("c_custkey" -> nCust), Seq("c_acctbal"))
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))),
      "customer")

    val supplier = spark.read.parquet(s"$base/supplier.parquet")
    write(replicate(supplier, mult, Map("s_suppkey" -> 1000L), Seq("s_acctbal"))
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey"))),
      "supplier")

    val part = spark.read.parquet(s"$base/part.parquet")
    write(replicate(part, mult, Map("p_partkey" -> 20000L), Seq("p_retailprice")),
      "part")

    val orders = spark.read.parquet(s"$base/orders.parquet")
    write(replicate(orders, mult,
      Map("o_orderkey" -> 150000L, "o_custkey" -> nCust), Seq("o_totalprice")),
      "orders")

    val lineitem = spark.read.parquet(s"$base/lineitem.parquet")
      // single-file base scan -> spread the 10x explode across the machine
      .repartition(32)
    write(replicate(lineitem, mult,
      Map("l_orderkey" -> 150000L, "l_partkey" -> 20000L, "l_suppkey" -> 1000L),
      Seq("l_extendedprice")),
      "lineitem")

    write(documents(spark, 5000L * mult), "documents")
    write(embeddings(spark, 2000L * mult), "embeddings")
    write(events(spark, 100000L * mult, 1500L * mult), "events")

    println(s"""{"target":"$target","mult":$mult}""")
    spark.stop()
  }
}
