package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, TextOps}

/** LSH recall under the boundedness caps (VERDICT r4 #7): BAND_CAP /
  * DF_CAP trade recall for a hard bucket-size bound — this suite
  * QUANTIFIES the trade by planting known near-duplicates at sf0.01 and
  * measuring how many each LSH family recovers, against the family's own
  * exact-verification threshold as ground truth. Measured numbers are
  * recorded in SCALING.md; the assertions here are regression floors.
  *
  * Ground truth is always "planted pairs that pass the EXACT verify
  * predicate" (jaccard >= 0.5 / hamming <= 2 / cos >= 0.4): the lossy
  * stage under test is candidate generation (banding + caps), not the
  * exact verification that follows it.
  */
class RecallSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  /** Deterministic token perturbation: every `every`-th token (phase
    * rotated by doc) replaced — expression-only, so both the corpus and
    * the ground truth derive from the same plan.
    */
  private def perturbed(docs: DataFrame, every: Int, offset: Long): DataFrame =
    docs.select(
      (col("doc_id") + offset).as("doc_id"),
      expr(s"""concat_ws(' ', transform(split(text, ' '),
              |  (t, i) -> IF((i + doc_id) % $every = 0,
              |                concat('zz', (doc_id + i) % 50), t)))"""
        .stripMargin).as("text"))

  private val trigrams =
    """array_distinct(CASE WHEN size(toks) >= 3 THEN
      |  transform(sequence(1, size(toks) - 2),
      |            i -> concat_ws(' ', element_at(toks, i),
      |                                element_at(toks, i + 1),
      |                                element_at(toks, i + 2)))
      |ELSE array() END)""".stripMargin

  test("q49 MinHash-LSH: recall >= 0.8 on planted near-dups (exact-jaccard truth)") {
    val base = Tables.documents(spark, sf)
      .filter(col("doc_id") < 300).select(col("doc_id"), col("text"))
    val copies = perturbed(base.filter(col("doc_id") % 3 === 0), 15, 100000L)
    val corpus = base.unionByName(copies)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), expr(trigrams).as("grams"))
      .localCheckpoint()

    // ground truth: planted pairs whose exact trigram jaccard clears the
    // operator's own verification threshold (0.5)
    val truth = corpus.select(col("doc_id").as("d1"), col("grams").as("g1"))
      .join(corpus.select(col("doc_id").as("d2"), col("grams").as("g2")),
        col("d2") === col("d1") + 100000L)
      .withColumn("common", size(array_intersect(col("g1"), col("g2"))))
      .filter(col("common").cast("double") /
        (size(col("g1")) + size(col("g2")) - col("common")) >= 0.5)
      .select(col("d1"), col("d2"))
    val nTruth = truth.count()

    val found = DedupOps.minhashLshPairs(corpus)
      .join(truth, Seq("d1", "d2"), "left_semi").count()
    info(s"minhash recall: $found / $nTruth planted in-threshold pairs")
    assert(nTruth >= 50, s"fixture too weak: only $nTruth in-threshold planted pairs")
    assert(found >= nTruth * 0.8,
      s"q49 recall ${found.toDouble / nTruth} < 0.8 ($found/$nTruth)")
  }

  test("q49 budget-derived cap: a 300-wide dup cluster keeps its recall; the static cap loses it") {
    // duplication-heavy corpus: ONE cluster of 300 near-identical docs
    // (every member lands in the same band buckets, width 300 > the
    // static BAND_CAP=200) over a 700-doc normal background
    val base = Tables.documents(spark, sf)
      .filter(col("doc_id") < 700).select(col("doc_id"), col("text"))
    val seed = base.filter(col("doc_id") === 5).select(col("text")).head().getString(0)
    import spark.implicits._
    val cluster = spark.range(300).select(
      (col("id") + 200000L).as("doc_id"),
      // one token appended per member: pairwise jaccard stays ~1
      concat(lit(seed), lit(" mut"), col("id") % 7).as("text"))
    val corpus = base.unionByName(cluster.toDF("doc_id", "text"))
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), expr(trigrams).as("grams"))
      .localCheckpoint()
    val inCluster = (p: org.apache.spark.sql.Row) =>
      p.getLong(0) >= 200000L && p.getLong(1) >= 200000L

    // static cap: the ~300-wide buckets are over the 200 cap in every
    // band where the mutation variants collapse to one signature; only
    // the few bands that split below the cap leak a sliver of pairs
    val truth = 300L * 299 / 2 // all members pairwise >= jaccard 0.5
    val staticPairs = DedupOps.minhashLshPairs(corpus)
      .select("d1", "d2").collect().count(inCluster)
    assert(staticPairs < truth * 0.1,
      s"static cap admitted $staticPairs/$truth — fixture no longer dup-heavy")

    // budget-derived cap (q49's production setting): the histogram pass
    // sees the 300-wide class, the budget affords it, recall holds
    val budgetPairs = DedupOps.minhashLshPairs(corpus, pairBudgetPerDoc = Some(1000))
      .select("d1", "d2").collect().count(inCluster)
    info(s"dup-heavy cluster recall: $budgetPairs / $truth (static cap: $staticPairs)")
    assert(budgetPairs >= truth * 0.95,
      s"budget-cap recall ${budgetPairs.toDouble / truth} < 0.95")
  }

  test("q79 SimHash pigeonhole bands: recall is EXACT on in-threshold pairs") {
    val base = Tables.documents(spark, sf)
      .filter(col("doc_id") < 300).select(col("doc_id"), col("text"))
    // light perturbation: simhash bits are majority votes and flip on
    // small vote margins, so even ~1.5% token churn leaves only a
    // fraction of planted pairs within hamming 2 — that in-threshold
    // subset is the ground truth
    val copies = perturbed(base.filter(col("doc_id") % 3 === 0), 64, 100000L)
    val corpus = base.unionByName(copies).localCheckpoint()

    // ground truth from the signatures themselves: 3 bands of 20 bits
    // catch EVERY pair with <= 2 corrupted bands (pigeonhole), so on
    // planted pairs with hamming <= 2, recall must be exactly 1.0
    // (BAND_CAP can only bite when a bucket exceeds 200 — not here)
    val sig = TextOps.simhashSignaturesOf(corpus).localCheckpoint()
    val truth = sig.select(col("doc_id").as("d1"), col("simhash").as("h1"))
      .join(sig.select(col("doc_id").as("d2"), col("simhash").as("h2")),
        col("d2") === col("d1") + 100000L)
      .filter(expr("bit_count(h1 ^ h2) <= 2"))
      .select(col("d1"), col("d2"))
    val nTruth = truth.count()

    val found = TextOps.simhashHammingPairs(corpus)
      .join(truth, Seq("d1", "d2"), "left_semi").count()
    info(s"simhash recall: $found / $nTruth planted in-threshold pairs")
    assert(nTruth >= 20, s"fixture too weak: only $nTruth in-threshold planted pairs")
    assert(found == nTruth,
      s"pigeonhole banding must be exact, got $found/$nTruth")
  }

  test("q97 SRP-LSH: recall >= 0.9 on planted near-identical vectors") {
    val base = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 300).select(col("vec_id"), col("embedding"))
    val copies = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i % 16 = 0, " +
          "CAST(x + 0.01 AS FLOAT), x))").as("embedding"))
    val corpus = base.unionByName(copies).localCheckpoint()

    // ground truth: planted pairs passing the exact quantized-cosine bar
    // (they are near-identical, cos ~0.99, so all of them)
    // same quantization as VectorOps.quantExpr (private[ops])
    val q = corpus.withColumn("q",
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT))"))
      .withColumn("norm", graft.functions.VectorFunctions.ldot(col("q"), col("q")))
    val truth = q.select(col("vec_id").as("v1"), col("q").as("q1"), col("norm").as("n1"))
      .join(q.select(col("vec_id").as("v2"), col("q").as("q2"), col("norm").as("n2")),
        col("v2") === col("v1") + 100000L)
      .filter(graft.functions.VectorFunctions.ldot(col("q1"), col("q2")).cast("double") /
        sqrt(col("n1").cast("double")) / sqrt(col("n2").cast("double")) >= 0.4)
      .select(col("v1"), col("v2"))
    val nTruth = truth.count()

    val found = DedupOps.srpLshPairs(corpus)
      .join(truth, Seq("v1", "v2"), "left_semi").count()
    info(s"srp recall: $found / $nTruth planted in-threshold pairs")
    assert(nTruth >= 50, s"fixture too weak: only $nTruth in-threshold planted pairs")
    assert(found >= nTruth * 0.9,
      s"q97 recall ${found.toDouble / nTruth} < 0.9 ($found/$nTruth)")
  }

  test("q127/q128 serving stack: recall@5 >= 0.70 vs brute force on the committed vector fixture") {
    // VERDICT r10 #5: a codebook or routing regression must fail the
    // suite, not just drift a SCALING.md table nobody re-runs. Runs the
    // GATED config (GATED_K, IVF_COARSE_ITERS, IVFPQ_PROBES,
    // IVFPQ_RERANK) on the committed fixtures/sf1vec (20k vectors, 10
    // true clusters) against the exact brute-force top-5. Round-12
    // recalibration (density-aware greedy init + re-seeded Lloyd +
    // joint probes×rerank knee): measured 43/50 = 86% (was 46% at the
    // round-11 gate) — deterministic on this fixture; the 0.70 floor
    // leaves margin only for legitimate recalibrations (a lost
    // broadcast or drifted tie-break lands far below it).
    import graft.ops.VectorOps
    val dir = "fixtures/sf1vec"
    val emb = Tables.embeddings(spark, dir)
    val brute = graft.SparkEntry.queries("q51_cosine_topk")(spark, dir)
      .filter(col("rn") <= 5).select(col("qid"), col("vec_id"))
      .localCheckpoint()
    val nq = brute.select("qid").distinct().count()
    val hits = VectorOps
      .ivfPqRerankTopK(emb, k = VectorOps.GATED_K, numQueries = 10,
        probes = VectorOps.IVFPQ_PROBES, rerank = VectorOps.IVFPQ_RERANK,
        topK = 5)
      .select(col("qid"), col("vec_id"))
      .join(brute, Seq("qid", "vec_id"), "left_semi").count()
    info(s"ivf-pq-rerank recall@5: $hits / ${5 * nq}")
    assert(hits >= math.ceil(5 * nq * 0.70).toLong,
      s"serving-stack recall@5 ${hits.toDouble / (5 * nq)} fell below 0.70 " +
        s"($hits/${5 * nq}) — codebook/routing regression")
  }

  test("q125 router gate: learned cells beat the fixture's own labels single-probe (blurred corpus)") {
    // The round-11 verdict's top item: the learned coarse router
    // measurably LOST to naive true-label routing on the blurred
    // corpus (40% vs 60%). Round 12's density-aware greedy init +
    // dead-cell re-seeding inverts that — this pins the inversion as a
    // CI floor on the committed fixtures/sf1vecwide: the engine-built
    // index must route at least as well as the label column it
    // replaced, at the q125 gate's own single-probe shape.
    import graft.ops.VectorOps
    val dir = "fixtures/sf1vecwide"
    val brute = graft.SparkEntry.queries("q51_cosine_topk")(spark, dir)
      .filter(col("rn") <= 5).select(col("qid"), col("vec_id"))
      .localCheckpoint()
    val nq = brute.select("qid").distinct().count()
    def recall(df: DataFrame): Long = df.select(col("qid"), col("vec_id"))
      .join(brute, Seq("qid", "vec_id"), "left_semi").count()
    val learned = recall(VectorOps.learnedCellTopK(
      Tables.embeddings(spark, dir), k = VectorOps.GATED_K,
      numQueries = 10, topK = 5))
    val label = recall(graft.SparkEntry.queries("q52_ann_ivf")(spark, dir))
    info(s"learned-cell recall@5: $learned / ${5 * nq}; true-label: $label")
    assert(learned >= label,
      s"learned router ($learned/${5 * nq}) lost to true-label routing " +
        s"($label/${5 * nq}) on the blurred corpus — init/re-seed regression")
    assert(learned >= math.ceil(5 * nq * 0.60).toLong,
      s"learned-cell recall@5 ${learned.toDouble / (5 * nq)} fell below " +
        "0.60 (measured 70% at the round-12 gate)")
  }

  test("q131/q137 SemDeDup blocking recall floors on planted pairs (high-cos regime)") {
    // VERDICT r12 #6: addendum-4/5's measured blocking-recall tables
    // (same-cell 100% at cos>=0.7 on the separated corpus; probes=2
    // recovering 96-100% of cos>=0.7 boundary-straddlers on the blurred
    // one) lived only in SCALING.md — a clustering/init regression
    // would silently invalidate them. This pins both as CI floors on
    // the committed fixtures, measured values minus a drift margin.
    // The high-cos band (>= 0.7) is the regime SemDeDup targets — the
    // paper's premise is that TRUE near-duplicates co-locate; the
    // low-cos background mass is the LSH families' job (q49/q55/q97).
    import graft.ops.VectorOps
    def blockingRecall(dir: String, probes: Int): (Long, Long) = {
      val quant = Tables.rebalance(Tables.embeddings(spark, dir))
        .withColumn("q", expr(VectorOps.quantExpr))
        .select(col("vec_id"), col("q")).localCheckpoint()
      val cents = VectorOps.kmeansFit(quant, VectorOps.GATED_K,
        VectorOps.IVF_COARSE_ITERS)
      val probed = VectorOps.kmeansAssignTopP(quant, cents, probes)
        .select(col("vec_id"), col("cell")).localCheckpoint()
      val covered = probed.select(col("vec_id").as("v1"), col("cell"))
        .join(probed.select(col("vec_id").as("v2"), col("cell")), "cell")
        .select(col("v1"), col("v2")).distinct()
      val planted = spark.read.parquet(s"$dir/planted_vec_pairs.parquet")
        .filter(col("cos_exact") >= 0.7)
      (planted.join(covered, Seq("v1", "v2"), "left_semi").count(),
       planted.count())
    }
    val (sep1, sepN) = blockingRecall("fixtures/sf1vec", probes = 1)
    info(s"sf1vec same-cell (probes=1) cos>=0.7: $sep1 / $sepN")
    assert(sepN >= 50, s"fixture too weak: $sepN planted cos>=0.7 pairs")
    assert(sep1 >= math.ceil(sepN * 0.95).toLong,
      s"separated-corpus same-cell recall ${sep1.toDouble / sepN} < 0.95 " +
        "(measured 100% at the round-12 gate) — clustering regression")
    val (blur2, blurN) = blockingRecall("fixtures/sf1vecwide", probes = 2)
    info(s"sf1vecwide probes=2 cos>=0.7: $blur2 / $blurN")
    assert(blurN >= 50, s"fixture too weak: $blurN planted cos>=0.7 pairs")
    assert(blur2 >= math.ceil(blurN * 0.90).toLong,
      s"blurred-corpus probes=2 recall ${blur2.toDouble / blurN} < 0.90 " +
        "(measured 96-100% by band at the round-12 gate) — probe regression")
  }

  test("q129 append path: appended-decile store serves within tolerance of the build-time-included store") {
    // VERDICT r11 #6: q129's hash pins exact rows on the FIXED gate
    // fixture, but a quality regression in appendToIvfPqIndex's
    // assign/encode would keep hashing green until the fixture
    // regenerates. This floors the QUALITY: on fixtures/sf1vec, the
    // store that ingested its last decile through the append path must
    // serve recall@5 within 10 points of the store whose build saw
    // everything — the executable form of "a sample-trained codebook
    // encodes vectors it never saw, without quality cliff".
    import graft.ops.VectorOps
    val dir = "fixtures/sf1vec"
    val brute = graft.SparkEntry.queries("q51_cosine_topk")(spark, dir)
      .filter(col("rn") <= 5).select(col("qid"), col("vec_id"))
      .localCheckpoint()
    val nq = brute.select("qid").distinct().count()
    def recall(idx: String): Long =
      VectorOps.servedIvfPqTopK(spark, idx, Tables.embeddings(spark, dir),
          numQueries = 10, probes = VectorOps.IVFPQ_PROBES,
          rerank = VectorOps.IVFPQ_RERANK, topK = 5)
        .select(col("qid"), col("vec_id"))
        .join(brute, Seq("qid", "vec_id"), "left_semi").count()
    val full = recall(VectorOps.ensureIvfPqIndex(spark, dir, VectorOps.GATED_K))
    val appended = recall(
      VectorOps.ensureIvfPqAppendIndex(spark, dir, VectorOps.GATED_K))
    info(s"full-build recall@5: $full / ${5 * nq}; append-path: $appended")
    assert(appended >= full - math.ceil(5 * nq * 0.10).toLong,
      s"append-path recall ($appended/${5 * nq}) fell more than 10 points " +
        s"below the full build ($full/${5 * nq}) — append assign/encode regression")
  }
}
