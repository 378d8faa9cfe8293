package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.ldot

/** Scale-path near-duplicate detection (SURVEY.md §2.9): MinHash + LSH
  * banding over shingles, and embedding-cosine near-dup with cluster
  * blocking. Complements TextOps.q50 (exact rare-shingle path).
  *
  * The MinHash functions are md5-based (not Spark's hash()) so the exact
  * same signature pipeline is expressible in the DuckDB oracle — the
  * correctness check covers the WHOLE pipeline (signatures, banding,
  * candidate join, verification), not just the final set.
  *
  * Scale notes: signatures are one row-local projection (linear in
  * corpus shingle count, no shuffle); the LSH join shuffles on
  * (band, band_key) whose cardinality ~ n_docs * B, with bucket sizes
  * concentrated near 1 for non-duplicates — no quadratic blowup. This is
  * the standard 100 TB-scale dedup topology (MinHashLSH in Spark MLlib
  * uses the same shape).
  */
object DedupOps {

  private[graft] val NUM_SEEDS = 12 // 6 bands x 2 rows
  private[ops] val ROWS_PER_BAND = 2
  private val JACCARD_T = 0.5
  private[graft] val COS_T = 0.4
  private val SRP_BANDS = 4  // q97: LSH bands over sign bits
  private val SRP_BITS = 8   // q97: sign bits (hyperplanes) per band

  /** q97's banding as pure SQL higher-order functions — the reference
    * formulation for [[graft.functions.SrpBandCodes]]; VectorExprSpec
    * asserts both produce bit-identical codes over a `q` array<bigint>
    * column.
    */
  val srpCodesHof: String =
    s"""transform(sequence(0, ${SRP_BANDS - 1}), b ->
       |  aggregate(sequence(0, ${SRP_BITS - 1}), cast(0 AS bigint), (acc, r) ->
       |    acc + IF(
       |      aggregate(sequence(0, size(q) - 1), cast(0 AS bigint), (a2, k) ->
       |        a2 + element_at(q, k + 1) *
       |          ((((b * $SRP_BITS + r) * 1000003 + k * 7919) * 2654435761) % 2001 - 1000)) >= 0,
       |      shiftleft(1, r), 0)))""".stripMargin
  private[graft] val HASH_P = 2147483647L // Mersenne prime; (p-1)*(2*seeds+1) << 2^63
  private val MAX_BLOCK = 1000 // chunk width for oversized label blocks
  // A band bucket larger than this emits NO pairs: an adversarial
  // mass-duplicate corpus would otherwise put n near-identical docs into
  // one (band, bkey) row and explode C(n, 2) pairs from a single
  // aggregation row — the same failure the df-cap (TextOps.DF_CAP) and
  // simhash BAND_CAP close. Recall on dup-heavy corpora comes from
  // composing sha2 exact-dedup in front (dedupFirstJaccardPairs / q50b),
  // after which genuine near-dup buckets are small again.
  val BAND_CAP = 200

  /** DEFAULT per-item candidate budget for the banded pair/verdict
    * families (round-16, VERDICT r15 #1): the caps were opt-in from
    * rounds 13–15 with `None` (uncapped) as the default — correct and
    * fast at fixture scale, but the default configuration admitted a
    * MEASURED hang-class fan-out on pathological stores (SCALING.md
    * r15 addenda 8/13: 162 s hot-bucket fan-out at 1M marks; the
    * round-14 study JVM that hung 9+ hours was an uncapped run). The
    * studies prove the derived caps bit-identical on true duplicates
    * (floor = [[BAND_CAP]] admits every fixture-scale bucket; exact
    * arms are never banded, hence cap-immune), so safe-by-default is
    * the right polarity: every banded family now derives a cap under
    * this budget unless the caller passes `None` as the EXPLICIT
    * uncapped opt-out (diagnostics / recall studies). 1000 is the q49
    * family's long-standing literal, baked into the capped oracles. */
  val DEFAULT_PAIR_BUDGET: Option[Int] = Some(1000)

  /** Exact all-pairs candidates within `label` blocks, skew-safe.
    *
    * A plain `a.label = b.label AND a.vec_id < b.vec_id` self-join puts an
    * entire label block into ONE join task — a single skewed cluster (10k+
    * members) becomes an O(block²) straggler that no amount of executors
    * helps with. Instead, rows are assigned to `k = ceil(n/chunk)` chunks
    * per label (k=1 → degenerates to the plain join, zero overhead), and
    * each unordered chunk pair (i <= j) becomes its own join key
    * `(label, i, j)`: the same n(n-1)/2 output pairs — results are
    * bit-identical to the naive join, the oracle stays a plain self-join —
    * but the work is spread over k(k+1)/2 bounded tasks of <= ~chunk²
    * pairs, each landing on a different shuffle partition.
    *
    * Input must carry `label`, `vec_id` and value columns; output has the
    * a_/b_ sides with `a_vec < b_vec` normalized.
    */
  def chunkedBlockPairs(emb: DataFrame, chunk: Int = MAX_BLOCK): DataFrame = {
    val valueCols = emb.columns.filterNot(c => c == "label" || c == "vec_id").toSeq
    val counts = emb.groupBy(col("label")).agg(count(lit(1)).as("_n"))
    val chunked = emb.join(counts, "label")
      .withColumn("_k", greatest(lit(1L),
        ceil(col("_n").cast("double") / chunk).cast("long")))
      .withColumn("_c", pmod(col("vec_id"), col("_k")))
    def side(tag: String, iExpr: Column, jExpr: Column) = chunked.select(
      Seq(col("label"), iExpr.as("_i"), jExpr.as("_j"),
          col("vec_id").as(s"${tag}_vec")) ++
        valueCols.map(c => col(c).as(s"${tag}_$c")): _*)
    // a carries its chunk as i and fans out to partners j >= i;
    // b carries its chunk as j and fans out to partners i <= j
    val aSide = side("a", col("_c"), explode(expr("sequence(_c, _k - 1)")))
    val bSide = side("b", explode(expr("sequence(0, _c)")), col("_c"))
    aSide.join(bSide, Seq("label", "_i", "_j"))
      // same-chunk tasks order internally; cross-chunk tasks take all pairs
      .filter(col("_i") < col("_j") || col("a_vec") < col("b_vec"))
      .withColumn("v1", least(col("a_vec"), col("b_vec")))
      .withColumn("v2", greatest(col("a_vec"), col("b_vec")))
      .drop("_i", "_j")
  }

  /** One row per shingle of a `(doc_id, grams, ...)` frame: the `keep`
    * columns plus `gram`. The TextOps shingle index explodes here:
    * plain `explode` makes Catalyst infer a
    * `size(grams) > 0` filter, substitute the grams alias into it (so
    * the tokenizer's `split` re-runs once per trigram, O(tokens²) per
    * doc) and push it below the rebalance exchange, onto the scan's
    * single partition. `explode_outer` infers nothing; the null filter
    * drops the one row it emits for an empty array. */
  private[ops] def gramRows(g0: DataFrame, keep: String*): DataFrame =
    g0.select(keep.map(col) :+ explode_outer(col("grams")).as("gram"): _*)
      .filter(col("gram").isNotNull)

  /** MinHash signature of a `grams` shingle column, as one codegen'd
    * projection ([[graft.functions.MinHashSig]]): `array<bigint>` of
    * NUM_SEEDS minima, null for a doc without shingles. One md5 per
    * shingle, then NUM_SEEDS cheap derived hashes
    * h_s = ((h % P) * (2s+1) + 7919s) % P — exact int64 in both
    * engines, so the oracle replicates signatures bit-for-bit with its
    * explode + md5 + `min` aggregate while the expensive digest runs
    * once per shingle, not once per seed. */
  private[graft] def minhashSig(grams: Column): Column =
    graft.functions.VectorFunctions.minhashSig(grams, NUM_SEEDS, HASH_P)

  /** MinHash signature per row of a `(doc_id, grams)` frame:
    * `(doc_id, sig)`, `sig` null for a doc without shingles. Row-local
    * (no explode, aggregate or shuffle): a doc_id that repeats keeps
    * one row per input row, so callers sign one row per doc. The q49
    * family and the text dedup ledger both sign with this. */
  private[ops] def minhashSignatures(g0: DataFrame): DataFrame =
    g0.select(col("doc_id"), minhashSig(col("grams")).as("sig"))

  /** LSH band structs of a `sig` column: band b's key is
    * `sig[2b] "|" sig[2b+1]` (the band's row minhashes joined in seed
    * order). Null for a null signature, so `explode` emits no band row
    * for a doc without shingles. An `explode` over this (not over a
    * column) infers no filter, so nothing re-signs below an exchange. */
  private[ops] val sigBands: Column = {
    val bandStructs = (0 until NUM_SEEDS / ROWS_PER_BAND).map { b =>
      val ms = (0 until ROWS_PER_BAND)
        .map(r => s"element_at(sig, ${b * ROWS_PER_BAND + r + 1})")
      s"named_struct('band', $b, 'bkey', concat_ws('|', ${ms.mkString(", ")}))"
    }
    when(col("sig").isNotNull, expr(s"array(${bandStructs.mkString(", ")})"))
  }

  /** MinHash signatures -> LSH band buckets -> candidate pairs -> exact
    * jaccard verification, over a (doc_id, grams) shingle frame — the
    * q49 pipeline as a reusable operator.
    *
    * The shingle frame is materialized ONCE and shared by candidate
    * generation and both verify-join sides — without it Catalyst
    * re-derives the tokenize→trigram pipeline per reference (3 corpus
    * passes). `checkpointDir = None` pins it executor-locally (fast;
    * lost on executor churn — fine for local mode); pass a reliable dir
    * (HDFS/S3) on a real cluster so a lost executor re-reads the
    * checkpoint instead of recomputing the shingling from the source.
    *
    * Band buckets larger than the effective cap emit no pairs (see
    * BAND_CAP). With `pairBudgetPerDoc` set, the cap is DERIVED from the
    * measured bucket-size distribution instead of staying a constant
    * tuned at one SF: the bucketed frame is materialized once, its size
    * histogram (tens of rows — the only thing the driver sees) is read,
    * and the cap rises above the BAND_CAP floor exactly as far as a
    * total candidate-pair budget of `pairBudgetPerDoc * nDocs` affords,
    * taking sizes ascending. A corpus whose real duplicate clusters are
    * 500 wide gets cap >= 500 (recall held — RecallSpec's dup-heavy
    * case); a corpus with adversarial million-row buckets still drops
    * them (pair count stays O(corpus), never O(cluster²) unbounded).
    */
  def minhashLshPairs(shingles: DataFrame, bandCap: Int = BAND_CAP,
                      checkpointDir: Option[String] = None,
                      pairBudgetPerDoc: Option[Int] = None): DataFrame = {
    checkpointDir.foreach(shingles.sparkSession.sparkContext.setCheckpointDir)
    val g0 =
      if (checkpointDir.isDefined) shingles.checkpoint() else shingles.localCheckpoint()
    minhashPairsOn(g0, bandCap, pairBudgetPerDoc)
  }

  /** [[minhashLshPairs]] over an ALREADY-materialized shingle frame (no
    * internal checkpoint) — for callers that share one checkpoint across
    * a diagnostic pass and the pipeline (TextOps.routedNearDupPairs).
    */
  private[graft] def minhashPairsOn(g0: DataFrame, bandCap: Int = BAND_CAP,
                                    pairBudgetPerDoc: Option[Int] = None): DataFrame = {
    val bands = minhashSignatures(g0)
      .select(col("doc_id"), explode(sigBands).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
    // in-bucket pair generation via collect_list (no self-join: Catalyst
    // would recompute the whole signature pipeline for each side);
    // bucket size capped — one hot bucket must not become an O(n²) row
    val bucketed = bands.groupBy(col("band"), col("bkey"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val (bucketSrc, cap) = pairBudgetPerDoc match {
      case None => (bucketed, bandCap)
      case Some(perDoc) =>
        val b = bucketed.localCheckpoint() // stats pass + emission pass
        (b, adaptiveBandCap(b, bandCap, perDoc.toLong * g0.count()))
    }
    val cand = bucketSrc
      .filter(size(col("ds")) <= cap)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |            y -> named_struct('d1', x, 'd2', y))))""".stripMargin))
        .as("p"))
      .select(col("p.d1"), col("p.d2"))
      .distinct()
    cand
      .join(g0.select(col("doc_id").as("d1"), col("grams").as("g1")), "d1")
      .join(g0.select(col("doc_id").as("d2"), col("grams").as("g2")), "d2")
      // LSH candidates can share a band key WITHOUT sharing any shingle
      // (hash collision) — exit those before the full intersection.
      // Semantics-preserving: no overlap → jaccard 0 < JACCARD_T.
      .filter(arrays_overlap(col("g1"), col("g2")))
      .withColumn("common", size(array_intersect(col("g1"), col("g2"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("g1")) + size(col("g2")) - col("common")))
      .filter(col("jaccard") >= JACCARD_T)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The cap derivation behind `pairBudgetPerDoc`: walk the band-bucket
    * SIZE histogram ascending, admitting each size class while its
    * C(size,2)-per-bucket total still fits the pair budget; the first
    * unaffordable class blocks everything above it (a cap is a
    * threshold — re-admitting a larger size would re-admit the blocked
    * one). Sizes up to the `floor` are always admitted, so behavior is
    * never tighter than the static BAND_CAP constant. The driver reads
    * only the histogram (one row per distinct bucket size).
    */
  private[graft] def adaptiveBandCap(bucketed: DataFrame, floor: Int,
                                     pairBudget: Long): Int =
    capFromHist(
      ScaleOps.boundedCollect(
        bucketed.groupBy(size(col("ds")).as("sz")).agg(count(lit(1)).as("n")),
        1L << 20, "bucket-size histogram")
        .map(r => (r.getInt(0), r.getLong(1))),
      floor, pairBudget)

  /** The histogram walk itself, shared by the collect_list-bucket form
    * above and the band-self-join families ([[dropHotBuckets]]). */
  private[graft] def capFromHist(hist: Array[(Int, Long)], floor: Int,
                                 pairBudget: Long): Int =
    capFromHistCost(hist, floor, pairBudget,
      sz => sz.toLong * (sz - 1) / 2)

  /** [[capFromHist]] for LEDGER-LOOKUP band joins (ADVICE r15 #2): a
    * batch-vs-ledger bucket's true join volume is `sz × batch hits in
    * that bucket`, not the self-join's C(sz, 2) — reusing the
    * quadratic model overstates large-bucket cost by ~sz/(2·hits) and
    * sheds far more near-recall than the stated per-item budget
    * implies once the batch is much smaller than the ledger.
    * `hitsPerBucket` is the expected batch occupancy of one bucket
    * (for a geometry-keyed arm: batchItems / 2^bandBits, floored at 1;
    * the text arm's string keyspace dwarfs any batch, so 1). The walk
    * and the floor contract are identical — only the per-bucket cost
    * function changes. */
  private[graft] def capFromHistLinear(hist: Array[(Int, Long)], floor: Int,
                                       budget: Long,
                                       hitsPerBucket: Long): Int =
    capFromHistCost(hist, floor, budget,
      sz => sz.toLong * math.max(1L, hitsPerBucket))

  private def capFromHistCost(hist: Array[(Int, Long)], floor: Int,
                              budget: Long, costOf: Int => Long): Int = {
    var cum = 0L; var cap = floor; var blocked = false
    hist.sortBy(_._1).foreach { case (sz, n) =>
      val cost = n * costOf(sz)
      if (sz <= floor) cum += cost // floor classes are always admitted
      else if (!blocked && cum + cost <= budget) { cum += cost; cap = sz }
      else blocked = true
    }
    cap
  }

  /** The q49 candidate-budget discipline for band-SELF-JOIN topologies
    * (the hamming families, where candidates come from an equi-join on
    * the band key rather than an in-bucket collect_list): measure bucket
    * sizes with ONE map-side-combinable count over the banded rows,
    * derive the cap from the size histogram (driver sees tens of rows —
    * one per distinct bucket size), and anti-join the over-cap buckets
    * away. The hot-bucket frame is tiny by construction (≤ bandRows /
    * cap buckets can exceed the cap), so AQE broadcasts the anti-join;
    * the admitted rows flow on to the self-join unchanged. Behavior is
    * never tighter than `floor` ([[capFromHist]]'s contract), so a
    * corpus whose genuine duplicate clusters are wide keeps its recall
    * while an adversarial saturated bucket stops emitting O(bucket²)
    * candidate pairs. */
  private[graft] def dropHotBuckets(bandsDf: DataFrame, keys: Seq[String],
                                    floor: Int, pairBudget: Long): DataFrame = {
    // ONE measurement job: the size HISTOGRAM (map-side-combinable
    // twice over; the driver sees one row per distinct bucket size).
    // In the usual case — now that the budget is the default, the
    // usual case is every call — no class exceeds the derived cap and
    // the input plan is returned UNTOUCHED: no anti-join node, no
    // second job, bit-identical plan to the historical uncapped path
    // (round-16: the default flip must not tax healthy corpora).
    val hist = ScaleOps.boundedCollect(
      bandsDf.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n")),
      1L << 20, "bucket-size histogram")
      .map(r => (r.getLong(0).toInt, r.getLong(1)))
    val cap = capFromHist(hist, floor, pairBudget)
    if (hist.forall(_._1 <= cap)) bandsDf
    else {
      // shed path (pathological store): re-derive the over-cap keys —
      // the recompute only happens when something actually sheds
      val sizes = bandsDf.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("sz")).localCheckpoint()
      bandsDf.join(sizes.filter(col("sz") > cap).select(keys.map(col): _*),
        keys, "left_anti")
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Expected band-join candidate volume for `n` DISTINCT fingerprints
    * uniformly spread over `bands` × 2^bandBits buckets — the
    * saturation model SCALING.md round-13 addendum 3 measured (12.1M
    * candidates at n = 200k, 3 × 14-bit bands: the formula gives
    * 3·(2·10⁵)²/(2·2¹⁴) ≈ 3.7M from uniform geometry; planted
    * correlation makes the measured figure a small multiple). Once this
    * grows faster than O(n), buckets have saturated and the join is on
    * its way to quadratic — widen `bandBits` (or the fingerprint:
    * [[hammingPairsWide]]) or cap candidates (`pairBudgetPerDoc`). */
  private[graft] def expectedBandCandidates(n: Long, bands: Int,
                                            bandBits: Int): Double =
    bands.toDouble * n.toDouble * n.toDouble / (2.0 * math.pow(2.0, bandBits))

  /** The saturation RULE as one predicate (pinned by SaturationSpec —
    * red if a caller reuses fixture-scale banding constants at corpus
    * scale): a (bands, bandBits) geometry is safe for `n` distinct
    * fingerprints while expected candidates stay within
    * `budgetPerItem` × n — i.e. candidate work linear in the corpus,
    * never quadratic. The default 10 marks the knee right where the
    * round-13 study measured it: 3×14-bit bands flag from n ≈ 1.1·10⁵
    * (the study's "saturates around N ~ 10⁵"). */
  private[graft] def saturationSafe(n: Long, bands: Int, bandBits: Int,
                                    budgetPerItem: Long = 10L): Boolean =
    expectedBandCandidates(n, bands, bandBits) <= budgetPerItem.toDouble * n

  private[graft] def warnIfSaturated(nFp: Long, bands: Int,
                                     bandBits: Int): Unit =
    if (!saturationSafe(nFp, bands, bandBits))
      log.warn(s"hammingPairs: $nFp distinct fingerprints saturate " +
        s"$bands x $bandBits-bit band buckets (expected candidates ~ " +
        s"${expectedBandCandidates(nFp, bands, bandBits).toLong}, " +
        "quadratic growth) — widen bandBits, widen the fingerprint " +
        "(hammingPairsWide), or set pairBudgetPerDoc to cap candidates")

  /** SRP-LSH (random-hyperplane) near-dup pairs over an embeddings frame
    * (`vec_id`, `embedding: array<float>`) — the content-only blocking
    * scale path (no label needed): quantize, band the sign bits with the
    * native [[graft.functions.SrpBandCodes]] (the SQL higher-order
    * formulation lives in [[srpCodesHof]], pinned bit-identical by
    * VectorExprSpec), bucket on (band, code) with the same cap as every
    * LSH family here, verify candidates with exact integer-quantized
    * cosine. Same checkpoint contract as [[minhashLshPairs]]:
    * `checkpointDir = None` pins the quantized frame executor-locally;
    * pass a reliable dir on a real cluster.
    *
    * `pairBudgetPerDoc` derives the bucket cap from the corpus the same
    * way the minhash family does (floor = the static cap). The first
    * embedding-recall study on the clustered sf1vec fixture (SCALING.md
    * "Round-9: first embedding-family recall study") caught the static
    * cap eating recall exactly as it once did for q79: on a corpus with
    * real cluster geometry, band buckets are cluster-sized (~2000 >>
    * 200), the static cap dropped them wholesale, and measured recall
    * read 17.8% against the 43.4% the SRP collision physics predicts;
    * budget-derived, the cap follows the corpus and recall returns to
    * the physics line.
    */
  def srpLshPairs(emb: DataFrame, bands: Int = SRP_BANDS, bits: Int = SRP_BITS,
                  bandCap: Int = BAND_CAP, cosT: Double = COS_T,
                  pairBudgetPerDoc: Option[Int] = None,
                  checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(emb.sparkSession.sparkContext.setCheckpointDir)
    val quantized = emb
      .withColumn("q", expr(VectorOps.quantExpr))
      .withColumn("norm", ldot(col("q"), col("q")))
      .select(col("vec_id"), col("q"), col("norm"))
    // shared by banding + both verify sides
    val e0 =
      if (checkpointDir.isDefined) quantized.checkpoint() else quantized.localCheckpoint()
    val codes = graft.functions.VectorFunctions.srpCodes(col("q"), bands, bits)
    val bandRows = e0.select(col("vec_id"), posexplode(codes).as(Seq("band", "code")))
    val bucketed = bandRows.groupBy(col("band"), col("code"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val (bucketSrc, cap) = pairBudgetPerDoc match {
      case None => (bucketed, bandCap)
      case Some(perDoc) =>
        val b = bucketed.localCheckpoint() // stats pass + emission pass
        (b, adaptiveBandCap(b, bandCap, perDoc.toLong * e0.count()))
    }
    val cand = bucketSrc
      .withColumnRenamed("ds", "vs")
      .filter(size(col("vs")) <= cap)
      .select(explode(expr(
        """flatten(transform(vs, (x, i) ->
          |  transform(slice(vs, i + 2, size(vs)),
          |            y -> named_struct('v1', x, 'v2', y))))""".stripMargin)).as("p"))
      .select(col("p.v1"), col("p.v2"))
      .distinct()
    cand
      .join(e0.select(col("vec_id").as("v1"), col("q").as("q1"), col("norm").as("n1")), "v1")
      .join(e0.select(col("vec_id").as("v2"), col("q").as("q2"), col("norm").as("n2")), "v2")
      .withColumn("cos", ldot(col("q1"), col("q2")).cast("double") /
        sqrt(col("n1").cast("double")) / sqrt(col("n2").cast("double")))
      .filter(col("cos") >= cosT)
      .select(col("v1"), col("v2"), col("cos"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q49: MinHash signatures -> LSH band buckets -> candidate pairs
    // -> exact jaccard verification.
    "q49_minhash_lsh" -> ((s, d) => {
      val shingles = Tables.rebalance(Tables.documents(s, d))
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), array_distinct(expr(
          """CASE WHEN size(toks) >= 3 THEN
            |  transform(sequence(1, size(toks) - 2),
            |            i -> concat_ws(' ', element_at(toks, i),
            |                                element_at(toks, i + 1),
            |                                element_at(toks, i + 2)))
            |ELSE array() END""".stripMargin)).as("grams"))
      // budget-derived cap (floor = the static BAND_CAP): identical to
      // the constant at fixture SF (no bucket approaches 200), but on a
      // duplication-heavy corpus the cap follows the real cluster width
      minhashLshPairs(shingles, pairBudgetPerDoc = Some(1000))
        .orderBy(col("d1"), col("d2"))
    }),

    // ---- q55: embedding-cosine near-dup, blocked by cluster label
    // (IVF-style candidate pruning; exact integer-quantized cosine).
    // Candidate pairs come from the chunk-pair decomposition above, so a
    // skewed giant cluster spreads over bounded tasks instead of one
    // O(block²) straggler — results identical to the naive block join.
    "q55_embedding_neardup" -> ((s, d) => {
      val emb = Tables.rebalance(Tables.embeddings(s, d))
        .withColumn("q", expr(VectorOps.quantExpr))
        .withColumn("norm", ldot(col("q"), col("q")))
        .select(col("vec_id"), col("label"), col("q"), col("norm"))
      // divide by the ASCENDING-id norm first: cross-chunk pairs can
      // arrive with a_vec > b_vec, and x/sqrt(n1)/sqrt(n2) differs from
      // x/sqrt(n2)/sqrt(n1) by 1 ulp — enough to flip the cross-engine
      // hash once blocks exceed one chunk (first seen at sf1)
      val n1 = when(col("a_vec") === col("v1"), col("a_norm")).otherwise(col("b_norm"))
      val n2 = when(col("a_vec") === col("v1"), col("b_norm")).otherwise(col("a_norm"))
      chunkedBlockPairs(emb)
        .withColumn("dot", ldot(col("a_q"), col("b_q")))
        .withColumn("cos", col("dot").cast("double") /
          sqrt(n1.cast("double")) / sqrt(n2.cast("double")))
        .filter(col("cos") >= COS_T)
        .select(col("v1"), col("v2"), col("label"), col("cos"))
        .orderBy(col("v1"), col("v2"))
    }),

    // ---- q97: SRP-LSH embedding near-dup — random-hyperplane LSH
    // (signed random projections), the content-only blocking scale path
    // that needs NO cluster label (vs q55's label blocking): 4 bands x
    // 8 sign bits; vectors sharing any band code become candidates,
    // then exact integer-quantized cosine verifies. Hyperplane
    // components are a deterministic integer formula both engines
    // evaluate exactly (h(j,k) = ((j*1000003 + k*7919) * 2654435761)
    // % 2001 - 1000 — all positive before the mod, so Spark % == DuckDB
    // %), making the buckets — and hence the output — bit-identical
    // cross-engine. Collision probability per bit is 1 - theta/pi, so
    // the 8-bit bands concentrate recall on high-cosine pairs — the
    // near-dup regime. Buckets are capped like every LSH family here;
    // the banding is one row-local expression (no per-hyperplane
    // explosion), and the corpus shuffles only on (band, code).
    "q97_srp_lsh" -> ((s, d) =>
      srpLshPairs(Tables.rebalance(Tables.embeddings(s, d)),
                  pairBudgetPerDoc = Some(TextOps.PAIR_BUDGET_PER_DOC))
        .orderBy(col("v1"), col("v2")))
  )

  private[ops] val trigramDuck =
    "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)]"

  /** DuckDB CTE fragment replicating `minhashLshPairs(..,
    * pairBudgetPerDoc = Some(budgetPerDoc))` over an existing relation
    * `in`(doc_id, text): same md5/derived-hash signatures, banding, the
    * adaptive-cap derivation (running pair count over the ascending
    * bucket-size histogram — see the q79 oracle for the monotonicity
    * argument), and exact-Jaccard verification. Emits CTEs prefixed
    * `mh_`; the final one is `mh_pairs(d1, d2, jaccard)` with d1 < d2.
    * Spliced into the q49 oracle directly (so the Spark operator and its
    * oracle share ONE cap derivation — the adaptive-caps-need-oracle-
    * replication rule) and into composed-pipeline oracles (q121/q122).
    *
    * `gramsRel` (a relation shaped (doc_id, grams)) makes the splice
    * REUSE a gram table the host query already builds instead of
    * shingling `in` a second time (round-7 ADVICE: the q122 oracle paid
    * the trigram construction twice). `gate` is a boolean SQL scalar
    * injected at the pipeline's FIRST expensive step (the per-shingle
    * md5): when the host query's routing predicate says this arm is
    * dead, the whole signature/banding/verify chain runs on zero rows
    * instead of materializing an unused result (DuckDB evaluates every
    * CTE arm of a UNION regardless of the arms' scalar WHEREs).
    */
  private[ops] def minhashPairsDuck(in: String, budgetPerDoc: Int,
                                    gramsRel: Option[String] = None,
                                    gate: Option[String] = None): String = {
    val g0 = gramsRel match {
      case Some(rel) => s"mh_g0 AS (SELECT doc_id, grams FROM $rel)"
      case None =>
        s"""mh_g0 AS (
          |  SELECT doc_id, list_distinct($trigramDuck) AS grams
          |  FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM $in))""".stripMargin
    }
    val gateSql = gate.map(g => s" WHERE ($g)").getOrElse("")
    s"""$g0,
      |mh_g AS (SELECT doc_id, unnest(grams) AS gram FROM mh_g0$gateSql),
      |mh_h AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv FROM mh_g),
      |mh_mh AS (
      |  SELECT doc_id, s,
      |    min(((hv % $HASH_P) * (2 * s + 1) + 7919 * s) % $HASH_P) AS mh
      |  FROM mh_h CROSS JOIN (SELECT unnest(range(0, $NUM_SEEDS)) AS s) seeds
      |  GROUP BY doc_id, s),
      |mh_bands AS (
      |  SELECT doc_id, s // $ROWS_PER_BAND AS band,
      |    string_agg(mh::VARCHAR, '|' ORDER BY s) AS bkey
      |  FROM mh_mh GROUP BY doc_id, s // $ROWS_PER_BAND),
      |mh_bsz AS (SELECT band, bkey, count(*) AS sz FROM mh_bands
      |           GROUP BY band, bkey HAVING count(*) >= 2),
      |mh_run AS (SELECT sz, sum(n * (sz * (sz - 1) // 2)) OVER (ORDER BY sz) AS cum
      |           FROM (SELECT sz, count(*) AS n FROM mh_bsz GROUP BY sz)),
      |mh_cap AS (SELECT greatest($BAND_CAP, coalesce(max(sz) FILTER (
      |             WHERE cum <= $budgetPerDoc * (SELECT count(*) FROM $in)), 0)) AS c
      |           FROM mh_run),
      |mh_ok AS (SELECT band, bkey FROM mh_bsz, mh_cap WHERE sz <= mh_cap.c),
      |mh_cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM mh_bands a JOIN mh_bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |  JOIN mh_ok ON mh_ok.band = a.band AND mh_ok.bkey = a.bkey),
      |mh_pairs AS (
      |  SELECT d1, d2,
      |    round(len(list_intersect(ga.grams, gb.grams))::DOUBLE /
      |      (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams))), 6)
      |      AS jaccard
      |  FROM mh_cand
      |  JOIN mh_g0 ga ON ga.doc_id = mh_cand.d1
      |  JOIN mh_g0 gb ON gb.doc_id = mh_cand.d2
      |  WHERE len(list_intersect(ga.grams, gb.grams))::DOUBLE /
      |    (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)))
      |    >= $JACCARD_T)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the whole pipeline — signatures, banding, the ADAPTIVE cap
    // derivation (budget 1000/doc, BAND_CAP floor), verification — is
    // the shared minhashPairsDuck splice, so the oracle re-derives the
    // same cap the Spark side computes instead of pinning the static
    // floor (which would false-alarm the first time a dup-heavy corpus
    // pushes a bucket past 200 and the budget admits it)
    "q49_minhash_lsh" ->
      s"""WITH ${minhashPairsDuck("documents", 1000)}
        |SELECT d1, d2, jaccard FROM mh_pairs
        |ORDER BY d1, d2""".stripMargin,

    "q55_embedding_neardup" ->
      s"""WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> round(x::DOUBLE * 10000, 0)::BIGINT) AS q
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, q,
        |    list_sum(list_transform(list_zip(q, q), p -> p[1] * p[2]))::BIGINT AS norm FROM e)
        |SELECT a.vec_id AS v1, b.vec_id AS v2, a.label AS label,
        |  list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2]))::BIGINT::DOUBLE
        |    / sqrt(a.norm::DOUBLE) / sqrt(b.norm::DOUBLE) AS cos
        |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2]))::BIGINT::DOUBLE
        |    / sqrt(a.norm::DOUBLE) / sqrt(b.norm::DOUBLE) >= $COS_T
        |ORDER BY v1, v2""".stripMargin,

    "q97_srp_lsh" ->
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> round(x::DOUBLE * 10000, 0)::BIGINT) AS q
        |  FROM embeddings),
        |n AS (SELECT vec_id, q,
        |    list_sum(list_transform(list_zip(q, q), p -> p[1] * p[2]))::BIGINT AS norm FROM e),
        |bands AS (
        |  SELECT vec_id, b,
        |    list_sum([CASE WHEN
        |      list_sum([q[k + 1] * ((((b * $SRP_BITS + r) * 1000003 + k * 7919) * 2654435761) % 2001 - 1000)
        |                FOR k IN range(0, len(q))]) >= 0
        |      THEN (1 << r) ELSE 0 END FOR r IN range(0, $SRP_BITS)])::BIGINT AS code
        |  FROM n CROSS JOIN (SELECT unnest(range(0, $SRP_BANDS)) AS b) bs),
        |bsz0 AS (SELECT b, code, count(*) AS sz FROM bands GROUP BY b, code
        |         HAVING count(*) >= 2),
        |run AS (SELECT sz, sum(nb * (sz * (sz - 1) // 2)) OVER (ORDER BY sz) AS cum
        |        FROM (SELECT sz, count(*) AS nb FROM bsz0 GROUP BY sz)),
        |cap AS (SELECT greatest($BAND_CAP, coalesce(max(sz) FILTER (
        |          WHERE cum <= 1000 * (SELECT count(*) FROM embeddings)), 0)) AS c
        |        FROM run),
        |bsz AS (SELECT b, code FROM bsz0, cap WHERE sz <= cap.c),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS v1, b2.vec_id AS v2
        |  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.code = b2.code AND a.vec_id < b2.vec_id
        |  JOIN bsz ON bsz.b = a.b AND bsz.code = a.code)
        |SELECT v1, v2,
        |  list_sum(list_transform(list_zip(x.q, y.q), p -> p[1] * p[2]))::BIGINT::DOUBLE
        |    / sqrt(x.norm::DOUBLE) / sqrt(y.norm::DOUBLE) AS cos
        |FROM cand JOIN n x ON x.vec_id = cand.v1 JOIN n y ON y.vec_id = cand.v2
        |WHERE list_sum(list_transform(list_zip(x.q, y.q), p -> p[1] * p[2]))::BIGINT::DOUBLE
        |    / sqrt(x.norm::DOUBLE) / sqrt(y.norm::DOUBLE) >= $COS_T
        |ORDER BY v1, v2""".stripMargin
  )

  /** All id pairs within `maxHamming` of each other over an integer
    * fingerprint column, via pigeonhole banding (`bands` bands of
    * `bandBits` bits; `bands` must be ≥ maxHamming+1 for exact recall)
    * — SKEW-SAFE through the dedup-first discipline (q50b): identical
    * fingerprints collapse to one min-id representative BEFORE the
    * band join, so identical-content mass (the realistic web-crawl
    * pathology: blank thumbnails, logos, silence clips — every copy in
    * ONE bucket) never enters the candidate join; the join runs over
    * DISTINCT fingerprints, whose per-bucket load is bounded by hash-
    * space geometry, not content popularity. Member pairs then expand
    * back from the matched fingerprints: within-group pairs at hamming
    * 0 plus cross-group member pairs at the reps' distance. The
    * EXPANSION is the caller's output contract — a million-copy group
    * emits its quadratic pair set (pair semantics say so); callers
    * wanting cluster semantics feed the reps to q75's connected
    * components instead. Band width is the scale knob: 2^bandBits
    * buckets saturate at corpus ~ sqrt(2 · 2^bandBits / bands) distinct
    * fingerprints (SCALING.md "Round-13 addendum 3") — widen bandBits
    * with the corpus. */
  def hammingPairs(hashed: DataFrame, idCol: String, hashCol: String,
                   bands: Int, bandBits: Int, maxHamming: Int,
                   pairBudgetPerDoc: Option[Int] = DEFAULT_PAIR_BUDGET): DataFrame = {
    require(bands >= maxHamming + 1,
      s"bands=$bands cannot guarantee recall at maxHamming=$maxHamming")
    // Java long shifts wrap mod 64: a top-band shift of >= 64 silently
    // aliases band 0's key, quietly breaking the pigeonhole guarantee
    require(bands.toLong * bandBits <= 64,
      s"bands=$bands x bandBits=$bandBits exceeds the 64-bit fingerprint")
    val groups = hashed
      .groupBy(col(hashCol).as("h"))
      .agg(min(col(idCol)).as("rep"), collect_list(col(idCol)).as("ids"))
      .localCheckpoint() // banding + both expansion sides read it
    // the checkpoint has already materialized the groups, so the count
    // (the saturation sentinel — SCALING.md r13 addendum 3's rule, now
    // enforced in code instead of prose) is a cheap cached-RDD pass.
    // The sentinel runs on BOTH branches (ADVICE r16 #2): under the
    // default budget, shedding without the geometry-outgrown signal
    // would hide exactly the condition the operator must react to —
    // and the budgeted branch pays the same count for its fast path
    // anyway, so the warning is free
    val nGroups = groups.count()
    warnIfSaturated(nGroups, bands, bandBits)
    val bandsDf = groups.select(col("h"), col("rep"),
        expr(narrowBandExplode(bands, bandBits, "h")).as("bk"))
      .select(col("h"), col("rep"), col("bk.b").as("b"), col("bk.k").as("k"))
    val banded = pairBudgetPerDoc match {
      case None => bandsDf
      // fast path for the (round-16) default budget: a band bucket
      // holds DISTINCT fingerprints, so no bucket can exceed the
      // group count — when that is within the BAND_CAP floor nothing
      // can shed and the measurement job is skipped outright
      case Some(_) if nGroups <= BAND_CAP => bandsDf
      case Some(perDoc) =>
        // sum over zero rows is NULL — guard the empty-input frame
        val itemsRow = groups.agg(sum(size(col("ids")))).head
        val items = if (itemsRow.isNullAt(0)) 0L else itemsRow.getLong(0)
        dropHotBuckets(bandsDf, Seq("b", "k"), BAND_CAP, perDoc.toLong * items)
    }
    // candidate join over DISTINCT fingerprints only
    val repPairs = banded.as("a").join(banded.as("c"),
        col("a.b") === col("c.b") && col("a.k") === col("c.k") &&
          col("a.rep") < col("c.rep"))
      .select(col("a.h").as("h1"), col("c.h").as("h2")).distinct()
      .withColumn("hamming", expr("bit_count(h1 ^ h2)").cast("long"))
      .filter(col("hamming") <= maxHamming)
    expandGroupPairs(repPairs, groups)
  }

  /** Member-pair expansion shared by every dedup-first hamming family:
    * cross-group pairs at the matched representatives' distance,
    * within-group hamming-0 pairs among identical copies. The `h1`/`h2`
    * join keys may be any equi-joinable fingerprint type (long or
    * array<long>). */
  private def expandGroupPairs(repPairs: DataFrame,
                               groups: DataFrame): DataFrame = {
    // cross-group expansion: every member pair of two matched groups
    val cross = repPairs
      .join(groups.select(col("h").as("h1"), col("ids").as("ids1")), "h1")
      .join(groups.select(col("h").as("h2"), col("ids").as("ids2")), "h2")
      .select(explode(col("ids1")).as("i1"), col("ids2"), col("hamming"))
      .select(col("i1"), explode(col("ids2")).as("i2"), col("hamming"))
    // within-group expansion: hamming-0 pairs among identical copies
    val within = groups.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("i1"), col("ids"))
      .select(col("i1"), explode(col("ids")).as("i2"))
      .filter(col("i1") < col("i2"))
      .withColumn("hamming", lit(0L))
    cross.unionByName(within)
      .select(least(col("i1"), col("i2")).as("m1"),
              greatest(col("i1"), col("i2")).as("m2"), col("hamming"))
  }

  /** Per-band key-extraction SQL over a WIDE fingerprint held as
    * `array<bigint>` little-endian words (word 1 = bits 0–63, word 2 =
    * bits 64–127, …): band b covers bits [b·bandBits, (b+1)·bandBits),
    * sliced with an unsigned shift out of its low word and, when the
    * band straddles a word boundary, OR-ed with the high word's
    * contribution. All offsets are Scala-side constants, so the
    * generated expression is branch-free per band and stays inside
    * whole-stage codegen. */
  private[graft] def wideBandKeySql(b: Int, bandBits: Int, hCol: String): String = {
    val lo = b * bandBits
    val w0 = lo / 64; val off = lo % 64
    val base = s"shiftrightunsigned(element_at($hCol, ${w0 + 1}), $off)"
    val sliced =
      if (off + bandBits <= 64) base
      else s"($base | shiftleft(element_at($hCol, ${w0 + 2}), ${64 - off}))"
    s"($sliced & ${(1L << bandBits) - 1}L)"
  }

  /** [[hammingPairs]] past the 64-bit fingerprint ceiling: the
    * fingerprint is an `array<bigint>` of little-endian words (bit i
    * lives in word i/64 at position i%64 — the layout
    * [[graft.multimodal.MediaOps.dHashWide]] emits), `fpBits` its
    * total width. Same dedup-first discipline, same pigeonhole recall
    * guarantee (bands ≥ maxHamming+1 ⇒ any pair within maxHamming
    * shares an exact band), same optional candidate budget — but band
    * geometry now scales with the corpus instead of being boxed by one
    * long: SCALING.md round-13 addendum 3 measured 3×14-bit buckets
    * saturating at N ~ 10⁵ images and recorded "widen the fingerprint"
    * as the production rule; a 16×8 dHash grid (120 bits, 3×40-bit
    * bands = 10¹² buckets) holds the linear-candidates regime past any
    * realistic image corpus. Hamming distance is the word-wise popcount
    * sum (one zip_with, codegen-friendly).
    *
    * Layout contract: `fpBits` is the PHYSICAL bit capacity banded over
    * (≤ 64 × words), and bands slice physical word-bit positions.
    * SPARSE layouts — packers that leave dead bits per word, like
    * [[TextOps.simhashWideSignaturesOf]]'s 60-bits-per-word packing —
    * are sound as long as every signature shares the SAME layout: dead
    * bits are constant across signatures, so they contribute 0 to every
    * popcount and a constant slice to every band key; the pigeonhole
    * guarantee then holds over the physical positions (≤ maxHamming
    * differing physical bits still leave one clean band). What is NOT
    * sound is mixing two packings of the same logical fingerprint in
    * one frame — the caller owns layout consistency. */
  def hammingPairsWide(hashed: DataFrame, idCol: String, hashCol: String,
                       fpBits: Int, bands: Int, bandBits: Int,
                       maxHamming: Int,
                       pairBudgetPerDoc: Option[Int] = DEFAULT_PAIR_BUDGET): DataFrame = {
    require(bands >= maxHamming + 1,
      s"bands=$bands cannot guarantee recall at maxHamming=$maxHamming")
    require(bandBits >= 1 && bandBits <= 63,
      s"bandBits=$bandBits must fit a band key in one signed long")
    require(bands.toLong * bandBits <= fpBits,
      s"bands=$bands x bandBits=$bandBits exceeds the $fpBits-bit fingerprint")
    val groups = hashed
      .groupBy(col(hashCol).as("h"))
      .agg(min(col(idCol)).as("rep"), collect_list(col(idCol)).as("ids"))
      .localCheckpoint()
    // both branches keep the sentinel (ADVICE r16 #2, same reasoning
    // as the narrow form — the count also feeds the fast path)
    val nGroups = groups.count()
    warnIfSaturated(nGroups, bands, bandBits)
    val bandsDf = groups.select(col("h"), col("rep"),
        expr(wideBandExplode(bands, bandBits, "h")).as("bk"))
      .select(col("h"), col("rep"), col("bk.b").as("b"), col("bk.k").as("k"))
    val banded = pairBudgetPerDoc match {
      case None => bandsDf
      // same fast path as the narrow form: distinct fingerprints bound
      // every bucket, so a group count within the floor cannot shed
      case Some(_) if nGroups <= BAND_CAP => bandsDf
      case Some(perDoc) =>
        // sum over zero rows is NULL — guard the empty-input frame
        val itemsRow = groups.agg(sum(size(col("ids")))).head
        val items = if (itemsRow.isNullAt(0)) 0L else itemsRow.getLong(0)
        dropHotBuckets(bandsDf, Seq("b", "k"), BAND_CAP, perDoc.toLong * items)
    }
    val repPairs = banded.as("a").join(banded.as("c"),
        col("a.b") === col("c.b") && col("a.k") === col("c.k") &&
          col("a.rep") < col("c.rep"))
      .select(col("a.h").as("h1"), col("c.h").as("h2")).distinct()
      .withColumn("hamming", expr(wideHammingSql("h1", "h2")).cast("long"))
      .filter(col("hamming") <= maxHamming)
    expandGroupPairs(repPairs, groups)
  }

  /** TEMPORAL near-duplicate pairs over per-frame fingerprint sequences
    * — the video modality's near-dup operator (VERDICT r13 missing #2):
    * two videos are near-duplicates when ≥ `minAgree` of their sampled
    * frame POSITIONS carry fingerprints within `maxHamming` of each
    * other. Input is one row per (video, frame_idx, fingerprint) (the
    * shape [[graft.multimodal.MediaOps.frameDHash]] emits); frame
    * comparison is position-aligned, so a re-encode (every frame hash
    * near-identical) votes n-of-n while a one-frame edit votes n−1 and
    * an unrelated video essentially never reaches the threshold.
    *
    * Topology: the q154 dedup-first discipline applied PER POSITION —
    * identical (frame_idx, fingerprint) values collapse to a min-id
    * representative before the band join (a shared intro/outro frame
    * across a million videos is ONE row per band, not a bucket flood),
    * candidates form on a (frame_idx, band, key) equi-join over
    * distinct per-position fingerprints with the same pigeonhole
    * guarantee per frame, member pairs expand back, and the agreement
    * vote is one groupBy over (video, video) pair rows — each stage
    * shuffles on bounded keys, nothing quadratic in the corpus. Per-
    * frame detection is EXACT (pigeonhole), so the vote equals the
    * exhaustive per-pair count as long as no bucket is dropped; with
    * `pairBudgetPerDoc`, saturated positions stop emitting candidates
    * instead of exploding: these positional rows are intermediate
    * agreement EVIDENCE, not output, and a frame every video shares
    * (the black intro frame — the temporalStudy pathology) would
    * otherwise materialize C(corpus, 2) evidence rows at one position
    * before the vote throws them away. A dropped shared position costs
    * a true pair at most ONE vote — the DF-cap trade on
    * stop-positions — and EXACT re-uploads are immune to every cap:
    * the dedup-first discipline is applied at the SEQUENCE level
    * first (round-14 review find), so videos whose entire fingerprint
    * sequences are identical collapse to one representative before
    * any positional work, vote through their copy-count-independent
    * rep, and expand back at the end (their member-pair output is the
    * caller's contract, exactly as in [[hammingPairs]] — a 500-wide
    * re-upload cluster emits its C(500, 2) pairs with full votes no
    * matter how tight the budget).
    *
    * Output: (m1, m2, n_agree, ham_sum) — agreeing-position count and
    * the summed distance over those positions (0 for exact re-uploads). */
  def temporalNearDupPairs(frames: DataFrame, idCol: String, frameCol: String,
                           hashCol: String, bands: Int, bandBits: Int,
                           maxHamming: Int, minAgree: Int,
                           pairBudgetPerDoc: Option[Int] = DEFAULT_PAIR_BUDGET): DataFrame = {
    require(bands >= maxHamming + 1,
      s"bands=$bands cannot guarantee recall at maxHamming=$maxHamming")
    require(bands.toLong * bandBits <= 64,
      s"bands=$bands x bandBits=$bandBits exceeds the 64-bit fingerprint — " +
        "use temporalNearDupPairsWide")
    temporalCore(frames, idCol, frameCol, hashCol, bands, bandBits,
      maxHamming, minAgree, pairBudgetPerDoc,
      narrowBandExplode(bands, bandBits, _), narrowHammingSql)
  }

  /** [[temporalNearDupPairs]] past the 64-bit per-frame fingerprint —
    * the wide-geometry scale path for video corpora past ~10⁵ distinct
    * sequences PER POSITION (VERDICT r14 #1a: at 10⁶⁺ every frame
    * position saturates the 3×14 narrow geometry simultaneously and
    * the budget cap starts shedding votes; a 16×8 frame grid at
    * 3×40-bit bands = 10¹² buckets per position holds the
    * linear-candidates regime instead — the cap then only has to
    * handle shared-frame mass, its real job). Per-frame fingerprints
    * are `array<bigint>` little-endian words (the
    * [[graft.multimodal.MediaOps.frameDHashWide]] layout); same
    * sequence-level dedup-first, per-position pigeonhole, agreement
    * vote, and budget discipline as the narrow form — identical
    * output contract, and [[hammingPairsWide]]'s sparse-layout
    * contract applies verbatim (fpBits = physical capacity). */
  def temporalNearDupPairsWide(frames: DataFrame, idCol: String,
                               frameCol: String, hashCol: String, fpBits: Int,
                               bands: Int, bandBits: Int, maxHamming: Int,
                               minAgree: Int,
                               pairBudgetPerDoc: Option[Int] = DEFAULT_PAIR_BUDGET): DataFrame = {
    require(bands >= maxHamming + 1,
      s"bands=$bands cannot guarantee recall at maxHamming=$maxHamming")
    require(bandBits >= 1 && bandBits <= 63,
      s"bandBits=$bandBits must fit a band key in one signed long")
    require(bands.toLong * bandBits <= fpBits,
      s"bands=$bands x bandBits=$bandBits exceeds the $fpBits-bit fingerprint")
    temporalCore(frames, idCol, frameCol, hashCol, bands, bandBits,
      maxHamming, minAgree, pairBudgetPerDoc,
      wideBandExplode(bands, bandBits, _), wideHammingSql)
  }

  /** The narrow (one-long) per-band key explosion, shared by the long
    * hamming family's call sites. */
  private def narrowBandExplode(bands: Int, bandBits: Int,
                                hCol: String): String =
    s"explode(transform(sequence(0, ${bands - 1}), " +
      s"b -> struct(b AS b, shiftright($hCol, b * $bandBits) & " +
      s"${(1L << bandBits) - 1} AS k)))"

  /** The wide (array<bigint>) per-band key explosion: one
    * [[wideBandKeySql]] slice per band, constant-folded per band index
    * so the whole expression stays in whole-stage codegen. */
  private def wideBandExplode(bands: Int, bandBits: Int,
                              hCol: String): String = {
    val structs = (0 until bands)
      .map(b => s"named_struct('b', $b, 'k', ${wideBandKeySql(b, bandBits, hCol)})")
    s"explode(array(${structs.mkString(", ")}))"
  }

  private def narrowHammingSql(a: String, b: String): String =
    s"bit_count($a ^ $b)"

  private def wideHammingSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> bit_count(x ^ y)), " +
      "0, (acc, v) -> acc + v)"

  /** The width-generic temporal voter behind both public forms: every
    * stage (sequence grouping, per-position grouping, banding, budget,
    * expansion, vote) is fingerprint-type-agnostic — Spark groups,
    * sorts, and equi-joins array<bigint> exactly like long — so the
    * ONLY width-specific pieces are the band-key explosion and the
    * hamming expression, injected as SQL builders. */
  private def temporalCore(frames: DataFrame, idCol: String, frameCol: String,
                           hashCol: String, bands: Int, bandBits: Int,
                           maxHamming: Int, minAgree: Int,
                           pairBudgetPerDoc: Option[Int],
                           bandExplode: String => String,
                           hammingSql: (String, String) => String): DataFrame = {
    // SEQUENCE-level dedup-first: one representative per distinct
    // full fingerprint sequence enters the positional machinery
    val seqGroups = frames
      .groupBy(col(idCol).as("vid"))
      .agg(sort_array(collect_list(struct(col(frameCol).as("f"),
        col(hashCol).as("h")))).as("seq"))
      .groupBy(col("seq"))
      .agg(min(col("vid")).as("srep"), collect_list(col("vid")).as("vids"))
      .localCheckpoint()
    val repFrames = seqGroups.select(col("srep"), explode(col("seq")).as("fh"))
      .select(col("srep").as("vid"), col("fh.f").as("f"), col("fh.h").as("h"))
    // per-position groups over sequence REPS (the q154 discipline per
    // position, now guaranteed free of exact-re-upload mass)
    val groups = repFrames
      .groupBy(col("f"), col("h"))
      .agg(min(col("vid")).as("rep"), collect_list(col("vid")).as("ids"))
      .localCheckpoint()
    // the saturation model is per KEYSPACE, and each frame position is
    // its own (position, band, key) keyspace — feeding the global
    // distinct count would over-warn by ~numPositions (review find);
    // the sentinel watches the most loaded position instead. It runs
    // on BOTH branches (ADVICE r16 #2 — budgeted shedding without the
    // geometry-outgrown signal hides the condition to react to), but
    // behind a conservative zero-extra-job screen: the global rep
    // count (a cached pass the budgeted fast path pays anyway) bounds
    // every position's keyspace, so the per-position count job runs
    // only when the screen itself saturates
    if (!saturationSafe(seqGroups.count(), bands, bandBits)) {
      val maxPos = groups.groupBy(col("f")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head
      warnIfSaturated(if (maxPos.isNullAt(0)) 0L else maxPos.getLong(0),
        bands, bandBits)
    }
    val bandsDf = groups.select(col("f"), col("h"), col("rep"),
        expr(bandExplode("h")).as("bk"))
      .select(col("f"), col("h"), col("rep"),
              col("bk.b").as("b"), col("bk.k").as("k"))
    // ONE cap over the combined size histogram: band buckets (distinct
    // fingerprints per (position, band, key)) AND same-position
    // identical-fingerprint group sizes — both feed quadratic evidence
    // volume, so both walk the same budget. gExp = the groups still
    // eligible to expand into positional evidence.
    val (banded, gExp) = pairBudgetPerDoc match {
      case None => (bandsDf, groups)
      // fast path for the default budget: per-position bucket sizes
      // AND identical-fingerprint group sizes are both bounded by the
      // sequence-rep count (one hash per rep per position) — within
      // the floor nothing can shed, and the count is a cached-RDD
      // pass over the checkpointed seqGroups
      case Some(_) if seqGroups.count() <= BAND_CAP => (bandsDf, groups)
      case Some(perDoc) =>
        val itemsRow = seqGroups.agg(sum(size(col("vids")))).head
        val items = if (itemsRow.isNullAt(0)) 0L else itemsRow.getLong(0)
        // ONE measurement job (histogram only); the checkpoint and the
        // anti-join/filter nodes materialize ONLY when a class sheds —
        // with the budget now the default, the healthy-corpus plan must
        // stay bit-identical to the historical uncapped one
        val hist = ScaleOps.boundedCollect(
          bandsDf.groupBy(col("f"), col("b"), col("k"))
            .agg(count(lit(1)).as("sz")).select(col("sz"))
            .unionByName(groups.select(size(col("ids")).cast("long").as("sz")))
            .groupBy(col("sz")).agg(count(lit(1)).as("n")),
          1L << 20, "temporal bucket-size histogram")
          .map(r => (r.getLong(0).toInt, r.getLong(1)))
        val cap = capFromHist(hist, BAND_CAP, perDoc.toLong * items)
        if (hist.forall(_._1 <= cap)) (bandsDf, groups)
        else {
          val bucketSizes = bandsDf.groupBy(col("f"), col("b"), col("k"))
            .agg(count(lit(1)).as("sz")).localCheckpoint()
          (bandsDf.join(bucketSizes.filter(col("sz") > cap)
              .select(col("f"), col("b"), col("k")), Seq("f", "b", "k"), "left_anti"),
           groups.filter(size(col("ids")) <= cap))
        }
    }
    // matched fingerprint pairs per frame position
    val repPairs = banded.as("a").join(banded.as("c"),
        col("a.f") === col("c.f") && col("a.b") === col("c.b") &&
          col("a.k") === col("c.k") && col("a.rep") < col("c.rep"))
      .select(col("a.f").as("f"), col("a.h").as("h1"), col("c.h").as("h2"))
      .distinct()
      .withColumn("hamming", expr(hammingSql("h1", "h2")).cast("long"))
      .filter(col("hamming") <= maxHamming)
    // positional expansion over sequence reps: a rep has ONE hash per
    // position, so each rep pair contributes at most one row per
    // position (cross if the hashes differ, within if identical)
    val cross = repPairs
      .join(gExp.select(col("f"), col("h").as("h1"), col("ids").as("ids1")),
        Seq("f", "h1"))
      .join(gExp.select(col("f"), col("h").as("h2"), col("ids").as("ids2")),
        Seq("f", "h2"))
      .select(col("f"), explode(col("ids1")).as("i1"), col("ids2"), col("hamming"))
      .select(col("f"), col("i1"), explode(col("ids2")).as("i2"), col("hamming"))
    val within = gExp.filter(size(col("ids")) > 1)
      .select(col("f"), explode(col("ids")).as("i1"), col("ids"))
      .select(col("f"), col("i1"), explode(col("ids")).as("i2"))
      .filter(col("i1") < col("i2"))
      .withColumn("hamming", lit(0L))
    val repVotes = cross.unionByName(within)
      .select(col("f"), least(col("i1"), col("i2")).as("m1"),
              greatest(col("i1"), col("i2")).as("m2"), col("hamming"))
      .groupBy(col("m1"), col("m2"))
      .agg(count(lit(1)).as("n_agree"), sum(col("hamming")).as("ham_sum"))
      .filter(col("n_agree") >= minAgree)
    // sequence-group expansion: a rep-pair verdict applies to every
    // member pair of the two groups (output-sized by contract), and
    // same-sequence member pairs agree everywhere at distance 0 —
    // budget-immune, like every dedup-first within-expansion
    val cross2 = repVotes
      .join(seqGroups.select(col("srep").as("m1"), col("vids").as("vids1")), "m1")
      .join(seqGroups.select(col("srep").as("m2"), col("vids").as("vids2")), "m2")
      .select(explode(col("vids1")).as("i1"), col("vids2"),
              col("n_agree"), col("ham_sum"))
      .select(col("i1"), explode(col("vids2")).as("i2"),
              col("n_agree"), col("ham_sum"))
    val within2 = seqGroups.filter(size(col("vids")) > 1)
      .withColumn("n_agree", size(col("seq")).cast("long"))
      .filter(col("n_agree") >= minAgree)
      .withColumn("ham_sum", lit(0L))
      .select(explode(col("vids")).as("i1"), col("vids"),
              col("n_agree"), col("ham_sum"))
      .select(col("i1"), explode(col("vids")).as("i2"),
              col("n_agree"), col("ham_sum"))
      .filter(col("i1") < col("i2"))
    cross2.unionByName(within2)
      .select(least(col("i1"), col("i2")).as("m1"),
              greatest(col("i1"), col("i2")).as("m2"),
              col("n_agree"), col("ham_sum"))
  }
}
