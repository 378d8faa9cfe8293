package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.{adcFold, ldot, nearestCentroid, pqEncode}

/** Embedding similarity-search operators (SURVEY.md §2.9): brute-force
  * cosine top-k as the exact baseline and an IVF-style bucketed variant
  * as the scale path, over the `embeddings` fixture
  * (`embedding: array<float>`, `label: int` = cluster/cell id).
  *
  * Cross-engine float determinism: vectors are quantized to integers
  * (round(x * 10^4)) so dot products and norms are EXACT int64 sums —
  * order-insensitive — and cosine = dot / sqrt(na) / sqrt(nb) is then a
  * fixed sequence of IEEE ops on identical inputs, giving bit-identical
  * doubles in Spark and DuckDB. Top-k ties break on vec_id.
  *
  * Scale notes: the query side is tiny and broadcast; the corpus side
  * streams — a 100 TB corpus scan stays embarrassingly parallel with no
  * shuffle until the per-query top-k agg. The IVF variant prunes the
  * corpus to the query's cell before the distance computation, which is
  * the standard recall/throughput trade at billion-vector scale.
  */
object VectorOps {

  /** Quantized int64 vector: round(x * 10^4). The ONE definition every
    * Spark-side embedding op quantizes through (DedupOps included) — the
    * cross-engine gate depends on all copies of this formula staying
    * byte-identical, so there are no other Spark-side copies.
    */
  private[graft] val quantExpr =
    "transform(embedding, x -> cast(round(cast(x AS double) * 10000, 0) AS bigint))"

  /** Lineage pin for the iterative builds: a RELIABLE checkpoint when a
    * dir is set — surviving executor loss, the 100 TB build setting
    * (same contract as GraphOps.connectedComponents) — and executor-local
    * blocks otherwise (single-node dev loop; cheaper, but an executor
    * loss mid-build kills the job).
    */
  private def pin(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        df.sparkSession.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }


  private val NUM_QUERIES = 10

  /** First seed vec_id for every deterministic init (coarse k-means AND
    * per-sub-space PQ): seeds are drawn from [SEED_FROM, SEED_FROM + k),
    * deliberately DISJOINT from the benchmark query set (vec_id <
    * NUM_QUERIES). The old first-k init contained the queries themselves
    * — a recall-methodology confound (the index was seeded by the very
    * vectors it would be measured on; SCALING.md round-10's md5-seeding
    * experiment exposed it). Holding queries out of the build makes the
    * committed recall tables honest; cell ids renumber to 0..k-1.
    */
  private[graft] val SEED_FROM = NUM_QUERIES

  // ---- k-means IVF index CONSTRUCTION (q124) -------------------------
  // q52/q64 probe cells that something else built; this is the builder:
  // Lloyd's algorithm as pure DataFrame ops. Assignment holds the k
  // (sum-vector, count) rational centroids as a literal against the
  // streaming corpus — one compiled nearest-centroid call per vector,
  // NO shuffle; the centroid update is one
  // map-side-combined groupBy over (cell, dim). That is the 100 TB
  // k-means topology (the corpus never moves; only k x dim partial
  // sums do). Distance uses the q64-proven exact-integer form:
  // ||x - s/n||^2 ~ sum_d (x_d*n - s_d)^2 / n^2 — numerator an exact
  // int64 (bit-identical cross-engine), the division one IEEE op.
  // Exactness envelope: |x_d*n - s_d| <= 2e4*n must square-sum under
  // 2^63 => n_cell <= ~19k members (gate SFs sit far inside; a
  // billion-vector build switches the comparison to double mean-space
  // distance, standard k-means practice). Ties break on cell id. Cells
  // that attract no members drop out (standard Lloyd behavior).

  /** Fail-fast guard on every deterministic init (round-11 ADVICE): a
    * filtered or non-contiguous-id corpus silently yielding fewer than
    * the expected seed rows would train a shrunken quantizer that still
    * hashes deterministically — fail by name instead, like the Tables
    * drift guards. */
  private def requireSeeds(got: Long, want: Long, what: String): Unit =
    require(got == want,
      s"$what: $got of $want deterministic seed rows present — vec_ids " +
      s"[$SEED_FROM, ...) must all exist in the build input; a filtered " +
      "or renumbered corpus cannot feed the deterministic init")

  /** Guard against re-introducing the query-in-training confound the
    * round-11 held-out init removed: seeds draw from vec_id >=
    * SEED_FROM, so any numQueries above it would put benchmark queries
    * back inside the codebook. */
  private def requireHeldOut(numQueries: Int): Unit =
    require(numQueries <= SEED_FROM,
      s"numQueries=$numQueries > SEED_FROM=$SEED_FROM would re-introduce " +
      "the query-in-training confound (seeds start at SEED_FROM)")

  /** Bounded held-out seeding sample for the coarse quantizer: the
    * quantized vectors with vec_id ∈ [SEED_FROM, SEED_FROM +
    * INIT_SAMPLE). Bounded regardless of corpus size — at 100 TB the
    * sample is one partition-pruned point read, and the greedy seeding
    * below is O(INIT_SAMPLE² · dim) driver arithmetic (≤ ~4M int ops),
    * the standard "seed on the coordinator, train distributed" split. */
  private[graft] val INIT_SAMPLE = 256

  /** Density-aware deterministic init (VERDICT r11 #1 — the round-11
    * tables showed the naive first-k-ids init losing to true-label
    * routing on both corpus shapes, with diagnosed cell starvation
    * under singleton consecutive-id seeds): k-center greedy
    * (farthest-point) over the bounded held-out sample.
    *
    *  - seed 0 = the sample point nearest the sample MEAN (exact
    *    integer form: minimize ‖x·n − Σ‖², ties on vec_id) — a density
    *    anchor, not an outlier;
    *  - seed i = the un-chosen sample point MAXIMIZING its min exact
    *    squared distance to the chosen set (ties on vec_id) — maximal
    *    spread, so no two seeds land in one dense blob and every
    *    region of the corpus gets a cell (the k-center 2-approximation
    *    guarantee, Gonzalez 1985).
    *
    * All arithmetic is exact int64 on the quantized vectors (|x| ≤ 2e4,
    * n ≤ 256 ⇒ Σ(x·n − s)² ≤ ~7e15 « 2^63), so the DuckDB oracle CTE
    * chain replays the pick sequence bit-identically. Cells are
    * numbered 0..k-1 in pick order. Queries (vec_id < SEED_FROM) stay
    * held out of the sample — the round-11 protocol.
    */
  private[graft] def kmeansInit(quant: DataFrame, k: Int): DataFrame = {
    val spark = quant.sparkSession
    val samp = quant
      .filter(col("vec_id") >= SEED_FROM && col("vec_id") < SEED_FROM + INIT_SAMPLE)
      .select(col("vec_id"), col("q")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(samp.length >= k,
      s"kmeansInit: only ${samp.length} held-out sample vectors in " +
      s"[$SEED_FROM, ${SEED_FROM + INIT_SAMPLE}) but k=$k seeds needed — " +
      "a filtered or renumbered corpus cannot feed the deterministic init")
    val n = samp.length.toLong
    val dim = samp(0)._2.length
    val mean = new Array[Long](dim)
    samp.foreach { case (_, q) =>
      var d = 0; while (d < dim) { mean(d) += q(d); d += 1 } }
    def d2mean(q: Array[Long]): Long = {
      var acc = 0L; var d = 0
      while (d < dim) { val t = q(d) * n - mean(d); acc += t * t; d += 1 }
      acc
    }
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var d = 0
      while (d < dim) { val t = a(d) - b(d); acc += t * t; d += 1 }
      acc
    }
    val first = samp.minBy { case (id, q) => (d2mean(q), id) }
    val chosen = scala.collection.mutable.ArrayBuffer(first)
    val chosenIds = scala.collection.mutable.HashSet(first._1)
    val minD = scala.collection.mutable.HashMap.empty[Long, Long]
    samp.foreach { case (id, q) => minD(id) = d2(q, first._2) }
    while (chosen.length < k) {
      val next = samp.iterator.filterNot(p => chosenIds(p._1))
        .maxBy { case (id, _) => (minD(id), -id) }
      chosen += next; chosenIds += next._1
      samp.foreach { case (id, q) =>
        val dd = d2(q, next._2); if (dd < minD(id)) minD(id) = dd }
    }
    import spark.implicits._
    chosen.toSeq.zipWithIndex
      .map { case ((_, q), cell) => (cell, q.toSeq, 1L) }
      .toDF("cell", "s", "n")
  }

  /** A centroid table collected to coordinator rows — k bounded entries,
    * the serve path's IvfPqMeta discipline applied to training. */
  private def centRowsOf(cents: DataFrame): Seq[(Int, Seq[Long], Long)] =
    cents.select(col("cell"), col("s"), col("n")).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1).toSeq

  /** Reference form of [[kmeansAssignRows]]' `NearestCentroid` as
    * higher-order SQL over a `_cents` (cell, s, n) literal column —
    * VectorExprSpec checks the kernel against it. */
  private[graft] val nearestCentroidHof =
    """array_min(transform(_cents, c -> struct(
      |  cast(aggregate(zip_with(q, c._2, (x, sc) -> (x * c._3 - sc) * (x * c._3 - sc)),
      |                 cast(0 AS bigint), (a, t) -> a + t) AS double)
      |    / cast(c._3 * c._3 AS double) AS dist,
      |  c._1 AS cell)))""".stripMargin

  /** One assignment pass: each vector to its nearest rational centroid
    * (dist asc, cell asc). Input `quant`: (vec_id, q, riders...);
    * `rows`: driver-held (cell, s, n). Output: the input plus (cell,
    * dist).
    *
    * Row-local: one compiled `NearestCentroid` call per vector against
    * the centroid literal — exact int64 numerators, one IEEE division,
    * ties to the lowest cell, bit-identical to [[nearestCentroidHof]].
    * There is no corpus exchange in a Lloyd round: the corpus never
    * moves, only kmeansUpdate's map-side-combined k×dim partial sums
    * do.
    */
  private[graft] def kmeansAssignRows(quant: DataFrame,
      rows: Seq[(Int, Seq[Long], Long)]): DataFrame =
    quant
      .withColumn("m", nearestCentroid(col("q"), typedLit(rows)))
      // rider columns (e.g. a filterable metadata attribute) pass
      // through untouched — assignment adds (cell, dist), drops nothing
      .withColumn("cell", col("m.cell"))
      .withColumn("dist", col("m.dist"))
      .drop("m")

  private[graft] def kmeansAssign(quant: DataFrame, cents: DataFrame): DataFrame =
    kmeansAssignRows(quant, centRowsOf(cents))

  /** MULTI-assignment: each vector's `p` nearest cells (same exact-int
    * distances, same (dist, cell) ordering), exploded to one row per
    * probed cell, with the PRIMARY assignment's distance carried on
    * every row (the keep-policy ranking key is a property of the
    * vector, not of the probed cell). Row-local like
    * [[kmeansAssignRows]]; the explode is bounded by p. */
  private[graft] def kmeansAssignTopP(quant: DataFrame, cents: DataFrame,
                                      p: Int): DataFrame =
    quant
      .withColumn("_cents", typedLit(centRowsOf(cents)))
      .withColumn("_ds", expr(
        """array_sort(transform(_cents, c -> struct(
          |  cast(aggregate(zip_with(q, c._2, (x, sc) -> (x * c._3 - sc) * (x * c._3 - sc)),
          |                 cast(0 AS bigint), (a, t) -> a + t) AS double)
          |    / cast(c._3 * c._3 AS double) AS dist,
          |  c._1 AS cell)))""".stripMargin))
      .withColumn("dist", expr("element_at(_ds, 1).dist"))
      .withColumn("cell", explode(expr(s"transform(slice(_ds, 1, $p), t -> t.cell)")))
      .drop("_cents", "_ds")

  /** Centroid update: per-cell exact integer sum vector + member count
    * (k x dim partial sums through the exchange, map-side combined).
    */
  private[graft] def kmeansUpdate(assigned: DataFrame,
                                  dim: Option[Int] = None): DataFrame =
    dim match {
      case Some(w) =>
        // fixed known width (the refine's Lloyd rounds pass the
        // centroid dimension): ONE hash aggregation with per-position
        // sums as plain columns — exact integer sums, bit-identical to
        // the exploded form, minus two shuffles and a join
        assigned.groupBy(col("cell"))
          .agg(expr(s"array(${(1 to w)
              .map(i => s"sum(element_at(q, $i))").mkString(", ")})").as("s"),
            count(lit(1)).as("n")) // k rows
      case None =>
        val sums = assigned
          .select(col("cell"), posexplode(col("q")).as(Seq("pos", "x")))
          .groupBy(col("cell"), col("pos")).agg(sum(col("x")).as("sd"))
          .groupBy(col("cell"))
          .agg(expr("transform(sort_array(collect_list(struct(pos, sd))), t -> t.sd)")
            .as("s"))
        val counts = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
        sums.join(broadcast(counts), "cell") // k rows: never a sort-merge
    }

  /** The full learned-index ANN lifecycle (q125, and the harness behind
    * its recall row): train the coarse router with [[kmeansFit]]
    * (`iters` Lloyd rounds from the density-aware greedy init, dead
    * cells re-seeded between rounds), then serve top-`topK` cosine
    * neighbors for the first `numQueries` vectors by probing ONLY the
    * query's learned cell — q52's probe shape with the label column
    * replaced by the index this engine built itself. At the gated
    * (k=10, iters=[[ROUTER_ITERS]]) the learned router BEATS the
    * fixture's own labels single-probe on both corpus shapes
    * (SCALING.md "Round 12", routing-only ceilings). Corpus streams,
    * queries broadcast; the cell equality is a row-local predicate on
    * the broadcast join.
    */
  def learnedCellTopK(emb: DataFrame, k: Int, numQueries: Int,
                      topK: Int,
                      checkpointDir: Option[String] = None,
                      iters: Int = ROUTER_ITERS,
                      fitted: Option[DataFrame] = None): DataFrame = {
    requireHeldOut(numQueries)
    val quant = pin(emb
      .withColumn("q", expr(quantExpr))
      .select(col("vec_id"), col("q")),
      checkpointDir) // shared by init + every assignment pass + serve
    val assigned =
      kmeansAssign(quant,
        fitted.getOrElse(kmeansFit(quant, k, iters, checkpointDir)))
        .withColumn("norm", ldot(col("q"), col("q")))
        .select(col("vec_id"), col("cell"), col("q"), col("norm"))
    val queriesDf = assigned.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("cell").as("qcell"),
              col("q").as("qv"), col("norm").as("qnorm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(queriesDf),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .withColumn("dot", ldot(col("q"), col("qv")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt(col("norm").cast("double")) / sqrt(col("qnorm").cast("double")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("cell"), col("vec_id"), col("cos"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  // ---- PQ: product-quantized codes + ADC probe (q126) ---------------
  // The third leg of the vector-index family (q51 brute force, q124/
  // q125 IVF): product quantization (Jegou, Douze, Schmid, "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011). The 64-dim
  // vector splits into PQ_M = 16 sub-spaces of PQ_SUBDIM = 4 dims; each
  // sub-space trains its own PQ_KSUB-centroid codebook (one Lloyd
  // round — q124's init/assign/update with `sub` carried through every
  // key), and a vector is then STORED as 16 4-bit codes: 8 bytes of
  // payload against 256 bytes of float32, the 32x compression that
  // makes a 100 TB embedding corpus a ~3 TB code table. The (M=16,
  // subdim=4) split was measured against (8,8) and (32,2) on the
  // clustered fixture — at EQUAL 8-byte payload, 16x4 roughly doubles
  // the serving stack's recall over 8x8 (finer sub-spaces cut ADC
  // ordering error faster than per-sub centroid count does); 32x2
  // gains further recall only by doubling the payload (SCALING.md
  // round-10 table). Probing is ADC (asymmetric distance computation):
  // the query stays un-encoded; per query ONE dense M x kSub table of
  // rational sub-distances is built (M*kSub rows of centroid math,
  // broadcast), and each corpus vector's approximate distance is a
  // row-local left-fold of M table lookups — one corpus scan with no
  // per-pair vector arithmetic, so the scan is memory-bandwidth-bound,
  // not FLOP-bound. Exactness envelope per sub-space:
  // PQ_SUBDIM * (2e4 * n_cell)^2 < 2^63 => n_cell <= ~75k members (vs
  // ~19k for the full-width q124 distance — narrower sub-vectors widen
  // the envelope). At 100 TB the codebook trains on a driver-chosen
  // sample (standard PQ practice; kSub*M centroids need only ~100k
  // vectors regardless of corpus size) and the encode pass + ADC scan
  // stay exactly this topology.

  private[graft] val PQ_M = 16
  private[graft] val PQ_SUBDIM = 4
  private[graft] val PQ_KSUB = 16

  /** Exploded sub-vectors: one row per (vector, sub-space). Rows grow
    * PQ_M-fold but shrink PQ_M-fold in width — bytes in flight are flat. */
  private[graft] def pqSubvectors(quant: DataFrame): DataFrame =
    quant
      .select(col("vec_id"), explode(expr(s"sequence(0, ${PQ_M - 1})")).as("sub"),
              col("q"))
      .select(col("vec_id"), col("sub"),
              expr(s"slice(q, sub * $PQ_SUBDIM + 1, $PQ_SUBDIM)").as("sq"))

  /** Per-sub-space singleton centroids from full-width seed vectors
    * (cell, v), in [[cbRowsOf]]'s layout: sub-space `sub` of seed
    * `cell` is v[sub*PQ_SUBDIM, (sub+1)*PQ_SUBDIM), count 1. */
  private def seedCodebook(seeds: Seq[(Int, Array[Long])])
      : Seq[Seq[(Int, Seq[Long], Long)]] =
    (0 until PQ_M).map(sub => seeds.sortBy(_._1).map { case (cell, v) =>
      (cell, v.slice(sub * PQ_SUBDIM, (sub + 1) * PQ_SUBDIM).toSeq, 1L) })

  /** Deterministic init, q124's held-out scheme per sub-space: the
    * PQ_KSUB lowest NON-QUERY vec_ids' sub-vectors as singleton
    * centroids, cells renumbered 0..PQ_KSUB-1. Input: (vec_id,
    * `vecCol`) full-width vectors; output: the ≤ PQ_M × PQ_KSUB seed
    * rows as coordinator state, [[cbRowsOf]]'s layout. */
  private[graft] def pqInit(vecs: DataFrame, vecCol: String)
      : Seq[Seq[(Int, Seq[Long], Long)]] = {
    val seeds = vecs
      .filter(col("vec_id") >= SEED_FROM && col("vec_id") < SEED_FROM + PQ_KSUB)
      .select(col("vec_id"), col(vecCol)).collect()
      .map(r => ((r.getLong(0) - SEED_FROM).toInt, r.getSeq[Long](1).toArray))
    requireSeeds(seeds.length.toLong, PQ_KSUB.toLong, "pqInit")
    seedCodebook(seeds.toSeq)
  }

  /** [[pqInit]] for training frames that need not contain the global
    * seed ids (a refine generation trains on ONE store region): the
    * PQ_KSUB lowest non-query vec_ids PRESENT, renumbered 0..KSUB-1 in
    * id order — the same held-out singleton-centroid discipline,
    * anchored to the frame instead of the id space. A region with fewer
    * than KSUB vectors just trains fewer codewords (the encode argmin
    * already ranges over present codes only). */
  private[graft] def pqInitPresent(vecs: DataFrame, vecCol: String)
      : Seq[Seq[(Int, Seq[Long], Long)]] =
    seedCodebook(vecs
      .filter(col("vec_id") >= SEED_FROM)
      .orderBy(col("vec_id")).limit(PQ_KSUB)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Long](0).toArray)
      .zipWithIndex.map { case (v, cell) => (cell, v) }.toSeq)

  /** One generalized-Lloyd round of the per-sub-space codebook from
    * driver-held `init` rows, row-local until the update: each vector is
    * PQ-encoded against `init` (its nearest codeword per sub-space,
    * exact-int64 distances, ties to the lowest code), the codes
    * posexplode to (sub, cell) rows next to the sub-vector slice, and
    * [[pqUpdate]] sums them — ONE aggregation, no join and no exploded
    * corpus×M×kSub distance rows. `posexplode_outer` + the null filter
    * keep Catalyst from inferring a size filter that would encode every
    * vector twice; the null codes it drops are sub-spaces with no
    * codeword. vec_id is the index key (one row per vector). Input:
    * (vec_id, `vecCol`); output: (sub, cell, s, n). */
  private[graft] def pqTrain(vecs: DataFrame, vecCol: String,
      init: Seq[Seq[(Int, Seq[Long], Long)]]): DataFrame =
    pqUpdate(vecs
      .select(posexplode_outer(pqCodesCol(col(vecCol), init)).as(Seq("sub", "cell")),
              col(vecCol).as("v"))
      .filter(col("cell").isNotNull)
      .select(col("sub"), col("cell"),
              expr(s"slice(v, sub * $PQ_SUBDIM + 1, $PQ_SUBDIM)").as("sq")))

  /** Per-(sub, cell) rational centroid update — q124's kmeansUpdate with
    * the sub-space id carried through both groupBys. kSub * M * dim
    * partial sums through the exchange, map-side combined. */
  private[graft] def pqUpdate(assigned: DataFrame): DataFrame =
    // ONE hash aggregation: the sub-vector width is the PQ_SUBDIM
    // constant, so the per-position sums are plain columns folded back
    // into an array — exact integer sums, order-independent, bit-
    // identical to the old posexplode → two groupBys → count join form
    // it replaces (which cost three shuffles and a join per codebook
    // fit; measured on the q176 refine's generation refit)
    assigned.groupBy(col("sub"), col("cell"))
      .agg(expr(s"array(${(1 to PQ_SUBDIM)
          .map(i => s"sum(element_at(sq, $i))").mkString(", ")})").as("s"),
        count(lit(1)).as("n")) // ≤ M×kSub rows

  /** The full PQ lifecycle (q126): train the per-sub-space codebook,
    * encode the corpus to PQ_M codes per vector, serve top-`topK` ADC
    * neighbors for the first `numQueries` vectors. The ADC sum is an
    * explicit left fold in sub-space order ([[adcFoldCol]]), so the
    * M-term IEEE summation is bit-deterministic cross-engine.
    */
  def pqAdcTopK(emb: DataFrame, numQueries: Int, topK: Int,
                checkpointDir: Option[String] = None): DataFrame = {
    requireHeldOut(numQueries)
    val spark = emb.sparkSession
    val quant = emb.withColumn("q", expr(quantExpr)).select(col("vec_id"), col("q"))
    val train = pin(quant, checkpointDir) // init + train
    val cents = pin(pqTrain(train, "q", pqInit(train, "q")),
      checkpointDir) // <= PQ_M * PQ_KSUB rows: the whole codebook
    // encode row-locally against the collected codebook (the training
    // above stays distributed) — no corpus×M exchange, no per-vector
    // collect_list shuffle
    val codes = quant
      .select(col("vec_id"), pqCodesCol(col("q"), cbRowsOf(cents)).as("codes"))
    // dense per-query ADC table over every (sub, cell) slot; slots Lloyd
    // dropped get +Infinity — no code can reference them, the filler only
    // keeps the positional index dense for element_at
    val grid = spark.range(PQ_M).select(col("id").cast("int").as("sub"))
      .crossJoin(spark.range(PQ_KSUB).select(col("id").cast("int").as("cell")))
    val qdist = pqSubvectors(train.filter(col("vec_id") < numQueries))
      .join(broadcast(cents), "sub")
      .withColumn("dn", expr(
        """aggregate(zip_with(sq, s, (x, sc) -> (x * n - sc) * (x * n - sc)),
          |          cast(0 AS bigint), (a, t) -> a + t)""".stripMargin))
      .withColumn("dist", col("dn").cast("double") /
                          (col("n") * col("n")).cast("double"))
      .select(col("vec_id").as("qid"), col("sub"), col("cell"), col("dist"))
    val qids = quant.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"))
    val dtabs = qids.crossJoin(grid)
      .join(broadcast(qdist), Seq("qid", "sub", "cell"), "left")
      .withColumn("dist", coalesce(col("dist"), lit(Double.PositiveInfinity)))
      .groupBy(col("qid"))
      .agg(expr("transform(sort_array(collect_list(struct(sub, cell, dist))), t -> t.dist)")
        .as("dtab"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
    codes.crossJoin(broadcast(dtabs))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adist", adcFoldCol)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("vec_id"), col("adist"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  // ---- IVF-PQ + exact re-rank (q127): the composed serving stack ----
  // The production billion-vector ANN architecture (FAISS's IVFADC+R;
  // Jegou et al. 2011 §V): a COARSE quantizer (q124's learned k-means
  // cells) routes each query to its `probes` nearest cells, the PQ code
  // table (q126) is ADC-scanned ONLY within those cells for `rerank`
  // candidates, and the final `topK` comes from re-scoring just those
  // candidates at full precision. At 100 TB the three stages price
  // independently: routing is k centroid distances per query (driver-
  // broadcast math), the scan touches probes/k of the code table (itself
  // 32x smaller than the raw corpus) with no per-pair float vector
  // arithmetic, and full-precision vectors are fetched for only
  // |queries| x rerank rows — the raw corpus is never joined wide.
  // Re-rank repairs ADC quantization error inside the probed cells;
  // recall is then bounded by cell routing alone (measured by the k-sweep
  // for the probe side, SCALING.md "Round-9: first embedding-family recall
  // study").

  // probes=3 is the measured knee under the HELD-OUT init (round-11
  // sweep, recall@5 at rerank=20: sf1vec 46→50→52%, sf1vecwide
  // 32→36→30% for probes 2→3→4): +4 points on both corpus shapes at
  // 3, while 4 LOSES recall on the blurred corpus — widening probes
  // without widening rerank dilutes the fixed candidate budget across
  // more cells, letting ADC misrankings crowd out true neighbors. The
  // sweep table and protocol live in SCALING.md round-11.
  // ---- The GATED serving configuration (round-12 joint calibration on
  // both committed fixture shapes — SCALING.md "Round 12" tables).
  // k=10/coarseIters=4 is the stack knee: on the blurred corpus iters=4
  // beats both the budget build (iters=1: routing-bound) and
  // convergence (iters=8+: the PQ residuals retrain against centroids
  // the re-rank no longer needs, costing ADC ordering);
  // probes=4 of k=10 cells reads a SMALLER corpus fraction than the
  // round-11 3-of-8 while buying +4 recall points on the blurred shape;
  // rerank=100 is where the rerank curve is still paying ~+10 points
  // per step on both shapes at negligible serve cost (the candidate
  // set stays ≤ numQueries×100 broadcast rows). Measured recall@5 at
  // this config: 86% separated / 78% blurred (vs 46%/34% for the
  // round-11 gate).
  private[graft] val GATED_K = 10
  private[graft] val IVF_COARSE_ITERS = 4
  private[graft] val IVFPQ_PROBES = 4
  private[graft] val IVFPQ_RERANK = 100
  /** q125's ROUTER gate trains deeper (iters=8): the routing-only
    * ceiling keeps improving with Lloyd rounds once dead cells are
    * re-seeded (SCALING.md "Round 12": single-probe 70% vs true-label
    * 60% on the blurred corpus, 100% vs 100% on the separated one) —
    * the serving stack's iters=4 knee is a PQ-interaction, not a
    * routing optimum. */
  private[graft] val ROUTER_ITERS = 8

  /** The fitted coarse clustering as a driver-cached artifact: k rows of
    * (cell, s, n), keyed by the source parquet's (path, length, mtime)
    * set and the (k, iters) config. q125, q131, and q133 consume the
    * SAME clustering the ANN family trains — in a production pipeline
    * the k-means fit runs once and every downstream pass (index build,
    * routing, semantic dedup, balanced selection) reads the artifact,
    * so the engine's catalog entries do the same instead of re-running
    * Lloyd per query (round-12 VERDICT #8: q125 was the catalog's most
    * expensive non-streaming query purely to re-train iters=8 per
    * execution). Values are bit-identical to an in-query fit (the cache
    * stores the exact (sum, count) rationals), so the oracle hashes are
    * unaffected; a regenerated fixture invalidates by fingerprint.
    */
  private[graft] val centsCache =
    new DriverCache[String, (String, Array[(Int, Array[Long], Long)])](64)
  private[ops] def fittedCents(spark: SparkSession, d: String,
                               k: Int, iters: Int): DataFrame = {
    val fp = Fingerprint.of(d, "embeddings.parquet")
    val key = s"$d|k=$k|it=$iters"
    val cached = centsCache.get(key).orNull
    val rows =
      if (cached != null && cached._1 == fp) cached._2
      else {
        val quant = Tables.rebalance(Tables.embeddings(spark, d))
          .withColumn("q", expr(quantExpr))
          .select(col("vec_id"), col("q"))
        val r = kmeansFit(quant, k, iters, None)
          .select(col("cell"), col("s"), col("n")).collect()
          .map(x => (x.getInt(0), x.getSeq[Long](1).toArray, x.getLong(2)))
        centsCache.put(key, (fp, r))
        r
      }
    import spark.implicits._
    rows.toSeq.toDF("cell", "s", "n")
  }

  /** Floor-quantized residual vs a rational (s, n) centroid: exact-int
    * numerator, one IEEE division, floor — floor (not round) because
    * both engines define floor identically while round's half-way rule
    * is an engine implementation detail. The residual lands back on the
    * same integer scale as `q`, so the whole PQ machinery runs on it
    * unchanged.
    */
  private def residExpr(vec: String): String =
    s"zip_with($vec, s, (x, sd) -> cast(floor((x * n - sd) / cast(n AS double)) AS bigint))"

  /** Generalized Lloyd training: `iters` update rounds from the held-out
    * init. iters=1 is the gated q124 trajectory's training half (init →
    * assign → update); each extra round re-assigns and re-sums — one
    * broadcast pass + one k×dim map-side-combined exchange per round,
    * lineage pinned so the plan doesn't nest. Exactness envelope per
    * round is q124's (~19k members/cell for the int64 numerator).
    */
  private[graft] def kmeansFit(quant: DataFrame, k: Int, iters: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    // `checkpointDir` is kept for API stability but per-round lineage
    // pinning is obsolete: each round's centroids COLLECT to the driver
    // (k bounded rows) and re-enter the next round as a literal, so the
    // plan never nests — a round is exactly ONE distributed job (the
    // k×dim partial-sum update over the row-local assignment), and an
    // executor loss recomputes from the caller-pinned `quant`, not from
    // a round-deep lineage chain. At iters=8 this deletes 8 corpus
    // localCheckpoint materializations AND the double evaluation the
    // old DataFrame-typed loop paid (reseedDead's live-cell collect +
    // the next assign's broadcast each re-ran the update aggregation).
    val spark = quant.sparkSession
    import spark.implicits._
    var rows = centRowsOf(kmeansInit(quant, k))
    // the centroid width takes kmeansUpdate's one-aggregation path
    val dim = rows.headOption.map(_._2.length)
    var assigned = kmeansAssignRows(quant, rows)
    rows = centRowsOf(kmeansUpdate(assigned, dim))
    var i = 1
    while (i < iters) {
      val live = rows.map(_._1).toSet
      if ((0 until k).exists(c => !live(c)))
        rows = centRowsOf(reseedDead(rows.toDF("cell", "s", "n"), assigned, k))
      assigned = kmeansAssignRows(quant, rows)
      rows = centRowsOf(kmeansUpdate(assigned, dim))
      i += 1
    }
    rows.toDF("cell", "s", "n")
  }

  /** Dead-cell re-seeding between Lloyd rounds (VERDICT r11 #1): a cell
    * whose members all drained to denser neighbors drops out of
    * [[kmeansUpdate]]'s output, silently shrinking k and coarsening the
    * router — the diagnosed round-11 pathology (coarseIters sweep:
    * convergence COSTING 10+ recall points on the separated corpus).
    * Each dead cell id (ascending) is re-seeded as a singleton centroid
    * at the WORST-SERVED point of the last assignment (dist desc,
    * vec_id asc ties) — the point a new cell helps most, the standard
    * empty-cluster repair. Driver cost is bounded by k (collect of ≤ k
    * cell ids + ≤ k worst rows via TakeOrdered), never by corpus size.
    * No-op when every cell is live — the oracle-gated single-update
    * trajectory never reaches here (every greedy seed is a sample
    * member that anchors its own cell through the first assignment).
    */
  private[graft] def reseedDead(cents: DataFrame, assigned: DataFrame,
                                k: Int): DataFrame = {
    val spark = cents.sparkSession
    val live = cents.select(col("cell")).collect().map(_.getInt(0)).toSet
    val dead = (0 until k).filterNot(live)
    if (dead.isEmpty) cents
    else {
      // queries (vec_id < SEED_FROM) stay excluded: a re-seed landing
      // on a benchmark query would put it back inside the quantizer —
      // the exact confound the held-out protocol removed
      val worst = assigned
        .filter(col("vec_id") >= SEED_FROM)
        .orderBy(col("dist").desc, col("vec_id"))
        .select(col("vec_id"), col("q")).limit(dead.size).collect()
        .map(r => r.getSeq[Long](1))
      import spark.implicits._
      val fresh = dead.zip(worst)
        .map { case (cell, q) => (cell, q, 1L) }
        .toDF("cell", "s", "n")
      cents.unionByName(fresh)
    }
  }

  /** Floor-quantized residuals of an ALREADY-ASSIGNED frame against its
    * `coarse` cells: (vec_id, cell, rq, riders) — shared by build (whole
    * corpus), APPEND (new vectors only, against stored cells) and the
    * refine, each of which assigns once and derives residuals, vectors
    * (and codebook training) from that one assignment; one body keeps
    * the paths arithmetically identical by construction. */
  private def residualsOfAssigned(assigned: DataFrame,
                                  coarse: DataFrame): DataFrame = {
    val riders = assigned.columns
      .filterNot(c => c == "vec_id" || c == "q" || c == "cell" || c == "dist")
      .toSeq
    assigned
      .drop("dist")
      .join(broadcast(coarse), "cell")
      .withColumn("rq", expr(residExpr("q")))
      .select((Seq(col("vec_id"), col("cell"), col("rq")) ++
               riders.map(col)): _*)
  }

  /** The trained codebook collected to coordinator rows, grouped by
    * sub-space (sub ascending; entries (code, s, n) code-ascending).
    * ≤ PQ_M × PQ_KSUB bounded rows — the exact frame [[IvfPqMeta]]
    * already holds for serving, now reused for encoding. A sub-space
    * slot Lloyd dropped simply has fewer entries (the argmin ranges
    * over present codes, same as the old join's key set). */
  private[graft] def cbRowsOf(cb: DataFrame): Seq[Seq[(Int, Seq[Long], Long)]] = {
    val rows = cb.select(col("sub"), col("cell"), col("s"), col("n")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2), r.getLong(3)))
    (0 until PQ_M).map(sub => rows.filter(_._1 == sub)
      .map(t => (t._2, t._3, t._4)).sortBy(_._1).toSeq)
  }

  /** Reference form of [[pqCodesCol]]' `PqEncode` as higher-order SQL
    * over `vecCol` and a `_cb` codebook literal column in [[cbRowsOf]]'s
    * layout — VectorExprSpec checks the kernel against it. */
  private[graft] def pqEncodeHof(vecCol: String): String =
    s"""transform(
       |  transform(sequence(0, ${PQ_M - 1}), sub ->
       |    struct(sub AS sub, slice($vecCol, sub * $PQ_SUBDIM + 1, $PQ_SUBDIM) AS sq)),
       |  t -> array_min(transform(element_at(_cb, t.sub + 1), c -> struct(
       |    cast(aggregate(zip_with(t.sq, c._2, (x, sc) -> (x * c._3 - sc) * (x * c._3 - sc)),
       |                   cast(0 AS bigint), (a, t2) -> a + t2) AS double)
       |      / cast(c._3 * c._3 AS double) AS dist,
       |    c._1 AS code))).code)""".stripMargin

  /** The PQ encode as ONE ROW-LOCAL projection over a full-width vector
    * column: per sub-space, the nearest codeword of the driver-held
    * codebook (`cbRows`, [[cbRowsOf]]'s layout) by exact-int64 distance,
    * ties to the lowest code, an empty sub-space codebook giving a null
    * code — one compiled `PqEncode` call per vector, bit-identical to
    * [[pqEncodeHof]]. No corpus×M exchange and no per-vector shuffle:
    * at 100 TB the encode pass is a pure map over the corpus
    * scan (codebooks are coordinator state — kSub×M rational centroids
    * — exactly as FAISS holds them), which is what lets the code table
    * be written partition-aligned with its source with zero data
    * movement. */
  private def pqCodesCol(vec: Column,
                         cbRows: Seq[Seq[(Int, Seq[Long], Long)]]): Column =
    pqEncode(vec, typedLit(cbRows), PQ_SUBDIM)

  /** Reference form of [[adcFoldCol]]'s `AdcFold` as higher-order SQL
    * over (codes, dtab) columns — VectorExprSpec checks the kernel
    * against it. */
  private[graft] val adcFoldHof: String =
    s"""aggregate(transform(sequence(0, ${PQ_M - 1}),
       |  i -> element_at(dtab, i * $PQ_KSUB + element_at(codes, i + 1) + 1)),
       |  cast(0 AS double), (a, x) -> a + x)""".stripMargin

  /** ADC distance of a code row: PQ_M lookups into its query's dense
    * (sub, code) table `dtab`, summed as a left fold from 0.0 in
    * sub-space order (null when a code is null). */
  private def adcFoldCol: Column =
    adcFold(col("codes"), col("dtab"), PQ_M, PQ_KSUB)

  /** Encode residual vectors to (vec_id, cell, codes) against a
    * driver-held codebook — shared by build and append (append encodes
    * NEW vectors against the STORED codebook, the "train on a sample,
    * encode everything" PQ scale practice). Input: (vec_id, cell, rq). */
  private[graft] def encodeWithCell(resid: DataFrame,
      cbRows: Seq[Seq[(Int, Seq[Long], Long)]]): DataFrame = {
    val riders = resid.columns
      .filterNot(c => c == "vec_id" || c == "cell" || c == "rq").toSeq
    resid
      .select((Seq(col("vec_id"), col("cell"),
                   pqCodesCol(col("rq"), cbRows).as("codes")) ++
               riders.map(col)): _*)
  }

  /** [[IvfPqMeta]] cells as the sorted centroid rows
    * [[kmeansAssignRows]] and `residualsOfAssigned` consume — identical
    * to `centRowsOf(coarse frame)` by construction. */
  private def metaCents(meta: IvfPqMeta): Seq[(Int, Seq[Long], Long)] =
    meta.cells.map(t => (t._1, t._2.toSeq, t._3)).sortBy(_._1).toSeq

  /** Flat collected codebook rows regrouped to [[cbRowsOf]]'s layout
    * (per-sub, cell-ascending). */
  private def metaCbRows(rows: Array[(Int, Int, Array[Long], Long)])
      : Seq[Seq[(Int, Seq[Long], Long)]] =
    (0 until PQ_M).map(sub => rows.filter(_._1 == sub)
      .map(t => (t._2, t._3.toSeq, t._4)).sortBy(_._1).toSeq)

  /** [[encodeGenAware]] over ALREADY-COLLECTED generation codebooks
    * (the [[storeMeta]] cache) — zero reads of `codebook2` on the
    * encode path; row layout identical to the parquet-read form. */
  private def encodeGenAwareRows(resid: DataFrame,
      cbRowsBase: Seq[Seq[(Int, Seq[Long], Long)]],
      gens: Map[Int, Int],
      genCbs: Map[Int, Array[(Int, Int, Array[Long], Long)]]): DataFrame =
    if (gens.isEmpty) encodeWithCell(resid, cbRowsBase)
    else {
      val genCells = gens.keys.toSeq.sorted
      val byGen = gens.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted)
        .toSeq.sortBy(_._1)
      val base = encodeWithCell(
        resid.filter(!col("cell").isin(genCells: _*)), cbRowsBase)
      (base +: byGen.map { case (g, cs) =>
        encodeWithCell(resid.filter(col("cell").isin(cs: _*)),
          metaCbRows(genCbs.getOrElse(g, Array.empty)))
      }).reduce(_ unionByName _)
    }

  /** Encode residuals against the store's generation-correct
    * codebooks: rows assigned to a refined cell use that cell's
    * generation codebook (`<dir>/codebook2`), all others the base
    * codebook — one row-local encode pass per generation PRESENT IN
    * THE STORE (bounded by the refine count, never the batch), each
    * with its cells' rows filter-pushed. `gens` empty (never-refined
    * store) is the single-codebook fast path, bit-identical to the
    * pre-generation encode. */
  private def encodeGenAware(spark: SparkSession, dir: String,
      resid: DataFrame, cbRowsBase: Seq[Seq[(Int, Seq[Long], Long)]],
      gens: Map[Int, Int]): DataFrame =
    if (gens.isEmpty) encodeWithCell(resid, cbRowsBase)
    else {
      val cb2 = spark.read.parquet(s"$dir/codebook2")
      val genCells = gens.keys.toSeq.sorted
      val byGen = gens.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted)
        .toSeq.sortBy(_._1)
      val base = encodeWithCell(
        resid.filter(!col("cell").isin(genCells: _*)), cbRowsBase)
      (base +: byGen.map { case (g, cs) =>
        encodeWithCell(resid.filter(col("cell").isin(cs: _*)),
          cbRowsOf(cb2.filter(col("gen") === g)))
      }).reduce(_ unionByName _)
    }

  /** The BUILD half of the IVFADC+R stack, shared by the in-query q127
    * form and the persisted-index q128 form: returns (quant, coarse,
    * codebook, codes, assigned). `codes` = (vec_id, cell, codes)
    * CARRIES the coarse cell, so no corpus-sized codes ⋈
    * cell-assignment join closes the build (VERDICT r10's one named
    * scale-killer). `assigned` = (vec_id, q, riders, cell, dist) is the
    * build's ONE corpus assignment against the final cells: the
    * residuals here, and [[buildIvfPqIndex]]'s stored vectors and
    * `qe_base` stamp, all derive from it. Assignment, codebook training
    * and encode are row-local; the only exchanges are the k×dim and
    * M×kSub partial-sum aggregations.
    *
    * RESIDUAL encoding (IVFADC proper): PQ trains on x - centroid(x),
    * not on x — with the coarse structure subtracted, the residual
    * distribution is tight around 0 and a small codebook covers it
    * (measured on fixtures/sf1vec: raw-vector PQ reads 26% ADC-only
    * recall@5, residual PQ lifts the whole serving stack — see
    * SCALING.md round-10). Residuals stay on the integer scale via
    * the floor-quantized exact form, so train/encode/ADC reuse the
    * exact-int machinery verbatim.
    */
  private[graft] def ivfPqBuild(emb: DataFrame, k: Int,
      checkpointDir: Option[String] = None)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    // filterable metadata (the fixture's `label`) rides the encode
    // pipeline when the input carries it — row-local passthrough, zero
    // extra movement — so the stored code table can serve FILTERED
    // searches (q134) with the predicate applied in the compressed
    // domain. Absent on bare (vec_id, embedding) inputs; nothing
    // downstream requires it.
    val riders =
      if (emb.columns.contains("label")) Seq(col("label")) else Nil
    val quantL = pin(emb.withColumn("q", expr(quantExpr))
      .select((Seq(col("vec_id"), col("q")) ++ riders): _*), checkpointDir)
    val quant = quantL.select(col("vec_id"), col("q"))
    // coarse quantizer: IVF_COARSE_ITERS Lloyd updates, final assignment
    // against them (SCALING.md round-11 iters sweep, round-12 knee)
    val coarse = pin(kmeansFit(quant, k, IVF_COARSE_ITERS, checkpointDir),
      checkpointDir) // k rows: (cell, s, n)
    val assigned = pin(kmeansAssign(quantL, coarse), checkpointDir)
    val resid = pin(residualsOfAssigned(assigned, coarse), checkpointDir)
    // TRAINING stays distributed (per-(sub, cell) partial sums over the
    // residuals encoded against the held-out seeds); the ENCODE is a
    // row-local projection against the collected codebook
    val cb = pin(pqTrain(resid, "rq", pqInit(resid, "rq")), checkpointDir)
    val codes = encodeWithCell(resid, cbRowsOf(cb))
    (quantL, coarse, cb, codes, assigned)
  }

  /** The in-query (q127) compressed-domain scan: each probed-cell code
    * row joins the (tiny, broadcast) routed-query set on its ONE cell,
    * then folds M table lookups — no float vector math in the scan, and
    * no corpus-sized join anywhere (codes already carry their cell). The
    * stored serve runs the same fold inside [[graft.plans.IvfPqServe]]. */
  private def scanCandidates(qcellsDf: DataFrame, dtabsDf: DataFrame,
                             codesDf: DataFrame, rerank: Int): DataFrame = {
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
    codesDf
      .join(broadcast(qcellsDf), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(dtabsDf), Seq("qid", "cell"))
      .withColumn("adist", adcFoldCol)
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= rerank)
      .select(col("qid"), col("vec_id"), col("adist"))
  }

  /** A store's frozen routing metadata, held driver-side: the k coarse
    * cells and the ≤ M×kSub codebook rows — what a real ANN server keeps
    * in coordinator memory for the life of the index. `cellGen` maps a
    * cell to its codebook GENERATION (absent = 0, the build codebook);
    * [[refineDriftedCells]] creates generation g > 0 for the cells it
    * splits, with the re-fitted residual codebook in `genCodebooks(g)`
    * — still coordinator-sized state (≤ M×kSub rows per refine). */
  private[graft] final case class IvfPqMeta(
      cells: Array[(Int, Array[Long], Long)],
      codebook: Array[(Int, Int, Array[Long], Long)],
      cellGen: Map[Int, Int] = Map.empty,
      genCodebooks: Map[Int, Array[(Int, Int, Array[Long], Long)]] = Map.empty)

  private[graft] val storeMetaCache =
    new DriverCache[String, (String, IvfPqMeta)](256)

  /** Load (and cache) a store's coarse cells + codebook on the driver.
    * Invalidation keys on the (path, length, mtime) set of the two
    * metadata dirs only — `codes` appends ([[appendToIvfPqIndex]]) never
    * touch them, so the cache survives incremental maintenance, and a
    * rebuild (new files) naturally invalidates it. Saves two Spark jobs
    * per serve call on the warm path.
    */
  private[graft] def storeMeta(spark: SparkSession,
                               indexDir: String): IvfPqMeta = {
    val fp = Seq("coarse", "codebook", "codebook2")
      .map(Fingerprint.of(indexDir, _)).mkString("|")
    val cached = storeMetaCache.get(indexDir).orNull
    if (cached != null && cached._1 == fp) cached._2
    else {
      val coarseDf = spark.read.parquet(s"$indexDir/coarse")
      val cells = coarseDf
        .select(col("cell"), col("s"), col("n")).collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      val cbRows = spark.read.parquet(s"$indexDir/codebook")
        .select(col("sub"), col("cell"), col("s"), col("n")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray,
                   r.getLong(3)))
      val gens = cellGensOf(coarseDf)
      val genCbs =
        if (gens.isEmpty) Map.empty[Int, Array[(Int, Int, Array[Long], Long)]]
        else spark.read.parquet(s"$indexDir/codebook2")
          .select(col("gen"), col("sub"), col("cell"), col("s"), col("n"))
          .collect()
          .map(r => (r.getInt(0), (r.getInt(1), r.getInt(2),
            r.getSeq[Long](3).toArray, r.getLong(4))))
          .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2) }
      val m = IvfPqMeta(cells, cbRows, gens, genCbs)
      storeMetaCache.put(indexDir, (fp, m))
      m
    }
  }

  /** cell → codebook generation of a stored coarse frame: the `gen`
    * rider [[refineDriftedCells]] writes. Empty (not a default-0 map)
    * on never-refined stores — every consumer's no-generation fast
    * path stays bit-identical to the pre-refine code. */
  private[graft] def cellGensOf(coarseDf: DataFrame): Map[Int, Int] =
    if (!coarseDf.columns.contains("gen")) Map.empty
    else coarseDf.select(col("cell"), col("gen")).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).filter(_._2 > 0).toMap

  /** STORED-SERVE stage 1: routing and the ADC distance tables run
    * entirely on the driver — a real ANN server's coordinator. The
    * inputs are bounded regardless of corpus size (numQueries query
    * vectors, k coarse cells, ≤ M×kSub codebook rows); the outputs are
    * ≤ numQueries×probes routing rows and as many dense dtab arrays
    * (M×kSub doubles each, ≈30k values total), held by the
    * [[graft.plans.IvfPqServe]] node as request state. This deletes the
    * qresid → qrsubs → qdist → grid → dtabs join chain (3–4 joins + a
    * grid cross join + an aggregation) from every serve — the fixed plan
    * overhead VERDICT r11 #2 measured as the residual serve cost. Every
    * arithmetic step replicates the distributed expressions
    * BIT-IDENTICALLY: exact int64 numerators, one IEEE division by
    * (n*n).toDouble, floor-quantized residuals
    * ([[residExpr]]) — so the stored serve stays hash-identical to the
    * in-query q127 path.
    */
  private[graft] def routeAndTables(qRows: Array[(Long, Array[Long])],
      meta: IvfPqMeta, probes: Int)
      : (Seq[(Long, Int)], Seq[(Long, Int, Array[Double])]) = {
    // route: `probes` nearest cells by exact-int numerator, (dist, cell)
    // tie-break — same ordering the window form produces
    val routed: Seq[(Long, Int)] = qRows.toSeq.flatMap { case (qid, q) =>
      meta.cells.map { case (cell, s, n) =>
        var dn = 0L; var d = 0
        while (d < q.length) { val t = q(d) * n - s(d); dn += t * t; d += 1 }
        (cell, dn.toDouble / (n * n).toDouble)
      }.sortBy { case (cell, dist) => (dist, cell) }
        .take(probes).map { case (cell, _) => (qid, cell) }.toSeq
    }
    val cByCell = meta.cells.map(c => c._1 -> c).toMap
    val qByIdVec = qRows.toMap
    // per (query, probed cell): floor-quantized residual vs that cell's
    // centroid, then the dense M×kSub ADC table ordered by (sub, code)
    // with +Infinity in slots Lloyd dropped — exactly the
    // sort_array(struct(sub, code, dist)) layout the fold indexes
    // positionally
    val dtabRows: Seq[(Long, Int, Array[Double])] =
      routed.map { case (qid, cell) =>
        val (_, cs, cn) = cByCell(cell)
        val q = qByIdVec(qid)
        val rq = Array.tabulate(q.length)(d =>
          math.floor((q(d) * cn - cs(d)).toDouble / cn.toDouble).toLong)
        val dtab = Array.fill(PQ_M * PQ_KSUB)(Double.PositiveInfinity)
        // a refined cell's codes were written against its GENERATION
        // codebook — the table must index the same codewords
        val cb = meta.cellGen.get(cell)
          .flatMap(meta.genCodebooks.get).getOrElse(meta.codebook)
        cb.foreach { case (sub, code, s, n) =>
          var dn = 0L; var j = 0
          while (j < PQ_SUBDIM) {
            val t = rq(sub * PQ_SUBDIM + j) * n - s(j); dn += t * t; j += 1
          }
          dtab(sub * PQ_KSUB + code) = dn.toDouble / (n * n).toDouble
        }
        (qid, cell, dtab)
      }
    (routed, dtabRows)
  }

  /** IN-QUERY candidates (q127): the routing and ADC tables stay in the
    * plan — coarse/cb are freshly-built frames here, and collecting them
    * would force extra jobs mid-build; the whole build+serve is one lazy
    * DAG instead.
    */
  private[graft] def ivfPqCandidates(quant: DataFrame, coarse: DataFrame,
      cb: DataFrame, codes: DataFrame, numQueries: Int, probes: Int,
      rerank: Int): DataFrame = {
    requireHeldOut(numQueries)
    val spark = quant.sparkSession
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("dist"), col("cell"))
    val qcells = quant.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("q"))
      .crossJoin(broadcast(coarse))
      .withColumn("dn", expr(
        """aggregate(zip_with(q, s, (x, sc) -> (x * n - sc) * (x * n - sc)),
          |          cast(0 AS bigint), (a, t) -> a + t)""".stripMargin))
      .withColumn("dist", col("dn").cast("double") /
                          (col("n") * col("n")).cast("double"))
      .withColumn("crn", row_number().over(wCell))
      .filter(col("crn") <= probes)
      .select(col("qid"), col("cell"))
    // the query's residual is PER PROBED CELL (x_q - that cell's
    // centroid) — the defining IVFADC asymmetry: one small ADC table
    // per (query, probed cell), keyed so the scan reads the table that
    // matches the candidate's cell
    val qresid = qcells
      .join(quant.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("qid"), col("q")), "qid")
      .join(broadcast(coarse), "cell")
      .withColumn("rq", expr(residExpr("q")))
      .select(col("qid"), col("cell"), col("rq"))
    val qrsubs = qresid
      .select(col("qid"), col("cell"),
              explode(expr(s"sequence(0, ${PQ_M - 1})")).as("sub"), col("rq"))
      .select(col("qid"), col("cell"), col("sub"),
              expr(s"slice(rq, sub * $PQ_SUBDIM + 1, $PQ_SUBDIM)").as("sq"))
    val cbR = cb.select(col("sub"), col("cell").as("code"), col("s"), col("n"))
    val qdist = qrsubs.join(broadcast(cbR), "sub")
      .withColumn("dn", expr(
        """aggregate(zip_with(sq, s, (x, sc) -> (x * n - sc) * (x * n - sc)),
          |          cast(0 AS bigint), (a, t) -> a + t)""".stripMargin))
      .withColumn("dist", col("dn").cast("double") /
                          (col("n") * col("n")).cast("double"))
      .select(col("qid"), col("cell"), col("sub"), col("code"), col("dist"))
    val grid = spark.range(PQ_M).select(col("id").cast("int").as("sub"))
      .crossJoin(spark.range(PQ_KSUB).select(col("id").cast("int").as("code")))
    val dtabs = qcells.crossJoin(grid)
      .join(broadcast(qdist), Seq("qid", "cell", "sub", "code"), "left")
      .withColumn("dist", coalesce(col("dist"), lit(Double.PositiveInfinity)))
      .groupBy(col("qid"), col("cell"))
      .agg(expr("transform(sort_array(collect_list(struct(sub, code, dist))), t -> t.dist)")
        .as("dtab"))
    scanCandidates(qcells, dtabs, codes, rerank)
  }

  /** The in-query (q127) exact re-rank (stage 3): full-precision cosine
    * for candidates ONLY, (cos desc, vec_id) tie-break, top-`topK` per
    * query. [[graft.plans.IvfPqServe]] computes the same cosines for the
    * stored serve. */
  private def rerankTop(norms: DataFrame, candDf: DataFrame, qn: DataFrame,
                        topK: Int): DataFrame = {
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    norms.join(broadcast(candDf), "vec_id")
      .join(broadcast(qn), "qid")
      .withColumn("dot", ldot(col("q"), col("qv")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt(col("norm").cast("double")) / sqrt(col("qnorm").cast("double")))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("vec_id"), col("adist"), col("cos"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** IN-QUERY serve (q127): candidates stay a lazy subplan; the exact
    * re-rank streams the corpus once against the broadcast candidate
    * set — one DAG for the whole build+serve. */
  private def serveIvfPq(quant: DataFrame, coarse: DataFrame,
      cb: DataFrame, codes: DataFrame, numQueries: Int, probes: Int,
      rerank: Int, topK: Int): DataFrame = {
    val cand = ivfPqCandidates(quant, coarse, cb, codes, numQueries,
      probes, rerank)
    val norms = quant.withColumn("norm", ldot(col("q"), col("q")))
    val qn = quant.filter(col("vec_id") < numQueries)
      .withColumn("norm", ldot(col("q"), col("q")))
      .select(col("vec_id").as("qid"), col("q").as("qv"),
              col("norm").as("qnorm"))
    rerankTop(norms, cand, qn, topK)
  }

  /** STORED serve over pre-collected query rows: at most TWO Spark jobs.
    * Stage 1 (routing + ADC tables + query norms) is pure driver math
    * over the cached store metadata. Stages 2+3 run inside one
    * [[graft.plans.IvfPqServe]] operator: one pass over the pruned
    * probed-cell code scan folds ADC distances into bounded per-query
    * candidate heaps (merged on the driver to ≤ numQueries × rerank
    * ids), then one pass over the index's OWN vector lists re-ranks
    * just those ids exactly — [[buildIvfPqIndex]] stores the quantized
    * vectors partitioned by cell (the FAISS inverted-list layout: raw
    * vectors live beside the codes precisely so the re-rank never goes
    * back to the corpus), so the full-precision fetch prunes to the
    * same probed-cell directories. No shuffle and no broadcast exchange
    * on a store without tombstones; at 100 TB the serve reads probes/k
    * of the code table + probes/k of the vector lists and nothing else.
    */
  private[graft] def serveIvfPqStoredRows(spark: SparkSession,
      indexDir: String, qRows: Array[(Long, Array[Long])], probes: Int,
      rerank: Int, topK: Int,
      candFilter: Option[Column] = None): DataFrame = {
    val (codesDf, vecsDf) = storeFrames(spark, indexDir)
    serveFromStoreFrames(spark, indexDir, codesDf, vecsDf, qRows,
      probes, rerank, topK, candFilter)
  }

  /** TIME-TRAVEL serve: answer from a PINNED snapshot version — the
    * reader-isolation half of the IndexStore contract made executable
    * (a serve planned against version N sees exactly N's rows, however
    * many appends/compactions publish afterwards, until vacuum prunes
    * N past the retention window). Coarse cells and codebook are
    * rebuild-scoped (appends never touch them), so the current
    * metadata is correct for every travelable version. */
  private[graft] def serveIvfPqStoredRowsAt(spark: SparkSession,
      indexDir: String, version: Int, emb: DataFrame, numQueries: Int,
      probes: Int, rerank: Int, topK: Int): DataFrame = {
    requireHeldOut(numQueries)
    val qRows = emb.withColumn("q", expr(quantExpr))
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id"), col("q")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    val snap = IndexStore.snapshotAt(indexDir, version)
    val (codesDf, vecsDf) = IndexStore.frames(spark, indexDir, snap)
    serveFromStoreFrames(spark, indexDir, codesDf, vecsDf, qRows,
      probes, rerank, topK, None)
  }

  /** The STORED serve half: answers top-`topK` from a persisted index's
    * codes and vectors frames through one [[graft.plans.IvfPqServe]]
    * node. The routed cells are computed driver-side (≤ numQueries ×
    * probes values — the ANN router's natural home is the coordinator)
    * and applied as a LITERAL filter, so both cell-partitioned scans
    * prune to probed-cell directories (PartitionFilters in the plan;
    * PlanGuardSpec pins it). */
  private def serveFromStoreFrames(spark: SparkSession, indexDir: String,
      codesDf: DataFrame, vecsDf: DataFrame,
      qRows: Array[(Long, Array[Long])], probes: Int, rerank: Int,
      topK: Int, candFilter: Option[Column]): DataFrame = {
    val (routed, dtabRows) =
      routeAndTables(qRows, storeMeta(spark, indexDir), probes)
    val req = new graft.plans.IvfPqRequest(qRows.map(_._1), qRows.map(_._2),
      routed.toArray, dtabRows.map(_._3).toArray, PQ_M, PQ_KSUB, rerank, topK)
    val probed = req.probed
    // FILTERED search (q134): the metadata predicate lands on the code
    // table scan itself — the stored rows carry their filterable
    // attributes (rider columns through the encode), so the filter
    // evaluates in the compressed domain BEFORE candidates form and
    // shows up in the scan's data filters next to the cell pruning.
    // The candidate budget (rerank) then buys k results that all
    // satisfy the predicate, instead of post-filtering a top-k that
    // may go empty — the FAISS/vector-store "pre-filtered search".
    val codesPruned = codesDf.filter(col("cell").isin(probed: _*))
    val codes = candFilter.map(codesPruned.filter).getOrElse(codesPruned)
      .select(col("vec_id"), col("cell"), col("codes"))
    val vecs = vecsDf.filter(col("cell").isin(probed: _*))
      .select(col("vec_id"), col("q"))
    graft.plans.IvfPqServe.frame(spark, codes, vecs, req)
  }

  /** The store's codes + vectors DataFrames, cached per (session,
    * store, file-set): `spark.read.parquet` re-runs partition discovery
    * and footer schema inference on every call (~0.15 s of driver-side
    * filesystem work per serve, measured at sf0.1) — an open ANN server
    * holds its list handles instead.
    *
    * Invalidation keys on the SNAPSHOT'S FILE LISTS, not the version
    * number alone (round-17 self-review find): a store deleted and
    * re-created at the same path reaches the same version with
    * DIFFERENT part-file names (clone + re-append — exactly what a
    * re-executed q159/q176 gate does to its zone), and a
    * version-only check then served a stale file list —
    * FILE_NOT_EXIST at read time, which the bench harness recorded as
    * a silently-discarded run. Hashing the manifest's file lists costs
    * one small-file read per serve and catches every re-creation;
    * tombstones participate because they change frame content at the
    * same data-file set. */
  private[graft] val storeFramesCache =
    new DriverCache[String, (Long, DataFrame, DataFrame)](256)
  private def storeFrames(spark: SparkSession,
                          indexDir: String): (DataFrame, DataFrame) = {
    val snap = IndexStore.snapshot(indexDir)
    val sig = (snap.version.toLong << 32) ^
      scala.util.hashing.MurmurHash3.orderedHash(
        snap.codes ++ snap.vectors ++ snap.tombs).toLong
    val key = s"${org.apache.spark.sql.graftshim.Shim.sessionId(spark)}|$indexDir"
    val cached = storeFramesCache.get(key).orNull
    if (cached != null && cached._1 == sig) (cached._2, cached._3)
    else {
      val (codes, vecs) = IndexStore.frames(spark, indexDir, snap)
      storeFramesCache.put(key, (sig, codes, vecs))
      (codes, vecs)
    }
  }

  /** Query vectors for the catalog's stored-serve entries, cached on
    * the driver per (fixture, numQueries) and invalidated by the source
    * parquet's (path, length, mtime) set — after the first call a serve
    * runs ZERO corpus-side jobs (queries arrive with the request in a
    * real server; here the fixture plays that role).
    */
  private[graft] val queryRowsCache =
    new DriverCache[String, (String, Array[(Long, Array[Long])])](64)
  private[graft] def cachedQueryRows(spark: SparkSession, d: String,
      numQueries: Int): Array[(Long, Array[Long])] = {
    requireHeldOut(numQueries)
    val fp = Fingerprint.of(d, "embeddings.parquet")
    val key = s"$d|$numQueries"
    val cached = queryRowsCache.get(key).orNull
    if (cached != null && cached._1 == fp) cached._2
    else {
      val rows = Tables.embeddings(spark, d)
        .withColumn("q", expr(quantExpr))
        .filter(col("vec_id") < numQueries)
        .select(col("vec_id"), col("q")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
      queryRowsCache.put(key, (fp, rows))
      rows
    }
  }

  def ivfPqRerankTopK(emb: DataFrame, k: Int, numQueries: Int,
                      probes: Int, rerank: Int, topK: Int,
                      checkpointDir: Option[String] = None): DataFrame = {
    val (quant, coarse, cb, codes, _) = ivfPqBuild(emb, k, checkpointDir)
    serveIvfPq(quant, coarse, cb, codes, numQueries, probes, rerank, topK)
  }

  /** Mean coarse quantization error of an assigned frame (the `dist`
    * column [[kmeansAssignRows]] adds) — the DRIFT metric behind
    * [[needsRetrain]]: vectors drawn from the trained distribution land
    * near some centroid (error ≈ the training-time mean, stamped as
    * `qe_base`); appended vectors from a DIVERGED distribution land far
    * from every trained cell, their residuals overflow the PQ
    * codebook's range, and serve recall decays (the decay curve is
    * SCALING.md "Round-16 addendum 4"). One avg over the frame,
    * exact-integer inner distances like every k-means stage here. */
  private[graft] def meanCoarseQe(assigned: DataFrame): Double = {
    val row = assigned.agg(avg(col("dist"))).head
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** Quantization-error drift of everything APPENDED since the build:
    * appended vector rows read manifest-natively (the diff between the
    * stamped build snapshot and HEAD opens only the appended data
    * files — zero IO against the built corpus), re-assigned against
    * the STORED centroids, mean error divided by the stamped
    * `qe_base`. ≈ 1 while appends match the trained distribution;
    * grows as they diverge. None when nothing was appended or the
    * store predates the stamps. */
  def appendedDriftRatio(spark: SparkSession, dir: String): Option[Double] = {
    val props = IndexStore.props(dir)
    for {
      base <- props.get("qe_base").map(_.toDouble) if base > 0.0
      builtV <- props.get("built_version").map(_.toInt)
      head = IndexStore.snapshot(dir)
      if head.version > builtV
      // a COMPACTION in (builtV, head] rewrote the whole corpus into
      // new files, so the manifest diff would surface every old row as
      // 'appended' and dilute the ratio toward 1 — exactly when a
      // diverged population should fire (round-16 review find). No
      // ratio is the honest answer; a deployment re-stamps by
      // rebuilding, or sizes its compaction cadence around the policy
      // window (diffFrames documents the same boundary).
      if !IndexStore.lastReplaceVersion(dir).exists(_ > builtV)
      // vacuum past the retention window prunes the build manifest —
      // the incremental read is then unavailable, not approximable
      built <- scala.util.Try(IndexStore.snapshotAt(dir, builtV)).toOption
      (_, appended) = IndexStore.diffFrames(spark, dir, built, head)
    } yield {
      val coarse = spark.read.parquet(s"$dir/coarse")
      meanCoarseQe(kmeansAssign(appended.select(col("vec_id"), col("q")), coarse)) / base
    }
  }

  /** The RETRAIN-TRIGGER policy (VERDICT r15 Next #6) — `None` drift
    * (nothing appended, stamps missing, build manifest vacuumed, or a
    * compaction crossed the window) reads as no-fire here; a
    * deployment treats a long-running `None` as "fall back to
    * scheduled retrains", since the incremental signal is unavailable,
    * not green. Otherwise: retrain the
    * coarse router + PQ codebook when the appended population's mean
    * quantization error exceeds `threshold` × the training-time error.
    * The default 1.5 sits well below the drift measured at the recall
    * knee (SCALING.md "Round-16 addendum 4": in-distribution appends
    * hold ratio ≈ 1.0x while recall holds; a diverged append population
    * reads several ×, with recall@10 over the appended region already
    * degrading) — so the policy fires before the store quietly decays.
    * A deployment wires this after each append tick:
    * `if (needsRetrain(...)) buildIvfPqIndex(fullCorpus, dir, k)`. */
  def needsRetrain(spark: SparkSession, dir: String,
                   threshold: Double = 1.5): Boolean =
    appendedDriftRatio(spark, dir).exists(_ > threshold)

  /** Persist the IVF-PQ index so serving never pays the build again:
    *   <dir>/coarse    — k rows (cell, s, n), the learned coarse cells
    *   <dir>/codebook  — ≤ PQ_M × PQ_KSUB rows, the residual codebook
    *   <dir>/codes     — (vec_id, codes) PARTITIONED BY cell
    *   <dir>/vectors   — (vec_id, q) PARTITIONED BY cell
    * Partitioning the code table by cell is what makes stored serving
    * sub-linear: a query touches probes/k of the directories and the
    * scan prunes the rest statically ([[serveFromStoreFrames]]' literal
    * filter).
    * At 100 TB the codes table is itself ~32× smaller than the corpus,
    * and each cell directory is further ~1/k of that.
    */
  def buildIvfPqIndex(emb: DataFrame, dir: String, k: Int,
                      checkpointDir: Option[String] = None): Unit = {
    // clear the previous build's policy stamps FIRST: a crash anywhere
    // below leaves the store unstamped (policy reads None — honest),
    // never carrying the old build's qe_base/built_version over data
    // they do not describe (round-16 review find)
    if (IndexStore.headVersion(dir).isDefined)
      IndexStore.setProps(dir, Map("qe_base" -> "", "built_version" -> ""))
    val (quant, coarse, cb, codes, assigned) = ivfPqBuild(emb, k, checkpointDir)
    coarse.write.mode("overwrite").parquet(s"$dir/coarse")
    cb.write.mode("overwrite").parquet(s"$dir/codebook")
    // data files land first, then ONE manifest snapshot covering codes
    // and vectors together publishes the store (IndexStore: readers
    // resolve _HEAD, never a directory listing)
    val vecCols = Seq(col("vec_id"), col("q"), col("cell")) ++
      (if (quant.columns.contains("label")) Seq(col("label")) else Nil)
    val vecsWritten = assigned.select(vecCols: _*)
    IndexStore.commitRebuild(dir) {
      // explicit cell clustering before the write: the encode/assign
      // paths are now pure row-local projections (no shuffle for AQE to
      // coalesce), so writing straight from the corpus partitioning
      // would emit one file per (task × cell) — measured at sf0.1 as
      // +0.3 s of footer reads on every serve. One repartition of the
      // CODE table (32× smaller than the corpus) buys one sized file
      // per cell — the same layout compactIvfPqIndex restores
      codes.repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
      // the inverted LISTS (FAISS IVF layout): quantized vectors stored
      // beside the codes, partitioned by the same cell — the exact
      // re-rank reads probes/k of these directories in the SAME job as
      // the ADC scan instead of point-fetching back into the corpus
      vecsWritten
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/vectors")
    }
    // stamp the training-time quantization error and the build snapshot
    // version: the [[needsRetrain]] policy compares appended vectors'
    // error against qe_base, reading the appended rows manifest-natively
    // from built_version -> HEAD. The stamp lands AFTER the publish (a
    // crash in between leaves the store unstamped -> policy None, the
    // honest degraded state) and clears any prior build's
    // last_replace_version so the new policy window starts clean.
    IndexStore.setProps(dir, Map(
      "qe_base" -> meanCoarseQe(assigned).toString,
      "built_version" -> IndexStore.headVersion(dir).getOrElse(0).toString,
      "last_replace_version" -> "",
      // modality stamp: forget's declared-modalities guard rejects a
      // 'text' takedown against this vec_id vocabulary by name instead
      // of silently tombstoning the wrong id space (ADVICE r17)
      "modalities" -> "vector",
      // table-schema stamps (round 20): this builder OWNS the store's
      // schemas (riders included), so readers with no contract DDL
      // (IndexStore.frames/diffFrames on ANN stores) skip parquet
      // footer inference per construct. Recorded in INFERENCE order
      // (data columns, then the cell partition column) so stamped and
      // inferred frames are column-order-identical; appends, refines
      // and compactions preserve the shape by construction, and the
      // `ddl.version` gate keeps time-travel reads below this build on
      // inference. Stamped beside built_version, after the publish —
      // a crash in between leaves the store unstamped, the honest
      // degraded (inference) state.
      "ddl.version" -> IndexStore.headVersion(dir).getOrElse(0).toString,
      "ddl.codes" -> inferenceOrderDdl(codes),
      "ddl.vectors" -> inferenceOrderDdl(vecsWritten)))
    ()
  }

  /** A written table's read schema in INFERENCE column order: data
    * columns as selected, the `cell` partition column last, everything
    * nullable (parquet inference never yields NOT NULL), cell typed
    * INT exactly as partition-value inference resolves `cell=<n>`
    * directories. */
  private[ops] def inferenceOrderDdl(df: DataFrame): String = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    StructType(df.schema.fields.filterNot(_.name == "cell")
      .map(f => f.copy(nullable = true)) :+
      StructField("cell", IntegerType)).toDDL
  }

  /** Rewrite the store's accumulated append-files into sized ones and
    * publish a replacement snapshot (the small-files half-life of daily
    * increments); [[vacuumIvfPqIndex]] then physically deletes what no
    * snapshot references. Serves planned mid-compaction read the old
    * snapshot; serves planned after read the compacted one — identical
    * rows either way (spec-pinned). */
  def compactIvfPqIndex(spark: SparkSession, dir: String,
                        maxRecordsPerFile: Long = 1L << 20): Unit = {
    IndexStore.compact(spark, dir, maxRecordsPerFile)
    ()
  }

  /** Delete data files the current snapshot no longer references (run a
    * retention window behind [[compactIvfPqIndex]]). */
  def vacuumIvfPqIndex(dir: String): Int = IndexStore.vacuum(dir)

  /** INCREMENTAL retrain response (round 17, VERDICT r16 #3): when
    * [[needsRetrain]] fires, rebuild only what drifted instead of
    * re-fitting the whole store. Per-cell appended-mass quantization
    * error (the same manifest-native diff read as
    * [[appendedDriftRatio]], grouped by assigned cell) names the cells
    * whose appended population out-grew their centroid; each such cell
    * SPLITS — [[SPLIT_FACTOR]] new centroids seeded by the deterministic
    * k-center greedy over the cell's own lowest-id sample (the
    * [[kmeansInit]] discipline applied cell-locally), `refineIters`
    * cell-local Lloyd rounds, then the cell's vectors re-assign
    * against the UNION of every untouched centroid and the new
    * sub-centroids (nearest-cell routing stays globally consistent; a
    * migrating vector lands wherever it genuinely belongs) and
    * re-encode against a RE-FITTED generation codebook dedicated to
    * the split cells ([[encodeGenAware]] / `codebook2`) — dedicated
    * centroids shrink the residuals AND the new codewords fit the
    * diverged residual distribution (SCALING.md "Round-17 addendum 2"
    * measures the recall recovery). Cost is proportional to the
    * DRIFTED CELLS' content, never the corpus: untouched cells' files
    * are carried byte-identical through a replacement commit that
    * rewrites only the split cells' partitions.
    *
    * `maxRefineFraction` is the PROPORTIONALITY GUARD: when the
    * drifted cells hold more than that fraction of the stored rows,
    * the incremental premise is void — "refining" most of the store
    * is a worse rebuild (at 100 TB, an 80%-drifted store rewritten
    * cell-by-cell pays full-corpus IO for sub-rebuild recall; the
    * global-divergence arm of SCALING.md "Round-17 addendum 2"
    * measures exactly this) — so
    * the call DECLINES by name (log + empty result) and the caller
    * falls back to [[buildIvfPqIndex]]. The deployment wiring is one
    * line either way:
    * `if (needsRetrain(...) && refineDriftedCells(...).isEmpty)
    *    buildIvfPqIndex(fullCorpus, dir, k)`.
    *
    * The policy window restamps to the new head (future drift measures
    * future appends); `qe_base` stays the original training-time error
    * — the reference the threshold was calibrated against. Returns the
    * split cell ids (empty: nothing exceeded `threshold`, the drifted
    * mass exceeded `maxRefineFraction`, or the incremental signal is
    * unavailable — same None conditions as [[appendedDriftRatio]]). */
  def refineDriftedCells(spark: SparkSession, dir: String,
                         threshold: Double = 1.5,
                         minCellMass: Long = 50L,
                         refineIters: Int = 3,
                         maxRefineFraction: Double = 0.5): Seq[Int] =
    // no global-ratio gate here (the pre-r18 contract): a direct caller
    // refines any cell whose own appended mass drifted, even when the
    // store-wide mean sits under the trigger
    assessAndRefine(spark, dir, threshold, minCellMass,
      refineIters, maxRefineFraction, globalGate = false)._2

  /** New centroids each drifted cell splits into. */
  private val SPLIT_FACTOR = 2

  /** ONE-PASS policy read + response for the streamed tailer
    * (VERDICT r17 #3): the per-cell appended drift is computed ONCE —
    * the global trigger ratio is its mass-weighted mean (identical
    * arithmetic to [[appendedDriftRatio]] up to float association),
    * the drifted-cell selection reads the same collect, and the
    * materialized assignment seeds [[refineCells]] — where the
    * driftSink's previous needsRetrain-then-refine pair re-derived the
    * manifest diff and re-assigned the appended rows per call.
    * Returns (fired, refinedCells): (false, Nil) = quiet or no signal;
    * (true, Nil) = fired but declined (no cell above per-cell
    * threshold/mass, or the proportionality guard). */
  private[graft] def assessAndRefine(spark: SparkSession, dir: String,
                         threshold: Double = 1.5,
                         minCellMass: Long = 50L,
                         refineIters: Int = 3,
                         maxRefineFraction: Double = 0.5,
                         globalGate: Boolean = true): (Boolean, Seq[Int]) =
    IndexStore.withWriterLock(dir) {
      val props = IndexStore.props(dir)
      val eligible = for {
        base <- props.get("qe_base").map(_.toDouble) if base > 0.0
        builtV <- props.get("built_version").map(_.toInt)
        head = IndexStore.snapshot(dir)
        if head.version > builtV
        if !IndexStore.lastReplaceVersion(dir).exists(_ > builtV)
        built <- scala.util.Try(IndexStore.snapshotAt(dir, builtV)).toOption
      } yield (head, built, base)
      eligible match {
        case None => (false, Nil)
        case Some((head, built, base)) =>
          val (_, appended) = IndexStore.diffFrames(spark, dir, built, head)
          val coarse = spark.read.parquet(s"$dir/coarse")
          val cents = centRowsOf(coarse)
          // increment-sized by the manifest diff; PERSISTED lazily so
          // the quiet-tick path pays exactly ONE pass (the pre-r18
          // needsRetrain cost — the aggregate below populates the
          // cache) and a FIRED tick's refine reuses the cached rows
          // for its seeding instead of re-assigning
          val assignedApp = kmeansAssign(
            appended.select(col("vec_id"), col("q")), coarse)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
          val perCell = ScaleOps.boundedCollect(
            assignedApp
              .groupBy(col("cell"))
              .agg(count(lit(1)).as("m"), avg(col("dist")).as("qe")),
            cents.size.toLong.max(1L), "per-cell appended drift")
            .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
          val mass = perCell.map(_._2).sum
          val ratio =
            if (mass == 0L) 0.0
            else perCell.map { case (_, m, qe) => m * qe }.sum / mass / base
          val fired = ratio > threshold
          if (globalGate && !fired) (false, Nil)
          else {
            val drifted = perCell.collect {
              case (c, m, qe) if m >= minCellMass && qe / base > threshold => c
            }.sorted.toSeq
            if (drifted.isEmpty) (fired, Nil)
            else {
              // proportionality guard: one 8-byte-row count over the
              // compressed code table (drifted partitions vs total) —
              // cheap metadata-scale IO that prevents corpus-scale IO
              val (codesF, _) = IndexStore.frames(spark, dir, head)
              val cnts = codesF.agg(count(lit(1)).as("t"),
                count(when(col("cell").isin(drifted: _*), 1)).as("d")).head
              val (total, driftedRows) = (cnts.getLong(0), cnts.getLong(1))
              val frac =
                if (total == 0L) 0.0 else driftedRows.toDouble / total
              if (frac > maxRefineFraction) {
                org.apache.log4j.Logger.getLogger(getClass).warn(
                  f"refineDriftedCells: declining — drifted cells hold " +
                  f"$frac%.2f of stored rows (> maxRefineFraction=" +
                  f"$maxRefineFraction%.2f); a full rebuild is the " +
                  "proportional response")
                (fired, Nil)
              } else {
                refineCells(spark, dir, head, coarse, cents, drifted,
                  refineIters, assignedApp)
                (true, drifted)
              }
            }
          }
          } finally { assignedApp.unpersist(false); () }
      }
    }

  private def refineCells(spark: SparkSession, dir: String,
                          head: IndexStore.Snapshot, coarse: DataFrame,
                          cents: Seq[(Int, Seq[Long], Long)],
                          drifted: Seq[Int],
                          refineIters: Int,
                          assignedApp: DataFrame): Unit = {
    // phase timing at INFO: a refine is a rare maintenance response
    // whose cost a deployment watches (the q176 drift-tick gate prices
    // it); per-phase wall numbers make a slow refine diagnosable
    // without a profiler attached
    val refineLog = org.apache.log4j.Logger.getLogger(getClass)
    var tPrev = System.nanoTime()
    def mark(what: String): Unit = {
      val now = System.nanoTime()
      refineLog.info(f"refineCells $what ${(now - tPrev) / 1e9}%.3f s")
      tPrev = now
    }
    val cb = spark.read.parquet(s"$dir/codebook")
    val (_, vecsAll) = IndexStore.frames(spark, dir, head)
    val driftSet = drifted.toSet
    val cellVecs = vecsAll.filter(col("cell").isin(drifted.map(Integer.valueOf): _*))
      .localCheckpoint() // read once: sample, two assigns, re-encode, rewrite
    mark("cellVecs checkpoint")
    // deterministic per-cell seeding sample: the lowest-id INIT_SAMPLE
    // non-query vectors of each drifted cell (bounded driver state:
    // |drifted| × INIT_SAMPLE rows)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("vec_id"))
    def lowestPerCell(df: DataFrame, n: Int) = df
      .filter(col("vec_id") >= SEED_FROM)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("cell"), col("vec_id"), col("q"))
    // seed from BOTH populations: the cell's lowest-id resident sample
    // AND the lowest-id APPENDED members (a drifted cell's membership
    // is dominated by old residents whose ids sort first — a sample
    // drawn from residents alone would never place a seed on the
    // diverged blob the split exists to separate; measured: +7 recall
    // points on the diverged corpus of SCALING.md "Round-17 addendum 2")
    // assignedApp is the caller's already-materialized assignment of
    // the appended rows against the current router — re-used here
    // instead of a second kmeansAssign pass (VERDICT r17 #3)
    val appendedInCells = assignedApp
      .filter(col("cell").isin(drifted: _*))
      .select(col("cell"), col("vec_id"), col("q"))
    val samp = ScaleOps.boundedCollect(
      lowestPerCell(cellVecs, INIT_SAMPLE / 2)
        .unionByName(lowestPerCell(appendedInCells, INIT_SAMPLE / 2)),
      2L * drifted.size.toLong * INIT_SAMPLE, "refine seeding sample")
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray))
      .distinctBy(t => (t._1, t._2)) // an appended id is also a resident
      .groupBy(_._1)
    locally { mark("seeding sample") }
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    // per-cell k-center greedy: seed 0 = the point nearest the cell's
    // CURRENT centroid (the density anchor of the resident mass), seed
    // i = the point maximizing its min distance to the chosen (the
    // diverged blob gets its own centroid by construction)
    val centByCell =
      cents.map { case (c, s, n) => c -> (s.toArray, n) }.toMap
    var nextCell = cents.map(_._1).max + 1
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Long], Long)]
    drifted.foreach { c =>
      val pts = samp.getOrElse(c, Array.empty[(Int, Long, Array[Long])])
        .map(t => (t._2, t._3)).sortBy(_._1)
      if (pts.nonEmpty) {
        val (cs, cn) = centByCell(c)
        def d2cent(q: Array[Long]): Long = {
          var acc = 0L; var i = 0
          while (i < q.length) { val t = q(i) * cn - cs(i); acc += t * t; i += 1 }
          acc
        }
        val first = pts.minBy { case (id, q) => (d2cent(q), id) }
        val chosen = scala.collection.mutable.ArrayBuffer(first)
        val chosenIds = scala.collection.mutable.HashSet(first._1)
        val minD = scala.collection.mutable.HashMap.empty[Long, Long]
        pts.foreach { case (id, q) => minD(id) = d2(q, first._2) }
        while (chosen.length < math.min(SPLIT_FACTOR, pts.length)) {
          val next = pts.iterator.filterNot(p => chosenIds(p._1))
            .maxBy { case (id, _) => (minD(id), -id) }
          chosen += next; chosenIds += next._1
          pts.foreach { case (id, q) =>
            val dd = d2(q, next._2); if (dd < minD(id)) minD(id) = dd }
        }
        chosen.foreach { case (_, q) =>
          seeds += ((nextCell, q.toSeq, 1L)); nextCell += 1 }
      }
    }
    val untouched = cents.filterNot(c => driftSet(c._1))
    val quantVecs = cellVecs.drop("cell", "dist")
    // Lloyd rounds over the drifted cells' vectors: assign against
    // untouched ∪ current seeds, update ONLY the new cells (untouched
    // centroids' members are out of scope by construction). MULTIPLE
    // rounds, unlike the build's oracle-pinned single round: k-center
    // seeds start at blob EDGES, and after one round a tight diverged
    // blob stays split across two adjacent seeds — fragmentation a
    // fixed-probes serve pays for directly (measured: the one-round
    // refined router's 4 nearest cells covered only 87% of true
    // neighbors). Extra rounds converge seeds onto blob centers and
    // dissolve starved ones; cost stays drifted-content × iters,
    // row-local assigns + k×dim partial-sum updates.
    val firstNew = seeds.headOption.map(_._1).getOrElse(Int.MaxValue)
    mark("k-center seeds")
    var updated = seeds.toSeq
    val qDim = cents.headOption.map(_._2.length)
    for (_ <- 0 until refineIters if updated.nonEmpty)
      updated = centRowsOf(kmeansUpdate(
        kmeansAssignRows(quantVecs.select(col("vec_id"), col("q")),
            untouched ++ updated)
          .filter(col("cell") >= firstNew), dim = qDim))
    mark("Lloyd rounds")
    // a seed whose blob dissolved in a Lloyd round (zero members)
    // simply drops — dead cells never reach the router
    val newCents = untouched ++ updated
    val oldGens = cellGensOf(coarse)
    val genN = oldGens.values.maxOption.getOrElse(0) + 1
    val coarseNew = {
      import spark.implicits._
      (untouched.map { case (c, s, n) => (c, s, n, oldGens.getOrElse(c, 0)) } ++
       updated.map { case (c, s, n) => (c, s, n, genN) })
        .toDF("cell", "s", "n", "gen")
    }
    // ONE assignment of the rewritten content against the new router,
    // materialized — codes (via residuals), vectors, and the
    // generation-codebook training all derive from it (the build does
    // the same; identical arithmetic by construction)
    val assigned = kmeansAssignRows(quantVecs, newCents).localCheckpoint()
    mark("final assignment")
    val resid = residualsOfAssigned(assigned,
      coarseNew.select(col("cell"), col("s"), col("n")))
    // re-encode against a RE-FITTED residual codebook (generation genN),
    // trained on exactly the content being rewritten: dedicated
    // centroids shrink the residuals, but the BUILD codebook's
    // codewords were fitted to the build-time residual distribution —
    // measured on the diverged corpus (SCALING.md "Round-17 addendum 2"),
    // the stale codewords'
    // ADC ordering alone cost 9 recall points (candidates present in
    // every probed cell, mis-ranked below the rerank cutoff). Training
    // is increment-sized: the split cells' residual sub-vectors only.
    val residNew = resid.filter(col("cell") >= firstNew)
    val residOld = resid.filter(col("cell") < firstNew)
    // migrants INTO untouched cells keep those cells' generations;
    // with every seed dissolved (updated empty) nothing routes to genN
    // and the whole rewrite is a gen-aware re-encode of the migrants
    val newCodes =
      if (updated.isEmpty)
        encodeGenAware(spark, dir, resid, cbRowsOf(cb), oldGens)
      else {
        // the trained generation codebook is COORDINATOR state by
        // design (≤ PQ_M × PQ_KSUB rational centroids, exactly what
        // FAISS holds and what the encode broadcasts anyway): collect
        // it ONCE and write the persisted copy from the driver rows —
        // one training job instead of checkpoint + recompute-per-
        // consumer (measured 0.4-0.5 s of the refine at gate scale)
        val cbNewRows = cbRowsOf(pqTrain(residNew, "rq", pqInitPresent(residNew, "rq")))
        // generation codebook lands BEFORE any code row that references
        // it (a generation nobody routes to is inert; the reverse order
        // could publish codes with no matching codewords across a crash)
        locally {
          import spark.implicits._
          cbNewRows.zipWithIndex.flatMap { case (entries, sub) =>
            entries.map { case (cell, sv, n) => (genN, sub, cell, sv, n) }
          }.toDF("gen", "sub", "cell", "s", "n")
            .coalesce(1).write.mode("append").parquet(s"$dir/codebook2")
        }
        encodeWithCell(residNew, cbNewRows)
          .unionByName(encodeGenAware(spark, dir, residOld, cbRowsOf(cb), oldGens))
      }
    mark("generation codebook refit")
    val riders =
      if (quantVecs.columns.contains("label")) Seq(col("label")) else Nil
    val newVecs = assigned
      .select((Seq(col("vec_id"), col("q"), col("cell")) ++ riders): _*)
    // replacement commit scoped to the drifted cells: base = only their
    // files, so every untouched cell's files carry forward byte-
    // identical and the old split-cell partitions become vacuum fodder.
    // tombs = Nil, NOT head.tombs: commitReplace drops base's
    // tombstones from the new snapshot (a compaction rewrote ALL
    // content tomb-subtracted), but this rewrite only touched the
    // drifted cells — untouched cells' files still physically contain
    // forgotten rows, so head's tombstones must carry forward. The
    // drifted cells were read tomb-subtracted (frames() above), so
    // re-subtracting them is an idempotent anti-join no-op.
    val baseScope = head.copy(
      codes = head.codes.filter(f =>
        drifted.exists(c => f.startsWith(s"cell=$c/"))),
      vectors = head.vectors.filter(f =>
        drifted.exists(c => f.startsWith(s"cell=$c/"))),
      tombs = Nil)
    val v = IndexStore.commitReplace(dir, baseScope) {
      // independent DAGs over the checkpointed assignment — overlap
      // them (the ledger append discipline); the commit lambda
      // returns only when both file sets are on disk
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        DedupLedger.armWriteEc
      val wCodes = Future {
        newCodes.repartition(col("cell"))
          .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
      }
      val wVecs = Future {
        newVecs.repartition(col("cell"))
          .write.mode("append").partitionBy("cell").parquet(s"$dir/vectors")
      }
      Await.result(wCodes, Duration.Inf)
      Await.result(wVecs, Duration.Inf)
    }
    mark("replacement commit (2 writes)")
    // the router flips AFTER the data publishes (same non-versioned
    // coarse/codebook caveat as buildIvfPqIndex: maintenance is a
    // single-writer op under the store lock; a serve should pin its
    // snapshot + router together). Driver-built rows, so the overwrite
    // never reads its own input.
    coarseNew.coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse")
    mark("router flip")
    // policy window restarts at the refined head: future drift measures
    // future appends; qe_base (the training-time reference) stands
    IndexStore.setPropsLocked(dir, Map("built_version" -> v.toString))
  }

  /** Serve q127's exact answer from a [[buildIvfPqIndex]] store: the
    * store is touched only twice — one pass over the pruned probed-cell
    * codes and one over the same cells' vectors for the merged
    * candidates ([[serveIvfPqStoredRows]]) — and the build pipeline
    * appears nowhere in the plan.
    */
  def servedIvfPqTopK(spark: SparkSession, indexDir: String, emb: DataFrame,
                      numQueries: Int, probes: Int, rerank: Int,
                      topK: Int): DataFrame = {
    requireHeldOut(numQueries)
    val qRows = emb.withColumn("q", expr(quantExpr))
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id"), col("q")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    serveIvfPqStoredRows(spark, indexDir, qRows, probes, rerank, topK)
  }

  /** Incremental index MAINTENANCE: coarse-assign + residual-encode NEW
    * vectors against the STORED cells and codebook — no retrain — and
    * append their code rows to the cell-partitioned store. This is the
    * daily-increment operation a 100 TB deployment runs between full
    * rebuilds, and it is the executable form of the standard PQ scale
    * practice the q126 notes claim: the codebook trains on a SAMPLE and
    * encodes everything (kSub×M centroids need ~1e5 vectors regardless
    * of corpus size). Both stages are row-local projections against
    * the driver-held router and codebook: the new batch streams,
    * nothing retrains, nothing already stored is rewritten.
    */
  def appendToIvfPqIndex(spark: SparkSession, embNew: DataFrame,
                         dir: String, tag: Option[String] = None): Unit = {
    // router + codebooks through the signature-keyed serve-meta cache:
    // across a tailer's ticks these files are unchanged, so the
    // per-tick coarse/codebook/generation collects are cache hits (a
    // refine rewrites coarse and correctly invalidates the signature).
    // Same rows, same order, bit-identical arithmetic to the previous
    // per-call reads — centRowsOf/cbRowsOf sorted the collected rows
    // exactly as metaCents/metaCbRows do.
    val meta = storeMeta(spark, dir)
    val cents = metaCents(meta)
    val riders =
      if (embNew.columns.contains("label")) Seq(col("label")) else Nil
    val quant = embNew.withColumn("q", expr(quantExpr))
      .select((Seq(col("vec_id"), col("q")) ++ riders): _*)
    import spark.implicits._
    val coarseLocal = cents.toDF("cell", "s", "n")
    // one snapshot covers BOTH appends: a serve planned mid-append sees
    // the pre-append manifest (new part files exist but are unlisted),
    // a serve planned after sees codes and vectors move together —
    // never half a batch (IndexStore commit protocol). A `tag` makes
    // the whole append idempotent (streaming replay protection).
    IndexStore.commitDelta(dir, tag) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        DedupLedger.armWriteEc
      // the batch is assigned ONCE and pinned, as the build does: both
      // table writes read the one assignment
      val assigned = kmeansAssignRows(quant, cents).localCheckpoint()
      // a vector landing in a refined cell encodes against that cell's
      // GENERATION codebook (refineDriftedCells); the never-refined
      // store takes the single-codebook path unchanged
      val codes = encodeGenAwareRows(
        residualsOfAssigned(assigned, coarseLocal),
        metaCbRows(meta.codebook), meta.cellGen, meta.genCodebooks)
      // cell-clustered like the build write: an append batch adds at
      // most one file per touched cell instead of one per (task × cell).
      // The two table writes are independent DAGs over the same
      // increment — overlapped, the commit returns when both are down
      val wCodes = Future {
        codes.repartition(col("cell"))
          .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
      }
      // keep the inverted lists in lockstep with the code table: the new
      // batch's vectors append to the same frozen-cell directories
      val vecCols = Seq(col("vec_id"), col("q"), col("cell")) ++ riders
      val wVecs = Future {
        assigned.select(vecCols: _*)
          .repartition(col("cell"))
          .write.mode("append").partitionBy("cell").parquet(s"$dir/vectors")
      }
      Await.result(wCodes, Duration.Inf)
      Await.result(wVecs, Duration.Inf)
    }
    ()
  }

  /** Build-once gate for the q128/q129 catalog entries: the index lives
    * outside the repo (tmpdir) in `graft_<tag>_<slug>_<fp8>`. `slug` is
    * an MD5 of the source dir's FULL path (a `String.hashCode` collision
    * between two fixture dirs would make them share a base dir and
    * thrash alternating rebuilds — VERDICT r11 #4); `fp8` is a short MD5
    * of the params string, so two code versions whose index-shaping
    * parameters differ keep separate stores instead of rebuilding each
    * other's. Inside its directory a store is rebuilt whenever the
    * source parquet's (path, length, mtime) set changes, and a params
    * change lands in another directory — a regenerated fixture or a
    * code-level constant bump can never serve a stale index.
    *
    * Concurrency (round-11 ADVICE): the JVM-local monitor serializes
    * threads in this process; an OS-level `FileChannel` lock on the
    * `graft_<tag>_<slug>.lock` lockfile, shared by every params
    * fingerprint, serializes OTHER JVMs (bench + test forks share
    * java.io.tmpdir). The build lands in a temp sibling dir that is
    * atomically renamed into place, so a reader never observes a
    * half-built store even across crash boundaries — the fingerprint
    * marker travels INSIDE the renamed dir. After a build, still under
    * the lock, sibling fingerprints past the newest [[SEED_RETENTION]]
    * are deleted.
    */
  private val indexLock = new Object
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Params fingerprints of one (tag, source) kept side by side. */
  private[graft] val SEED_RETENTION = 2

  private[graft] def ensureIndex(d: String, tag: String, params: String,
                                 srcFile: String = "embeddings.parquet")
                                (build: java.io.File => Unit): String = {
    val src = Fingerprint.of(d, srcFile)
    val fp = md5hex(s"$params|$src")
    val slug = md5hex(new java.io.File(d).getAbsolutePath).take(16)
    val stem = s"graft_${tag}_$slug"
    val name = s"${stem}_${md5hex(params).take(8)}"
    val tmpRoot = new java.io.File(sys.props("java.io.tmpdir"))
    val base = new java.io.File(tmpRoot, name)
    val marker = new java.io.File(base, "_INDEX_FINGERPRINT")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(); ()
    }
    indexLock.synchronized {
      val lockFile = new java.io.File(tmpRoot, s"$stem.lock")
      val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val osLock = ch.lock() // blocks until any other JVM's build finishes
      try {
        val fresh = marker.exists() &&
          new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == fp
        if (!fresh) {
          val staging = new java.io.File(tmpRoot,
            s"$name.build_${java.lang.ProcessHandle.current().pid()}")
          rm(staging); staging.mkdirs()
          build(staging)
          java.nio.file.Files.write(
            new java.io.File(staging, "_INDEX_FINGERPRINT").toPath,
            fp.getBytes("UTF-8"))
          // publish: the stale store (if any) vanishes, then one atomic
          // dir rename — a concurrent reader in a third JVM sees either
          // no marker (and rebuilds under the lock) or the complete store
          rm(base)
          java.nio.file.Files.move(staging.toPath, base.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          // retention: the newest fingerprints by build time survive
          val sibling = (java.util.regex.Pattern.quote(stem) + "_[0-9a-f]{8}").r
          Option(tmpRoot.listFiles()).toSeq.flatten
            .filter(f => f.isDirectory && sibling.matches(f.getName))
            .sortBy(f => (f != base,
              -new java.io.File(f, "_INDEX_FINGERPRINT").lastModified, f.getName))
            .drop(SEED_RETENTION).foreach(rm)
        }
      } finally { osLock.release(); ch.close() }
    }
    base.getPath
  }

  private def ivfParams(k: Int) =
    // v4: stored codes/vectors carry filterable metadata (label rider)
    s"v4|k=$k|it=$IVF_COARSE_ITERS|M=$PQ_M|sub=$PQ_SUBDIM|ksub=$PQ_KSUB" +
    s"|seed=$SEED_FROM|samp=$INIT_SAMPLE"

  private[graft] def ensureIvfPqIndex(s: SparkSession, d: String,
                                      k: Int): String =
    ensureIndex(d, s"ivfpq_k$k", ivfParams(k)) { base =>
      buildIvfPqIndex(Tables.rebalance(Tables.embeddings(s, d)),
        base.getPath, k)
    }

  /** q129's store: the index is TRAINED on the first 90% of vec_ids and
    * the last decile arrives through [[appendToIvfPqIndex]] — stored
    * cells + stored codebook, no retrain. The 90% cutoff is integer
    * arithmetic ((max*9)/10) so the DuckDB oracle draws the identical
    * line.
    */
  private[graft] def ensureIvfPqAppendIndex(s: SparkSession, d: String,
                                            k: Int): String =
    ensureIndex(d, s"ivfpqa_k$k", ivfParams(k) + "|append90") { base =>
      val emb = Tables.rebalance(Tables.embeddings(s, d))
      val cutoff = emb.agg(max(col("vec_id"))).head.getLong(0) * 9L / 10L
      buildIvfPqIndex(emb.filter(col("vec_id") < cutoff), base.getPath, k)
      appendToIvfPqIndex(s, emb.filter(col("vec_id") >= cutoff), base.getPath)
    }

  /** q159's SEED: the q129 store STOPPED at the build — trained and
    * built on the first 90% of vec_ids, the last decile NOT ingested
    * (it arrives through the checkpointed stream inside the gate).
    * Cached like every ensure; q159 clones it per execution so the
    * streamed appends never dirty the seed. */
  private def ensureIvfPq90Index(s: SparkSession, d: String,
                                        k: Int): String =
    ensureIndex(d, s"ivfpq90_k$k", ivfParams(k) + "|build90only") { base =>
      val emb = Tables.rebalance(Tables.embeddings(s, d))
      val cutoff = emb.agg(max(col("vec_id"))).head.getLong(0) * 9L / 10L
      buildIvfPqIndex(emb.filter(col("vec_id") < cutoff), base.getPath, k)
    }

  /** q130's store: the FULL storage-maintenance lifecycle in sequence —
    * train on the first 80% of vec_ids, ingest the remaining two
    * deciles as TWO separate [[appendToIvfPqIndex]] batches (each
    * publishing its own snapshot, each decaying the cell directories by
    * one small-file generation), then [[compactIvfPqIndex]] rewrites
    * every cell into sized files and [[vacuumIvfPqIndex]] physically
    * deletes what the compacted snapshot no longer references. The
    * serve over the result must hash-match an oracle that never heard
    * of files at all — compaction and vacuum are pure LAYOUT operations
    * and any row they perturb breaks the gate. This is the weekly cycle
    * a 100 TB deployment runs (daily appends → scheduled compaction →
    * retention-window vacuum), executed end-to-end inside the
    * correctness gate rather than only in IndexStoreSpec.
    */
  private[graft] def ensureIvfPqCompactedIndex(s: SparkSession, d: String,
                                               k: Int): String =
    ensureIndex(d, s"ivfpqc_k$k",
                ivfParams(k) + "|append80x2|compact|vacuum") { base =>
      val emb = Tables.rebalance(Tables.embeddings(s, d))
      val mx = emb.agg(max(col("vec_id"))).head.getLong(0)
      val cut1 = mx * 8L / 10L
      val cut2 = mx * 9L / 10L
      buildIvfPqIndex(emb.filter(col("vec_id") < cut1), base.getPath, k)
      appendToIvfPqIndex(s,
        emb.filter(col("vec_id") >= cut1 && col("vec_id") < cut2),
        base.getPath)
      appendToIvfPqIndex(s, emb.filter(col("vec_id") >= cut2), base.getPath)
      compactIvfPqIndex(s, base.getPath)
      vacuumIvfPqIndex(base.getPath)
      ()
    }

  /** Warm the q128/q129 stored indexes OUTSIDE any timed loop (round-11
    * ADVICE): with SPARK_GRAFT_BENCH_RUNS=1, or a cold tmpdir and
    * median-of-2, the first timed iteration would otherwise pay the
    * one-time build and the published number would contradict the
    * artifact's serve-only claim. Uses the gated k=8 so the ensure keys
    * match the catalog entries exactly.
    */
  def warmStoredIndexes(s: SparkSession, d: String): Unit = {
    ensureIvfPqIndex(s, d, k = GATED_K)
    ensureIvfPqAppendIndex(s, d, k = GATED_K)
    ensureIvfPqCompactedIndex(s, d, k = GATED_K)
    ()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q128: the SERVE-ONLY stack over the persisted index — q127's
    // exact rows (same oracle SQL) answered from the stored coarse cells,
    // codebook, and cell-partitioned code table. The build runs at most
    // once per (fixture, params) and never inside the measured query
    // after that; what the bench then prices is the real serving
    // topology: routing = k centroid distances per query, a
    // partition-pruned ADC scan of probes/k of the code table, one
    // re-rank stream. This closes VERDICT r10 #1 (the per-query
    // corpus-sized build join).
    "q128_ann_serve_stored" -> ((s, d) => {
      val idx = ensureIvfPqIndex(s, d, k = GATED_K)
      serveIvfPqStoredRows(s, idx, cachedQueryRows(s, d, NUM_QUERIES),
        probes = IVFPQ_PROBES, rerank = IVFPQ_RERANK, topK = 5)
    }),

    // ---- q129: incremental index MAINTENANCE — the store is trained on
    // the first 90% of vec_ids, the last decile is appended (stored
    // cells + stored codebook assign/encode the new batch, no retrain),
    // and the serve answers over the union. The oracle draws the same
    // 90% line in SQL (train CTEs filtered, encode/serve over all), so
    // the hash gates the whole maintenance contract: appended vectors
    // must route, encode, and surface as neighbors EXACTLY as if the
    // sample-trained deployment had ingested them — the "train on a
    // sample, encode everything" practice a 100 TB PQ build rests on.
    "q129_ann_index_append" -> ((s, d) => {
      val idx = ensureIvfPqAppendIndex(s, d, k = GATED_K)
      serveIvfPqStoredRows(s, idx, cachedQueryRows(s, d, NUM_QUERIES),
        probes = IVFPQ_PROBES, rerank = IVFPQ_RERANK, topK = 5)
    }),

    // ---- q159: STREAMING index maintenance under the gate (VERDICT
    // r13 Next #4) — q152's kill/resume discipline applied to the
    // vector store: the seed index (trained+built on the first 90% of
    // vec_ids) CLONES per execution, the last decile lands as parquet
    // in two ticks, and IndexMaintenance.appendSink (checkpointed
    // foreachBatch -> appendToIvfPqIndex under a stream-<batchId>
    // idempotency tag) drains tick 1, is KILLED, and RESUMES from the
    // same checkpoint for tick 2 (new files only — a checkpoint
    // regression that re-read tick 1 publishes nothing only through
    // the tag; a tag regression double-ingests the decile and flips
    // the hash). The serve over HEAD must then hash-match q129's
    // oracle EXACTLY: stream-ingested vectors must route, encode, and
    // surface as neighbors identically to the batch-append deployment
    // (append is per-vector against frozen cells/codebook, so the
    // batch split is content-invisible — the oracle proves it).
    "q159_ann_stream_tick" -> ((s, d) => {
      val emb = Tables.rebalance(Tables.embeddings(s, d))
      val mx = emb.agg(max(col("vec_id"))).head.getLong(0)
      val cutoff = mx * 9L / 10L
      val cMid = mx * 19L / 20L
      val zone = graft.jobs.JobRecordGate.freshZone("graft-anntick-", d)
      val dir = new java.io.File(zone, "index").getAbsolutePath
      DedupLedger.cloneStore(ensureIvfPq90Index(s, d, GATED_K), dir)
      val landing = new java.io.File(zone, "in").getAbsolutePath
      val ckpt = new java.io.File(zone, "ck").getAbsolutePath
      val ss = graft.streaming.StreamConf.stateSession(s, 8)
      def stream = ss.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
        .parquet(landing)
      def drainTick(): Unit =
        graft.streaming.IndexMaintenance.appendSink(stream, dir, ckpt)
          .start().awaitTermination()
      emb.filter(col("vec_id") >= cutoff && col("vec_id") < cMid)
        .repartition(1).write.mode("overwrite").parquet(landing)
      drainTick()
      emb.filter(col("vec_id") >= cMid)
        .repartition(1).write.mode("append").parquet(landing)
      drainTick()
      serveIvfPqStoredRows(s, dir, cachedQueryRows(s, d, NUM_QUERIES),
        probes = IVFPQ_PROBES, rerank = IVFPQ_RERANK, topK = 5)
    }),

    // ---- q176: the DRIFT-RESPONSE streamed tick (round 17) — the
    // index tailer watching its own drift and repairing cell-locally
    // MID-STREAM, q159's kill/resume discipline over the full retrain
    // policy lifecycle. Tick 1 lands an in-distribution half-decile
    // through the drift-aware sink (the policy must NOT fire); the
    // stream is KILLED and RESUMED for tick 2, which lands a DIVERGED
    // blob (half the corpus shifted +2.0 per dimension, ids offset
    // into their own range) — needsRetrain fires inside the tick and
    // refineDriftedCells splits the blob's cells against a generation
    // codebook before the tick ends; tick 3 (killed/resumed again)
    // lands MORE of the same shifted domain, and the restamped policy
    // window must read it as in-distribution now (the refined store's
    // generation cells fit the blob — the trigger stays quiet, proving
    // the response actually repaired what it measured). Output arms:
    // 'stored'/'coded' = the vectors/codes tables at HEAD (every base,
    // in-distribution, and blob row exactly once EACH — a refine that
    // drops, duplicates, or re-encodes-away one row of either table
    // flips the hash); 'policy'/'refined' = the per-tick audit stamps
    // the sink persisted in store props (fired exactly on tick 2,
    // refined cells non-empty exactly on tick 2); 'serve' = held-out
    // blob-region queries served generation-aware, every returned
    // neighbor a blob member (the +2.0/dim shift separates the blob
    // from the corpus by ~5x the intra-blob spread, so the exact
    // re-rank admits no in-distribution row at any ADC ordering).
    // Policy knobs sized to the fixture increment (minCellMass=20,
    // maxRefineFraction=0.75, refineIters=1 — the localized-response
    // cadence SCALING r17 addendum 6 documents); production defaults
    // stay on the sink.
    // ---- q178: the ANN TAKEDOWN lifecycle (round 17) — forget,
    // physical drop, forced exclusion at serve. The doomed set is five
    // STORED vectors just under the train line; the five queries are
    // their exact quantized copies, so before the takedown each query
    // top-1s its own vector at cos = 1 (the gate REQUIRES that premise
    // — the exclusion below is forced, not vacuous). forget commits
    // the set as an O(deleted) tombstone delta, compaction folds it
    // into a physical drop (tombs arm required empty), vacuum removes
    // the bytes, and the post-takedown serve must return a FULL top-5
    // per query with no doomed id anywhere — the next-nearest
    // candidates promote instead of the result set shrinking. Output
    // arms: 'stored'/'coded' pin the exact surviving id population of
    // both tables (a compaction that drops or duplicates one row flips
    // the hash); 'count'/'clean' pin the promotion-fill and the
    // exclusion per query. All four are closed-form — the oracle needs
    // no kmeans, no PQ, no serve.
    "q178_ann_forget" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.rebalance(Tables.embeddings(s, d))
      val mx = emb.agg(max(col("vec_id"))).head.getLong(0)
      val c9 = mx * 9L / 10L
      val qOff = 2000000L
      val zone = graft.jobs.JobRecordGate.freshZone("graft-annforget-", d)
      val dir = new java.io.File(zone, "index").getAbsolutePath
      DedupLedger.cloneStore(ensureIvfPq90Index(s, d, GATED_K), dir)
      def doomedIds = emb.filter(col("vec_id") >= c9 - 5L &&
        col("vec_id") < c9)
      val qRows = doomedIds
        .select((col("vec_id") + lit(qOff)).as("vec_id"), col("embedding"))
        .withColumn("q", expr(quantExpr))
        .select(col("vec_id"), col("q")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
      val pre = serveIvfPqStoredRows(s, dir, qRows, probes = IVFPQ_PROBES,
          rerank = IVFPQ_RERANK, topK = 5)
        .filter(col("rn") === 1L).collect()
      require(pre.length == 5 && pre.forall(r =>
          r.getAs[Long]("vec_id") == r.getAs[Long]("qid") - qOff),
        "q178 premise: a stored vector's exact copy must top-1 itself " +
        s"pre-takedown: ${pre.mkString(",")}")
      IndexStore.forget(s, dir, "vector", doomedIds.select(col("vec_id")),
        Some("takedown-1"))
      compactIvfPqIndex(s, dir)
      vacuumIvfPqIndex(dir)
      require(IndexStore.snapshot(dir).tombs.isEmpty,
        "q178: compaction must fold the tombstones into a physical drop")
      val served = serveIvfPqStoredRows(s, dir, qRows,
        probes = IVFPQ_PROBES, rerank = IVFPQ_RERANK, topK = 5)
      // one aggregation over ONE served frame, unpivoted: the count and
      // clean rows of a query come from the same serve
      val perQ = served.groupBy(col("qid")).agg(
          count(lit(1)).cast("long").as("cnt"),
          min(when(col("vec_id") < c9 - 5L || col("vec_id") >= c9,
            lit(1L)).otherwise(lit(0L))).cast("long").as("clean"))
        .select(expr("stack(2, 'count', qid, cnt, 'clean', qid, clean) " +
          "AS (kind, id, val)"))
      val (codesF, vecsF) = IndexStore.frames(s, dir,
        IndexStore.snapshot(dir))
      vecsF.select(lit("stored").as("kind"),
          col("vec_id").cast("long").as("id"), lit(1L).as("val"))
        .unionByName(codesF.select(lit("coded").as("kind"),
          col("vec_id").cast("long").as("id"), lit(1L).as("val")))
        .unionByName(perQ)
        .orderBy(col("kind"), col("id"))
    }),

    "q176_ann_drift_tick" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.rebalance(Tables.embeddings(s, d))
      val mx = emb.agg(max(col("vec_id"))).head.getLong(0)
      val c9 = mx * 9L / 10L
      val cMid = mx * 19L / 20L
      val half = mx / 2L
      // derived, never a fixed constant: see q180 (ADVICE r18 #4)
      val blobOff = mx + 1L
      val zone = graft.jobs.JobRecordGate.freshZone("graft-drifttick-", d)
      val dir = new java.io.File(zone, "index").getAbsolutePath
      DedupLedger.cloneStore(ensureIvfPq90Index(s, d, GATED_K), dir)
      val landing = new java.io.File(zone, "in").getAbsolutePath
      val ckpt = new java.io.File(zone, "ck").getAbsolutePath
      val ss = graft.streaming.StreamConf.stateSession(s, 8)
      def stream = ss.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
        .parquet(landing)
      def drainTick(): Unit =
        graft.streaming.IndexMaintenance.driftSink(stream, dir, ckpt,
          minCellMass = 20L, refineIters = 1, maxRefineFraction = 0.75)
          .start().awaitTermination()
      def shifted(lo: Long, hi: Long) =
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select((col("vec_id") + lit(blobOff)).as("vec_id"),
            expr("transform(embedding, x -> x + CAST(2.0 AS FLOAT))")
              .as("embedding"),
            col("label"))
      emb.filter(col("vec_id") >= c9 && col("vec_id") < cMid)
        .repartition(1).write.mode("overwrite").parquet(landing)
      drainTick()
      shifted(0L, half).repartition(1).write.mode("append").parquet(landing)
      drainTick()
      shifted(half, c9).repartition(1).write.mode("append").parquet(landing)
      drainTick()
      // held-out blob-region queries: the shifted images of tick 1's
      // in-distribution ids were never appended (the blob covers only
      // shifted ids below the 90% line)
      val qRows = emb.filter(col("vec_id") >= c9 && col("vec_id") < c9 + 5L)
        .select((col("vec_id") + lit(blobOff)).as("vec_id"),
          expr("transform(embedding, x -> x + CAST(2.0 AS FLOAT))")
            .as("embedding"))
        .withColumn("q", expr(quantExpr))
        .select(col("vec_id"), col("q")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
      val served = serveIvfPqStoredRows(s, dir, qRows,
          probes = IVFPQ_PROBES, rerank = IVFPQ_RERANK, topK = 5)
        .groupBy(col("qid"))
        .agg(min(when(col("vec_id") >= blobOff, lit(1)).otherwise(lit(0)))
          .as("val"))
        .select(lit("serve").as("kind"), col("qid").as("id"),
          col("val").cast("int").as("val"))
      val props = IndexStore.props(dir)
      val polDf = (1 to 3).flatMap { t =>
        val parts =
          props.getOrElse(s"drift_policy_b${t - 1}", "0:0:0").split(':')
        Seq(("policy", t.toLong, parts(0).toInt),
            ("refined", t.toLong, if (parts(1).toInt > 0) 1 else 0))
      }.toDF("kind", "id", "val")
      val (codesF, vecsF) = IndexStore.frames(s, dir, IndexStore.snapshot(dir))
      vecsF.select(lit("stored").as("kind"),
          col("vec_id").cast("long").as("id"), lit(1).as("val"))
        .unionByName(codesF.select(lit("coded").as("kind"),
          col("vec_id").cast("long").as("id"), lit(1).as("val")))
        .unionByName(served)
        .unionByName(polDf)
        .orderBy(col("kind"), col("id"))
    }),

    // ---- q181: the LOCALIZED drift response (round 19, VERDICT r18
    // Next #5) — q176's tick-2 blob is deliberately corpus-sized
    // (half the seed), which prices the worst case; the regime
    // deployments actually run is a NARROW drift (one upstream domain
    // shifts) whose response must cost O(cells-drifted), not
    // O(corpus). One streamed tick lands a blob of only mx/8 shifted
    // ids; the policy must fire (every appended row is
    // off-distribution — the global trigger is blob-size-invariant),
    // the refine must touch only the blob's landing cells (the
    // proportionality guard would DECLINE a corpus-sized selection at
    // these knobs), and the held-out blob-region serves must come
    // back all-blob. Same closed-form oracle arms as q176, one tick.
    // Priced per-round in the bench and at sf0.001/0.01/0.1/1 in the
    // tri-scale sweep — the artifact row the q176 worst case lacked.
    "q181_ann_drift_local" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.rebalance(Tables.embeddings(s, d))
      val mx = emb.agg(max(col("vec_id"))).head.getLong(0)
      val c9 = mx * 9L / 10L
      val blobOff = mx + 1L // derived, never fixed (ADVICE r18 #4)
      val zone = graft.jobs.JobRecordGate.freshZone("graft-driftloc-", d)
      val dir = new java.io.File(zone, "index").getAbsolutePath
      DedupLedger.cloneStore(ensureIvfPq90Index(s, d, GATED_K), dir)
      val landing = new java.io.File(zone, "in").getAbsolutePath
      val ckpt = new java.io.File(zone, "ck").getAbsolutePath
      val ss = graft.streaming.StreamConf.stateSession(s, 8)
      def stream = ss.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
        .parquet(landing)
      emb.filter(col("vec_id") < mx / 8L)
        .select((col("vec_id") + lit(blobOff)).as("vec_id"),
          expr("transform(embedding, x -> x + CAST(2.0 AS FLOAT))")
            .as("embedding"),
          col("label"))
        .repartition(1).write.mode("overwrite").parquet(landing)
      graft.streaming.IndexMaintenance.driftSink(stream, dir, ckpt,
        minCellMass = 20L, refineIters = 1, maxRefineFraction = 0.75)
        .start().awaitTermination()
      val props = IndexStore.props(dir)
      val parts = props.getOrElse("drift_policy_b0", "0:0:0").split(':')
      require(parts(0).toInt == 1 && parts(1).toInt > 0,
        s"q181 premise: the localized blob must fire the policy AND " +
        s"drive a cell-local refine (got drift_policy_b0=" +
        s"${props.getOrElse("drift_policy_b0", "?")}) — if the fixture " +
        "shrank below minCellMass=20 per landing cell, widen the blob")
      val polDf = Seq(
        ("policy", 1L, parts(0).toInt),
        ("refined", 1L, if (parts(1).toInt > 0) 1 else 0))
        .toDF("kind", "id", "val")
      val qRows = emb.filter(col("vec_id") >= c9 && col("vec_id") < c9 + 5L)
        .select((col("vec_id") + lit(blobOff)).as("vec_id"),
          expr("transform(embedding, x -> x + CAST(2.0 AS FLOAT))")
            .as("embedding"))
        .withColumn("q", expr(quantExpr))
        .select(col("vec_id"), col("q")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
      val served = serveIvfPqStoredRows(s, dir, qRows,
          probes = IVFPQ_PROBES, rerank = IVFPQ_RERANK, topK = 5)
        .groupBy(col("qid"))
        .agg(min(when(col("vec_id") >= blobOff, lit(1)).otherwise(lit(0)))
          .as("val"))
        .select(lit("serve").as("kind"), col("qid").as("id"),
          col("val").cast("int").as("val"))
      val (codesF, vecsF) = IndexStore.frames(s, dir, IndexStore.snapshot(dir))
      vecsF.select(lit("stored").as("kind"),
          col("vec_id").cast("long").as("id"), lit(1).as("val"))
        .unionByName(codesF.select(lit("coded").as("kind"),
          col("vec_id").cast("long").as("id"), lit(1).as("val")))
        .unionByName(served)
        .unionByName(polDf)
        .orderBy(col("kind"), col("id"))
    }),

    // ---- q180: a TAKEDOWN SURVIVES incremental maintenance (round 18
    // — the oracle-level pin for ADVICE r17's resurrection hazard).
    // Seed vectors vec_id % 50 = 3 are forgotten FIRST; a diverged
    // blob then lands and the cell-local refine rewrites the drifted
    // cells under a replacement commit. The refine reads tomb-
    // subtracted frames and must CARRY the tombstones forward (its
    // base touched only the drifted cells — every untouched cell's
    // files still physically contain the forgotten rows), so both
    // read paths — phase 1 merge-on-read after the refine, phase 2
    // post-fold after compaction + vacuum — must show exactly
    // seed ∪ blob minus the takedown, row for row against a closed-
    // form oracle. A refine that dropped the tombstones (the hazard:
    // commitReplace treats base.tombs as folded) resurrects ~2% of
    // the seed in phase 1 and makes it permanent in phase 2.
    "q180_ann_forget_refine" -> ((s, d) => {
      val emb = Tables.rebalance(Tables.embeddings(s, d))
      val mx = emb.agg(max(col("vec_id"))).head.getLong(0)
      val c9 = mx * 9L / 10L
      val half = mx / 2L
      // blob ids DERIVED from the data (ADVICE r18 #4): a fixed offset
      // collides with the tombstoned seed range once max(vec_id)
      // outgrows it, and the merge-on-read anti-join would silently
      // drop live blob rows — collision-free by construction instead
      val blobOff = mx + 1L
      val zone = graft.jobs.JobRecordGate.freshZone("graft-fgref-", d)
      val dir = new java.io.File(zone, "index").getAbsolutePath
      DedupLedger.cloneStore(ensureIvfPq90Index(s, d, GATED_K), dir)
      IndexStore.forget(s, dir, "vector",
        emb.filter(col("vec_id") < c9 &&
            pmod(col("vec_id"), lit(50L)) === 3L)
          .select(col("vec_id")), Some("takedown-1"))
      val blob = emb.filter(col("vec_id") < half)
        .select((col("vec_id") + lit(blobOff)).as("vec_id"),
          expr("transform(embedding, x -> x + CAST(2.0 AS FLOAT))")
            .as("embedding"),
          col("label"))
      appendToIvfPqIndex(s, blob, dir, Some("blob"))
      val refined = refineDriftedCells(s, dir, minCellMass = 20L,
        refineIters = 1, maxRefineFraction = 0.75)
      require(refined.nonEmpty,
        "q180: the diverged blob must drive a cell-local refine")
      require(IndexStore.snapshot(dir).tombs.nonEmpty,
        "q180: the refine's replacement commit must carry the tombstones")
      def audit(phase: Long): DataFrame = {
        val (codesF, vecsF) =
          IndexStore.frames(s, dir, IndexStore.snapshot(dir))
        vecsF.select(lit("stored").as("kind"),
            col("vec_id").cast("long").as("id"))
          .unionByName(codesF.select(lit("coded").as("kind"),
            col("vec_id").cast("long").as("id")))
          .withColumn("phase", lit(phase))
      }
      val m1 = audit(1L).localCheckpoint()
      compactIvfPqIndex(s, dir)
      vacuumIvfPqIndex(dir)
      require(IndexStore.snapshot(dir).tombs.isEmpty,
        "q180: compaction must fold the tombstones into a physical drop")
      m1.unionByName(audit(2L))
        .select(col("phase"), col("kind"), col("id"))
        .orderBy(col("phase"), col("kind"), col("id"))
    }),

    // ---- q130: storage-maintenance LIFECYCLE — build on 80%, two
    // append batches, compaction, vacuum, then serve. Compaction and
    // vacuum are layout-only operations: the oracle is the q129 append
    // oracle with the train line at 80%, so a compaction that dropped,
    // duplicated, or re-celled one code/vector row — or a vacuum that
    // deleted a live file — fails the hash. The serve plan still prunes
    // on the cell partition column (the compacted files keep the cell=
    // directory layout; PlanGuardSpec pins it).
    "q130_ann_index_compact" -> ((s, d) => {
      val idx = ensureIvfPqCompactedIndex(s, d, k = GATED_K)
      serveIvfPqStoredRows(s, idx, cachedQueryRows(s, d, NUM_QUERIES),
        probes = IVFPQ_PROBES, rerank = IVFPQ_RERANK, topK = 5)
    }),

    // ---- q134: FILTERED vector search — top-k among only the vectors
    // whose metadata passes a predicate (label % 2 = 0), served from
    // the same stored index as q128. The stored code rows carry their
    // filterable attributes (rider columns through the row-local
    // encode), so the predicate evaluates in the compressed domain
    // BEFORE candidates form — pre-filtered search, the shape every
    // production vector store exposes (post-filtering a top-k can go
    // empty under selective predicates). The hash pins routing, the
    // filtered ADC candidate set, and the re-rank together.
    "q134_ann_filtered_serve" -> ((s, d) => {
      val idx = ensureIvfPqIndex(s, d, k = GATED_K)
      serveIvfPqStoredRows(s, idx, cachedQueryRows(s, d, NUM_QUERIES),
        probes = IVFPQ_PROBES, rerank = IVFPQ_RERANK, topK = 5,
        candFilter = Some(expr("label % 2 = 0")))
    }),

    // ---- q126: ANN over self-trained PQ codes — the compressed-domain
    // probe. The hash covers the whole lifecycle (train -> encode ->
    // ADC): a drifted sub-codebook moves some code, which moves some
    // looked-up distance, which reorders some query's top-5.
    "q126_ann_pq_adc" -> ((s, d) =>
      pqAdcTopK(Tables.rebalance(Tables.embeddings(s, d)),
                numQueries = NUM_QUERIES, topK = 5)),

    // ---- q127: the COMPOSED serving stack — learned-cell routing +
    // RESIDUAL-encoded in-cell ADC scan + exact re-rank (IVFADC+R,
    // residuals per Jegou et al. §V). The hash covers all four moving
    // parts at once: a drifted Lloyd cell re-routes a query AND changes
    // every member's residual, a drifted sub-codebook reorders the
    // candidate set (adist is in the output), and the exact cosines pin
    // the re-rank.
    "q127_ann_ivf_pq_rerank" -> ((s, d) =>
      ivfPqRerankTopK(Tables.rebalance(Tables.embeddings(s, d)), k = GATED_K,
                      numQueries = NUM_QUERIES, probes = IVFPQ_PROBES,
                      rerank = IVFPQ_RERANK, topK = 5)),

    // ---- q125: ANN over the LEARNED index — q124's build feeding
    // q52's probe, label column nowhere in sight. The hash covers the
    // whole lifecycle: a drifted Lloyd assignment moves some vector to
    // another cell and changes the served neighbor set. The ROUTER_ITERS
    // training consumes the shared fitted-centroid artifact (the q131
    // fittedCents discipline — bit-identical rationals, so the oracle's
    // in-query kmeansCteDuck replay still matches); the RecallSpec router
    // floor keeps gating the fit path itself.
    "q125_ann_learned_cells" -> ((s, d) =>
      learnedCellTopK(Tables.rebalance(Tables.embeddings(s, d)),
                      k = GATED_K, numQueries = NUM_QUERIES, topK = 5,
                      fitted = Some(fittedCents(s, d, GATED_K, ROUTER_ITERS)))),

    // ---- q124: build an IVF cell index with 2 Lloyd iterations (k=8,
    // deterministic init) and emit the per-cell audit: member count,
    // representative (min vec_id), and the exact integer sums of the
    // first 4 dims of the final assignment — every value either an
    // exact BIGINT or absent, so the whole two-iteration trajectory is
    // inside the cross-engine hash (a drifted assignment anywhere
    // changes some cell's sums).
    "q124_kmeans_ivf_build" -> ((s, d) => {
      val k = 8
      val quant = Tables.rebalance(Tables.embeddings(s, d))
        .withColumn("q", expr(quantExpr))
        .select(col("vec_id"), col("q"))
        .localCheckpoint() // shared by init + both assignment passes
      val a1 = kmeansAssign(quant, kmeansInit(quant, k))
      val a2 = kmeansAssign(quant, kmeansUpdate(a1))
      a2.groupBy(col("cell")).agg(
          count(lit(1)).as("n"),
          min(col("vec_id")).as("rep"),
          sum(element_at(col("q"), 1)).as("s1"),
          sum(element_at(col("q"), 2)).as("s2"),
          sum(element_at(col("q"), 3)).as("s3"),
          sum(element_at(col("q"), 4)).as("s4"))
        .orderBy(col("cell"))
    }),

    // ---- q51: brute-force cosine top-10 for a fixed query set.
    "q51_cosine_topk" -> ((s, d) => {
      val emb = Tables.rebalance(Tables.embeddings(s, d))
        .withColumn("q", expr(quantExpr))
        .withColumn("norm", ldot(col("q"), col("q")))
        .select(col("vec_id"), col("q"), col("norm"))
      val queriesDf = emb.filter(col("vec_id") < NUM_QUERIES)
        .select(col("vec_id").as("qid"), col("q").as("qv"), col("norm").as("qnorm"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      emb.join(broadcast(queriesDf), col("vec_id") =!= col("qid"))
        .withColumn("dot", ldot(col("q"), col("qv")))
        .withColumn("cos", col("dot").cast("double") /
          sqrt(col("norm").cast("double")) / sqrt(col("qnorm").cast("double")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("vec_id"), col("cos"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- q52: IVF-style ANN — candidates pruned to the query's cell
    // (label) before any distance math; top-5 within the cell.
    "q52_ann_ivf" -> ((s, d) => {
      val emb = Tables.rebalance(Tables.embeddings(s, d))
        .withColumn("q", expr(quantExpr))
        .withColumn("norm", ldot(col("q"), col("q")))
        .select(col("vec_id"), col("label"), col("q"), col("norm"))
      val queriesDf = emb.filter(col("vec_id") < NUM_QUERIES)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
                col("q").as("qv"), col("norm").as("qnorm"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      emb.join(broadcast(queriesDf),
          col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
        .withColumn("dot", ldot(col("q"), col("qv")))
        .withColumn("cos", col("dot").cast("double") /
          sqrt(col("norm").cast("double")) / sqrt(col("qnorm").cast("double")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("label"), col("vec_id"), col("cos"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- q99: hard-negative mining for retrieval training — for each
    // query vector, the top-5 highest-cosine vectors with a DIFFERENT
    // label (contrastive pairs: semantically close, labeled apart).
    // Same corpus-streams/queries-broadcast shape as q51; the label
    // mismatch is a row-local predicate inside the broadcast join, so
    // negatives never need a global index — at 100 TB this is one
    // corpus scan + the per-query top-k windows (or the q61 bounded
    // per-partition heap form when k*|queries| stays small).
    "q99_hard_negatives" -> ((s, d) => {
      val emb = Tables.rebalance(Tables.embeddings(s, d))
        .withColumn("q", expr(quantExpr))
        .withColumn("norm", ldot(col("q"), col("q")))
        .select(col("vec_id"), col("label"), col("q"), col("norm"))
      val queriesDf = emb.filter(col("vec_id") < NUM_QUERIES)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
                col("q").as("qv"), col("norm").as("qnorm"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      emb.join(broadcast(queriesDf), col("label") =!= col("qlabel"))
        .withColumn("dot", ldot(col("q"), col("qv")))
        .withColumn("cos", col("dot").cast("double") /
          sqrt(col("norm").cast("double")) / sqrt(col("qnorm").cast("double")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("label"), col("cos"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- q61: cosine top-k via the custom typed Aggregator — identical
    // result to q51's window formulation, but only k rows per partition
    // survive the shuffle (bounded per-partition heaps merge), instead of
    // shuffling + sorting every scored candidate. This is the shape that
    // survives a billion-vector corpus.
    "q61_topk_aggregate" -> ((s, d) => {
      import graft.functions.TopKAggregator
      val emb = Tables.rebalance(Tables.embeddings(s, d))
        .withColumn("q", expr(quantExpr))
        .withColumn("norm", ldot(col("q"), col("q")))
        .select(col("vec_id"), col("q"), col("norm"))
      val queriesDf = emb.filter(col("vec_id") < NUM_QUERIES)
        .select(col("vec_id").as("qid"), col("q").as("qv"), col("norm").as("qnorm"))
      val topk = udaf(TopKAggregator.topK(10),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[TopKAggregator.Scored]())
      emb.join(broadcast(queriesDf), col("vec_id") =!= col("qid"))
        .withColumn("dot", ldot(col("q"), col("qv")))
        .withColumn("cos", col("dot").cast("double") /
          sqrt(col("norm").cast("double")) / sqrt(col("qnorm").cast("double")))
        .groupBy(col("qid"))
        .agg(topk(col("vec_id"), col("cos")).as("top"))
        .select(col("qid"), posexplode(col("top")))
        .select(col("qid"), col("col.id").as("vec_id"),
                col("col.score").as("cos"), (col("pos") + 1).cast("long").as("rn"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- q64: IVF MULTI-PROBE ANN — rank cells by distance from the
    // query to each cell centroid, search the nearest 2 cells (q52
    // probes only the query's own cell; multi-probe is the standard
    // recall fix when a query sits near a cell boundary).
    // Centroid distance uses exact integer arithmetic so both engines
    // rank cells identically: for cell l with member SUM vector s and
    // count n, ||x - s/n||^2 ~ sum_d (x_d*n - s_d)^2 / n^2 — the
    // numerator is an exact int64, the final division a fixed IEEE op.
    "q64_ann_multiprobe" -> ((s, d) => {
      val emb = Tables.rebalance(Tables.embeddings(s, d))
        .withColumn("q", expr(quantExpr))
        .withColumn("norm", ldot(col("q"), col("q")))
        .select(col("vec_id"), col("label"), col("q"), col("norm"))
      val cent = emb
        .select(col("label"), posexplode(col("q")).as(Seq("pos", "xq")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("xq")).as("s"), count(lit(1)).as("nl"))
      val queriesDf = emb.filter(col("vec_id") < NUM_QUERIES)
        .select(col("vec_id").as("qid"), col("q").as("qv"), col("norm").as("qnorm"))
      val qd = queriesDf
        .select(col("qid"), posexplode(col("qv")).as(Seq("pos", "qx")))
      val wCell = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("dist"), col("label"))
      val cells = qd.join(cent, "pos")
        .withColumn("term", expr("(qx * nl - s) * (qx * nl - s)"))
        .groupBy(col("qid"), col("label"))
        .agg(sum(col("term")).as("dn"), max(col("nl")).as("nl"))
        .withColumn("dist", col("dn").cast("double") /
                            (col("nl") * col("nl")).cast("double"))
        .withColumn("cell_rank", row_number().over(wCell))
        .filter(col("cell_rank") <= 2)
        .select(col("qid").as("cqid"), col("label").as("clabel"))
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      emb.join(broadcast(cells), col("label") === col("clabel"))
        .join(broadcast(queriesDf),
              col("qid") === col("cqid") && col("vec_id") =!= col("qid"))
        .withColumn("dot", ldot(col("q"), col("qv")))
        .withColumn("cos", col("dot").cast("double") /
          sqrt(col("norm").cast("double")) / sqrt(col("qnorm").cast("double")))
        .withColumn("rn", row_number().over(wTop).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("label"), col("vec_id"), col("cos"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- q53: per-vector stats over the quantized embedding.
    "q53_vector_stats" -> ((s, d) => {
      Tables.rebalance(Tables.embeddings(s, d))
        .withColumn("q", expr(quantExpr))
        .select(col("vec_id"), col("label"),
                size(col("q")).cast("long").as("dim"),
                ldot(col("q"), col("q")).as("norm_q"),
                array_min(col("q")).as("min_q"),
                array_max(col("q")).as("max_q"))
        .orderBy(col("vec_id"))
    }),

    // ---- q54: per-label centroid components (first 8 dims) — exact
    // integer sums per (label, dim); the caller divides by n for means.
    // The dim cut is applied as slice() BEFORE posexplode: a post-explode
    // filter sits on a generated attribute that Catalyst cannot push below
    // the Generate, so it would explode+shuffle all 64 dims to keep 8.
    "q54_label_centroid" -> ((s, d) => {
      val quant8 = "transform(slice(embedding, 1, 8), " +
        "x -> cast(round(cast(x AS double) * 10000, 0) AS bigint))"
      Tables.rebalance(Tables.embeddings(s, d))
        .select(col("label"), posexplode(expr(quant8)).as(Seq("pos", "xq")))
        .withColumn("dim", (col("pos") + 1).cast("long"))
        .groupBy(col("label"), col("dim"))
        .agg(sum(col("xq")).as("sum_q"), count(lit(1)).as("n"))
        .orderBy(col("label"), col("dim"))
    })
  )

  private[graft] val quantDuck =
    "list_transform(embedding, x -> round(x::DOUBLE * 10000, 0)::BIGINT)"
  private[graft] def dotDuck(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))::BIGINT"

  /** The quantized corpus as a DuckDB CTE — the ONE `e` definition every
    * vector oracle (kmeans, PQ, and their compositions) starts from.
    */
  private[graft] lazy val embCteDuck: String =
    s"""e AS (
      |  SELECT vec_id, $quantDuck AS q FROM embeddings)""".stripMargin

  /** The q124 two-iteration Lloyd trajectory as a DuckDB CTE chain
    * (reads `e` .. yields `c1n` learned centroids + `a2` final
    * assignment) — shared verbatim by the q124/q125/q127 oracles so the
    * build both gates hash is ONE definition. Same rational (sum, count)
    * centroids, same exact-int64 distance numerators, (dist, cell)
    * tie-break via row_number. Splice after [[embCteDuck]].
    */
  /** The density-aware greedy init as a DuckDB CTE chain — mirrors
    * [[kmeansInit]] pick for pick over the same bounded held-out
    * sample: seed 0 = sample point nearest the sample mean (exact
    * ‖x·n − Σ‖², vec_id ties), seed i = un-chosen sample point with max
    * min exact squared distance to the chosen set (md DESC, vec_id
    * ties). All int64 — the pick sequence is bit-identical across
    * engines. Yields `c0` (cell, s, n) in pick order, the same frame
    * the old first-k-ids CTE produced.
    */
  private def kmeansInitCteDuck(k: Int): String = {
    def d2(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), t -> (t[1] - t[2]) * (t[1] - t[2])))::BIGINT"
    val sb = new StringBuilder
    sb ++= s"""samp AS MATERIALIZED (SELECT vec_id, q FROM kin
      |        WHERE vec_id >= $SEED_FROM AND vec_id < ${SEED_FROM + INIT_SAMPLE}),
      |smean AS (
      |  SELECT list(sd ORDER BY pos) AS s, max(np) AS n FROM (
      |    SELECT pos, sum(x)::BIGINT AS sd, count(*) AS np FROM (
      |      SELECT unnest(q) AS x, generate_subscripts(q, 1) AS pos FROM samp)
      |    GROUP BY pos)),
      |ch0 AS MATERIALIZED (
      |  SELECT 0::INT AS cell, vec_id, q FROM (
      |    SELECT samp.vec_id, samp.q, row_number() OVER (ORDER BY
      |      list_sum(list_transform(list_zip(samp.q, sm.s),
      |        t -> (t[1] * sm.n - t[2]) * (t[1] * sm.n - t[2])))::BIGINT,
      |      samp.vec_id) AS rn
      |    FROM samp CROSS JOIN smean sm)
      |  WHERE rn = 1),
      |""".stripMargin
    for (i <- 1 until k) {
      sb ++= s"""fd$i AS MATERIALIZED (
        |  SELECT p.vec_id, min(${d2("p.q", "c.q")}) AS md
        |  FROM samp p CROSS JOIN ch${i - 1} c
        |  WHERE p.vec_id NOT IN (SELECT vec_id FROM ch${i - 1})
        |  GROUP BY p.vec_id),
        |pk$i AS (SELECT vec_id FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY md DESC, vec_id) AS rn
        |    FROM fd$i) WHERE rn = 1),
        |ch$i AS MATERIALIZED (
        |  SELECT * FROM ch${i - 1} UNION ALL
        |  SELECT $i::INT AS cell, samp.vec_id, samp.q
        |  FROM samp JOIN pk$i USING (vec_id)),
        |""".stripMargin
    }
    sb ++= s"c0 AS MATERIALIZED (SELECT cell, q AS s, 1::BIGINT AS n FROM ch${k - 1})"
    sb.toString
  }

  /** The FULL coarse-quantizer trajectory as a DuckDB CTE chain,
    * mirroring `kmeansFit(quant, k, rounds)` + final `kmeansAssign`
    * step for step: the greedy init ([[kmeansInitCteDuck]]), then per
    * update round j — assignment `t_j` over the TRAIN input `kin`
    * (dist kept), exact (sum, count) centroid update `u_j`, and the
    * dead-cell re-seed mirror (cells of c0 absent from u_j re-seeded
    * as singletons at the worst-served NON-QUERY points of t_j, dead
    * cell ids ascending paired with (dist DESC, vec_id) rank — the
    * exact [[reseedDead]] pairing; empty CTEs when every cell lives,
    * which the greedy init guarantees for round 1). Yields `c1n` (the
    * final centroids) and `a2` (final assignment of the FULL corpus
    * `e`) — the names every downstream CTE (audit, serve, resid)
    * splices against, whatever the round count.
    */
  private[graft] def kmeansCteDuck(k: Int, rounds: Int): String = {
    def assign(name: String, cents: String, src: String, keep: String) =
      s"""$name AS MATERIALIZED (
        |  SELECT $keep FROM (
        |    SELECT vec_id, cell, dist, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM (
        |      SELECT e.vec_id, c.cell,
        |        list_sum(list_transform(list_zip(e.q, c.s),
        |          p -> (p[1] * c.n - p[2]) * (p[1] * c.n - p[2])))::BIGINT::DOUBLE
        |          / (c.n * c.n)::DOUBLE AS dist
        |      FROM $src e CROSS JOIN $cents c))
        |  WHERE rn = 1),
        |""".stripMargin
    val sb = new StringBuilder
    sb ++= kmeansInitCteDuck(k)
    sb ++= ",\n"
    var cents = "c0"
    for (j <- 1 to rounds) {
      sb ++= assign(s"t$j", cents, "kin", "vec_id, cell, dist")
      sb ++= s"""u$j AS MATERIALIZED (
        |  SELECT cell, list(sd ORDER BY pos) AS s, max(cn)::BIGINT AS n FROM (
        |    SELECT cell, pos, sum(x)::BIGINT AS sd, count(*) AS cn FROM (
        |      SELECT t.cell, unnest(e.q) AS x, generate_subscripts(e.q, 1) AS pos
        |      FROM t$j t JOIN kin e USING (vec_id))
        |    GROUP BY cell, pos)
        |  GROUP BY cell),
        |""".stripMargin
      if (j < rounds) {
        sb ++= s"""dead$j AS MATERIALIZED (
          |  SELECT cell, row_number() OVER (ORDER BY cell) AS wrn
          |  FROM c0 WHERE cell NOT IN (SELECT cell FROM u$j)),
          |worst$j AS MATERIALIZED (
          |  SELECT vec_id, row_number() OVER (ORDER BY dist DESC, vec_id) AS wrn
          |  FROM t$j WHERE vec_id >= $SEED_FROM),
          |c$j AS MATERIALIZED (
          |  SELECT * FROM u$j UNION ALL
          |  SELECT d.cell, e.q AS s, 1::BIGINT AS n
          |  FROM dead$j d JOIN worst$j w USING (wrn) JOIN kin e USING (vec_id)),
          |""".stripMargin
        cents = s"c$j"
      }
    }
    sb ++= s"c1n AS MATERIALIZED (SELECT cell, s, n FROM u$rounds),\n"
    sb ++= assign("a2full", "c1n", "e", "vec_id, cell, dist")
    sb ++= "a2 AS MATERIALIZED (SELECT vec_id, cell FROM a2full)"
    sb.toString
  }

  /** The PQ train+encode lifecycle as a DuckDB CTE chain, mirroring
    * pqInit/pqTrain/pqUpdate and the encode step for step: same
    * deterministic init, same exact-int64 distance numerators, same
    * (dist, cell) tie-break. PARAMETERIZED by its input: reads a CTE
    * named `pqin` (vec_id, q) so the q126 oracle feeds raw quantized
    * vectors and the q127 oracle feeds floor-quantized RESIDUALS —
    * one body, spliced by both.
    */
  private lazy val pqTrainCteDuck: String =
    s"""subs AS (
      |  SELECT vec_id, m.sub, list_slice(q, m.sub * $PQ_SUBDIM + 1,
      |                                   m.sub * $PQ_SUBDIM + $PQ_SUBDIM) AS sq
      |  FROM pqin, (SELECT unnest(range($PQ_M)) AS sub) m),
      |pc0 AS (SELECT sub, (vec_id - $SEED_FROM)::INT AS cell, sq AS s, 1::BIGINT AS n
      |       FROM subs WHERE vec_id >= $SEED_FROM AND vec_id < ${SEED_FROM + PQ_KSUB}
      |         AND vec_id IN (SELECT vec_id FROM pqtrain)),
      |pa1 AS (
      |  SELECT vec_id, sub, cell FROM (
      |    SELECT vec_id, sub, cell, row_number() OVER (
      |      PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn FROM (
      |      SELECT sv.vec_id, sv.sub, c.cell,
      |        list_sum(list_transform(list_zip(sv.sq, c.s),
      |          p -> (p[1] * c.n - p[2]) * (p[1] * c.n - p[2])))::BIGINT::DOUBLE
      |          / (c.n * c.n)::DOUBLE AS dist
      |      FROM subs sv JOIN pc0 c ON sv.sub = c.sub
      |      WHERE sv.vec_id IN (SELECT vec_id FROM pqtrain)))
      |  WHERE rn = 1),
      |pc1 AS (
      |  SELECT sub, cell, list(sd ORDER BY pos) AS s FROM (
      |    SELECT sub, cell, pos, sum(x)::BIGINT AS sd FROM (
      |      SELECT pa1.sub, pa1.cell, unnest(sv.sq) AS x,
      |             generate_subscripts(sv.sq, 1) AS pos
      |      FROM pa1 JOIN subs sv ON pa1.vec_id = sv.vec_id AND pa1.sub = sv.sub)
      |    GROUP BY sub, cell, pos)
      |  GROUP BY sub, cell),
      |pn1 AS (SELECT sub, cell, count(*) AS n FROM pa1 GROUP BY sub, cell),
      |pc1n AS (SELECT pc1.sub, pc1.cell, s, n FROM pc1 JOIN pn1 USING (sub, cell)),
      |codes AS (
      |  SELECT vec_id, list(cell ORDER BY sub) AS codes FROM (
      |    SELECT vec_id, sub, cell FROM (
      |      SELECT vec_id, sub, cell, row_number() OVER (
      |        PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn FROM (
      |        SELECT sv.vec_id, sv.sub, c.cell,
      |          list_sum(list_transform(list_zip(sv.sq, c.s),
      |            p -> (p[1] * c.n - p[2]) * (p[1] * c.n - p[2])))::BIGINT::DOUBLE
      |            / (c.n * c.n)::DOUBLE AS dist
      |        FROM subs sv JOIN pc1n c ON sv.sub = c.sub))
      |    WHERE rn = 1)
      |  GROUP BY vec_id)""".stripMargin

  /** q126's query side: the per-query dense ADC table over the RAW
    * sub-vectors (queries live inside `pqin`/`subs`). The SAME left-fold
    * summation order as Spark (Spark `aggregate` seeded with 0.0 vs
    * DuckDB `list_reduce` seeded by the first element — identical IEEE
    * sequences because 0.0 + x == x for the non-negative
    * sub-distances). Splice after [[pqTrainCteDuck]].
    */
  private lazy val pqQueryCteDuck: String =
    s"""qd AS (
      |  SELECT sv.vec_id AS qid, sv.sub, c.cell,
      |    list_sum(list_transform(list_zip(sv.sq, c.s),
      |      p -> (p[1] * c.n - p[2]) * (p[1] * c.n - p[2])))::BIGINT::DOUBLE
      |      / (c.n * c.n)::DOUBLE AS dist
      |  FROM subs sv JOIN pc1n c ON sv.sub = c.sub WHERE sv.vec_id < $NUM_QUERIES),
      |grid AS (
      |  SELECT g1.sub, g2.cell
      |  FROM (SELECT unnest(range($PQ_M)) AS sub) g1,
      |       (SELECT unnest(range($PQ_KSUB)) AS cell) g2),
      |dt AS (
      |  SELECT qid, list(dist ORDER BY sub, cell) AS dtab FROM (
      |    SELECT q.qid, grid.sub, grid.cell,
      |           coalesce(qd.dist, 'infinity'::DOUBLE) AS dist
      |    FROM (SELECT DISTINCT qid FROM qd) q CROSS JOIN grid
      |    LEFT JOIN qd ON qd.qid = q.qid AND qd.sub = grid.sub
      |               AND qd.cell = grid.cell)
      |  GROUP BY qid)""".stripMargin

  /** The floor-quantized residual of `vec` vs a joined (s, n) rational
    * centroid row `c` — DuckDB mirror of [[residExpr]]. */
  private def residDuck(vec: String): String =
    s"""list_transform(list_zip($vec, c.s),
       |      p -> floor((p[1] * c.n - p[2])::DOUBLE / c.n::DOUBLE)::BIGINT)""".stripMargin

  /** The SERVE tail of the IVFADC+R oracle (route -> per-(query,cell)
    * ADC tables -> probed-cell scan -> exact re-rank) — reads c1n, a2,
    * resid-derived codes, and `e`; spliced by the q127/q128 body and
    * the q129 append body so every stored/served variant shares ONE
    * serve definition.
    */
  private lazy val ivfPqServeDuck: String = ivfPqServeDuckWhere("")

  /** `candCond` splices an extra predicate into the candidate scan
    * (`ascored`) — the filtered-search oracle (q134) restricts the
    * compressed-domain candidates exactly where the Spark side filters
    * the stored code rows. */
  private def ivfPqServeDuckWhere(candCond: String): String =
    s"""qc AS (
      |  SELECT qid, cell FROM (
      |    SELECT qid, cell, row_number() OVER (
      |      PARTITION BY qid ORDER BY dist, cell) AS crn FROM (
      |      SELECT e.vec_id AS qid, c.cell,
      |        list_sum(list_transform(list_zip(e.q, c.s),
      |          p -> (p[1] * c.n - p[2]) * (p[1] * c.n - p[2])))::BIGINT::DOUBLE
      |          / (c.n * c.n)::DOUBLE AS dist
      |      FROM e CROSS JOIN c1n c WHERE e.vec_id < $NUM_QUERIES))
      |  WHERE crn <= $IVFPQ_PROBES),
      |qresid AS (
      |  SELECT qc.qid, qc.cell,
      |    ${residDuck("e.q")} AS rq
      |  FROM qc JOIN e ON e.vec_id = qc.qid
      |  JOIN c1n c ON qc.cell = c.cell),
      |qrsubs AS (
      |  SELECT qid, cell, m.sub, list_slice(rq, m.sub * $PQ_SUBDIM + 1,
      |                                      m.sub * $PQ_SUBDIM + $PQ_SUBDIM) AS sq
      |  FROM qresid, (SELECT unnest(range($PQ_M)) AS sub) m),
      |qd2 AS (
      |  SELECT qs.qid, qs.cell, qs.sub, c.cell AS code,
      |    list_sum(list_transform(list_zip(qs.sq, c.s),
      |      p -> (p[1] * c.n - p[2]) * (p[1] * c.n - p[2])))::BIGINT::DOUBLE
      |      / (c.n * c.n)::DOUBLE AS dist
      |  FROM qrsubs qs JOIN pc1n c ON qs.sub = c.sub),
      |grid2 AS (
      |  SELECT g1.sub, g2.code
      |  FROM (SELECT unnest(range($PQ_M)) AS sub) g1,
      |       (SELECT unnest(range($PQ_KSUB)) AS code) g2),
      |dt2 AS (
      |  SELECT qid, cell, list(dist ORDER BY sub, code) AS dtab FROM (
      |    SELECT qc.qid, qc.cell, grid2.sub, grid2.code,
      |           coalesce(qd2.dist, 'infinity'::DOUBLE) AS dist
      |    FROM qc CROSS JOIN grid2
      |    LEFT JOIN qd2 ON qd2.qid = qc.qid AND qd2.cell = qc.cell
      |                 AND qd2.sub = grid2.sub AND qd2.code = grid2.code)
      |  GROUP BY qid, cell),
      |ascored AS (
      |  SELECT qc.qid, a2.vec_id,
      |    list_reduce(list_transform(range($PQ_M),
      |      i -> dtab[i * $PQ_KSUB + codes[i + 1] + 1]),
      |      (a, x) -> a + x) AS adist
      |  FROM a2 JOIN qc USING (cell)
      |  JOIN codes ON codes.vec_id = a2.vec_id
      |  JOIN dt2 ON dt2.qid = qc.qid AND dt2.cell = qc.cell
      |  WHERE a2.vec_id <> qc.qid$candCond),
      |cand AS (
      |  SELECT qid, vec_id, adist FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY qid ORDER BY adist, vec_id) AS arn FROM ascored)
      |  WHERE arn <= $IVFPQ_RERANK),
      |nrm AS (SELECT vec_id, q, ${dotDuck("q", "q")} AS norm FROM e),
      |qn AS (SELECT vec_id AS qid, q AS qv, norm AS qnorm FROM nrm
      |       WHERE vec_id < $NUM_QUERIES),
      |rr AS (
      |  SELECT cand.qid, cand.vec_id, cand.adist,
      |    ${dotDuck("nrm.q", "qn.qv")}::DOUBLE
      |      / sqrt(nrm.norm::DOUBLE) / sqrt(qn.qnorm::DOUBLE) AS cos
      |  FROM cand JOIN nrm USING (vec_id) JOIN qn USING (qid))
      |SELECT qid, vec_id, adist, cos, rn FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM rr)
      |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  /** The full IVFADC+R lifecycle as ONE DuckDB oracle body — gates BOTH
    * q127 (build-then-serve in-query) and q128 (persist-then-serve): any
    * divergence between the two paths shows up as a q128 hash mismatch.
    */
  private lazy val ivfPqRerankOracle: String =
    s"""WITH $embCteDuck,
      |kin AS (SELECT vec_id, q FROM e),
      |${kmeansCteDuck(GATED_K, IVF_COARSE_ITERS)},
      |resid AS (
      |  SELECT a2.vec_id, a2.cell,
      |    ${residDuck("e.q")} AS rq
      |  FROM a2 JOIN e USING (vec_id) JOIN c1n c ON a2.cell = c.cell),
      |pqin AS (SELECT vec_id, rq AS q FROM resid),
      |pqtrain AS (SELECT vec_id FROM pqin),
      |$pqTrainCteDuck,
      |$ivfPqServeDuck""".stripMargin

  /** q129/q130: identical lifecycle, but the TRAIN inputs (kin for the
    * coarse cells, pqtrain for the codebook) stop at the `tenths`/10
    * vec_id cutoff — assignment, encode, and serve still cover
    * everything, exactly like the stored index after
    * [[appendToIvfPqIndex]] ingests the post-cutoff batches against
    * frozen cells + codebook. The oracle is agnostic to HOW the tail
    * arrived (one append, several appends, appends-then-compaction):
    * any physical-layout operation that perturbed a single code or
    * vector row would break the hash.
    */
  private def ivfPqAppendOracleAt(tenths: Int): String =
    s"""WITH $embCteDuck,
      |cut AS (SELECT (max(vec_id) * $tenths) // 10 AS c FROM e),
      |kin AS (SELECT vec_id, q FROM e WHERE vec_id < (SELECT c FROM cut)),
      |${kmeansCteDuck(GATED_K, IVF_COARSE_ITERS)},
      |resid AS (
      |  SELECT a2.vec_id, a2.cell,
      |    ${residDuck("e.q")} AS rq
      |  FROM a2 JOIN e USING (vec_id) JOIN c1n c ON a2.cell = c.cell),
      |pqin AS (SELECT vec_id, rq AS q FROM resid),
      |pqtrain AS (SELECT vec_id FROM pqin
      |            WHERE vec_id < (SELECT c FROM cut)),
      |$pqTrainCteDuck,
      |$ivfPqServeDuck""".stripMargin

  private lazy val ivfPqAppendOracle: String = ivfPqAppendOracleAt(9)

  val oracles: Map[String, String] = Map(
    "q126_ann_pq_adc" ->
      s"""WITH $embCteDuck,
        |pqin AS (SELECT vec_id, q FROM e),
        |pqtrain AS (SELECT vec_id FROM pqin),
        |$pqTrainCteDuck,
        |$pqQueryCteDuck,
        |scored AS (
        |  SELECT dt.qid, codes.vec_id,
        |    list_reduce(list_transform(range($PQ_M),
        |      i -> dtab[i * $PQ_KSUB + codes[i + 1] + 1]),
        |      (a, x) -> a + x) AS adist
        |  FROM codes CROSS JOIN dt WHERE codes.vec_id <> dt.qid)
        |SELECT qid, vec_id, adist, rn FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY qid ORDER BY adist, vec_id) AS rn
        |  FROM scored)
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    "q127_ann_ivf_pq_rerank" -> ivfPqRerankOracle,

    // q128 serves q127's EXACT output from the stored index — one oracle
    // body gates both, so a drift between build-then-serve and
    // store-then-serve shows up as a q128 hash mismatch
    "q128_ann_serve_stored" -> ivfPqRerankOracle,

    // q129: same serve tail, train CTEs cut at the 90% line — gates the
    // append-without-retrain maintenance contract
    "q129_ann_index_append" -> ivfPqAppendOracle,

    // q159: the IDENTICAL oracle body — the streamed two-tick ingest
    // (clone, checkpointed appendSink, kill/resume, tagged commits)
    // must be content-equivalent to q129's single batch append; any
    // drop, double-ingest, or torn snapshot surfaces as a neighbor
    // drift against this file- and transport-agnostic derivation
    "q159_ann_stream_tick" -> ivfPqAppendOracle,

    // q176: the drift-response lifecycle pinned file-, stream- and
    // CODEBOOK-agnostically. 'stored'/'coded' derive the exact id
    // population the three ticks must leave in BOTH store tables (the
    // base + in-distribution decile, plus every shifted blob id below
    // the 90% line, exactly once each — refine's replacement commits
    // must be content-invisible); 'policy'/'refined' are the audit
    // constants the construction forces (an in-distribution tick must
    // not fire, the +2.0/dim blob must fire AND refine, the post-
    // refine tick of the same domain must read clean); 'serve' asserts
    // every neighbor of every held-out blob query is a blob member —
    // true for ANY correct serve because the blob sits ~5x its own
    // spread away from the corpus, so the derivation needs no kmeans,
    // no PQ, and no generation arithmetic.
    // q178: the takedown lifecycle pinned closed-form. 'stored'/'coded'
    // = every trained id except the five doomed ones, exactly once in
    // BOTH tables (merge-on-read, the physical drop, and the vacuum
    // must agree on content); 'count' = the promotion-fill constant (a
    // serve that shrinks instead of promoting breaks it); 'clean' = the
    // forced-exclusion flag (the gate's pre-takedown premise proves
    // each doomed id WOULD be the top-1 — only the tombstone subtraction
    // can keep it out).
    "q178_ann_forget" ->
      """WITH m AS (SELECT max(vec_id) AS mx FROM embeddings),
        |ids AS (
        |  SELECT e.vec_id FROM embeddings e, m
        |  WHERE e.vec_id < (m.mx * 9) // 10 - 5),
        |rows_ AS (
        |  SELECT 'stored' AS kind, vec_id AS id, 1::BIGINT AS val FROM ids
        |  UNION ALL
        |  SELECT 'coded', vec_id, 1 FROM ids
        |  UNION ALL
        |  SELECT 'count', (m.mx * 9) // 10 - 5 + 2000000 + r.i, 5
        |  FROM m, range(5) AS r(i)
        |  UNION ALL
        |  SELECT 'clean', (m.mx * 9) // 10 - 5 + 2000000 + r.i, 1
        |  FROM m, range(5) AS r(i))
        |SELECT kind, id, val FROM rows_ ORDER BY kind, id""".stripMargin,

    "q176_ann_drift_tick" ->
      """WITH m AS (SELECT max(vec_id) AS mx FROM embeddings),
        |ids AS (
        |  SELECT e.vec_id FROM embeddings e, m
        |  WHERE e.vec_id < (m.mx * 19) // 20
        |  UNION ALL
        |  SELECT e.vec_id + m.mx + 1 FROM embeddings e, m
        |  WHERE e.vec_id < (m.mx * 9) // 10),
        |rows_ AS (
        |  SELECT 'stored' AS kind, vec_id AS id, 1 AS val FROM ids
        |  UNION ALL
        |  SELECT 'coded', vec_id, 1 FROM ids
        |  UNION ALL
        |  SELECT 'policy', CAST(t AS BIGINT),
        |         CASE WHEN t = 2 THEN 1 ELSE 0 END
        |  FROM (VALUES (1), (2), (3)) AS p(t)
        |  UNION ALL
        |  SELECT 'refined', CAST(t AS BIGINT),
        |         CASE WHEN t = 2 THEN 1 ELSE 0 END
        |  FROM (VALUES (1), (2), (3)) AS p(t)
        |  UNION ALL
        |  SELECT 'serve', (m.mx * 9) // 10 + m.mx + 1 + r.i, 1
        |  FROM m, range(5) AS r(i))
        |SELECT kind, id, val FROM rows_ ORDER BY kind, id""".stripMargin,

    // q181: the q176 arms, one LOCALIZED tick — seed below the 90%
    // line, blob = shifted ids below mx//8 at the derived offset,
    // policy fired + refined on the single batch, all-blob serves
    "q181_ann_drift_local" ->
      """WITH m AS (SELECT max(vec_id) AS mx FROM embeddings),
        |ids AS (
        |  SELECT e.vec_id FROM embeddings e, m
        |  WHERE e.vec_id < (m.mx * 9) // 10
        |  UNION ALL
        |  SELECT e.vec_id + m.mx + 1 FROM embeddings e, m
        |  WHERE e.vec_id < m.mx // 8),
        |rows_ AS (
        |  SELECT 'stored' AS kind, vec_id AS id, 1 AS val FROM ids
        |  UNION ALL
        |  SELECT 'coded', vec_id, 1 FROM ids
        |  UNION ALL
        |  SELECT 'policy', CAST(1 AS BIGINT), 1
        |  UNION ALL
        |  SELECT 'refined', CAST(1 AS BIGINT), 1
        |  UNION ALL
        |  SELECT 'serve', (m.mx * 9) // 10 + m.mx + 1 + r.i, 1
        |  FROM m, range(5) AS r(i))
        |SELECT kind, id, val FROM rows_ ORDER BY kind, id""".stripMargin,

    // q180: pure set arithmetic — the forget, the blob append, the
    // refine's replacement commit, the compaction, and the vacuum must
    // compose to exactly (seed minus vec_id%50=3) ∪ blob on BOTH read
    // paths; any resurrection or loss flips the hash
    "q180_ann_forget_refine" ->
      """WITH m AS (SELECT max(vec_id) AS mx FROM embeddings),
        |ids AS (
        |  SELECT e.vec_id AS id FROM embeddings e, m
        |  WHERE e.vec_id < (m.mx * 9) // 10 AND e.vec_id % 50 <> 3
        |  UNION ALL
        |  SELECT e.vec_id + m.mx + 1 FROM embeddings e, m
        |  WHERE e.vec_id < m.mx // 2),
        |rows_ AS (
        |  SELECT CAST(1 AS BIGINT) AS phase, 'stored' AS kind, id FROM ids
        |  UNION ALL SELECT 1, 'coded', id FROM ids
        |  UNION ALL SELECT 2, 'stored', id FROM ids
        |  UNION ALL SELECT 2, 'coded', id FROM ids)
        |SELECT phase, kind, id FROM rows_ ORDER BY phase, kind, id""".stripMargin,

    // q130: train CTEs cut at the 80% line; the two appends, the
    // compaction, and the vacuum the Spark side runs between build and
    // serve must all be invisible to this file-agnostic oracle
    "q130_ann_index_compact" -> ivfPqAppendOracleAt(8),

    // q134: the q127/q128 lifecycle with the metadata predicate spliced
    // into the candidate scan — the filter restricts candidates (and
    // hence what the re-rank can surface), never the queries
    "q134_ann_filtered_serve" ->
      s"""WITH $embCteDuck,
        |kin AS (SELECT vec_id, q FROM e),
        |${kmeansCteDuck(GATED_K, IVF_COARSE_ITERS)},
        |resid AS (
        |  SELECT a2.vec_id, a2.cell,
        |    ${residDuck("e.q")} AS rq
        |  FROM a2 JOIN e USING (vec_id) JOIN c1n c ON a2.cell = c.cell),
        |pqin AS (SELECT vec_id, rq AS q FROM resid),
        |pqtrain AS (SELECT vec_id FROM pqin),
        |$pqTrainCteDuck,
        |${ivfPqServeDuckWhere(
             " AND a2.vec_id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)")}""".stripMargin,

    "q124_kmeans_ivf_build" ->
      s"""WITH $embCteDuck,
        |kin AS (SELECT vec_id, q FROM e),
        |${kmeansCteDuck(8, 1)}
        |SELECT cell, count(*) AS n, min(vec_id) AS rep,
        |  sum(q[1])::BIGINT AS s1, sum(q[2])::BIGINT AS s2,
        |  sum(q[3])::BIGINT AS s3, sum(q[4])::BIGINT AS s4
        |FROM a2 JOIN e USING (vec_id)
        |GROUP BY cell ORDER BY cell""".stripMargin,

    "q125_ann_learned_cells" ->
      s"""WITH $embCteDuck,
        |kin AS (SELECT vec_id, q FROM e),
        |${kmeansCteDuck(GATED_K, ROUTER_ITERS)},
        |av AS (
        |  SELECT a2.vec_id, a2.cell, e.q,
        |    ${dotDuck("e.q", "e.q")} AS norm
        |  FROM a2 JOIN e USING (vec_id)),
        |qs AS (SELECT vec_id AS qid, cell AS qcell, q AS qv, norm AS qnorm
        |       FROM av WHERE vec_id < $NUM_QUERIES),
        |scored AS (
        |  SELECT qs.qid, av.cell, av.vec_id,
        |    ${dotDuck("av.q", "qs.qv")}::DOUBLE
        |      / sqrt(av.norm::DOUBLE) / sqrt(qs.qnorm::DOUBLE) AS cos
        |  FROM av JOIN qs ON av.cell = qs.qcell AND av.vec_id <> qs.qid)
        |SELECT qid, cell, vec_id, cos, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored)
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    "q51_cosine_topk" ->
      s"""WITH e AS (
        |  SELECT vec_id, $quantDuck AS q FROM embeddings),
        |n AS (SELECT vec_id, q, ${dotDuck("q", "q")} AS norm FROM e),
        |qs AS (SELECT vec_id AS qid, q AS qv, norm AS qnorm FROM n WHERE vec_id < $NUM_QUERIES),
        |scored AS (
        |  SELECT qid, vec_id,
        |    ${dotDuck("q", "qv")}::DOUBLE / sqrt(norm::DOUBLE) / sqrt(qnorm::DOUBLE) AS cos
        |  FROM n CROSS JOIN qs WHERE vec_id <> qid)
        |SELECT qid, vec_id, cos, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored)
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,

    // identical semantics to q51 — the aggregator must reproduce the
    // window formulation exactly (rn type differs: int either way)
    "q61_topk_aggregate" ->
      s"""WITH e AS (
        |  SELECT vec_id, $quantDuck AS q FROM embeddings),
        |n AS (SELECT vec_id, q, ${dotDuck("q", "q")} AS norm FROM e),
        |qs AS (SELECT vec_id AS qid, q AS qv, norm AS qnorm FROM n WHERE vec_id < $NUM_QUERIES),
        |scored AS (
        |  SELECT qid, vec_id,
        |    ${dotDuck("q", "qv")}::DOUBLE / sqrt(norm::DOUBLE) / sqrt(qnorm::DOUBLE) AS cos
        |  FROM n CROSS JOIN qs WHERE vec_id <> qid)
        |SELECT qid, vec_id, cos, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored)
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,

    "q99_hard_negatives" ->
      s"""WITH e AS (
        |  SELECT vec_id, label, $quantDuck AS q FROM embeddings),
        |n AS (SELECT vec_id, label, q, ${dotDuck("q", "q")} AS norm FROM e),
        |qs AS (SELECT vec_id AS qid, label AS qlabel, q AS qv, norm AS qnorm
        |       FROM n WHERE vec_id < $NUM_QUERIES),
        |scored AS (
        |  SELECT qid, vec_id, n.label,
        |    ${dotDuck("q", "qv")}::DOUBLE / sqrt(norm::DOUBLE) / sqrt(qnorm::DOUBLE) AS cos
        |  FROM n JOIN qs ON n.label <> qs.qlabel)
        |SELECT qid, vec_id, label, cos, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored)
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    "q52_ann_ivf" ->
      s"""WITH e AS (
        |  SELECT vec_id, label, $quantDuck AS q FROM embeddings),
        |n AS (SELECT vec_id, label, q, ${dotDuck("q", "q")} AS norm FROM e),
        |qs AS (SELECT vec_id AS qid, label AS qlabel, q AS qv, norm AS qnorm
        |       FROM n WHERE vec_id < $NUM_QUERIES),
        |scored AS (
        |  SELECT qid, n.label, vec_id,
        |    ${dotDuck("q", "qv")}::DOUBLE / sqrt(norm::DOUBLE) / sqrt(qnorm::DOUBLE) AS cos
        |  FROM n JOIN qs ON n.label = qs.qlabel AND n.vec_id <> qs.qid)
        |SELECT qid, label, vec_id, cos, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored)
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    "q64_ann_multiprobe" ->
      s"""WITH e AS (
        |  SELECT vec_id, label, $quantDuck AS q FROM embeddings),
        |n AS (SELECT vec_id, label, q, ${dotDuck("q", "q")} AS norm FROM e),
        |cent AS (
        |  SELECT label, pos, sum(xq)::BIGINT AS s, count(*) AS nl FROM (
        |    SELECT label, unnest(q) AS xq, generate_subscripts(q, 1) AS pos FROM e)
        |  GROUP BY label, pos),
        |qs AS (SELECT vec_id AS qid, label AS qlabel, q AS qv, norm AS qnorm
        |       FROM n WHERE vec_id < $NUM_QUERIES),
        |qd AS (SELECT qid, unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos FROM qs),
        |cells AS (
        |  SELECT qid, label FROM (
        |    SELECT qid, label,
        |      row_number() OVER (PARTITION BY qid ORDER BY
        |        (sum((qx * nl - s) * (qx * nl - s))::BIGINT)::DOUBLE
        |          / (max(nl) * max(nl))::DOUBLE, label) AS cell_rank
        |    FROM qd JOIN cent USING (pos)
        |    GROUP BY qid, label)
        |  WHERE cell_rank <= 2),
        |scored AS (
        |  SELECT qs.qid AS qid, n.label, vec_id,
        |    ${dotDuck("q", "qv")}::DOUBLE / sqrt(norm::DOUBLE) / sqrt(qnorm::DOUBLE) AS cos
        |  FROM n JOIN cells ON n.label = cells.label
        |  JOIN qs ON qs.qid = cells.qid AND n.vec_id <> qs.qid)
        |SELECT qid, label, vec_id, cos, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored)
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    "q53_vector_stats" ->
      s"""SELECT vec_id, label, len(q) AS dim, ${dotDuck("q", "q")} AS norm_q,
        |  list_min(q) AS min_q, list_max(q) AS max_q
        |FROM (SELECT vec_id, label, $quantDuck AS q FROM embeddings)
        |ORDER BY vec_id""".stripMargin,

    "q54_label_centroid" ->
      s"""SELECT label, dim, sum(xq)::BIGINT AS sum_q, count(*) AS n FROM (
        |  SELECT label, unnest(q) AS xq, generate_subscripts(q, 1) AS dim
        |  FROM (SELECT label,
        |          list_transform(list_slice(embedding, 1, 8),
        |                         x -> round(x::DOUBLE * 10000, 0)::BIGINT) AS q
        |        FROM embeddings))
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin
  )
}
