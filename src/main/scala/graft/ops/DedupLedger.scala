package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** INCREMENTAL deduplication against a PERSISTED corpus ledger — the
  * missing half of the dedup family (q47–q50b, q55, q97 are all
  * single-pass batch dedup): a production pipeline does not re-shingle
  * 100 TB of history every day; it dedups the daily increment against a
  * stored fingerprint ledger and appends the survivors' fingerprints,
  * so each day's work is proportional to the INCREMENT, not the corpus.
  *
  * The ledger holds two tables, published through the same
  * [[IndexStore]] manifest lifecycle the ANN index uses (immutable data
  * files, versioned snapshots covering both tables together, atomic
  * `_HEAD` flip, idempotent tagged deltas, time travel, compaction,
  * vacuum — one storage layer, two consumers):
  *
  *   - `codes`  = EXACT ledger: one row per distinct historical text,
  *     `(cell, h, owner)` — `h` = sha2-256 of the text, `owner` = the
  *     smallest doc_id that carried it, `cell` = h's first hex nibble
  *     (16 partitions: gives compaction a sizing key and keeps any one
  *     directory's listing 1/16th of the ledger). Rebuilds and
  *     compactions lay the rows out by cell; a delta lands as one flat
  *     file with `cell` as a data column, since no verdict prunes by
  *     cell.
  *   - `vectors` = NEAR ledger: the q49 MinHash machinery persisted —
  *     ONE row per doc, `(cell = doc_id mod 16, doc_id, sig)`; the LSH
  *     band keys are derived row-locally at read time ([[bandsOf]]),
  *     never stored.
  *
  * Batch-vs-ledger semantics (all exact integer arithmetic, so the
  * DuckDB oracle replays it bit-for-bit):
  *
  *   - EXACT duplicate: the batch doc's sha2 exists in the exact
  *     ledger → `exact_of` = the smallest matching owner.
  *   - NEAR duplicate: the batch doc shares an LSH band key with a
  *     ledger doc AND ≥ [[SIG_MIN]] of the 12 minhash values agree
  *     (estimated Jaccard ≥ 0.5 — the q49 threshold, estimated from
  *     the stored signature because the ledger deliberately does NOT
  *     keep history's shingle sets: signatures are ~100 bytes/doc where
  *     shingles are the document itself) → `near_of` = the smallest
  *     matching ledger doc.
  *   - `keep` = 1 iff neither fired; survivors' fingerprints are then
  *     appended (exact-collapsed: one `(h, owner=min doc_id)` row per
  *     distinct surviving text, signature rows for those owners only)
  *     under an idempotency TAG, so a replayed ingest publishes nothing
  *     twice.
  *
  * Scale topology: the ledger-side tables STREAM (they are the corpus-
  * sized side and are never collected or re-fingerprinted); the batch's
  * hashes and band rows broadcast WHILE MEASURABLY SMALL and fall back
  * to shuffle-hash joins past the size gate — the increment scales
  * with ingest rate, not corpus size, so "small by construction" is a
  * usual-case expectation, not an invariant ([[ScaleOps
  * .broadcastIfSmall]] routes it; LedgerTopologySpec pins that the
  * forced-shuffle plan returns the identical verdict). One equi-join
  * per table, one aggregation keyed by batch doc — per-day cost is
  * O(increment + ledger scan), and the ledger scan prunes to the
  * manifest's file list. The verdict spine is the batch, so driver
  * state is bounded by the increment, never the corpus.
  *
  * The catalog gates BOTH ends of the lifecycle:
  *   - q139 dedups the last decile (doc_id ≥ max*9/10 — q129's integer
  *     train-line idiom) against the PINNED v1 snapshot (history only):
  *     time travel makes the pre-append state replayable even though
  *     the store's HEAD has already ingested the survivors.
  *   - q140 re-dedups the same batch against HEAD (v2 = history +
  *     appended survivors): every batch doc must now be a duplicate —
  *     survivors exact-match their own appended fingerprint, dropped
  *     docs still match what dropped them — so `keep` must be all-zero
  *     and the hash pins exactly WHAT the append published.
  */
object DedupLedger {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Minimum agreeing minhash positions (of [[DedupOps.NUM_SEEDS]] =
    * 12) for a near verdict: 6/12 estimates Jaccard 0.5 = the q49
    * family's JACCARD_T. */
  private[graft] val SIG_MIN = 6

  /** q129's integer train-line idiom: history = doc_id < max*9/10. */
  private[ops] def cutoffOf(docs: DataFrame): Long =
    docs.agg(max(col("doc_id"))).head.getLong(0) * 9L / 10L

  /** Per-doc minhash signature: `(cell = doc_id mod 16, doc_id, sig)` —
    * ONE row per doc, `sig` = the [[DedupOps.minhashSignatures]] minima
    * (the q49 family's own kernel) in seed order, signed row-locally.
    * Docs with < 3 tokens have no shingles and a null `sig`: they can
    * only exact-match, [[bandsOf]] gives them no band rows and a build
    * stores no row for them. The LSH band keys are NOT stored —
    * band b's key is just `sig[2b] "|" sig[2b+1]`, fully derivable
    * row-locally at read time ([[bandsOf]]), so persisting band rows
    * would store the signature 6× for zero information (measured: the
    * band-row layout made the near ledger larger than the corpus text
    * on the 50k fixture). `cell` is pure layout (compaction sizing /
    * 16-way listing split), like the exact table's hash nibble. */
  private[graft] def sigRows(docs: DataFrame): DataFrame =
    DedupOps.minhashSignatures(TextOps.shingled(docs))
      .select(pmod(col("doc_id"), lit(16L)).cast("int").as("cell"),
              col("doc_id"), col("sig"))

  /** Row-local LSH band derivation over a `(doc_id, sig)` frame — used
    * on BOTH sides of the near join (the streamed store scan and the
    * broadcast batch), so the key strings agree by construction. */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"), explode(DedupOps.sigBands).as("bs"))
      .select(col("bs.band").as("band"), col("bs.bkey").as("bkey"),
              col("doc_id"), col("sig"))

  /** A tick's text rows in ONE keyed pass: the batch partitioned by its
    * exact key `h` (sha2 of the text), then shingled, signed and ranked
    * inside each partition — `(doc_id, h, sig, rep)` per distinct
    * `(doc_id, h)`, `sig` the [[sigRows]] signature (null for a doc
    * under 3 tokens), `rep` true on exactly one row per `h`, its
    * smallest doc_id. The exact arm, the near arm and the delta all read
    * these rows, so the keepers checkpoint carries both keys, the delta
    * needs no join back to the batch, and the exact collapse is a
    * filter on `rep` ([[Text.collapse]]): the rows of one `h` share a
    * text, hence a signature and every exact and near hit, so a tick's
    * keepers hold all of them or none (a doc_id names one text within a
    * batch). */
  private def tickRows(docs: DataFrame): DataFrame = {
    val byH = Window.partitionBy(col("h")).orderBy(col("doc_id").asc_nulls_last)
    TextOps.gramsOf(docs.select(col("doc_id"), col("text"),
        sha2(col("text"), 256).as("h")).repartition(col("h")), "h")
      .select(col("doc_id"), col("h"), DedupOps.minhashSig(col("grams")).as("sig"),
        (row_number().over(byH) === 1).as("rep"),
        lag(col("doc_id"), 1).over(byH).as("prev"))
      // a repeated (doc_id, text) keeps one row
      .filter(col("rep") || !(col("prev") <=> col("doc_id")))
      .drop("prev")
  }

  /** The exact table's cell: `h`'s first hex nibble. */
  private val hashCell: Column =
    expr("conv(substring(h, 1, 1), 16, 10)").cast("int").as("cell")

  /** Exact-ledger rows for `docs`, collapsed to one `(cell, h, owner)`
    * per distinct text. */
  private[ops] def exactRows(docs: DataFrame): DataFrame =
    docs.select(sha2(col("text"), 256).as("h"), col("doc_id"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("owner"))
      .select(hashCell, col("h"), col("owner"))

  /** Build (REBUILD-commit) a text-only ledger from `history` — the
    * text arm's call of [[build]]. */
  def buildLedger(history: DataFrame, dir: String): Int =
    build(dir, "text", Text -> history)

  /** Table-schema stamps for LEDGER builders (round 21, VERDICT r20
    * Next #3 — the 1b mechanism applied ledger-side): this builder owns
    * the codes/vectors shapes it just wrote (exactly the contract
    * DDLs), so readers with no contract DDL of their own —
    * [[IndexStore.compact]]'s polymorphic rewrite, legacy
    * [[IndexStore.diffFrames]] callers — skip parquet footer inference.
    * Same discipline as the ANN builder's stamp: recorded in inference
    * column order (data columns, then `cell`), stamped AFTER the
    * publish (a crash in between leaves the honest unstamped/inference
    * state), version-gated so time-travel reads below the stamping
    * build keep inference. marks/seqs/tombs need no stamp — every
    * reader of those arms declares the universal contract DDL. */
  private def stampLedgerDdls(dir: String): Unit = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    def inferenceOrder(ddl: String): String = {
      val st = StructType.fromDDL(ddl)
      StructType(st.filterNot(_.name == "cell")
        .map(_.copy(nullable = true)) :+
        StructField("cell", IntegerType)).toDDL
    }
    IndexStore.setProps(dir, Map(
      "ddl.version" -> IndexStore.headVersion(dir).getOrElse(0).toString,
      "ddl.codes" -> inferenceOrder(IndexStore.CODES_DDL),
      "ddl.vectors" -> inferenceOrder(IndexStore.VECTORS_DDL)))
    ()
  }

  /** Small daemon pool for overlapping independent Spark actions
    * (parallel table writes, parallel modality arms) — job SUBMISSION
    * threads only; the work itself runs on Spark's scheduler. */
  private[graft] lazy val armWriteEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-arm")
        t.setDaemon(true)
        t
      }))

  // ---- media fingerprint arm (q158): the ledger learns to speak
  // dhash/ahash — a third `marks` table on the same store, one row per
  // DISTINCT fingerprint `(cell, fp, owner)`, and a hamming verdict arm
  // beside the exact/near text arms, so ONE streamed tick can
  // admit/deny mixed text+image increments against one snapshot.
  // The fingerprint is typed `array<bigint>` (little-endian words, the
  // [[graft.multimodal.MediaOps.dHashWide]] layout) so the round-14
  // wide fingerprints enter the streamed path (VERDICT r14 #1b) — a
  // ≤64-bit fingerprint is the one-word degenerate case, band keys and
  // cells then identical to the historical long-typed arm.

  /** Marks-arm band geometry — a LEDGER PARAMETER stamped into the
    * store's params string, never a code constant (VERDICT r14 #2):
    * `fpBits` = the physical word-bit capacity banded over
    * ([[DedupOps.hammingPairsWide]]'s sparse-layout contract applies),
    * `bands` × `bandBits` the pigeonhole slices, `maxHamming` the
    * verdict threshold (exact recall while bands ≥ maxHamming + 1). */
  case class MarksGeom(fpBits: Int, bands: Int, bandBits: Int,
                       maxHamming: Int) {
    require(bands >= maxHamming + 1,
      s"bands=$bands cannot guarantee recall at maxHamming=$maxHamming")
    require(bandBits >= 1 && bandBits <= 63,
      s"bandBits=$bandBits must fit a band key in one signed long")
    require(bands.toLong * bandBits <= fpBits,
      s"bands=$bands x bandBits=$bandBits exceeds the $fpBits-bit fingerprint")
    /** The params-string stamp — a geometry change rebuilds the store. */
    def params: String = s"mg=$fpBits.$bands.$bandBits.$maxHamming"
  }

  /** The q154 gate geometry (42-bit dHash, 3×14-bit pigeonhole,
    * hamming ≤ 2) — the fixture-scale default; corpora past ~10⁵
    * distinct fingerprints store [[WideMarks]] instead. */
  val NarrowMarks: MarksGeom = MarksGeom(42, 3, 14, 2)

  /** The 16×8-grid geometry (120 bits, 3×40-bit straddling bands =
    * 10¹² buckets) — the production config SCALING.md r13 addendum 3
    * prescribed for 10⁶⁺ corpora, now admissible to the streamed
    * ledger path. */
  val WideMarks: MarksGeom = MarksGeom(120, 3, 40, 2)

  private[graft] val MEDIA_MAX_HAMMING = NarrowMarks.maxHamming

  /** Marks-table rows for a `(media_id, fp: array<bigint>)` frame: one
    * row per distinct fingerprint, owner = smallest carrying id (the
    * exact table's representative rule in the fingerprint domain);
    * `cell` = word 1 mod 16 — pure layout, like the text tables', and
    * the WIDE CELL RULE: word 1 of a narrow fingerprint IS the
    * fingerprint, so narrow stores keep their historical cells. */
  private def markRows(fps: DataFrame): DataFrame =
    fps.groupBy(col("fp")).agg(min(col("media_id")).as("owner"))
      .withColumn("cell",
        pmod(expr("element_at(fp, 1)"), lit(16L)).cast("int"))
      .select(col("cell"), col("fp"), col("owner"))

  /** The ledger-side hot-bucket shed shared by the verdict arms'
    * banded lookup joins (VERDICT r14 #1b: candidate volume is
    * batch × marks/2^bandBits — linear in LEDGER size per batch item,
    * unbounded as the corpus grows), DEFAULT-ON since round 16
    * (VERDICT r15 #1): measure the LEDGER band-bucket size histogram
    * ONCE per published snapshot (memoized on the store's durable
    * identity — tens of rows reach the driver), derive the cap by the
    * LINEAR-cost [[DedupOps.capFromHistLinear]] walk with budget =
    * `perItem` × batch rows and per-bucket cost `sz × hitsPerBucket`
    * (ADVICE r15 #2: a ledger-LOOKUP bucket's true join volume is
    * sz × batch hits, not the self-join's C(sz, 2) — the quadratic
    * model overstated large-bucket cost and shed more near-recall
    * than the stated budget implied), never below the
    * [[DedupOps.BAND_CAP]] floor (fixture-scale verdicts untouched),
    * and anti-join the over-cap buckets away from the LEDGER side
    * only — and only when something actually exceeds the cap: the
    * healthy-store path returns the input plan untouched, so the
    * default flip costs one memoized histogram job per snapshot, not
    * per verdict. The batch side is untouched and the exact arm is a
    * separate equality join, so exact duplicates are immune to any
    * cap — a shed bucket can only cost a NEAR detection whose
    * fingerprint sits in a saturated bucket on every band. */
  /** The default-budget fast path (round-16: the safety default must
    * not tax healthy verdicts), with a SOUND join-volume bound. The
    * true batch-vs-ledger volume is Σ_buckets sz_ledger × occupancy_
    * batch ≤ bandedRows × max-occupancy, where bandedRows = table rows
    * × bands (every table row lands in one bucket PER BAND — pricing
    * on raw table rows would understate the bound by the band count,
    * a round-16 review find) and max-occupancy is the batch's own
    * largest band-bucket (MEASURED over the increment-sized batch
    * bands — ADVICE r15 #2's "or measured" arm; a uniform
    * batchItems/2^bandBits expectation would under-price CORRELATED
    * batches, e.g. every probe carrying the shared intro frame, and
    * re-admit exactly the 162 s hang class the default flip closes).
    * Decision ladder, cheapest evidence first:
    *
    *   1. `bandedRows ≤ SKIP_SLACK × perItem`: volume ≤ bandedRows ×
    *      batchItems ≤ SKIP_SLACK × budget — skip with ZERO jobs
    *      (the row bound is the snapshot's stats' `rows`; only a
    *      stats-less snapshot pays its memoized histogram; every
    *      fixture-scale arm lands here). The slack
    *      factor (4) trades a bounded overshoot of the HEURISTIC
    *      budget for zero measurement cost on small stores: worst
    *      case 4 000 candidate rows per batch item — the same order
    *      the BAND_CAP floor itself tolerates (bands × 200 per item),
    *      and 5–6 orders below the measured hang classes, which start
    *      at corpus-scale stores (12M+ banded rows) where this step
    *      never fires.
    *   2. the snapshot's stats prove every bucket at or under the
    *      BAND_CAP floor ⇒ skip with zero jobs (healthy corpus-scale
    *      stores live here); else the LEDGER's exact bucket-size
    *      histogram (memoized per store UUID + arm fileset, amortized
    *      across every verdict against those files, and published by
    *      the next delta onto them — [[carriedStats]]): no class above
    *      the floor ⇒ nothing can shed at any budget ⇒ skip WITHOUT
    *      touching the batch (batch bands stay a lazy single execution
    *      inside the verdict join).
    *   3. only now CHECKPOINT the increment-sized batch bands
    *      (measuring them would otherwise re-execute the batch's
    *      whole fingerprint pipeline — shingles / image decode — once
    *      more per verdict; the join reuses the materialization) and
    *      measure (items, max occupancy) in one aggregation; skip
    *      when tableRows ≤ budget / maxOcc (division, so nothing
    *      overflows; floor errs conservative).
    *   4. else the histogram walk at cost sz × maxOcc per bucket —
    *      conservative for buckets the batch's hot key does not
    *      touch, exact for the one it does; the BAND_CAP floor keeps
    *      fixture-scale buckets admitted regardless — and an
    *      anti-join sheds the over-cap buckets from the LEDGER side
    *      only (batch untouched; exact arms are never banded, hence
    *      cap-immune).
    *
    * Returns (ledger side, batch bands to join) — the second element
    * is the checkpointed bands when step 3 ran, the caller's original
    * frame otherwise. */
  private val SKIP_SLACK = 4L
  private def shedUnlessAffordable(lb: DataFrame, keys: Seq[String],
                                   perItem: Int, bandedRows: Long,
                                   batchBands: DataFrame,
                                   batchItemsOf: Long => Long,
                                   what: String,
                                   persisted: Option[IndexStore.ArmStats],
                                   ledgerHist: => Array[(Int, Long)])
      : (DataFrame, DataFrame) = {
    if (bandedRows <= SKIP_SLACK * perItem) return (lb, batchBands)
    if (persisted.exists(_.maxBound <= DedupOps.BAND_CAP))
      return (lb, batchBands)
    val hist = ledgerHist
    if (hist.forall(_._1 <= DedupOps.BAND_CAP)) return (lb, batchBands)
    val bb = batchBands.localCheckpoint()
    val occ = bb.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n")), max(col("n"))).head
    val bandRows = if (occ.isNullAt(0)) 0L else occ.getLong(0)
    val maxOcc = math.max(1L, if (occ.isNullAt(1)) 0L else occ.getLong(1))
    val budget = perItem.toLong * math.max(1L, batchItemsOf(bandRows))
    if (bandedRows <= budget / maxOcc) return (lb, bb)
    val cap = DedupOps.capFromHistLinear(hist, DedupOps.BAND_CAP,
      budget, maxOcc)
    if (hist.forall(_._1 <= cap)) (lb, bb)
    else {
      // the default budget is genuinely shedding: say so BY NAME
      // (ADVICE r16 #5 — a silent recall reduction must be observable)
      log.warn(s"DedupLedger: $what verdict shedding ledger band buckets " +
        s"above $cap rows (budget $perItem/item, batch max occupancy " +
        s"$maxOcc) — near-duplicates whose only shared buckets are shed " +
        "lose detection; raise pairBudgetPerItem or widen the geometry")
      val hot = lb.groupBy(keys.map(col): _*).agg(count(lit(1)).as("sz"))
        .filter(col("sz") > cap).localCheckpoint()
      (lb.join(hot.select(keys.map(col): _*), keys, "left_anti"), bb)
    }
  }

  /** Per-store memos for the ledger-side measurements, keyed on the
    * store's DURABLE identity ([[IndexStore.storeId]] — a store deleted
    * and rebuilt at the same path gets a fresh UUID, closing the
    * round-15 stale-alias caveat) plus the table or stats key, holding
    * ONLY the latest value ([[DriverCache.stamped]]; a long-lived
    * streaming service publishes versions per tick, so keying on the
    * stamp would grow forever). Saturation sentinel counts stamp the
    * snapshot version; band-bucket histograms stamp the arm table's
    * file list, which a mixed tick's earlier arm commits leave
    * unchanged, so a later arm's commit still finds its verdict's
    * histogram. Data files are immutable, so a stamp hit is exact. */
  private[graft] val sentinelCache = new DriverCache[String, Long](4096)
  private[graft] val histCache =
    new DriverCache[String, Array[(Int, Long)]](4096)
  private def histKey(dir: String, arm: LedgerArm): String =
    s"${IndexStore.storeId(dir)}:${arm.statsKey}"
  /** Spec hook: drop every per-store memo so a measurement can
    * observe the COLD path (first verdict against a fresh version)
    * repeatedly without rebuilding the store. Never called by
    * operators. */
  private[graft] def clearShedMemos(): Unit = {
    sentinelCache.clear(); histCache.clear()
  }

  /** An arm's exact band-bucket size histogram, `(size, buckets)`. */
  private def bucketHist(banded: DataFrame, keys: Seq[String],
                         what: String): Array[(Int, Long)] =
    ScaleOps.boundedCollect(
      banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n")),
      1L << 20, s"$what bucket-size histogram")
      .map(r => (r.getLong(0).toInt, r.getLong(1)))

  private def histRows(hist: Array[(Int, Long)]): Long =
    hist.foldLeft(0L) { case (a, (sz, n)) => a + sz.toLong * n }

  /** Stats measured over exactly the rows `hist` counts (slack 0). */
  private def exactStats(hist: Array[(Int, Long)]): IndexStore.ArmStats =
    IndexStore.ArmStats(0L, histRows(hist), hist.toSeq)

  /** The stats a delta of `arm` publishes onto `base`, given the
    * delta's `(largest per-bucket count, band rows)`: the base's stats
    * with this arm's entry bumped — slack += count (sound: every
    * pre-existing bucket grew by at most that, and a bucket born since
    * the last measurement holds at most the accumulated slack), rows +=
    * band rows. The entry bumped is, in order: the exact histogram a
    * verdict paid over the base's arm files (the self-heal: slack
    * resets), the base's own entry, zero stats when the base's arm
    * table has no files (an arm's first delta); a legacy base with
    * none of these publishes none (its next verdict measures). Called
    * per CAS attempt, so a loser bumps the winner's stats. */
  private def carriedStats(arm: LedgerArm, dir: String, bump: (Long, Long),
                           base: IndexStore.Snapshot)
      : Map[String, IndexStore.ArmStats] = {
    val files = filesOf(base, arm.table)
    histCache.at(histKey(dir, arm), files).map(exactStats)
      .orElse(base.stats.get(arm.statsKey))
      .orElse(if (files.isEmpty) Some(exactStats(Array.empty)) else None)
      .fold(base.stats)(st => base.stats.updated(arm.statsKey,
        st.copy(slack = st.slack + bump._1, rows = st.rows + bump._2)))
  }

  /** `(largest per-bucket count, rows)` of a delta's band rows in ONE
    * Spark job: the rows are counted per bucket in one task (a delta is
    * increment-sized; the write puts it through one task as well).
    * Summing per-task maxima keeps the first element an upper bound
    * whatever the task count. */
  private def deltaBump(banded: DataFrame, keys: Seq[String]): (Long, Long) =
    banded.select(keys.map(col): _*).coalesce(1).rdd.mapPartitions { rs =>
      val n = scala.collection.mutable.HashMap.empty[org.apache.spark.sql.Row, Long]
      var rows = 0L
      rs.foreach { r => n(r) = n.getOrElse(r, 0L) + 1L; rows += 1L }
      Iterator((if (n.isEmpty) 0L else n.values.max, rows))
    }.collect().foldLeft((0L, 0L)) { case ((d, r), (d1, r1)) => (d + d1, r + r1) }

  /** Fail BY NAME when a verdict arm would read a modality the store
    * never declared (ADVICE r15 #1): an empty-table fallback is
    * legitimate ONLY while the store's builder stamped the modality as
    * intended-but-not-yet-published (a mixed store seeded media-first
    * bootstraps its text arm against empty history); a text verdict
    * pointed at a marks-only store by misconfiguration must crash, not
    * silently find zero history and admit every duplicate forever.
    * `legacyAllowed` preserves each arm's pre-stamp default for stores
    * that predate the props file (text: fail-loud, the pre-r15
    * polarity; marks/seqs: tolerate, their documented semantic).
    * MIGRATION: a pre-stamp mixed store that was seeded media-first
    * (no codes yet) trips the text arm's fail-loud on upgrade -- by
    * design, since it is indistinguishable from a wrong store path;
    * the operator stamps it ONCE with `IndexStore.setProps(dir,
    * Map("modalities" -> "text,media,video"))` (the error message
    * names the call) and the pipeline resumes. */
  private def requireModality(dir: String, snapFiles: Seq[String],
                              modality: String,
                              legacyAllowed: Boolean): Unit =
    if (snapFiles.isEmpty) {
      val ok = IndexStore.declaredModalities(dir) match {
        case Some(m) => m.contains(modality)
        case None => legacyAllowed
      }
      if (!ok) sys.error(
        s"DedupLedger: store $dir has no published $modality table and its " +
        s"stamped modalities (${IndexStore.declaredModalities(dir)
          .map(_.mkString(",")).getOrElse("<unstamped>")}) do not declare " +
        s"'$modality' — refusing to verdict against empty history (a " +
        "misconfigured store path would silently admit every duplicate); " +
        "stamp the store via IndexStore.setProps(dir, Map(\"modalities\" -> " +
        "...)) if bootstrapping this modality is intended")
    }

  /** SRP sign-bit fingerprint for an embeddings frame — the EMBEDDING
    * arm's integer fingerprint: 42 deterministic hyperplanes (the q97
    * formula at bands=3 x bits=14, evaluated by the codegen'd
    * [[graft.functions.SrpBandCodes]] kernel) packed into one long,
    * bit j = sign of the j-th projection. Two embeddings within
    * hamming 2 of each other agree on >= 40/42 random sign tests —
    * the high-cosine regime — so the SAME marks table + banded
    * hamming arm that serves images and audio serves semantic vector
    * dedup: the fingerprint arm is modality-generic by construction
    * (q164 proves it under the gate). */
  private def srpFps(emb: DataFrame): DataFrame =
    emb.withColumn("q", expr(VectorOps.quantExpr))
      .withColumn("codes",
        graft.functions.VectorFunctions.srpCodes(col("q"), 3, 14))
      .select(col("vec_id").as("media_id"),
        expr("array(codes[0] | shiftleft(codes[1], 14) | " +
          "shiftleft(codes[2], 28))").as("fp"))

  // ---- video SEQUENCE arm (q169): the ledger learns fingerprint
  // sequences — a fourth `seqs` table on the same store, one row per
  // (owner, sample position, per-frame fingerprint) of each admitted
  // video, and a VOTE verdict arm beside exact/near/marks: the
  // streamed analog of the batch temporal operator
  // ([[DedupOps.temporalNearDupPairsWide]]), so a mixed tick can
  // admit/deny VIDEOS (VERDICT r14 missing #3 / Next #4).

  /** Canonical sequence digest over a sorted `seq` column of
    * (f, fp) structs — sha2-256 of an unambiguous text encoding, the
    * exact text arm's sha2 discipline applied to sequences. Computed
    * at APPEND time (increment-sized) and stored per row, so the
    * verdict's exact arm is a digest equi-join against the streaming
    * ledger scan — never a corpus-side collect_list + array sort per
    * verdict call (review find). */
  private def seqDigest: Column = sha2(expr(
    "concat_ws(';', transform(seq, e -> " +
      "concat(e.f, ':', concat_ws(',', e.fp))))"), 256)

  /** Sequence-table rows for a `(media_id, f, fp)` frames frame:
    * videos with IDENTICAL fingerprint sequences collapse to the
    * min-id owner (the sequence-level dedup-first rule, exactly as
    * the batch temporal operator applies it), each owner storing one
    * row per position with the sequence digest; `cell` = owner mod 16
    * co-locates a video's rows. */
  private def seqRows(frames: DataFrame): DataFrame =
    frames.groupBy(col("media_id"))
      .agg(sort_array(collect_list(struct(col("f"), col("fp")))).as("seq"))
      .groupBy(col("seq")).agg(min(col("media_id")).as("owner"))
      .withColumn("seqhash", seqDigest)
      .select(col("owner"), col("seqhash"), explode(col("seq")).as("fh"))
      .select(pmod(col("owner"), lit(16L)).cast("int").as("cell"),
              col("owner"), col("fh.f").as("f"), col("fh.fp").as("fp"),
              col("seqhash"))

  // ---- the ledger ARMS: one description per modality, one lifecycle
  // skeleton over it — [[build]], [[verdict]], [[append]], [[ingest]]
  // and the streamed tick step [[stage]] are written once.

  /** One modality of the ledger. An arm declares:
    *   - the store tables it writes (`tables`; the LAST is the banded
    *     table its near arm reads and its stats describe) and their
    *     rebuild / delta row builders;
    *   - its batch shape (`idCol`) and preparation: a stream kind's
    *     rows become doc_id/text rows (text) or fingerprints at the
    *     arm's grid (images, video), and the near side derives from
    *     the batch (a verdict's text arm: the shingle → MinHash
    *     signatures; fingerprint arms: the batch itself);
    *   - the rows a tick's keepers plan and its delta read (`keyed`:
    *     text carries `h`, `sig` and its exact representative per doc;
    *     fingerprint arms: the batch) and the exact collapse of the
    *     keepers (`collapse`);
    *   - a bound on its broadcast bytes per batch row (`rowBytes`);
    *   - its exact key, band derivation and band key columns;
    *   - its near predicate and aggregate, and its near hits;
    *   - its stats key, modality stamp and bootstrap polarity
    *     ([[requireModality]]), width guard and saturation sentinel. */
  sealed abstract class LedgerArm {
    /** The store's stamped modality — also the suffix of the arm's
      * streamed-tick idempotency tag. */
    def modality: String
    /** The stream `kind` a mixed tick routes to this arm. */
    def kind: String
    /** Batch id column (and the verdict's). */
    def idCol: String
    /** Batch id column inside the verdict's arm aggregates. */
    private[ops] def bid: String = "bid"
    private[ops] def tables: Seq[String]
    private[ops] def table: String = tables.last
    private[ops] def statsKey: String
    private[ops] def bandKeys: Seq[String] = Seq("band", "bkey")
    private[ops] def bands: Int
    /** Empty-snapshot polarity for stores that predate the modality
      * stamp (text: fail-loud; marks/seqs: tolerate). */
    private[ops] def legacyAllowed: Boolean = true
    /** Stream rows of this arm's kind → the arm's batch shape. */
    private[graft] def prepare(rows: DataFrame): DataFrame
    /** A verdict's near-side rows of `batch`, lazily. */
    private[ops] def nearRows(batch: DataFrame): DataFrame = batch
    /** The rows a tick's keepers plan and its delta read, lazily. */
    private[ops] def keyed(batch: DataFrame): DataFrame = batch
    /** [[keyed]] as a tick reads it: materialized once when it costs
      * a pass (the fingerprint arms' batches come checkpointed from
      * [[prepare]]). */
    private[ops] def pinned(batch: DataFrame): DataFrame = batch
    /** Upper bound on the batch-derived broadcast sides' bytes per batch
      * row: times a counted batch's rows, it caps the broadcast gate's
      * plan estimate (a checkpointed in-memory micro-batch has none).
      * None trusts the plan alone. */
    private[ops] def rowBytes: Option[Long] = None
    /** Band rows of the band table's rows (both join sides, and stats). */
    private[ops] def banded(rows: DataFrame): DataFrame
    /** The band table as stored at `snap`. */
    private[ops] def tableFrame(spark: SparkSession, dir: String,
                                snap: IndexStore.Snapshot): DataFrame
    private[ops] def sides(spark: SparkSession, batch: DataFrame,
                           near: DataFrame, dir: String,
                           snap: IndexStore.Snapshot): Sides
    /** Band-join candidates → `(bid, near_of)`. */
    private[ops] def near(cand: DataFrame): DataFrame
    /** Band-join candidates → `bid` of every batch item whose
      * [[near]] `near_of` is not null (one row per hit or more). */
    private[ops] def nearHits(cand: DataFrame): DataFrame =
      near(cand).filter(col("near_of").isNotNull).select(col(bid))
    private[ops] def sentinel(tableRows: => Long, batch: DataFrame): Unit = ()
    private[ops] def batchIds(batch: DataFrame): DataFrame = batch.select(col(idCol))
    /** `(table, rows)` a rebuild writes; the band table materialized. */
    private[ops] def buildRows(history: DataFrame): Seq[(String, DataFrame)]
    /** Keepers ([[keyed]] rows) → one row per distinct exact key,
      * owner = the smallest id: what a delta materializes. */
    private[graft] def collapse(kept: DataFrame): DataFrame
    /** `(table, rows)` a delta over a materialized [[collapse]] writes. */
    private[ops] def deltaRows(collapsed: DataFrame): Seq[(String, DataFrame)]
    /** Fails a sink whose grid cannot feed this arm's geometry. */
    private[graft] def requireGrid(): Unit = ()
  }

  /** The frames one verdict joins: `ledgerExact ⋈ batchExact` on
    * `exactKey`, `ledgerBands ⋈ batchBands` on the arm's band keys;
    * `table` is the raw band table (the row-count fallback). */
  private[ops] final case class Sides(ledgerExact: DataFrame,
                                      batchExact: DataFrame,
                                      exactKey: Seq[String],
                                      ledgerBands: DataFrame,
                                      batchBands: DataFrame,
                                      table: DataFrame)

  /** The text arm (q139 family): `codes` = exact sha2 rows, `vectors` =
    * MinHash signatures; near = ≥ [[SIG_MIN]] agreeing positions. */
  case object Text extends LedgerArm {
    val modality = "text"
    val kind = "text"
    val idCol = "doc_id"
    private[ops] override def bid = "bdoc"
    private[ops] val tables = Seq("codes", "vectors")
    private[ops] val statsKey = "vectors-hist"
    private[ops] val bands = DedupOps.NUM_SEEDS / DedupOps.ROWS_PER_BAND
    private[ops] override val legacyAllowed = false
    private[graft] def prepare(rows: DataFrame): DataFrame =
      rows.select(col("doc_id"), col("text"))
    private[ops] override def nearRows(batch: DataFrame): DataFrame = sigRows(batch)
    private[ops] override def keyed(batch: DataFrame): DataFrame = tickRows(batch)
    private[ops] override def pinned(batch: DataFrame): DataFrame =
      tickRows(batch).localCheckpoint()
    // never the text: the exact side's (bdoc, 64-char h); per band
    // (band, a two-minhash bkey, bdoc, 12-long bsig); a hit id per
    // exact and band row
    private[ops] override val rowBytes: Option[Long] = Some(8L + 64 +
      bands * (4L + 21 + 8 + 8L * DedupOps.NUM_SEEDS) + 8L * (1 + bands))
    private[ops] def banded(rows: DataFrame): DataFrame = bandsOf(rows)
    private[ops] def tableFrame(spark: SparkSession, dir: String,
                                snap: IndexStore.Snapshot): DataFrame =
      IndexStore.frames(spark, dir, snap, Some(IndexStore.CODES_DDL),
        Some(IndexStore.VECTORS_DDL), declaredSchema = true)._2
    private[ops] def sides(spark: SparkSession, batch: DataFrame,
                           near: DataFrame, dir: String,
                           snap: IndexStore.Snapshot): Sides = {
      // text-ledger store by the modality gate: the contract DDLs
      val (exact, sigs) = IndexStore.frames(spark, dir, snap,
        Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
        declaredSchema = true)
      // tick rows ([[tickRows]]) carry their hash; a verdict's batch
      // hashes its text
      val h = if (batch.columns.contains("h")) col("h")
        else sha2(col("text"), 256)
      // stored sigs re-derive their band keys row-locally in-flight:
      // the scan reads one sig row per doc, the explode costs no storage
      Sides(exact, batch.select(col("doc_id").as("bdoc"), h.as("h")),
        Seq("h"), bandsOf(sigs),
        bandsOf(near).select(col("band"), col("bkey"),
          col("doc_id").as("bdoc"), col("sig").as("bsig")),
        sigs)
    }
    private val agree = expr(
      "aggregate(zip_with(sig, bsig, (x, y) -> IF(x = y, 1, 0)), 0, (a, v) -> a + v)")
    private[ops] def near(cand: DataFrame): DataFrame =
      cand.withColumn("agree", agree)
        .groupBy(col("bdoc"))
        .agg(min(when(col("agree") >= SIG_MIN, col("doc_id"))).as("near_of"))
    // near_of is not null iff some candidate agrees with a non-null
    // doc_id: a filter, no aggregate
    private[ops] override def nearHits(cand: DataFrame): DataFrame =
      cand.filter(agree >= SIG_MIN && col("doc_id").isNotNull)
        .select(col("bdoc"))
    // history stores EVERY signed doc's signature; a delta stores its
    // exact representatives' only (an exact-identical text would carry
    // an identical signature — storing it twice buys nothing): the
    // collapse keeps the representative's own signature (sigRows is
    // per-doc deterministic; cell = pmod(doc_id, 16)). Signing keeps
    // the history's rebalanced partitions, one per core; the signed
    // rows then rebalance by cell into advisory-size partitions, so the
    // cell writes and the stats histogram run one task per advisory
    // size (one hash-aggregation page each), not one per core. The
    // null-sig filter sits above the checkpoint, where Catalyst cannot
    // push it (and the signing it would inline) below an exchange.
    private[ops] def buildRows(history: DataFrame): Seq[(String, DataFrame)] =
      Seq("codes" -> exactRows(history),
          "vectors" -> sigRows(history).hint("rebalance", col("cell"))
            .localCheckpoint().filter(col("sig").isNotNull))
    // the keyed pass marked each h's representative: no shuffle
    private[graft] def collapse(kept: DataFrame): DataFrame =
      kept.filter(col("rep"))
        .select(col("h"), col("doc_id").as("owner"), col("sig"))
    private[ops] def deltaRows(collapsed: DataFrame): Seq[(String, DataFrame)] =
      Seq("codes" -> collapsed.select(hashCell, col("h"), col("owner")),
          "vectors" -> collapsed.filter(col("sig").isNotNull)
            .select(pmod(col("owner"), lit(16L)).cast("int").as("cell"),
                    col("owner").as("doc_id"), col("sig")))
  }

  /** The fingerprint arms: `fp: array<bigint>` rows banded at `geom`,
    * near = word-wise popcount ≤ `geom.maxHamming`, and a `gw`×`gh`
    * dHash grid for streamed payloads. */
  sealed abstract class FpArm extends LedgerArm {
    def geom: MarksGeom
    def gw: Int
    def gh: Int
    val idCol = "media_id"
    private[ops] def bands = geom.bands
    /** Row-local band derivation over any frame with an `fp` column —
      * used on both sides of the near join, like [[bandsOf]]; band keys
      * are [[DedupOps.wideBandKeySql]] slices, constant-folded per band
      * so the explode stays in whole-stage codegen. */
    private[ops] def banded(rows: DataFrame): DataFrame = {
      val bandStructs = (0 until geom.bands).map { b =>
        s"named_struct('band', $b, 'bkey', " +
          s"${DedupOps.wideBandKeySql(b, geom.bandBits, "fp")})"
      }
      rows.withColumn("mb",
          explode(expr(s"array(${bandStructs.mkString(", ")})")))
        .withColumn("band", col("mb.band"))
        .withColumn("bkey", col("mb.bkey"))
        .drop("mb")
    }
    /** Fingerprint-WIDTH guard (review find): a word-count/geometry
      * mismatch — a wide store probed at a narrow geometry, or batch
      * fingerprints hashed at the wrong grid — makes `zip_with` pad the
      * short side with nulls, the ≤-maxHamming predicate evaluate to
      * null, and the near arm silently match NOTHING: every
      * near-duplicate admitted forever with no error. The guard is an
      * IN-PLAN `assert_true` row filter on both verdict inputs: every
      * row validates inside the scans the verdict already runs (zero
      * extra Spark jobs — the first cut of this guard as driver-side
      * aggregations cost two jobs per verdict call), and a mismatch
      * fails the job BY NAME instead of silently passing. assert_true
      * yields NULL on success, so the filter keeps every valid row. */
    private[ops] def checked(df: DataFrame, what: String): DataFrame = {
      val w = (geom.fpBits + 63) / 64
      df.filter(expr(
        s"assert_true(size(fp) = $w, '$what fingerprint width <> $w words " +
          s"(geometry ${geom.params}): a width mismatch nulls the hamming " +
          "filter and silently admits every near-duplicate') IS NULL"))
    }
    private[ops] def withinHamming: Column =
      expr("aggregate(zip_with(fp, bfp, (x, y) -> bit_count(x ^ y)), " +
        s"0, (acc, v) -> acc + v) <= ${geom.maxHamming}")
    /** The arm's one table's rows for a batch (exact-collapsed). */
    private[ops] def rowsOf(fps: DataFrame): DataFrame
    private[ops] def buildRows(fps: DataFrame): Seq[(String, DataFrame)] =
      Seq(table -> rowsOf(fps).localCheckpoint())
    private[graft] def collapse(kept: DataFrame): DataFrame = rowsOf(kept)
    private[ops] def deltaRows(collapsed: DataFrame): Seq[(String, DataFrame)] =
      Seq(table -> collapsed)
    /** Stream payloads of this arm's kind as media records. */
    private[ops] def records(rows: DataFrame)
        : org.apache.spark.sql.Dataset[graft.multimodal.MediaOps.MediaRecord] = {
      import rows.sparkSession.implicits._
      rows.select(col("doc_id").as("media_id"),
          struct(lit(kind).as("kind"), lit(0).as("declaredWidth"),
                 lit(0).as("declaredHeight"), lit(0).as("sampleRate")).as("meta"),
          col("payload"))
        .as[graft.multimodal.MediaOps.MediaRecord]
    }
    /** The comparison is exact BIT width, not rounded word count
      * (ADVICE r15 #5: a 9x6 grid packs the same one word as 8x6 but
      * diverges from a 42-bit stamped geometry at verdict time): a
      * w x h dHash grid emits h*(w-1) comparison bits, which must equal
      * the geometry's banded capacity exactly. */
    private[graft] override def requireGrid(): Unit =
      require(gh * (gw - 1) == geom.fpBits,
        s"$kind grid ${gw}x$gh emits ${gh * (gw - 1)} fingerprint bits but " +
        s"geometry ${geom.params} verdicts ${geom.fpBits}-bit fingerprints")
  }

  /** The media arm (q158 family — images, audio, embeddings): `marks`,
    * one row per distinct fingerprint. `geom` must match the store's
    * stamped geometry (the params discipline). */
  final case class Media(geom: MarksGeom = NarrowMarks, gw: Int = 8,
                         gh: Int = 6) extends FpArm {
    val modality = "media"
    val kind = "image"
    private[ops] val tables = Seq("marks")
    private[ops] def statsKey = s"marks-hist-${geom.params}"
    private[graft] def prepare(rows: DataFrame): DataFrame =
      graft.multimodal.MediaOps.dHashWide(records(rows), gw, gh)
        .filter(col("decoded") === 1L)
        .select(col("media_id"), col("dhash").as("fp"))
        .localCheckpoint() // verdict + append read it twice
    private[ops] def tableFrame(spark: SparkSession, dir: String,
                                snap: IndexStore.Snapshot): DataFrame =
      IndexStore.marksFrame(spark, dir, snap, IndexStore.MARKS_DDL)
    private[ops] def sides(spark: SparkSession, batch: DataFrame,
                           near: DataFrame, dir: String,
                           snap: IndexStore.Snapshot): Sides = {
      val raw = tableFrame(spark, dir, snap)
      val bm = checked(batch, "media batch")
        .select(col("media_id").as("bid"), col("fp").as("bfp"))
      Sides(raw.select(col("fp").as("bfp"), col("owner")), bm, Seq("bfp"),
        banded(checked(raw.select(col("fp"), col("owner")), "marks")),
        banded(bm.select(col("bid"), col("bfp").as("fp")))
          .select(col("band"), col("bkey"), col("bid"), col("fp").as("bfp")),
        raw)
    }
    private[ops] def near(cand: DataFrame): DataFrame =
      cand.filter(withinHamming)
        .groupBy(col("bid")).agg(min(col("owner")).as("near_of"))
    private[ops] override def nearHits(cand: DataFrame): DataFrame =
      cand.filter(withinHamming && col("owner").isNotNull).select(col("bid"))
    private[ops] override def sentinel(tableRows: => Long,
                                       batch: DataFrame): Unit =
      DedupOps.warnIfSaturated(tableRows, geom.bands, geom.bandBits)
    private[ops] def rowsOf(fps: DataFrame): DataFrame = markRows(fps)
  }

  /** The video arm (q169 family): `seqs`, per-position fingerprint rows
    * of each admitted sequence. Exact = identical sequence (stored
    * digest equi-join); near = the temporal vote, ≥ 3 of the 4 sampled
    * positions within `geom.maxHamming` of one owner's. */
  final case class Video(geom: MarksGeom = NarrowMarks, gw: Int = 8,
                         gh: Int = 6) extends FpArm {
    val modality = "video"
    val kind = "video"
    private[ops] val tables = Seq("seqs")
    private[ops] def statsKey = s"seqs-hist-${geom.params}"
    private[ops] override val bandKeys = Seq("f", "band", "bkey")
    private[graft] def prepare(rows: DataFrame): DataFrame =
      graft.multimodal.MediaOps.frameDHashWide(records(rows), 4, gw, gh)
        .select(col("media_id"), col("frame_idx").as("f"), col("fhash").as("fp"))
        .localCheckpoint() // verdict + append read it twice
    private[ops] def tableFrame(spark: SparkSession, dir: String,
                                snap: IndexStore.Snapshot): DataFrame =
      IndexStore.seqsFrame(spark, dir, snap)
    private[ops] def sides(spark: SparkSession, batch: DataFrame,
                           near: DataFrame, dir: String,
                           snap: IndexStore.Snapshot): Sides = {
      val raw = tableFrame(spark, dir, snap)
      require(raw.columns.contains("seqhash"),
        s"seqs store under $dir predates the sequence-digest schema " +
        "(no seqhash column) — rebuild it or backfill digests; reading " +
        "it would silently drop every pre-digest owner from the exact arm")
      val cb = checked(batch, "video batch")
      // exact arm: canonical sequence equality via the STORED digest —
      // the batch side derives its digests over the increment, the
      // ledger side streams (no corpus-side array rebuild per verdict).
      // Deliberately NO one-row-per-owner pre-filter (ADVICE r15 #3: the
      // old `f = 0` filter assumed every owner stored a position-0 row;
      // a partial decode that samples only later frames would make the
      // owner permanently invisible to the exact arm): every row of a
      // MATCHING owner reaches the join — F redundant rows per match,
      // bounded by the increment's duplicate count, never corpus-shaped
      // — and the min() collapses them.
      val bseqs = cb.select(col("media_id").as("bid"), col("f"), col("fp"))
        .groupBy(col("bid"))
        .agg(sort_array(collect_list(struct(col("f"), col("fp")))).as("seq"))
        .select(col("bid"), seqDigest.as("seqhash"))
      Sides(raw.select(col("seqhash"), col("owner")), bseqs, Seq("seqhash"),
        banded(checked(raw.select(col("owner"), col("f"), col("fp")), "seqs")),
        banded(cb.select(col("media_id").as("bid"), col("f"), col("fp")))
          .select(col("f"), col("band"), col("bkey"), col("bid"),
                  col("fp").as("bfp")),
        raw)
    }
    private[ops] def near(cand: DataFrame): DataFrame =
      cand.filter(withinHamming)
        // several bands can match the same (video, owner, position) —
        // one vote per position
        .select(col("bid"), col("owner"), col("f")).distinct()
        .groupBy(col("bid"), col("owner"))
        .agg(count(lit(1)).as("n_agree"))
        .filter(col("n_agree") >= 3)
        .groupBy(col("bid")).agg(min(col("owner")).as("near_of"))
    // each position is its own keyspace: the table total over-counts a
    // position's load by the frame count, so the increment-sized
    // positions count runs only when that conservative screen saturates
    // (exact when every video carries the same frame count, the ingest
    // invariant)
    private[ops] override def sentinel(tableRows: => Long,
                                       batch: DataFrame): Unit =
      if (!DedupOps.saturationSafe(tableRows, geom.bands, geom.bandBits)) {
        val positions = math.max(1L, batch.select(col("f")).distinct().count())
        DedupOps.warnIfSaturated(tableRows / positions, geom.bands, geom.bandBits)
      }
    private[ops] override def batchIds(batch: DataFrame): DataFrame =
      batch.select(col("media_id")).distinct()
    private[ops] def rowsOf(frames: DataFrame): DataFrame = seqRows(frames)
  }

  private def filesOf(snap: IndexStore.Snapshot, table: String): Seq[String] =
    table match {
      case "codes" => snap.codes
      case "vectors" => snap.vectors
      case "marks" => snap.marks
      case "seqs" => snap.seqs
    }

  /** A rebuild's cell-clustered write: each cell lands as one file
    * set under `cell=<n>/`, not one fragment per upstream task. */
  private def writeCells(rows: DataFrame, path: String, mode: String): Unit =
    rows.repartition(col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(path)

  /** A delta's write: ONE flat file at the table root, `cell` a data
    * column in it (the ledger's verdicts never prune by cell). The
    * next [[IndexStore.compact]] gives the rows their cell layout back;
    * readers split a mixed fileset by layout. */
  private def writeFlat(rows: DataFrame, path: String): Unit =
    rows.coalesce(1).write.mode("append").parquet(path)

  /** REBUILD-commit a ledger: every arm's tables from its history, all
    * under one snapshot (a reader never sees the modalities half a
    * batch apart) whose manifest carries each arm's exact write-time
    * stats. `modalities` is the store's declared set — a mixed store
    * declares EVERY modality the router can send it, so absence of any
    * one table is bootstrap, not misconfiguration. */
  def build(dir: String, modalities: String,
            history: (LedgerArm, DataFrame)*): Int = {
    IndexStore.setProps(dir, Map("modalities" -> modalities))
    val built = history.map { case (arm, h) => arm -> arm.buildRows(h) }
    val v = IndexStore.commitRebuild(dir, stats = built.map { case (arm, rows) =>
        arm.statsKey -> exactStats(bucketHist(arm.banded(rows.toMap.apply(
          arm.table)), arm.bandKeys, s"${arm.statsKey} write-time"))
      }.toMap) {
      for ((_, rows) <- built; (t, r) <- rows) writeCells(r, s"$dir/$t", "overwrite")
    }
    if (history.exists(_._1 == Text)) stampLedgerDdls(dir)
    v
  }

  /** Verdict of `batch` against the ledger at `snap` through `arm`: one
    * row per batch item — `(idCol, exact_of, near_of, keep)`. EXACT = the
    * arm's exact key equi-joined (text: sha2 of the text; media:
    * fingerprint equality; video: the canonical sequence digest); NEAR =
    * the banded candidates that pass the arm's predicate (text: ≥
    * [[SIG_MIN]] agreeing minhash positions; media: popcount ≤
    * `geom.maxHamming`, exact recall at any admitted geometry; video:
    * the temporal vote, ≥ 3 agreeing positions, per-position pigeonhole
    * banding so recall per position is exact). Both arms resolve to the
    * smallest matching owner; `keep` = 1 iff neither fired.
    *
    * Topology: the ledger side streams from the snapshot's explicit
    * file list; the batch side broadcasts ONLY while it is measurably
    * small (round-12 VERDICT #1: the increment scales with ingest rate,
    * not corpus size — a hard `broadcast()` hint on a 100 GB/day
    * increment is a guaranteed driver OOM, the exact latent-OOM pattern
    * `broadcastIfSmall` was built to ban). Past `maxBroadcast` the hint
    * drops away and AQE picks a shuffle-hash join on the same keys — a
    * verdict-identical topology change, pinned for all three arms by
    * LedgerTopologySpec's forced-shuffle runs (the q103 salted-join
    * discipline: prove the plan shape is oracle-invisible). ONE gate
    * decision covers every batch-derived frame, taken on the batch's
    * OWN plan stats: every broadcast side (exact keys, band rows, the
    * two verdict arms) is ≤ O(batch rows) by construction and narrower
    * than the batch, but the verdict arms are post-join aggregates whose
    * Catalyst size estimates are inflated products of their join
    * children (no CBO stats on temp frames) — gating each frame on its
    * own estimate rejects kilobyte-sized aggregates and silently
    * de-broadcasts the verdict (caught by PlanGuardSpec q139).
    *
    * An empty arm table bootstraps only when the store's STAMPED
    * modalities declare the arm ([[requireModality]], whose scaladoc
    * carries the pre-stamp migration note); otherwise the verdict fails
    * by name instead of silently admitting every duplicate. The
    * fingerprint arms run the width guard ([[FpArm.checked]]) on both
    * banded inputs and on the batch's exact keys: a word-count mismatch
    * fails the job by name instead of nulling the hamming filter.
    *
    * With `pairBudgetPerItem` set (the default), the LEDGER side sheds
    * its hottest band buckets ([[shedUnlessAffordable]]) so per-item
    * fan-out stays bounded as the arm table grows; exact duplicates are
    * immune (the exact arm is a separate equi-join). The bound comes
    * from the stats `snap`'s manifest carries (zero jobs), else from the
    * exact histogram memoized per arm fileset. For the text arm,
    * hitsPerBucket = 1: the minhash band key is a string pair over a
    * ~2^62 hash keyspace, so any batch's expected occupancy of one
    * ledger bucket is ≪ 1, and it carries no
    * saturation sentinel (that keyspace is not a fixed bit geometry the
    * model speaks about). The fingerprint arms log when the geometry
    * has outgrown the table (ADVICE r16 #2, on both budget settings).
    * In the video arm a shared intro frame across the admitted corpus
    * is ONE ledger row per position by the [[seqRows]] dedup-first rule,
    * so the cap's job is residual near-collision mass only. */
  def verdict(arm: LedgerArm, spark: SparkSession, batch: DataFrame,
              dir: String, snap: IndexStore.Snapshot,
              maxBroadcast: Long = 256L << 20,
              pairBudgetPerItem: Option[Int] =
                DedupOps.DEFAULT_PAIR_BUDGET): DataFrame =
    verdictOf(arm, spark, batch, arm.nearRows(batch), dir, snap,
      maxBroadcast, pairBudgetPerItem)

  /** The candidate joins a verdict and a tick's keepers share, behind
    * one broadcast gate: `exact` = `(bid, owner)` rows of the exact
    * key equi-join, `cand` = the band join the arm's near predicate
    * reads, after the modality check, the saturation sentinel and the
    * shed ladder. */
  private final case class Joins(gate: DataFrame => DataFrame,
                                 exact: DataFrame, cand: DataFrame)

  private def joinsOf(arm: LedgerArm, spark: SparkSession, batch: DataFrame,
                      rows: DataFrame, near: DataFrame, dir: String,
                      snap: IndexStore.Snapshot, maxBroadcast: Long,
                      pairBudgetPerItem: Option[Int],
                      batchRows: Option[Long] = None): Joins = {
    // the gate reads the batch's own plan stats: derived rows (a
    // checkpoint of an aggregate) may carry no size estimate at all,
    // and neither does a checkpointed in-memory micro-batch — a caller
    // that counted the batch caps the estimate at that count times the
    // arm's broadcast bytes per row
    val planned = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    val bound = (for (n <- batchRows; w <- arm.rowBytes) yield BigInt(n) * w)
      .fold(planned)(_ min planned)
    val small = maxBroadcast > 0 && bound <= maxBroadcast
    def gate(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    requireModality(dir, filesOf(snap, arm.tables.head), arm.modality,
      arm.legacyAllowed)
    val sd = arm.sides(spark, rows, near, dir, snap)
    val persisted = snap.stats.get(arm.statsKey)
    // a stats-less snapshot verdicted under a budget measures the exact
    // histogram, which the next delta onto these files publishes
    lazy val hist = histCache.stamped(histKey(dir, arm),
      filesOf(snap, arm.table))(
      bucketHist(sd.ledgerBands, arm.bandKeys, s"${arm.statsKey} ledger"))
    // band rows = table rows × bands: every row lands in one bucket per band
    lazy val tableRows = persisted.map(_.rows)
      .orElse(pairBudgetPerItem.map(_ => histRows(hist))).map(_ / arm.bands)
      .getOrElse(sentinelCache.stamped(
        s"${IndexStore.storeId(dir)}:${arm.table}", snap.version)(sd.table.count()))
    arm.sentinel(tableRows, batch)
    val (lb, bb) = pairBudgetPerItem match {
      case None => (sd.ledgerBands, sd.batchBands)
      case Some(perItem) =>
        shedUnlessAffordable(sd.ledgerBands, arm.bandKeys, perItem,
          tableRows * arm.bands, sd.batchBands, _ / arm.bands,
          arm.statsKey, persisted, hist)
    }
    Joins(gate, sd.ledgerExact.join(gate(sd.batchExact), sd.exactKey),
      lb.join(gate(bb), arm.bandKeys))
  }

  private def verdictOf(arm: LedgerArm, spark: SparkSession, batch: DataFrame,
                        near: DataFrame, dir: String,
                        snap: IndexStore.Snapshot, maxBroadcast: Long,
                        pairBudgetPerItem: Option[Int]): DataFrame = {
    val j = joinsOf(arm, spark, batch, batch, near, dir, snap, maxBroadcast,
      pairBudgetPerItem)
    val ex = j.exact.groupBy(col(arm.bid)).agg(min(col("owner")).as("exact_of"))
    val nr = arm.near(j.cand)
    arm.batchIds(batch)
      .join(j.gate(ex.withColumnRenamed(arm.bid, arm.idCol)), Seq(arm.idCol), "left")
      .join(j.gate(nr.withColumnRenamed(arm.bid, arm.idCol)), Seq(arm.idCol), "left")
      .withColumn("keep", when(col("exact_of").isNull && col("near_of").isNull,
        1L).otherwise(0L))
      .orderBy(col(arm.idCol))
  }

  /** The batch rows whose verdict kept them. */
  private[graft] def keepers(arm: LedgerArm, batch: DataFrame,
                             verdict: DataFrame): DataFrame =
    batch.join(verdict.filter(col("keep") === 1L).select(col(arm.idCol)),
      Seq(arm.idCol), "left_semi")

  /** The KEEPERS of `batch` against the ledger at `snap`, as the arm's
    * [[LedgerArm.pinned]] rows, without the per-item verdict: the rows anti-joined with the ids that have an
    * exact hit or a near hit, from the same [[joinsOf]] candidates
    * [[verdict]] aggregates. The same items as [[keepers]] over
    * `verdict(...)` on the same batch and snapshot, with no
    * `min(owner)` aggregate, left join or semi-join (LedgerTopologySpec
    * and LedgerStatsSpec pin the equality per arm, forced shuffle and a
    * shedding store included). */
  private[graft] def keepersOf(arm: LedgerArm, spark: SparkSession,
                               batch: DataFrame, dir: String,
                               snap: IndexStore.Snapshot,
                               maxBroadcast: Long = 256L << 20,
                               pairBudgetPerItem: Option[Int] =
                                 DedupOps.DEFAULT_PAIR_BUDGET,
                               batchRows: Option[Long] = None): DataFrame = {
    val keyed = arm.pinned(batch)
    val j = joinsOf(arm, spark, batch, keyed, keyed, dir, snap,
      maxBroadcast, pairBudgetPerItem, batchRows)
    val hits = j.exact.filter(col("owner").isNotNull).select(col(arm.bid))
      .union(arm.nearHits(j.cand))
    keyed.join(j.gate(hits.withColumnRenamed(arm.bid, arm.idCol)),
      Seq(arm.idCol), "left_anti")
  }

  /** Append `survivors` through `arm` as one idempotent tagged delta
    * (exact-collapsed: one row per distinct exact key, owner = the
    * smallest id). The collapsed increment is materialized ONCE, inside
    * the idempotency gate (a replayed tag skips even that): callers pass
    * a LAZY batch ⋉ verdict.keep join, and the delta references it more
    * than once (table rows, stats bump) — without the checkpoint each
    * reference re-executed the whole verdict plan, ~4 s of a ~6 s
    * streamed tick at sf0.1 (SCALING.md "Round 16", addendum 2).
    * Increment-sized by contract. */
  def append(arm: LedgerArm, survivors: DataFrame, dir: String,
             tag: String): Int =
    IndexStore.commitDeltaWith(dir, Some(tag)) {
      writeDelta(arm, arm.collapse(arm.keyed(survivors)).localCheckpoint(), dir)
    }

  /** A delta's table writes over a materialized [[LedgerArm.collapse]],
    * one flat file per table ([[writeFlat]]), and the stats its
    * manifest carries ([[carriedStats]]) as a function of the base
    * snapshot. The writes and the bump are independent one-job DAGs over
    * the materialized rows — overlapped; this returns only when every
    * file is on disk, so the manifest diff sees them exactly as a serial
    * form would. The bump keys on the SAME geometry the arm's verdicts
    * consult. */
  private def writeDelta(arm: LedgerArm, collapsed: DataFrame, dir: String)
      : IndexStore.Snapshot => Map[String, IndexStore.ArmStats] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = armWriteEc
    val rows = arm.deltaRows(collapsed)
    val bump = Future(deltaBump(arm.banded(rows.toMap.apply(arm.table)),
      arm.bandKeys))
    try rows.map { case (t, r) => Future(writeFlat(r, s"$dir/$t")) }
      .foreach(Await.result(_, Duration.Inf))
    finally { Await.ready(bump, Duration.Inf); () }
    val b = Await.result(bump, Duration.Inf)
    base => carriedStats(arm, dir, b, base)
  }

  /** One arm's share of an ingest step — the streamed tick's per-arm
    * body: the keepers of `batch` against `snap` ([[keepersOf]] over
    * the arm's [[LedgerArm.pinned]] rows — the text arm's one shingle
    * → MinHash pass, carrying `h` and `sig`), exact-collapsed and
    * materialized in ONE checkpoint, and the commit that appends them
    * under `tag`. A mixed tick stages every arm against ONE pre-tick
    * snapshot in parallel, then runs the commits in a fixed order.
    * `batchRows` (at least the batch's row count) caps the broadcast
    * gate's size estimate ([[LedgerArm.rowBytes]]). */
  private[graft] def stage(arm: LedgerArm, batch: DataFrame, dir: String,
                           snap: IndexStore.Snapshot, tag: String,
                           batchRows: Option[Long] = None): () => Int = {
    val delta = arm.collapse(keepersOf(arm, batch.sparkSession, batch, dir,
      snap, batchRows = batchRows)).localCheckpoint()
    () => IndexStore.commitDeltaWith(dir, Some(tag))(writeDelta(arm, delta, dir))
  }

  /** One ingest GENERATION: verdict against the current snapshot, then
    * the keepers' rows appended under `tag`. */
  def ingest(arm: LedgerArm, batch: DataFrame, dir: String, tag: String): Int =
    stage(arm, batch, dir, IndexStore.snapshot(dir), tag)()

  /** q158's media fixture formula: (pixel key, edit bump) per id.
    * History bases 0–99; tick 1 (100–149) = 20 exact copies of bases
    * 0–19, 14 one-pixel edits of bases 0–13, 16 novels; tick 2
    * (150–199) = 16 exact copies of TICK 1's novels (the cross-tick
    * proof: they are duplicates only if tick 1's append landed), 14
    * edits of bases 20–33, 20 novels. */
  private[graft] def q158KeyBump(id: Long): (Long, Int) =
    if (id < 100) (id, 0)
    else if (id < 120) (id - 100, 0)
    else if (id < 134) (id - 120, 1)
    else if (id < 150) (id, 0)
    else if (id < 166) (id - 16, 0)
    else if (id < 180) (id - 146, 1)
    else (id, 0)

  /** The one media-fixture pixel formula (md5-derived channels, +40
    * bump at pixel (3, 2) when `bump`), shared by the q158 fixture
    * family and the specs — ONE definition, so a tuning change cannot
    * silently leave a test passing against stale semantics. */
  private[graft] def mediaFixtureBmp(key: Long, bump: Boolean, w: Int,
                                     h: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def ch(x: Int, y: Int, c: Int): Int = {
      val b = md.digest(s"$key|$x|$y|$c".getBytes("UTF-8"))(0) & 0xff
      (b + (if (bump && x == 3 && y == 2) 40 else 0)) % 256
    }
    graft.multimodal.BmpDecoder.encode(w, h, Array.tabulate(w * h) { p =>
      (ch(p % w, p / w, 0), ch(p % w, p / w, 1), ch(p % w, p / w, 2))
    })
  }

  private def q158Encode(w: Int, h: Int) = udf((id: Long) => {
    val (key, bump) = q158KeyBump(id)
    mediaFixtureBmp(key, bump == 1, w, h)
  })

  /** q158 media payloads for an id range, as (media_id, payload) — the
    * key/bump map is grid-agnostic, so one fixture family serves the
    * narrow 8×6 gates (q158/q162/q166) and the wide 16×8 one (q168). */
  private[ops] def q158Payloads(s: SparkSession, d: String, lo: Long, hi: Long,
                           gw: Int = 8, gh: Int = 6): DataFrame =
    Tables.rebalance(Tables.documents(s, d)
        .filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id").as("media_id")))
      .withColumn("payload", q158Encode(gw, gh)(col("media_id")))

  /** The REAL fingerprint chain over q158 payloads: encode → BMP decode
    * → dHashWide at the given grid (decode drift sits inside the gate,
    * as in q154) — 8×6 yields the narrow fingerprint in the marks
    * arm's one-word array typing, 16×8 the 120-bit two-word wide one. */
  private[ops] def q158Fps(s: SparkSession, d: String, lo: Long, hi: Long,
                      gw: Int = 8, gh: Int = 6): DataFrame = {
    import s.implicits._
    val recs = q158Payloads(s, d, lo, hi, gw, gh)
      .select(col("media_id"),
        struct(lit("image").as("kind"), lit(gw).as("declaredWidth"),
               lit(gh).as("declaredHeight"), lit(0).as("sampleRate")).as("meta"),
        col("payload"))
      .as[graft.multimodal.MediaOps.MediaRecord]
    graft.multimodal.MediaOps.dHashWide(recs, gw, gh)
      .filter(col("decoded") === 1L)
      .select(col("media_id"), col("dhash").as("fp"))
  }

  /** The two chained batch generations the media (q162, q166, q168)
    * and video (q170, q171, q172) store gates run over a seeded store
    * (one definition — a change to the survivor-join or tagging
    * discipline cannot silently split the gates): ids 100–149 under
    * `<prefix>-a`, then 150–199 under `<prefix>-b`. */
  private def ingestGenerations(arm: LedgerArm, dir: String, prefix: String)
                               (batch: (Long, Long) => DataFrame): Unit =
    for ((lo, hi, g) <- Seq((100L, 150L, "a"), (150L, 200L, "b"))) {
      ingest(arm, batch(lo, hi).localCheckpoint(), dir, s"$prefix-$g")
      ()
    }

  /** q169/q172 video payloads: the q158 key/bump map over 4-frame
    * videos. Exact copies share every frame; edits bump pixel (3, 2) of
    * frame id % 4 (≤ 2 comparisons flip, so that frame still AGREES and
    * the vote reads 4-of-4 at ham_sum ≤ 2 — a near-dup); novels are
    * unrelated at every position.
    *   - q169: 8×6 animated GIFs (the q157 construction via
    *     [[graft.jobs.JobRecordGate.encodeTemporalGifKeyed]]).
    *   - q172 (`avi`): raw-DIB AVI at the 16×8 grid — a TRUE RIFF video
    *     container through the vote arm (VERDICT r15 Next #2), at the
    *     wide geometry a 10⁶⁺ corpus runs. Same md5 pixel formula, so
    *     the oracle derivation is container-agnostic by construction. */
  private def videoPayloads(s: SparkSession, d: String, lo: Long, hi: Long,
                            avi: Boolean = false): DataFrame = {
    val enc = udf((id: Long) => {
      val (key, bump) = q158KeyBump(id)
      val edit = if (bump == 1) (id % 4).toInt else -1
      if (avi) graft.jobs.JobRecordGate.encodeTemporalAviKeyed(key, edit, 16, 8, 4)
      else graft.jobs.JobRecordGate.encodeTemporalGifKeyed(key, edit, 8, 6, 4)
    })
    Tables.rebalance(Tables.documents(s, d)
        .filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id").as("media_id")))
      .withColumn("payload", enc(col("media_id")))
  }

  /** The REAL video fingerprint chain over [[videoPayloads]]: container
    * decode (GIF frame composition, or the AVI walk on executors) →
    * per-position dHash words at the payload's grid (decode drift sits
    * inside the gate, as everywhere in the media family). */
  private def videoFrames(s: SparkSession, d: String, lo: Long, hi: Long,
                          avi: Boolean = false): DataFrame = {
    import s.implicits._
    val (w, h) = if (avi) (16, 8) else (8, 6)
    val recs = videoPayloads(s, d, lo, hi, avi)
      .select(col("media_id"),
        struct(lit("video").as("kind"), lit(w).as("declaredWidth"),
               lit(h).as("declaredHeight"), lit(0).as("sampleRate")).as("meta"),
        col("payload"))
      .as[graft.multimodal.MediaOps.MediaRecord]
    graft.multimodal.MediaOps.frameDHashWide(recs, 4, w, h)
      .select(col("media_id"), col("frame_idx").as("f"), col("fhash").as("fp"))
  }

  /** The marks-arm geometry for the 49-comparison audio energy hash
    * (50 windows): 3×16-bit pigeonhole slices, hamming ≤ 2 — the
    * q155/q174 verdict threshold as a stored-arm parameter. Bit 48
    * rides outside every band, which costs nothing: recall needs one
    * CLEAN band, and ≤ maxHamming dirty bits can dirty at most
    * maxHamming of the 3 bands wherever they land. */
  private[graft] val AudioMarks: MarksGeom = MarksGeom(49, 3, 16, 2)

  /** q175's A/V payloads: ONE RIFF container per id, video frames
    * under the q158/q172 (key, bump) map, interleaved PCM audio under
    * an INDEPENDENT (akey, click) map — id%3 of the batch re-uses
    * history's audio with a click (0), carries NOVEL audio (1), or
    * re-uses history's audio exactly (2), regardless of what the
    * video side does. */
  private def q175Payloads(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[graft.multimodal.MediaOps.MediaRecord] = {
    import s.implicits._
    val enc = udf((id: Long) => {
      val (key, bump) = q158KeyBump(id)
      val (akey, click) =
        if (id < 100L) (id, false)
        else if (id % 3 == 0) (id - 100, true)
        else if (id % 3 == 1) (id, false)
        else (id - 100, false)
      graft.jobs.JobRecordGate.encodeTemporalAviKeyedAV(key,
        if (bump == 1) (id % 4).toInt else -1, 16, 8, 4, akey, click)
    })
    Tables.rebalance(Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id").as("media_id")))
      .withColumn("payload", enc(col("media_id")))
      .select(col("media_id"),
        struct(lit("video").as("kind"), lit(16).as("declaredWidth"),
               lit(8).as("declaredHeight"), lit(16000).as("sampleRate"))
          .as("meta"),
        col("payload"))
      .as[graft.multimodal.MediaOps.MediaRecord]
  }

  /** Cached AVI/WIDE video history ledger: sequence rows for videos
    * 0–99 at the 16×8 grid — the seed q172 clones per execution. */
  private[graft] def ensureAviVideoHistoryLedger(s: SparkSession,
                                                 d: String): String =
    VectorOps.ensureIndex(d, "ledgeravi",
        ledgerParams + s"|avi|${WideMarks.params}|agree=3|F=4|seqhash|props",
        "documents.parquet") { base =>
      build(base.getPath, "video",
        Video(WideMarks, 16, 8) -> videoFrames(s, d, 0L, 100L, avi = true))
      ()
    }

  /** Cached VIDEO history ledger: sequence rows for videos 0–99 — the
    * seed q169 clones per execution. */
  private[graft] def ensureVideoHistoryLedger(s: SparkSession,
                                              d: String): String =
    VectorOps.ensureIndex(d, "ledgervid",
        ledgerParams + s"|video|${NarrowMarks.params}|agree=3|F=4|seqhash|props",
        "documents.parquet") { base =>
      build(base.getPath, "video", Video() -> videoFrames(s, d, 0L, 100L))
      ()
    }

  /** Cached MIXED history ledger: text history (doc_id < max*9/10) +
    * media base fingerprints (ids 0–99) in one store — the seed q158
    * clones per execution, like [[ensureHistoryLedger]] for q152. */
  private[graft] def ensureMixedHistoryLedger(s: SparkSession,
                                              d: String): String =
    VectorOps.ensureIndex(d, "ledgermx",
        ledgerParams + s"|mixed|fpw|${NarrowMarks.params}",
        "documents.parquet") { base =>
      val docs = Tables.rebalance(Tables.documents(s, d))
      build(base.getPath, "text,media,video",
        Text -> docs.filter(col("doc_id") < cutoffOf(docs)),
        Media() -> q158Fps(s, d, 0L, 100L))
      ()
    }

  /** Build-once gate for q139/q140: v1 = ledger over history (doc_id <
    * max*9/10), v2 = v1 + the batch's survivors appended under the
    * idempotency tag. Rebuilt whenever documents.parquet or any
    * fingerprint-shaping constant changes. The leading format tag is
    * bumped whenever a builder's output changes: the seed cache
    * ([[VectorOps.ensureIndex]]) fingerprints this string and the
    * source file, never the code that built a cached store (v3: every
    * seed, the seqs ones included, carries arm stats; v4: seed deltas
    * land as one flat file per table). */
  private def ledgerParams =
    s"v4|seeds=${DedupOps.NUM_SEEDS}|rows=${DedupOps.ROWS_PER_BAND}" +
    s"|sigmin=$SIG_MIN|cut90"

  private[graft] def ensureLedger(s: SparkSession, d: String): String =
    VectorOps.ensureIndex(d, "ledger", ledgerParams, "documents.parquet") { base =>
      val docs = Tables.rebalance(Tables.documents(s, d))
      val cutoff = cutoffOf(docs)
      buildLedger(docs.filter(col("doc_id") < cutoff), base.getPath)
      ingest(Text, docs.filter(col("doc_id") >= cutoff).localCheckpoint(),
        base.getPath, s"batch@$cutoff")
      ()
    }

  /** Build-once gate for q151: the full STORE lifecycle under the
    * oracle (round-12 VERDICT #4 — q130's discipline applied to the
    * ledger layout). History = doc_id < max*8/10; then TWO ingest
    * generations (deciles 8 and 9, each verdict-then-append under its
    * own idempotency tag — generation 9 dedups against generation 8's
    * survivors, the chained daily shape), then [[IndexStore.compact]]
    * (per-cell small-file rewrite, atomic replacement snapshot) and
    * [[IndexStore.vacuum]]. Compaction and vacuum are layout-only: the
    * q151 verdict against HEAD must hash-match a file-agnostic oracle
    * that re-derives both survivor generations — a compaction that
    * dropped/duplicated/re-celled one fingerprint row, or a vacuum that
    * deleted a live file, flips some batch doc's owner or keep. */
  private[graft] def ensureCompactLedger(s: SparkSession, d: String): String =
    VectorOps.ensureIndex(d, "ledger2",
        ledgerParams + "|2gen|cut80|compact", "documents.parquet") { base =>
      val docs = Tables.rebalance(Tables.documents(s, d))
      val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
      val c8 = mx * 8L / 10L
      val c9 = mx * 9L / 10L
      val dir = base.getPath
      buildLedger(docs.filter(col("doc_id") < c8), dir)
      for ((lo, hi, tag) <- Seq((c8, c9, s"gen@$c8"), (c9, mx + 1L, s"gen@$c9")))
        ingest(Text, docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .localCheckpoint(), dir, tag)
      IndexStore.compact(s, dir)
      IndexStore.vacuum(dir)
      ()
    }

  /** Cached HISTORY-ONLY ledger (doc_id < max*9/10, NO appends) — the
    * seed q152 clones per execution. Distinct from [[ensureLedger]],
    * whose cached dir has already ingested the last decile's survivors. */
  private[graft] def ensureHistoryLedger(s: SparkSession, d: String): String =
    VectorOps.ensureIndex(d, "ledgerh",
        ledgerParams + "|history-only", "documents.parquet") { base =>
      val docs = Tables.rebalance(Tables.documents(s, d))
      buildLedger(docs.filter(col("doc_id") < cutoffOf(docs)), base.getPath)
      ()
    }

  /** Recursive file copy: the store's manifests name data files by
    * RELATIVE path, so a plain directory clone is a valid store at the
    * destination — how a test/staging environment provisions from a
    * production snapshot, and how q152 gets a mutable ledger per
    * execution without rebuilding history. */
  private[graft] def cloneStore(src: String, dst: String): Unit = {
    val s0 = new java.io.File(src).toPath
    val d0 = new java.io.File(dst).toPath
    val walk = java.nio.file.Files.walk(s0) // stream holds dir handles
    try walk.forEach { p =>
      val t = d0.resolve(s0.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } finally walk.close()
    // the clone gets a FRESH identity (round-16 review find): clones
    // diverge from the seed via independent appends with LOCKSTEP
    // version numbers, so a shared store.id would let two clones'
    // memoized sentinel counts / shed histograms poison each other —
    // same-version-different-content is exactly the aliasing the UUID
    // exists to prevent
    val idf = new java.io.File(new java.io.File(dst, "_manifest"), "store.id")
    if (idf.exists()) {
      java.nio.file.Files.write(idf.toPath,
        java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
      ()
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q139: the INCREMENT dedup — last decile vs the PINNED v1
    // (history-only) snapshot. HEAD has already ingested the survivors;
    // snapshotAt(1) is what makes the pre-append verdict replayable —
    // the same isolation a production reader gets mid-ingest.
    "q139_ledger_dedup" -> ((s, d) => {
      val dir = ensureLedger(s, d)
      val docs = Tables.rebalance(Tables.documents(s, d))
      val cutoff = cutoffOf(docs)
      verdict(Text, s, docs.filter(col("doc_id") >= cutoff), dir,
        IndexStore.snapshotAt(dir, 1))
    }),

    // ---- q145: the ledger CHANGELOG — what did the ingest admit
    // between the pinned build snapshot (v1) and HEAD, answered by the
    // manifest-native incremental read: only the data files the append
    // published are opened (zero IO against history — the "read the
    // delta" primitive a downstream consumer tails instead of diffing
    // two corpus-sized tables). One row per admitted representative:
    // its exact-row owner and whether a signature row landed (docs
    // under 3 tokens have no shingles, hence no signature).
    "q145_ledger_diff" -> ((s, d) => {
      val dir = ensureLedger(s, d)
      val (addedEx, addedSig) = IndexStore.diffFrames(s, dir,
        IndexStore.snapshotAt(dir, 1), IndexStore.snapshot(dir),
        Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL),
        declaredSchema = true) // text-ledger store: the contract DDLs
      addedEx.select(col("owner").as("doc_id"))
        .join(addedSig.select(col("doc_id")).withColumn("has_sig", lit(1L)),
          Seq("doc_id"), "left")
        .withColumn("has_sig", coalesce(col("has_sig"), lit(0L)))
        .orderBy(col("doc_id"))
    }),

    // ---- q140: the GROWTH gate — the same batch re-deduped against
    // HEAD (history + appended survivors). Every doc must now be a
    // duplicate: survivors exact-match their own appended fingerprint
    // (exact_of ≤ self), dropped docs still match what dropped them —
    // keep is all-zero and the hash pins exactly what the append
    // published (a survivor whose fingerprint failed to land, or a
    // non-representative whose signature leaked in, both break it).
    "q140_ledger_growth" -> ((s, d) => {
      val dir = ensureLedger(s, d)
      val docs = Tables.rebalance(Tables.documents(s, d))
      val cutoff = cutoffOf(docs)
      verdict(Text, s, docs.filter(col("doc_id") >= cutoff), dir,
        IndexStore.snapshot(dir))
    }),

    // ---- q151: the ledger STORE lifecycle — build at the 80% line,
    // two chained verdict+append generations, compact, vacuum, then
    // re-dedup BOTH deciles against the compacted HEAD. All keep=0 by
    // construction (every doc matches its own appended fingerprint or
    // what dropped it); the hash pins the owners, i.e. exactly which
    // fingerprints each generation admitted — through a layout the
    // compaction fully rewrote. The oracle re-derives both survivor
    // generations file-agnostically, so any content change from the
    // layout ops breaks the match.
    "q151_ledger_lifecycle" -> ((s, d) => {
      val dir = ensureCompactLedger(s, d)
      val docs = Tables.rebalance(Tables.documents(s, d))
      val c8 = docs.agg(max(col("doc_id"))).head.getLong(0) * 8L / 10L
      verdict(Text, s, docs.filter(col("doc_id") >= c8), dir,
        IndexStore.snapshot(dir))
    }),

    // ---- q177: the TAKEDOWN lifecycle (round 17) — forget, physical
    // drop, re-admission. The ledger loses exactly the owners the
    // last-decile batch exact-matches (a takedown list aimed at the
    // content it suppresses); [[IndexStore.forget]] commits the set as
    // an O(forgotten) tombstone delta — no corpus IO, the only shape a
    // takedown can take at 100 TB — and the set itself stays a
    // DISTRIBUTED frame end-to-end (derived from the verdict, written
    // by the executors; the driver never holds it). Compaction then
    // folds the tombstones into a physical drop (the gate requires the
    // tombs arm empty afterwards) and vacuum removes the bytes. Gen 1
    // = the post-takedown verdict: every previously exact-dropped doc
    // re-admits (keep=1) unless the near arm still matches a SURVIVING
    // owner's signature; its survivors append under a new tag — the
    // re-admitted content's new owners. Gen 2 = the growth verdict:
    // all keep=0 again, exact owners now the re-admitted
    // representatives. The oracle re-derives the forgotten set and
    // both generations content-only, so the tombstone files, the
    // compaction, and the vacuum must all be invisible — and a forget
    // that under- or over-deletes (sig rows left behind, a non-owner
    // doc swept up) flips some verdict row.
    "q177_ledger_forget" -> ((s, d) => {
      val docs = Tables.rebalance(Tables.documents(s, d))
      val cutoff = cutoffOf(docs)
      val zone = graft.jobs.JobRecordGate.freshZone("graft-forget-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      cloneStore(ensureHistoryLedger(s, d), dir)
      val batch = docs.filter(col("doc_id") >= cutoff).localCheckpoint()
      val doomed = verdict(Text, s, batch, dir, IndexStore.snapshot(dir))
        .filter(col("exact_of").isNotNull)
        .select(col("exact_of").as("owner")).distinct()
      IndexStore.forget(s, dir, "text", doomed, Some("takedown-1"))
      // gen 1 verdicts MERGE-ON-READ — through the live tombstone
      // anti-join — so the hashed output pins that read path, not just
      // the folded one
      val g1 = verdict(Text, s, batch, dir, IndexStore.snapshot(dir))
        .localCheckpoint()
      append(Text, keepers(Text, batch, g1), dir, "readmit-1")
      IndexStore.compact(s, dir)
      IndexStore.vacuum(dir)
      require(IndexStore.snapshot(dir).tombs.isEmpty,
        "q177: compaction must fold the tombstones into a physical drop")
      // gen 2 verdicts the FOLDED store — both paths must agree with
      // the one content-only oracle
      val g2 = verdict(Text, s, batch, dir, IndexStore.snapshot(dir))
      g1.withColumn("gen", lit(1L))
        .unionByName(g2.withColumn("gen", lit(2L)))
        .select(col("gen"), col("doc_id"), col("exact_of"),
          col("near_of"), col("keep"))
        .orderBy(col("gen"), col("doc_id"))
    }),

    // ---- q152: the STREAMED daily tick (round-12 VERDICT #5) — the
    // production ingest shape executed inside the gate, like q105/q117:
    // the last decile lands as JSON in two ticks, a checkpointed
    // foreachBatch stream ([[graft.streaming.DedupMaintenance]]) runs
    // ledger verdict + tagged append per micro-batch, the query is
    // KILLED after tick 1 (the drain stops) and RESUMED from the same
    // checkpoint for tick 2 (new files only — tick 2 dedups against
    // what tick 1 admitted; a checkpoint regression that re-read tick 1
    // would re-append nothing only through the idempotency tag, and a
    // tag regression flips the hash). Replay over a DRAINED checkpoint
    // is DedupLedgerSpec's job ("restart publishes nothing") — the gate
    // doesn't pay a third stream lifecycle to re-prove it (the q125
    // lesson). The result is the whole decile re-deduped against HEAD —
    // all keep=0, owners pinning exactly what the two ticks admitted —
    // hash-matched against a file-agnostic two-generation oracle. Per
    // execution the history ledger CLONES from the cached seed (never
    // rebuilt), so the gate pays clone + two real stream lifecycles.
    "q152_stream_tick" -> ((s, d) => {
      val docs = Tables.rebalance(Tables.documents(s, d))
      val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
      val c9 = mx * 9L / 10L
      val cMid = mx * 19L / 20L
      val zone = graft.jobs.JobRecordGate.freshZone("graft-ledgertick-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      cloneStore(ensureHistoryLedger(s, d), dir)
      val landing = new java.io.File(zone, "in").getAbsolutePath
      val ckpt = new java.io.File(zone, "ck").getAbsolutePath
      val ss = graft.streaming.StreamConf.stateSession(s, 8)
      def stream = ss.readStream.schema("doc_id LONG, text STRING")
        .json(landing)
      def drainTick(): Unit =
        graft.streaming.DedupMaintenance.dedupSink(stream, dir, ckpt)
          .start().awaitTermination()
      // tick 1 lands as ONE file => one micro-batch, then the stream stops
      docs.filter(col("doc_id") >= c9 && col("doc_id") < cMid)
        .select(col("doc_id"), col("text")).repartition(1)
        .write.mode("overwrite").json(landing)
      drainTick()
      // tick 2 appends; resume from the SAME checkpoint reads new files only
      docs.filter(col("doc_id") >= cMid)
        .select(col("doc_id"), col("text")).repartition(1)
        .write.mode("append").json(landing)
      drainTick()
      verdict(Text, s, docs.filter(col("doc_id") >= c9), dir,
        IndexStore.snapshot(dir))
    }),

    // ---- q158: the MIXED-modality streamed tick (VERDICT r13 Next
    // #3) — q152's kill/resume discipline over a ledger that speaks
    // BOTH text signatures and image fingerprints. Per execution: the
    // mixed history seed (text < 90% line + media base fingerprints
    // 0-99) clones; tick 1 lands the first half-decile of text PLUS
    // media ids 100-149 (exact copies, one-pixel edits, novels) as one
    // JSON drop (payloads ride base64); the checkpointed mixedSink
    // routes by kind, verdicts both modalities against ONE snapshot,
    // and appends each side's survivors under its own idempotency tag;
    // the stream is KILLED and RESUMED for tick 2 (second half-decile
    // + media 150-199, where ids 150-165 are exact copies of TICK 1's
    // novel images — duplicates only if tick 1's media append landed:
    // the cross-tick, cross-modality proof). The verdict re-dedups the
    // whole decile and all 100 media drops against HEAD — keep all
    // zero, owners pinning exactly what each tick admitted on each
    // modality — hash-matched to a file-, transport- and CODEC-
    // agnostic oracle (text: the q152 two-generation derivation;
    // media: fingerprints recomputed from the pixel formula, verdicts
    // via exhaustive popcount — no banding assumption).
    "q158_mixed_stream_tick" -> ((s, d) => {
      val docs = Tables.rebalance(Tables.documents(s, d))
      val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
      val c9 = mx * 9L / 10L
      val cMid = mx * 19L / 20L
      val zone = graft.jobs.JobRecordGate.freshZone("graft-mixedtick-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      cloneStore(ensureMixedHistoryLedger(s, d), dir)
      val landing = new java.io.File(zone, "in").getAbsolutePath
      val ckpt = new java.io.File(zone, "ck").getAbsolutePath
      val ss = graft.streaming.StreamConf.stateSession(s, 8)
      def stream = ss.readStream
        .schema("kind STRING, doc_id LONG, text STRING, payload BINARY")
        .json(landing)
      def drainTick(): Unit =
        graft.streaming.DedupMaintenance.mixedSink(stream, dir, ckpt)
          .start().awaitTermination()
      def textRows(lo: Long, hi: Long) =
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .select(lit("text").as("kind"), col("doc_id"), col("text"),
                  lit(null).cast("binary").as("payload"))
      def mediaRows(lo: Long, hi: Long) =
        q158Payloads(s, d, lo, hi)
          .select(lit("image").as("kind"), col("media_id").as("doc_id"),
                  lit(null).cast("string").as("text"), col("payload"))
      textRows(c9, cMid).unionByName(mediaRows(100L, 150L))
        .repartition(1).write.mode("overwrite").json(landing)
      drainTick()
      textRows(cMid, mx + 1L).unionByName(mediaRows(150L, 200L))
        .repartition(1).write.mode("append").json(landing)
      drainTick()
      val snap = IndexStore.snapshot(dir)
      val tv = verdict(Text, s, docs.filter(col("doc_id") >= c9),
          dir, snap)
        .withColumn("kind", lit("text"))
      val mv = verdict(Media(), s, q158Fps(s, d, 100L, 200L), dir, snap)
        .withColumnRenamed("media_id", "doc_id")
        .withColumn("kind", lit("image"))
      tv.unionByName(mv)
        .select(col("kind"), col("doc_id"), col("exact_of"),
                col("near_of"), col("keep"))
        .orderBy(col("kind"), col("doc_id"))
    }),

    // ---- q162: the media arm's STORE lifecycle — q151's discipline on
    // the marks table: clone the mixed history seed, ingest the two
    // media generations through the BATCH verdict+append API (each
    // under its own idempotency tag; generation B's exact copies of
    // generation A's novels prove the chained-ingest dependency), then
    // COMPACT (the marks table rewrites per-cell beside codes/vectors
    // under one replacement snapshot) and VACUUM, and re-verdict all
    // 100 drops against the compacted HEAD. Layout ops must be
    // hash-invisible: a compaction that dropped, duplicated, or
    // re-celled one fingerprint row — or a vacuum that deleted a live
    // marks file — flips some drop's owner or keep against the
    // file-agnostic popcount oracle.
    "q162_media_ledger_compact" -> ((s, d) => {
      val zone = graft.jobs.JobRecordGate.freshZone("graft-mxcompact-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      cloneStore(ensureMixedHistoryLedger(s, d), dir)
      ingestGenerations(Media(), dir, "gen")(q158Fps(s, d, _, _))
      IndexStore.compact(s, dir)
      IndexStore.vacuum(dir)
      verdict(Media(), s, q158Fps(s, d, 100L, 200L), dir,
        IndexStore.snapshot(dir))
    }),

    // ---- q166: the media arm's CHANGELOG — q145's manifest-native
    // incremental read on the marks table: after two batch media
    // generations, the diff between the cloned seed's snapshot and
    // HEAD opens ONLY the data files the two appends published (zero
    // IO against history) and must contain exactly the fingerprints
    // the ingest admitted — gen-a's novel images and gen-b's novels
    // (gen-b's copies of gen-a's novels were DENIED by the chained
    // verdict, so their fingerprints must NOT reappear). The oracle
    // re-derives both survivor generations from the pixel formula;
    // a delta read that leaked a history file, missed an append file,
    // or double-published under the idempotency tags flips the hash.
    "q166_media_ledger_diff" -> ((s, d) => {
      val zone = graft.jobs.JobRecordGate.freshZone("graft-mxdiff-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      cloneStore(ensureMixedHistoryLedger(s, d), dir)
      val v0 = IndexStore.snapshot(dir)
      ingestGenerations(Media(), dir, "gen")(q158Fps(s, d, _, _))
      IndexStore.diffMarks(s, dir, v0, IndexStore.snapshot(dir),
          IndexStore.MARKS_DDL)
        // this store's stamped geometry is NarrowMarks (42-bit) — word
        // 1 IS the fingerprint, and the oracle derives it as a BIGINT
        .select(col("owner").as("media_id"),
                expr("element_at(fp, 1)").as("fp"))
        .orderBy(col("media_id"))
    }),

    // ---- q168: the WIDE marks arm end-to-end (VERDICT r14 Next #2) —
    // q162's store lifecycle at the 16x8/120-bit geometry the narrow
    // form measurably saturates past N ~ 10^5: history marks are
    // two-word dHashWide fingerprints, both ingest generations run the
    // banded wide verdict WITH the candidate budget wired (inert at
    // fixture scale — every bucket sits under the BAND_CAP floor; the
    // point is the production path is THE path), survivors append
    // under idempotency tags, the marks table COMPACTs (array-typed
    // rows through the per-cell rewrite) and VACUUMs, and the final
    // verdict of all 100 drops runs against the compacted HEAD. The
    // oracle re-derives every fingerprint COMPARISON-LEVEL from the
    // pixel formula (bit strings, pairwise hamming by counting
    // differing comparisons — no word packing, no banding, no codec),
    // replays both survivor generations exhaustively, and resolves
    // the verdict arms over the final population: a wide-slice bug, a
    // compaction that drops/duplicates/re-cells an array row, or a
    // budget that sheds a fixture-scale bucket all flip the hash.
    "q168_wide_media_ledger" -> ((s, d) => {
      val zone = graft.jobs.JobRecordGate.freshZone("graft-widemarks-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      val wide = Media(WideMarks, 16, 8)
      build(dir, "media", wide -> q158Fps(s, d, 0L, 100L, 16, 8))
      ingestGenerations(wide, dir, "gen")(q158Fps(s, d, _, _, 16, 8))
      IndexStore.compact(s, dir)
      IndexStore.vacuum(dir)
      verdict(wide, s, q158Fps(s, d, 100L, 200L, 16, 8), dir,
        IndexStore.snapshot(dir))
    }),

    // ---- q169: the VIDEO streamed tick (VERDICT r14 missing #3 /
    // Next #4) — q158's kill/resume discipline over the ledger's
    // SEQUENCE arm: the seeded store holds per-position fingerprint
    // rows for history videos 0-99; tick 1 lands videos 100-149 as
    // real animated-GIF payloads (kind "video" through the SAME
    // mixedSink router the text/image arms use — 20 exact re-uploads
    // of history, 14 one-frame edits, 16 novels), the checkpointed
    // stream verdicts them through the temporal VOTE arm (exact =
    // identical fingerprint sequence, near = >= 3-of-4 positions
    // within hamming 2) and appends survivors' sequences under the
    // tick's idempotency tag; the stream is KILLED and RESUMED for
    // tick 2 (150-199, where 150-165 are exact copies of TICK 1's
    // novel videos — duplicates only if tick 1's sequence append
    // landed: the cross-tick proof). The verdict re-dedups all 100
    // drops against HEAD — keep all zero, owners pinning exactly
    // which sequences each tick admitted — hash-matched to a file-,
    // transport- and CODEC-agnostic oracle that recomputes every
    // per-frame comparison from the pixel formula and replays both
    // survivor generations by exhaustive vote.
    "q169_video_stream_tick" -> ((s, d) => {
      val zone = graft.jobs.JobRecordGate.freshZone("graft-vidtick-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      cloneStore(ensureVideoHistoryLedger(s, d), dir)
      val landing = new java.io.File(zone, "in").getAbsolutePath
      val ckpt = new java.io.File(zone, "ck").getAbsolutePath
      val ss = graft.streaming.StreamConf.stateSession(s, 8)
      def stream = ss.readStream
        .schema("kind STRING, doc_id LONG, text STRING, payload BINARY")
        .json(landing)
      def drainTick(): Unit =
        graft.streaming.DedupMaintenance.mixedSink(stream, dir, ckpt)
          .start().awaitTermination()
      def videoRows(lo: Long, hi: Long) =
        videoPayloads(s, d, lo, hi)
          .select(lit("video").as("kind"), col("media_id").as("doc_id"),
                  lit(null).cast("string").as("text"), col("payload"))
      videoRows(100L, 150L).repartition(1).write.mode("overwrite").json(landing)
      drainTick()
      videoRows(150L, 200L).repartition(1).write.mode("append").json(landing)
      drainTick()
      verdict(Video(), s, videoFrames(s, d, 100L, 200L), dir,
        IndexStore.snapshot(dir))
    }),

    // ---- q170: the sequence arm's STORE lifecycle — q162's
    // discipline on the seqs table: clone the video seed, ingest the
    // two video generations through the BATCH verdict+append API
    // (vgen-b's exact copies of vgen-a's novels prove the chained
    // dependency), then COMPACT (seq rows rewrite per-cell under one
    // replacement snapshot) and VACUUM, and re-verdict all 100 drops
    // against the compacted HEAD. Layout ops must be hash-invisible
    // to the same comparison-level oracle that gates the streamed
    // tick: a compaction that drops/duplicates/re-cells one (owner,
    // position, fingerprint) row — or a vacuum that deletes a live
    // seqs file — flips some drop's owner, vote, or keep.
    "q170_video_ledger_compact" -> ((s, d) => {
      val zone = graft.jobs.JobRecordGate.freshZone("graft-vidcompact-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      cloneStore(ensureVideoHistoryLedger(s, d), dir)
      ingestGenerations(Video(), dir, "vgen")(videoFrames(s, d, _, _))
      IndexStore.compact(s, dir)
      IndexStore.vacuum(dir)
      verdict(Video(), s, videoFrames(s, d, 100L, 200L), dir,
        IndexStore.snapshot(dir))
    }),

    // ---- q171: the sequence arm's CHANGELOG — q166's manifest-native
    // incremental read on the seqs table: after the two batch video
    // generations, the diff between the cloned seed's snapshot and
    // HEAD opens ONLY the data files the appends published and must
    // contain exactly the admitted sequences — vgen-a's novels and
    // vgen-b's novels, one row per (owner, position), with vgen-b's
    // re-uploads of vgen-a's novels ABSENT (denied by the chained
    // vote). The oracle re-derives the survivor owners from the pixel
    // formula and packs each admitted frame's 42 comparison bits into
    // the BIGINT the narrow-geometry store carries in word 1.
    "q171_video_ledger_diff" -> ((s, d) => {
      val zone = graft.jobs.JobRecordGate.freshZone("graft-viddiff-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      cloneStore(ensureVideoHistoryLedger(s, d), dir)
      val v0 = IndexStore.snapshot(dir)
      ingestGenerations(Video(), dir, "vgen")(videoFrames(s, d, _, _))
      IndexStore.diffSeqs(s, dir, v0, IndexStore.snapshot(dir))
        .select(col("owner").as("media_id"), col("f"),
                expr("element_at(fp, 1)").as("fp"))
        .orderBy(col("media_id"), col("f"))
    }),

    // ---- q179: the VIDEO takedown (round 17) — q177's lifecycle on
    // the temporal arm. A fifth of the admitted history owners
    // (owner % 5 = 0, closed-form) are forgotten, the compaction
    // makes the drop physical, and the first ingest generation
    // re-verdicts against the shrunken store: batch videos whose only
    // match was a forgotten owner re-admit (their near-dup votes died
    // with the owner's sequence rows — per-frame fingerprints are
    // distinct across mkeys, so no other owner can absorb them), the
    // rest still resolve to their surviving owners. The oracle is the
    // q169/q170 pixel-formula derivation with the owner filter — the
    // tombstone files, the fold, and the vacuum must be invisible,
    // and a forget that leaked one sequence row (one frame position
    // of one owner) revives a vote and flips a keep.
    "q179_video_ledger_forget" -> ((s, d) => {
      val zone = graft.jobs.JobRecordGate.freshZone("graft-vidforget-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      cloneStore(ensureVideoHistoryLedger(s, d), dir)
      val doomed = IndexStore.seqsFrame(s, dir, IndexStore.snapshot(dir))
        .select(col("owner")).distinct()
        .filter(pmod(col("owner"), lit(5L)) === 0L)
      IndexStore.forget(s, dir, "video", doomed, Some("takedown-1"))
      // phase 1 verdicts MERGE-ON-READ (live tombstone anti-join on the
      // seqs arm); phase 2 verdicts the FOLDED store after compaction +
      // vacuum — the oracle derivation is identical for both, so the
      // two read paths must agree row-for-row
      val m1 = verdict(Video(), s, videoFrames(s, d, 100L, 150L), dir,
        IndexStore.snapshot(dir)).localCheckpoint()
      IndexStore.compact(s, dir)
      IndexStore.vacuum(dir)
      require(IndexStore.snapshot(dir).tombs.isEmpty,
        "q179: compaction must fold the tombstones into a physical drop")
      val m2 = verdict(Video(), s, videoFrames(s, d, 100L, 150L), dir,
        IndexStore.snapshot(dir))
      m1.withColumn("phase", lit(1L))
        .unionByName(m2.withColumn("phase", lit(2L)))
        .select(col("phase"), col("media_id"), col("exact_of"),
          col("near_of"), col("keep"))
        .orderBy(col("phase"), col("media_id"))
    }),

    // ---- q172: a TRUE video container through the vote arm (VERDICT
    // r15 Next #2) — the q170 store lifecycle with raw-DIB AVI payloads
    // at the WIDE geometry: history sequences 0-99 seed the store at
    // the 16x8 grid (120 bits/frame, 3x40-bit straddling bands), both
    // ingest generations parse real RIFF containers on executors
    // (frame chunks → bottom-up BGR decode → per-position dHash
    // words), survivors append under idempotency tags, the seqs table
    // COMPACTs and VACUUMs, and the final verdict of all 100 drops
    // runs against the compacted HEAD. The oracle recomputes every
    // per-frame comparison from the md5 pixel formula — identical to
    // q169/q170's derivation except the grid — so the CONTAINER (GIF
    // vs AVI), the parser, the word packing, and the wide band slices
    // are all judged purely by the output hash; the malformed/oversize
    // guards are AviSpec's pins, exactly like the GIF path's.
    "q172_avi_video_ledger" -> ((s, d) => {
      val zone = graft.jobs.JobRecordGate.freshZone("graft-avivid-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      cloneStore(ensureAviVideoHistoryLedger(s, d), dir)
      val wide = Video(WideMarks, 16, 8)
      ingestGenerations(wide, dir, "vgen")(videoFrames(s, d, _, _, avi = true))
      IndexStore.compact(s, dir)
      IndexStore.vacuum(dir)
      verdict(wide, s, videoFrames(s, d, 100L, 200L, avi = true), dir,
        IndexStore.snapshot(dir))
    }),

    // ---- q175: the JOINT A/V verdict (round 17) — ONE RIFF container
    // feeds BOTH fingerprint arms of ONE store snapshot: the video
    // stream walks to per-position 120-bit frame dHashes against the
    // seqs arm (q172's formula and geometry), the interleaved PCM
    // stream demuxes to the 49-bit energy hash against the marks arm
    // (q174's formula, its own 3×16-bit geometry — per-arm geometries
    // are a store parameter, ADVICE r15 #5). The fixture's two
    // modality maps are INDEPENDENT (a drop can re-use history's
    // video under new audio, or history's audio under new video), so
    // the joint keep = "novel on BOTH arms" is decided per modality
    // and the output carries all four owner columns. Oracle: the
    // q172 comparison-level video derivation + the q174 closed-form
    // energy derivation, verdicts resolved against the seed — no
    // container, codec, or banding anywhere in the SQL.
    "q175_av_joint_ledger" -> ((s, d) => {
      import s.implicits._
      val zone = graft.jobs.JobRecordGate.freshZone("graft-avjoint-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      // ONE fixture-encode pass: both arm pipelines read the
      // materialized containers (two lazy consumers of the un-cached
      // payload plan would re-run the dominant encode UDF per arm)
      val recs = q175Payloads(s, d).localCheckpoint()
      val frames = graft.multimodal.MediaOps.frameDHashWide(recs, 4, 16, 8)
        .select(col("media_id"), col("frame_idx").as("f"),
                col("fhash").as("fp"))
        .localCheckpoint() // one container walk: seed write + verdict
      val audio = graft.multimodal.MediaOps.audioHash(recs, 50)
        .filter(col("decoded") === 1L)
        .select(col("media_id"), array(col("ahash")).as("fp"))
        .localCheckpoint() // one audio demux: seed write + verdict
      build(dir, "media,video",
        Media(AudioMarks) -> audio.filter(col("media_id") < 100L),
        Video(WideMarks) -> frames.filter(col("media_id") < 100L))
      val snap = IndexStore.snapshot(dir)
      val vv = verdict(Video(WideMarks), s,
          frames.filter(col("media_id") >= 100L), dir, snap)
        .select(col("media_id"), col("exact_of").as("v_exact_of"),
                col("near_of").as("v_near_of"), col("keep").as("vk"))
      val av = verdict(Media(AudioMarks), s,
          audio.filter(col("media_id") >= 100L), dir, snap)
        .select(col("media_id"), col("exact_of").as("a_exact_of"),
                col("near_of").as("a_near_of"), col("keep").as("ak"))
      // anchor on the BATCH ID SET with left joins, mirroring the
      // oracle's documents-anchored derivation: an arm row lost to a
      // decode failure surfaces as nulls (a LOUD hash mismatch against
      // the always-decoding oracle), never as a silently dropped row
      recs.toDF().select(col("media_id")).filter(col("media_id") >= 100L)
        .join(vv, Seq("media_id"), "left")
        .join(av, Seq("media_id"), "left")
        .withColumn("keep", col("vk") * col("ak"))
        .select(col("media_id"), col("v_exact_of"), col("v_near_of"),
                col("a_exact_of"), col("a_near_of"), col("keep"))
        .orderBy(col("media_id"))
    }),

    // ---- q164: the EMBEDDING arm — the marks table is fingerprint-
    // typed, not image-typed, and this gate proves it: history vectors'
    // SRP sign fingerprints seed a marks-only store, the batch is the
    // last decile PLUS re-uploaded copies of history vectors (ids
    // shifted +100000 — same embedding, same fingerprint), one
    // verdict+append generation runs through the SAME Media arm
    // images use, and the output is the q140-style growth verdict against
    // HEAD: every batch vector must now be a duplicate (copies
    // exact-match history, survivors exact-match their own appended
    // fingerprint, near-dropped vectors still match what dropped them)
    // — keep all zero, owners pinning exactly which sign-patterns the
    // ingest admitted. The oracle re-derives the 42 hyperplane signs
    // per vector (the q97 integer formula), replays the survivor
    // algebra with exhaustive popcount, and resolves both verdict arms
    // over the final population.
    "q164_embedding_ledger" -> ((s, d) => {
      val emb = Tables.rebalance(Tables.embeddings(s, d))
      val mx = emb.agg(max(col("vec_id"))).head.getLong(0)
      val c9 = mx * 9L / 10L
      val zone = graft.jobs.JobRecordGate.freshZone("graft-embledger-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      build(dir, "media", Media() -> srpFps(emb.filter(col("vec_id") < c9)))
      // copies shift by mx+1, not a constant: a fixed +100000 would
      // collide with genuine batch ids once max(vec_id) crosses ~111k
      // (review find) — mx+1+id is collision-free at every scale and
      // the oracle mirrors it as max(vec_id)+1+vec_id
      val batch = srpFps(emb.filter(col("vec_id") >= c9))
        .unionByName(srpFps(emb.filter(col("vec_id") < 50))
          .withColumn("media_id", col("media_id") + lit(mx + 1L)))
        .localCheckpoint()
      ingest(Media(), batch, dir, "emb-gen")
      verdict(Media(), s, batch, dir, IndexStore.snapshot(dir))
        .withColumnRenamed("media_id", "vec_id")
        .orderBy(col("vec_id"))
    })
  )

  /** The v1 (history-ledger) verdict arms + survivor set as CTEs —
    * `v1_ex`, `v1_nr`, `survivors(doc_id, h)`, `surv_reps(h, owner)` —
    * shared by every oracle that reasons about what the first append
    * admitted (q140 growth, q145 changelog, q148 tick). One definition:
    * a drift in the survivor derivation cannot silently split the
    * oracles. */
  private[ops] def survivorsDuck: String =
    s"""v1_ex AS (
      |  SELECT bdoc, min(owner) AS exact_of FROM (
      |    SELECT b2.doc_id AS bdoc, le.owner
      |    FROM batch b2 JOIN hist_exact le USING (h))
      |  GROUP BY bdoc),
      |v1_nr AS (
      |  SELECT bdoc, min(hdoc) AS near_of FROM (
      |    SELECT cb.bdoc, cb.hdoc
      |    FROM (SELECT DISTINCT hb.doc_id AS hdoc, bb.doc_id AS bdoc
      |          FROM bands hb
      |          JOIN hist_sig_docs lsd ON hb.doc_id = lsd.doc_id
      |          JOIN bands bb ON hb.band = bb.band AND hb.bkey = bb.bkey
      |          JOIN batch bt ON bb.doc_id = bt.doc_id) cb
      |    JOIN sig sa ON sa.doc_id = cb.hdoc
      |    JOIN sig sb ON sb.doc_id = cb.bdoc AND sb.s = sa.s
      |    GROUP BY cb.bdoc, cb.hdoc
      |    HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
      |           >= $SIG_MIN)
      |  GROUP BY bdoc),
      |survivors AS (
      |  SELECT b.doc_id, b.h FROM batch b
      |  LEFT JOIN v1_ex ON v1_ex.bdoc = b.doc_id
      |  LEFT JOIN v1_nr ON v1_nr.bdoc = b.doc_id
      |  WHERE v1_ex.exact_of IS NULL AND v1_nr.near_of IS NULL),
      |surv_reps AS (SELECT h, min(doc_id) AS owner FROM survivors
      |              GROUP BY h)""".stripMargin

  /** Shared oracle CTE chain: signatures/bands for ALL docs, the train
    * line, history/batch split, and the two verdict arms against an
    * arbitrary ledger population. */
  private[ops] def verdictDuck(ledExact: String, ledSigDocs: String): String =
    s"""SELECT b.doc_id, ex.exact_of, nr.near_of,
      |  CASE WHEN ex.exact_of IS NULL AND nr.near_of IS NULL
      |       THEN 1 ELSE 0 END::BIGINT AS keep
      |FROM batch b
      |LEFT JOIN (
      |  SELECT bdoc, min(owner) AS exact_of FROM (
      |    SELECT b2.doc_id AS bdoc, le.owner
      |    FROM batch b2 JOIN ($ledExact) le USING (h))
      |  GROUP BY bdoc) ex ON ex.bdoc = b.doc_id
      |LEFT JOIN (
      |  SELECT bdoc, min(hdoc) AS near_of FROM (
      |    SELECT cb.bdoc, cb.hdoc
      |    FROM (SELECT DISTINCT hb.doc_id AS hdoc, bb.doc_id AS bdoc
      |          FROM bands hb
      |          JOIN ($ledSigDocs) lsd ON hb.doc_id = lsd.doc_id
      |          JOIN bands bb ON hb.band = bb.band AND hb.bkey = bb.bkey
      |          JOIN batch bt ON bb.doc_id = bt.doc_id) cb
      |    JOIN sig sa ON sa.doc_id = cb.hdoc
      |    JOIN sig sb ON sb.doc_id = cb.bdoc AND sb.s = sa.s
      |    GROUP BY cb.bdoc, cb.hdoc
      |    HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
      |           >= $SIG_MIN)
      |  GROUP BY bdoc) nr ON nr.bdoc = b.doc_id
      |ORDER BY b.doc_id""".stripMargin

  private[ops] def baseDuck: String =
    s"""${sigBandsDuck(materialized = false)},
      |cut AS (SELECT (max(doc_id) * 9) // 10 AS c FROM documents),
      |eh AS (SELECT doc_id, sha256(text) AS h FROM documents),
      |batch AS (SELECT doc_id, h FROM eh, cut WHERE doc_id >= c),
      |hist_exact AS (
      |  SELECT h, min(doc_id) AS owner FROM eh, cut WHERE doc_id < c
      |  GROUP BY h),
      |hist_sig_docs AS (SELECT doc_id FROM documents, cut WHERE doc_id < c)"""
      .stripMargin

  /** DuckDB mirror of [[sigRows]] then [[bandsOf]]: the `g0` .. `bands`
    * CTE chain every text-ledger oracle starts with (one md5 per
    * distinct trigram, NUM_SEEDS derived minima, band keys in seed
    * order). `materialized` marks sig/bands for oracles that reference
    * them repeatedly: DuckDB inlines unmaterialized chains
    * exponentially. */
  private def sigBandsDuck(materialized: Boolean): String = {
    import DedupOps.{HASH_P, NUM_SEEDS, ROWS_PER_BAND, trigramDuck}
    val m = if (materialized) " MATERIALIZED" else ""
    s"""g0 AS (
      |  SELECT doc_id, list_distinct($trigramDuck) AS grams
      |  FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)),
      |g AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
      |hh AS (SELECT doc_id,
      |         ('0x' || substr(md5(gram), 1, 15))::BIGINT % $HASH_P AS hm
      |       FROM g),
      |sig AS$m (
      |  SELECT doc_id, s,
      |    min((hm * (2 * s + 1) + 7919 * s) % $HASH_P) AS mh
      |  FROM hh CROSS JOIN (SELECT unnest(range(0, $NUM_SEEDS)) AS s) seeds
      |  GROUP BY doc_id, s),
      |bands AS$m (
      |  SELECT doc_id, s // $ROWS_PER_BAND AS band,
      |    string_agg(mh::VARCHAR, '|' ORDER BY s) AS bkey
      |  FROM sig GROUP BY doc_id, s // $ROWS_PER_BAND)""".stripMargin
  }

  /** One survivor GENERATION as CTEs (`{p}_ex`, `{p}_nr`, `{p}_surv`,
    * `{p}_reps`): the docs of `batchRel` that neither exact-match
    * `ledExact` nor near-match a doc of `ledSig`, collapsed to min-id
    * representatives per text hash. The q151 oracle chains two of these
    * (generation 9 dedups against generation 8's reps) — the same
    * template [[survivorsDuck]] instantiates once for q140/q145/q148. */
  private def survivorStepDuck(batchRel: String, ledExact: String,
                               ledSig: String, p: String): String =
    s"""${p}_ex AS (
      |  SELECT bdoc, min(owner) AS exact_of FROM (
      |    SELECT b2.doc_id AS bdoc, le.owner
      |    FROM $batchRel b2 JOIN ($ledExact) le USING (h))
      |  GROUP BY bdoc),
      |${p}_nr AS (
      |  SELECT bdoc, min(hdoc) AS near_of FROM (
      |    SELECT cb.bdoc, cb.hdoc
      |    FROM (SELECT DISTINCT hb.doc_id AS hdoc, bb.doc_id AS bdoc
      |          FROM bands hb
      |          JOIN ($ledSig) lsd ON hb.doc_id = lsd.doc_id
      |          JOIN bands bb ON hb.band = bb.band AND hb.bkey = bb.bkey
      |          JOIN $batchRel bt ON bb.doc_id = bt.doc_id) cb
      |    JOIN sig sa ON sa.doc_id = cb.hdoc
      |    JOIN sig sb ON sb.doc_id = cb.bdoc AND sb.s = sa.s
      |    GROUP BY cb.bdoc, cb.hdoc
      |    HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
      |           >= $SIG_MIN)
      |  GROUP BY bdoc),
      |${p}_surv AS (
      |  SELECT b.doc_id, b.h FROM $batchRel b
      |  LEFT JOIN ${p}_ex ON ${p}_ex.bdoc = b.doc_id
      |  LEFT JOIN ${p}_nr ON ${p}_nr.bdoc = b.doc_id
      |  WHERE ${p}_ex.exact_of IS NULL AND ${p}_nr.near_of IS NULL),
      |${p}_reps AS (SELECT h, min(doc_id) AS owner FROM ${p}_surv
      |              GROUP BY h)""".stripMargin

  /** Two-generation base: the q139 signature derivation with history
    * cut at `cutLo`, generation A = [cutLo, cutMid), generation B =
    * [cutMid, ∞), probe batch = everything ≥ cutLo. `sig`/`bands` are
    * marked MATERIALIZED — these oracles reference each three times
    * (two survivor generations + the final verdict), and DuckDB
    * inlines unmaterialized CTE chains exponentially. Instantiated at
    * (8/10, 9/10) for q151's compacted two-decile lifecycle and at
    * (9/10, 19/20) for q152's two streamed ticks over the last decile. */
  private def twoGenBaseDuck(cutLo: String, cutMid: String): String =
    s"""${sigBandsDuck(materialized = true)},
      |cutlo AS (SELECT $cutLo AS c FROM documents),
      |cutmid AS (SELECT $cutMid AS c FROM documents),
      |eh AS MATERIALIZED (
      |  SELECT doc_id, sha256(text) AS h FROM documents),
      |hist_exact AS (
      |  SELECT h, min(doc_id) AS owner FROM eh, cutlo WHERE doc_id < c
      |  GROUP BY h),
      |hist_sig_docs AS (SELECT doc_id FROM documents, cutlo WHERE doc_id < c),
      |batch_a AS (SELECT doc_id, h FROM eh, cutlo, cutmid
      |            WHERE doc_id >= cutlo.c AND doc_id < cutmid.c),
      |batch_b AS (SELECT doc_id, h FROM eh, cutmid WHERE doc_id >= c),
      |batch AS (SELECT doc_id, h FROM eh, cutlo WHERE doc_id >= c)"""
      .stripMargin

  /** The full two-generation oracle: base at the given cuts, survivor
    * chain (generation B dedups against generation A's reps), final
    * verdict of the whole probe batch against the resulting population. */
  private def twoGenOracleDuck(cutLo: String, cutMid: String): String =
    s"""WITH ${twoGenBaseDuck(cutLo, cutMid)},
      |${survivorStepDuck("batch_a",
           "SELECT h, owner FROM hist_exact",
           "SELECT doc_id FROM hist_sig_docs", "ga")},
      |led1_exact AS (
      |  SELECT h, owner FROM hist_exact
      |  UNION ALL SELECT h, owner FROM ga_reps),
      |led1_sig_docs AS (
      |  SELECT doc_id FROM hist_sig_docs
      |  UNION ALL SELECT owner AS doc_id FROM ga_reps),
      |${survivorStepDuck("batch_b",
           "SELECT h, owner FROM led1_exact",
           "SELECT doc_id FROM led1_sig_docs", "gb")},
      |led2_exact AS (
      |  SELECT h, owner FROM led1_exact
      |  UNION ALL SELECT h, owner FROM gb_reps),
      |led2_sig_docs AS (
      |  SELECT doc_id FROM led1_sig_docs
      |  UNION ALL SELECT owner AS doc_id FROM gb_reps)
      |${verdictDuck("SELECT h, owner FROM led2_exact",
                     "SELECT doc_id FROM led2_sig_docs")}""".stripMargin

  /** q158's oracle: the q152 two-generation TEXT derivation (cuts 9/10
    * and 19/20), wrapped as a CTE, UNION the media arm — fingerprints
    * recomputed per-bit from the pixel formula (never the codec), two
    * survivor generations by exhaustive popcount (no banding
    * assumption: fp-equality is hamming 0, so one ≤-threshold NOT
    * EXISTS is the whole keep rule), verdict arms as min-owner scalar
    * subqueries over the final marks population. */
  private def mixedTickOracleDuck: String =
    s"""WITH ${twoGenBaseDuck("(max(doc_id) * 9) // 10",
                              "(max(doc_id) * 19) // 20")},
      |${survivorStepDuck("batch_a",
           "SELECT h, owner FROM hist_exact",
           "SELECT doc_id FROM hist_sig_docs", "ga")},
      |led1_exact AS (
      |  SELECT h, owner FROM hist_exact
      |  UNION ALL SELECT h, owner FROM ga_reps),
      |led1_sig_docs AS (
      |  SELECT doc_id FROM hist_sig_docs
      |  UNION ALL SELECT owner AS doc_id FROM ga_reps),
      |${survivorStepDuck("batch_b",
           "SELECT h, owner FROM led1_exact",
           "SELECT doc_id FROM led1_sig_docs", "gb")},
      |led2_exact AS (
      |  SELECT h, owner FROM led1_exact
      |  UNION ALL SELECT h, owner FROM gb_reps),
      |led2_sig_docs AS (
      |  SELECT doc_id FROM led1_sig_docs
      |  UNION ALL SELECT owner AS doc_id FROM gb_reps),
      |txt_verdict AS (
      |${verdictDuck("SELECT h, owner FROM led2_exact",
                     "SELECT doc_id FROM led2_sig_docs")}),
      |$mediaGenDuck
      |SELECT kind, doc_id, exact_of, near_of, keep FROM (
      |  SELECT 'text' AS kind, doc_id, exact_of, near_of, keep
      |  FROM txt_verdict
      |  UNION ALL
      |  SELECT 'image' AS kind, doc_id, exact_of, near_of, keep
      |  FROM med_verdict)
      |ORDER BY kind, doc_id""".stripMargin

  /** The media two-generation CTE chain (fingerprints from the pixel
    * formula, survivor generations by exhaustive popcount, min-owner
    * verdict arms) — shared by the q158 mixed oracle and the q162
    * media-lifecycle oracle. Emits CTEs `medm`…`med_verdict`. */
  private def mediaGenDuck: String = {
    def mgray(xe: String, ye: String) = {
      def ch(c: Int) =
        s"((('0x' || substr(md5(mkey::VARCHAR || '|' || ($xe)::VARCHAR || '|' || " +
          s"($ye)::VARCHAR || '|$c'), 1, 2))::BIGINT + " +
          s"CASE WHEN bump = 1 AND ($xe) = 3 AND ($ye) = 2 " +
          s"THEN 40 ELSE 0 END) % 256)"
      s"(${ch(0)} + ${ch(1)} + ${ch(2)})"
    }
    s"""medm AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id < 100 THEN doc_id
      |         WHEN doc_id < 120 THEN doc_id - 100
      |         WHEN doc_id < 134 THEN doc_id - 120
      |         WHEN doc_id < 150 THEN doc_id
      |         WHEN doc_id < 166 THEN doc_id - 16
      |         WHEN doc_id < 180 THEN doc_id - 146
      |         ELSE doc_id END AS mkey,
      |    CASE WHEN (doc_id >= 120 AND doc_id < 134)
      |           OR (doc_id >= 166 AND doc_id < 180) THEN 1 ELSE 0 END AS bump
      |  FROM documents WHERE doc_id < 200),
      |medcmp AS (
      |  SELECT media_id, x, y,
      |    CASE WHEN ${mgray("x + 1", "y")} > ${mgray("x", "y")}
      |         THEN (1::BIGINT << (y * 7 + x)) ELSE 0::BIGINT END AS bit
      |  FROM medm, (SELECT unnest(range(0, 7)) AS x),
      |             (SELECT unnest(range(0, 6)) AS y)),
      |medd AS MATERIALIZED (
      |  SELECT media_id, sum(bit)::BIGINT AS fp FROM medcmp
      |  GROUP BY media_id),
      |hist_marks AS (
      |  SELECT fp, min(media_id) AS owner FROM medd WHERE media_id < 100
      |  GROUP BY fp),
      |mreps1 AS (
      |  SELECT fp, min(media_id) AS owner
      |  FROM (SELECT media_id, fp FROM medd
      |        WHERE media_id >= 100 AND media_id < 150) b
      |  WHERE NOT EXISTS (SELECT 1 FROM hist_marks m
      |    WHERE bit_count(xor(m.fp, b.fp)) <= $MEDIA_MAX_HAMMING)
      |  GROUP BY fp),
      |marks1 AS (SELECT fp, owner FROM hist_marks
      |           UNION ALL SELECT fp, owner FROM mreps1),
      |mreps2 AS (
      |  SELECT fp, min(media_id) AS owner
      |  FROM (SELECT media_id, fp FROM medd WHERE media_id >= 150) b
      |  WHERE NOT EXISTS (SELECT 1 FROM marks1 m
      |    WHERE bit_count(xor(m.fp, b.fp)) <= $MEDIA_MAX_HAMMING)
      |  GROUP BY fp),
      |marks2 AS (SELECT fp, owner FROM marks1
      |           UNION ALL SELECT fp, owner FROM mreps2),
      |med_verdict AS (
      |  SELECT b.media_id AS doc_id,
      |    (SELECT min(owner) FROM marks2 m WHERE m.fp = b.fp) AS exact_of,
      |    (SELECT min(owner) FROM marks2 m
      |     WHERE bit_count(xor(m.fp, b.fp)) <= $MEDIA_MAX_HAMMING) AS near_of,
      |    CASE WHEN (SELECT min(owner) FROM marks2 m WHERE m.fp = b.fp)
      |              IS NULL
      |          AND (SELECT min(owner) FROM marks2 m
      |               WHERE bit_count(xor(m.fp, b.fp)) <= $MEDIA_MAX_HAMMING)
      |              IS NULL
      |         THEN 1 ELSE 0 END::BIGINT AS keep
      |  FROM (SELECT media_id, fp FROM medd WHERE media_id >= 100) b)""".stripMargin
  }

  /** The video two-generation CTE chain — comparison bits from the
    * pixel formula (`vcmp`), canonical per-video sequence strings
    * (`vfp`, the exact arm's identity), exhaustive per-position pair
    * hamming (`vham`) and the agreement vote (`vvote`, ALL ordered
    * pairs so it keys on a mark's owner id directly), then the two
    * survivor generations (`vreps1`/`vreps2`) and the final population
    * (`vmarks2`). Shared by the q169/q170 verdict oracle and the q171
    * changelog oracle. */
  private def videoGenDuck: String = videoGenDuckAt(8, 6)

  /** The grid-parameterized form: q169/q170/q171 derive at the narrow
    * 8×6 grid, q172 (the AVI/wide container gate) at 16×8 — ONE
    * derivation text, so the two container tiers are judged by the
    * same algebra and differ only in comparison count. */
  private def videoGenDuckAt(w: Int, h: Int): String = {
    def gray(xe: String, ye: String) = {
      def ch(c: Int) =
        s"((('0x' || substr(md5(mkey::VARCHAR || '|' || f::VARCHAR || '|' || " +
          s"($xe)::VARCHAR || '|' || ($ye)::VARCHAR || '|$c'), 1, 2))::BIGINT + " +
          s"CASE WHEN bump = 1 AND f = media_id % 4 AND ($xe) = 3 " +
          s"AND ($ye) = 2 THEN 40 ELSE 0 END) % 256)"
      s"(${ch(0)} + ${ch(1)} + ${ch(2)})"
    }
    s"""vm AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id < 100 THEN doc_id
      |         WHEN doc_id < 120 THEN doc_id - 100
      |         WHEN doc_id < 134 THEN doc_id - 120
      |         WHEN doc_id < 150 THEN doc_id
      |         WHEN doc_id < 166 THEN doc_id - 16
      |         WHEN doc_id < 180 THEN doc_id - 146
      |         ELSE doc_id END AS mkey,
      |    CASE WHEN (doc_id >= 120 AND doc_id < 134)
      |           OR (doc_id >= 166 AND doc_id < 180) THEN 1 ELSE 0 END AS bump
      |  FROM documents WHERE doc_id < 200),
      |vcmp AS MATERIALIZED (
      |  SELECT media_id, f, x, y,
      |    ${gray("x + 1", "y")} > ${gray("x", "y")} AS bit
      |  FROM vm, (SELECT unnest(range(0, 4)) AS f),
      |           (SELECT unnest(range(0, ${w - 1})) AS x),
      |           (SELECT unnest(range(0, $h)) AS y)),
      |vfp AS MATERIALIZED (
      |  SELECT media_id,
      |    string_agg(bit::INT::VARCHAR, '' ORDER BY f, y, x) AS fpseq
      |  FROM vcmp GROUP BY media_id),
      |vham AS MATERIALIZED (
      |  SELECT a.media_id AS ma, b.media_id AS mb, a.f,
      |    count(*) FILTER (WHERE a.bit <> b.bit) AS ham
      |  FROM vcmp a JOIN vcmp b
      |    ON a.f = b.f AND a.x = b.x AND a.y = b.y
      |  GROUP BY a.media_id, b.media_id, a.f),
      |vvote AS MATERIALIZED (
      |  SELECT ma, mb, count(*) FILTER (WHERE ham <= 2) AS nagree
      |  FROM vham GROUP BY ma, mb),
      |vhist AS (
      |  SELECT fpseq, min(media_id) AS owner FROM vfp WHERE media_id < 100
      |  GROUP BY fpseq),
      |vreps1 AS (
      |  SELECT fpseq, min(media_id) AS owner FROM (
      |    SELECT fv.media_id, fv.fpseq FROM vfp fv
      |    WHERE fv.media_id >= 100 AND fv.media_id < 150
      |      AND NOT EXISTS (SELECT 1 FROM vhist m JOIN vvote v
      |            ON v.ma = m.owner AND v.mb = fv.media_id
      |            WHERE v.nagree >= 3)) b
      |  GROUP BY fpseq),
      |vmarks1 AS (SELECT fpseq, owner FROM vhist
      |            UNION ALL SELECT fpseq, owner FROM vreps1),
      |vreps2 AS (
      |  SELECT fpseq, min(media_id) AS owner FROM (
      |    SELECT fv.media_id, fv.fpseq FROM vfp fv
      |    WHERE fv.media_id >= 150
      |      AND NOT EXISTS (SELECT 1 FROM vmarks1 m JOIN vvote v
      |            ON v.ma = m.owner AND v.mb = fv.media_id
      |            WHERE v.nagree >= 3)) b
      |  GROUP BY fpseq),
      |vmarks2 AS (SELECT fpseq, owner FROM vmarks1
      |            UNION ALL SELECT fpseq, owner FROM vreps2)""".stripMargin
  }

  /** The q169/q170 (narrow/GIF) and q172 (wide/AVI) verdict over the
    * final video population (see the oracles-map comment). */
  private def videoGenOracleDuck: String = videoGenOracleDuckAt(8, 6)
  private def videoGenOracleDuckAt(w: Int, h: Int): String =
    s"""WITH ${videoGenDuckAt(w, h)}
      |SELECT fv.media_id,
      |  (SELECT min(owner) FROM vmarks2 m WHERE m.fpseq = fv.fpseq)
      |    AS exact_of,
      |  (SELECT min(m.owner) FROM vmarks2 m JOIN vvote v
      |     ON v.ma = m.owner AND v.mb = fv.media_id
      |   WHERE v.nagree >= 3) AS near_of,
      |  CASE WHEN (SELECT min(owner) FROM vmarks2 m
      |             WHERE m.fpseq = fv.fpseq) IS NULL
      |        AND (SELECT min(m.owner) FROM vmarks2 m JOIN vvote v
      |               ON v.ma = m.owner AND v.mb = fv.media_id
      |             WHERE v.nagree >= 3) IS NULL
      |       THEN 1 ELSE 0 END::BIGINT AS keep
      |FROM vfp fv WHERE fv.media_id >= 100
      |ORDER BY fv.media_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q158_mixed_stream_tick" -> mixedTickOracleDuck,

    // q162: the media generation chain alone — the Spark side's
    // compaction + vacuum between append and serve must be invisible
    // to this file-agnostic derivation
    "q162_media_ledger_compact" ->
      s"""WITH $mediaGenDuck
        |SELECT doc_id AS media_id, exact_of, near_of, keep
        |FROM med_verdict ORDER BY media_id""".stripMargin,

    // q168: the wide-geometry lifecycle judged entirely at COMPARISON
    // level — fingerprints as 120-char bit strings from the pixel
    // formula (no word packing), pairwise hamming = count of differing
    // comparisons, survivor generations and verdict arms replayed
    // exhaustively over them. `wham` keys on the mark's OWNER id: a
    // mark's fingerprint is its owner's by construction, so
    // ham(owner, probe) IS the mark-to-probe distance.
    "q168_wide_media_ledger" -> {
      def gray(xe: String, ye: String) = {
        def ch(c: Int) =
          s"((('0x' || substr(md5(mkey::VARCHAR || '|' || ($xe)::VARCHAR || '|' || " +
            s"($ye)::VARCHAR || '|$c'), 1, 2))::BIGINT + " +
            s"CASE WHEN bump = 1 AND ($xe) = 3 AND ($ye) = 2 " +
            s"THEN 40 ELSE 0 END) % 256)"
        s"(${ch(0)} + ${ch(1)} + ${ch(2)})"
      }
      s"""WITH wm AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id < 100 THEN doc_id
        |         WHEN doc_id < 120 THEN doc_id - 100
        |         WHEN doc_id < 134 THEN doc_id - 120
        |         WHEN doc_id < 150 THEN doc_id
        |         WHEN doc_id < 166 THEN doc_id - 16
        |         WHEN doc_id < 180 THEN doc_id - 146
        |         ELSE doc_id END AS mkey,
        |    CASE WHEN (doc_id >= 120 AND doc_id < 134)
        |           OR (doc_id >= 166 AND doc_id < 180) THEN 1 ELSE 0 END AS bump
        |  FROM documents WHERE doc_id < 200),
        |wcmp AS MATERIALIZED (
        |  SELECT media_id, x, y,
        |    ${gray("x + 1", "y")} > ${gray("x", "y")} AS bit
        |  FROM wm, (SELECT unnest(range(0, 15)) AS x),
        |           (SELECT unnest(range(0, 8)) AS y)),
        |wfp AS MATERIALIZED (
        |  SELECT media_id, string_agg(bit::INT::VARCHAR, '' ORDER BY y, x) AS fp
        |  FROM wcmp GROUP BY media_id),
        |wham AS MATERIALIZED (
        |  SELECT a.media_id AS ma, b.media_id AS mb,
        |    count(*) FILTER (WHERE a.bit <> b.bit) AS ham
        |  FROM wcmp a JOIN wcmp b ON a.x = b.x AND a.y = b.y
        |  GROUP BY a.media_id, b.media_id),
        |whist AS (
        |  SELECT fp, min(media_id) AS owner FROM wfp WHERE media_id < 100
        |  GROUP BY fp),
        |wreps1 AS (
        |  SELECT fp, min(media_id) AS owner FROM (
        |    SELECT f.media_id, f.fp FROM wfp f
        |    WHERE f.media_id >= 100 AND f.media_id < 150
        |      AND NOT EXISTS (SELECT 1 FROM whist m JOIN wham h
        |            ON h.ma = m.owner AND h.mb = f.media_id
        |            WHERE h.ham <= $MEDIA_MAX_HAMMING)) b
        |  GROUP BY fp),
        |wmarks1 AS (SELECT fp, owner FROM whist
        |            UNION ALL SELECT fp, owner FROM wreps1),
        |wreps2 AS (
        |  SELECT fp, min(media_id) AS owner FROM (
        |    SELECT f.media_id, f.fp FROM wfp f
        |    WHERE f.media_id >= 150
        |      AND NOT EXISTS (SELECT 1 FROM wmarks1 m JOIN wham h
        |            ON h.ma = m.owner AND h.mb = f.media_id
        |            WHERE h.ham <= $MEDIA_MAX_HAMMING)) b
        |  GROUP BY fp),
        |wmarks2 AS (SELECT fp, owner FROM wmarks1
        |            UNION ALL SELECT fp, owner FROM wreps2)
        |SELECT f.media_id,
        |  (SELECT min(owner) FROM wmarks2 m WHERE m.fp = f.fp) AS exact_of,
        |  (SELECT min(m.owner) FROM wmarks2 m JOIN wham h
        |     ON h.ma = m.owner AND h.mb = f.media_id
        |   WHERE h.ham <= $MEDIA_MAX_HAMMING) AS near_of,
        |  CASE WHEN (SELECT min(owner) FROM wmarks2 m WHERE m.fp = f.fp)
        |            IS NULL
        |        AND (SELECT min(m.owner) FROM wmarks2 m JOIN wham h
        |               ON h.ma = m.owner AND h.mb = f.media_id
        |             WHERE h.ham <= $MEDIA_MAX_HAMMING) IS NULL
        |       THEN 1 ELSE 0 END::BIGINT AS keep
        |FROM wfp f WHERE f.media_id >= 100
        |ORDER BY f.media_id""".stripMargin
    },

    // q169/q170: the video tick judged entirely at COMPARISON level —
    // one boolean per (video, frame, comparison) from the pixel
    // formula, per-position pair hamming by counting differing
    // comparisons, the agreement vote exhaustively over ALL ordered
    // pairs, two survivor generations replayed at the sequence level
    // (canonical bit-string per video = the exact arm's identity),
    // verdict arms over the final population. `vvote` keys on the
    // sequence mark's OWNER id — an owner's frames ARE its mark's
    // sequence. ONE oracle text gates both the streamed tick (q169)
    // and the batch-API + compact + vacuum lifecycle (q170): the
    // transport and the layout ops must be equally invisible.
    "q169_video_stream_tick" -> videoGenOracleDuck,
    "q170_video_ledger_compact" -> videoGenOracleDuck,

    // q172: the SAME derivation at the 16x8 grid — the container tier
    // (RIFF/AVI parse, raw-DIB frame decode) and the wide band slices
    // are judged purely by this codec-agnostic hash
    "q172_avi_video_ledger" -> videoGenOracleDuckAt(16, 8),

    // q175: the joint A/V verdict — the q172 comparison-level video
    // derivation (same vm map, same vote) beside the q174 closed-form
    // audio energy derivation under its OWN key map, both resolved
    // against the SEED population, keep = novel on both arms. The
    // container (one RIFF with two streams), both decoders, the word
    // packing, and both band geometries live only on the Spark side.
    "q175_av_joint_ledger" ->
      s"""WITH ${videoGenDuckAt(16, 8)},
        |am AS (SELECT doc_id AS media_id,
        |  CASE WHEN doc_id < 100 THEN doc_id
        |       WHEN doc_id % 3 = 1 THEN doc_id
        |       ELSE doc_id - 100 END AS akey,
        |  CASE WHEN doc_id >= 100 AND doc_id % 3 = 0 THEN 1 ELSE 0 END
        |    AS click
        |  FROM documents WHERE doc_id < 200),
        |asmp AS (
        |  SELECT media_id, i,
        |    (('0x' || substr(md5(akey::VARCHAR || '|' || i::VARCHAR),
        |        1, 4))::BIGINT % 4001) - 2000
        |      + CASE WHEN click = 1 AND i = 400 THEN 1500 ELSE 0 END AS v
        |  FROM am, (SELECT unnest(range(0, 800)) AS i)),
        |ae AS (
        |  SELECT media_id, i // 16 AS w, sum(abs(v))::BIGINT AS energy
        |  FROM asmp GROUP BY media_id, i // 16),
        |ah AS MATERIALIZED (
        |  SELECT a.media_id,
        |    sum(CASE WHEN b.energy > a.energy
        |        THEN (1::BIGINT << a.w::INT) ELSE 0::BIGINT END)::BIGINT
        |      AS ahash
        |  FROM ae a JOIN ae b
        |    ON a.media_id = b.media_id AND b.w = a.w + 1
        |  GROUP BY a.media_id),
        |ahist AS (SELECT ahash, min(media_id) AS owner FROM ah
        |          WHERE media_id < 100 GROUP BY ahash),
        |vex AS (SELECT f.media_id, min(m.owner) AS v_exact_of
        |        FROM vfp f JOIN vhist m ON m.fpseq = f.fpseq
        |        WHERE f.media_id >= 100 GROUP BY f.media_id),
        |vnr AS (SELECT v.mb AS media_id, min(h.owner) AS v_near_of
        |        FROM vvote v JOIN vhist h ON h.owner = v.ma
        |        WHERE v.mb >= 100 AND v.nagree >= 3 GROUP BY v.mb),
        |aex AS (SELECT a.media_id, min(m.owner) AS a_exact_of
        |        FROM ah a JOIN ahist m ON m.ahash = a.ahash
        |        WHERE a.media_id >= 100 GROUP BY a.media_id),
        |anr AS (SELECT a.media_id, min(m.owner) AS a_near_of
        |        FROM ah a JOIN ahist m
        |          ON bit_count(xor(m.ahash, a.ahash)) <= 2
        |        WHERE a.media_id >= 100 GROUP BY a.media_id)
        |SELECT b.media_id, vex.v_exact_of, vnr.v_near_of,
        |  aex.a_exact_of, anr.a_near_of,
        |  CASE WHEN vex.v_exact_of IS NULL AND vnr.v_near_of IS NULL
        |        AND aex.a_exact_of IS NULL AND anr.a_near_of IS NULL
        |       THEN 1 ELSE 0 END::BIGINT AS keep
        |FROM (SELECT doc_id AS media_id FROM documents
        |      WHERE doc_id >= 100 AND doc_id < 200) b
        |LEFT JOIN vex ON vex.media_id = b.media_id
        |LEFT JOIN vnr ON vnr.media_id = b.media_id
        |LEFT JOIN aex ON aex.media_id = b.media_id
        |LEFT JOIN anr ON anr.media_id = b.media_id
        |ORDER BY b.media_id""".stripMargin,

    // q171: exactly the two survivor generations' sequences — the
    // delta read must equal what the chained ingest admitted, one row
    // per (owner, position) with the 42 comparison bits packed into
    // the BIGINT the narrow store carries in word 1
    "q171_video_ledger_diff" ->
      s"""WITH $videoGenDuck,
        |vpack AS (
        |  SELECT media_id, f,
        |    sum(CASE WHEN bit THEN (1::BIGINT << (y * 7 + x))
        |             ELSE 0::BIGINT END)::BIGINT AS fp
        |  FROM vcmp GROUP BY media_id, f)
        |SELECT r.owner AS media_id, p.f::BIGINT AS f, p.fp
        |FROM (SELECT owner FROM vreps1 UNION ALL SELECT owner FROM vreps2) r
        |JOIN vpack p ON p.media_id = r.owner
        |ORDER BY media_id, f""".stripMargin,

    // q166: exactly the two survivor generations' representatives —
    // the delta read must equal what the chained ingest admitted
    "q166_media_ledger_diff" ->
      s"""WITH $mediaGenDuck
        |SELECT owner AS media_id, fp FROM (
        |  SELECT fp, owner FROM mreps1
        |  UNION ALL SELECT fp, owner FROM mreps2)
        |ORDER BY media_id""".stripMargin,

    // q179: the q169/q170 pixel-formula derivation with the takedown's
    // owner filter folded into the ledger CTE — first-generation batch
    // only, history owners % 5 = 0 removed from BOTH verdict arms
    "q179_video_ledger_forget" ->
      s"""WITH ${videoGenDuckAt(8, 6)},
        |vled AS (SELECT fpseq, owner FROM vhist WHERE owner % 5 <> 0),
        |verdict AS (
        |  SELECT fv.media_id,
        |    (SELECT min(owner) FROM vled m WHERE m.fpseq = fv.fpseq)
        |      AS exact_of,
        |    (SELECT min(m.owner) FROM vled m JOIN vvote v
        |       ON v.ma = m.owner AND v.mb = fv.media_id
        |     WHERE v.nagree >= 3) AS near_of,
        |    CASE WHEN (SELECT min(owner) FROM vled m
        |               WHERE m.fpseq = fv.fpseq) IS NULL
        |          AND (SELECT min(m.owner) FROM vled m JOIN vvote v
        |                 ON v.ma = m.owner AND v.mb = fv.media_id
        |               WHERE v.nagree >= 3) IS NULL
        |         THEN 1 ELSE 0 END::BIGINT AS keep
        |  FROM vfp fv WHERE fv.media_id >= 100 AND fv.media_id < 150)
        |SELECT 1::BIGINT AS phase, * FROM verdict
        |UNION ALL SELECT 2::BIGINT, * FROM verdict
        |ORDER BY phase, media_id""".stripMargin,

    // q164: 42 hyperplane signs per vector (the q97 deterministic
    // integer formula at j = 0..41), survivor algebra by exhaustive
    // popcount, growth verdict against the final population
    "q164_embedding_ledger" ->
      s"""WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 10000, 0)::BIGINT) AS q
        |  FROM embeddings),
        |sfp AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_sum([CASE WHEN
        |      list_sum([q[k + 1] * (((j * 1000003 + k * 7919) * 2654435761) % 2001 - 1000)
        |                FOR k IN range(0, len(q))]) >= 0
        |      THEN (1::BIGINT << j) ELSE 0 END FOR j IN range(0, 42)])::BIGINT AS fp
        |  FROM e),
        |cut AS (SELECT (max(vec_id) * 9) // 10 AS c FROM embeddings),
        |hist AS (SELECT fp, min(vec_id) AS owner FROM sfp, cut
        |         WHERE vec_id < c GROUP BY fp),
        |batch AS MATERIALIZED (
        |  SELECT vec_id, fp FROM sfp, cut WHERE vec_id >= c
        |  UNION ALL
        |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings), fp
        |  FROM sfp WHERE vec_id < 50),
        |reps AS (
        |  SELECT fp, min(vec_id) AS owner FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM hist m
        |    WHERE bit_count(xor(m.fp, b.fp)) <= $MEDIA_MAX_HAMMING)
        |  GROUP BY fp),
        |head AS (SELECT fp, owner FROM hist
        |         UNION ALL SELECT fp, owner FROM reps)
        |SELECT b.vec_id,
        |  (SELECT min(owner) FROM head m WHERE m.fp = b.fp) AS exact_of,
        |  (SELECT min(owner) FROM head m
        |   WHERE bit_count(xor(m.fp, b.fp)) <= $MEDIA_MAX_HAMMING) AS near_of,
        |  CASE WHEN (SELECT min(owner) FROM head m WHERE m.fp = b.fp) IS NULL
        |        AND (SELECT min(owner) FROM head m
        |             WHERE bit_count(xor(m.fp, b.fp)) <= $MEDIA_MAX_HAMMING)
        |            IS NULL
        |       THEN 1 ELSE 0 END::BIGINT AS keep
        |FROM batch b ORDER BY vec_id""".stripMargin,

    "q139_ledger_dedup" ->
      s"""WITH $baseDuck
        |${verdictDuck("SELECT h, owner FROM hist_exact",
                       "SELECT doc_id FROM hist_sig_docs")}""".stripMargin,

    // HEAD ledger = history + the appended survivors: survivors are the
    // q139 keeps; their exact rows collapse batch-internal duplicates
    // to the min-id representative, and ONLY representatives contribute
    // signature rows — the oracle re-derives that exact population.

    "q145_ledger_diff" ->
      s"""WITH $baseDuck,
        |$survivorsDuck
        |SELECT r.owner AS doc_id,
        |  CASE WHEN len(str_split(doc.text, ' ')) >= 3
        |       THEN 1 ELSE 0 END::BIGINT AS has_sig
        |FROM surv_reps r JOIN documents doc ON doc.doc_id = r.owner
        |ORDER BY doc_id""".stripMargin,
    "q140_ledger_growth" ->
      s"""WITH $baseDuck,
        |$survivorsDuck,
        |head_exact AS (
        |  SELECT h, owner FROM hist_exact
        |  UNION ALL SELECT h, owner FROM surv_reps),
        |head_sig_docs AS (
        |  SELECT doc_id FROM hist_sig_docs
        |  UNION ALL SELECT owner AS doc_id FROM surv_reps)
        |${verdictDuck("SELECT h, owner FROM head_exact",
                       "SELECT doc_id FROM head_sig_docs")}""".stripMargin,

    // q177: the takedown lifecycle content-only. The forgotten set is
    // re-derived (owners of hashes the batch carries), both ledger
    // arms lose exactly those ids, then gen 1 re-verdicts the batch
    // against the shrunken ledger and gen 2 against the shrunken
    // ledger plus gen 1's re-admitted representatives. sig/bands are
    // MATERIALIZED — two survivor steps reference them repeatedly and
    // DuckDB inlines unmaterialized CTE chains exponentially.
    "q177_ledger_forget" ->
      s"""WITH ${sigBandsDuck(materialized = true)},
        |cut AS (SELECT (max(doc_id) * 9) // 10 AS c FROM documents),
        |eh AS (SELECT doc_id, sha256(text) AS h FROM documents),
        |batch AS MATERIALIZED (
        |  SELECT doc_id, h FROM eh, cut WHERE doc_id >= c),
        |hist_exact AS MATERIALIZED (
        |  SELECT h, min(doc_id) AS owner FROM eh, cut WHERE doc_id < c
        |  GROUP BY h),
        |forgot AS MATERIALIZED (
        |  SELECT DISTINCT le.owner FROM batch b JOIN hist_exact le USING (h)),
        |led_exact AS (
        |  SELECT h, owner FROM hist_exact
        |  WHERE owner NOT IN (SELECT owner FROM forgot)),
        |led_sig AS (
        |  SELECT doc_id FROM documents, cut WHERE doc_id < c
        |    AND doc_id NOT IN (SELECT owner FROM forgot)),
        |${survivorStepDuck("batch", "SELECT h, owner FROM led_exact",
                            "SELECT doc_id FROM led_sig", "s1")},
        |${survivorStepDuck("batch",
            "SELECT h, owner FROM led_exact " +
              "UNION ALL SELECT h, owner FROM s1_reps",
            "SELECT doc_id FROM led_sig " +
              "UNION ALL SELECT owner AS doc_id FROM s1_reps", "s2")}
        |SELECT 1::BIGINT AS gen, b.doc_id, s1_ex.exact_of, s1_nr.near_of,
        |  CASE WHEN s1_ex.exact_of IS NULL AND s1_nr.near_of IS NULL
        |       THEN 1 ELSE 0 END::BIGINT AS keep
        |FROM batch b
        |LEFT JOIN s1_ex ON s1_ex.bdoc = b.doc_id
        |LEFT JOIN s1_nr ON s1_nr.bdoc = b.doc_id
        |UNION ALL
        |SELECT 2::BIGINT, b.doc_id, s2_ex.exact_of, s2_nr.near_of,
        |  CASE WHEN s2_ex.exact_of IS NULL AND s2_nr.near_of IS NULL
        |       THEN 1 ELSE 0 END::BIGINT
        |FROM batch b
        |LEFT JOIN s2_ex ON s2_ex.bdoc = b.doc_id
        |LEFT JOIN s2_nr ON s2_nr.bdoc = b.doc_id
        |ORDER BY gen, doc_id""".stripMargin,

    // q151: two chained survivor generations (decile 8 vs history-80,
    // decile 9 vs history-80 + gen-8 reps), then the verdict of BOTH
    // deciles against the final population. File-agnostic: the Spark
    // side's compaction + vacuum between append and serve must be
    // invisible to this derivation.
    "q151_ledger_lifecycle" ->
      twoGenOracleDuck("(max(doc_id) * 8) // 10", "(max(doc_id) * 9) // 10"),

    // q152: the same two-generation derivation over the last decile
    // split at its midpoint — tick 2 dedups against what tick 1
    // admitted. File- and TRANSPORT-agnostic: the Spark side's JSON
    // landing, checkpointed stream, kill/resume, and drained replay
    // must all be invisible to this content-only oracle.
    "q152_stream_tick" ->
      twoGenOracleDuck("(max(doc_id) * 9) // 10", "(max(doc_id) * 19) // 20")
  )
}
