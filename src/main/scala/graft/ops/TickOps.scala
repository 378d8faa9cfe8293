package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** q148 — the DAILY TICK: the engine's LLM-data subsystems composed
  * into the one pipeline a deployment actually runs when an increment
  * of crawl output lands, inside a single oracle hash:
  *
  *   1. INCREMENTAL DEDUP — the batch (last decile) verdicts against
  *      the persisted ledger's PINNED pre-append snapshot (q139's
  *      machinery: exact sha2 + signature-estimated near hits);
  *   2. QUALITY GATE — survivors score through q44's exact formula
  *      (length / diversity / token-count mix, identical IEEE op
  *      order both engines) and lows (< 0.5) drop;
  *   3. TOKENIZE — admitted docs encode with a BPE vocabulary trained
  *      on HISTORY ONLY (the production shape: the tokenizer is an
  *      artifact of yesterday's corpus, applied to today's increment —
  *      never retrained per tick);
  *   4. PACK — admitted subword counts drive the q132 layout (shard,
  *      concatenate, split at PACK_SEQ_LEN) → per-shard stats.
  *
  * Output: one row per pack shard plus a grp=-1 SENTINEL row (the
  * q122 precedent — decisions stay inside the hash even where a stage
  * empties) carrying the stage ledger: batch size, dedup drops,
  * quality drops, admitted count.
  *
  * Scale shape: stages 1–2 are the increment-sized verdict joins
  * (ledger streams, batch broadcasts), stage 3 is row-local over the
  * admitted set, stage 4 is one shard-key shuffle — the tick's cost is
  * proportional to the increment, never the corpus, which is the whole
  * point of the persisted-artifact design (ledger + tokenizer).
  */
object TickOps {

  /** q44's score, verbatim (same expression tree → bit-identical
    * doubles in both engines; proven by the q44 oracle). */
  private def qualityScore(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
      .withColumn("score", round(
        lit(0.4) * least(col("n_chars") / lit(500.0), lit(1.0)) +
        lit(0.3) * (col("n_distinct") / col("n_toks").cast("double")) +
        lit(0.3) * least(col("n_toks") / lit(80.0), lit(1.0)), 6))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q148_daily_tick" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cutoff = DedupLedger.cutoffOf(docs)
      val dir = DedupLedger.ensureLedger(s, d)
      val batch = docs.filter(col("doc_id") >= cutoff)
      val verdict = DedupLedger.verdict(DedupLedger.Text, s, batch, dir,
        IndexStore.snapshotAt(dir, 1)).localCheckpoint()
      val survivors = DedupLedger.keepers(DedupLedger.Text, batch, verdict)
      val scored = qualityScore(survivors).localCheckpoint()
      val admitted = scored.filter(col("score") >= 0.5)
        .select(col("doc_id"), col("text")).localCheckpoint()
      // tokenizer = yesterday's artifact, read from the VERSIONED
      // REGISTRY (q153's store, version 1 = the history vocabulary via
      // time travel) — the tick consumes all three persisted artifacts:
      // the ledger for dedup state, the registry for the vocabulary,
      // and the pack layout it emits. Bit-identical to an in-query
      // history train (bpeTrain is partitioning-invariant), so the
      // oracle's history-gated training chain still matches.
      val merges = BpeOps.registryHistoryVocab(s, d)
      // shared pack tail (BpeOps.tokenCounts/packStats): one authored
      // copy of the split delimiter and the fin=0 div-vs-floor guard
      // (round-12 ADVICE: this block previously duplicated q143's form,
      // with the delimiter spelled as raw invisible control bytes)
      val packed = BpeOps.packStats(
        BpeOps.tokenCounts(BpeOps.bpeEncode(admitted, merges)))
      // sentinel: the stage ledger (counts are increment-sized driver
      // reads — the numbers a tick reports to its scheduler)
      val nBatch = batch.count()
      val nSurv = scored.count() // = survivors (scored 1:1, checkpointed)
      val nAdmitted = admitted.count()
      import s.implicits._
      val sentinel = Seq((-1L, nBatch, nBatch - nSurv, nSurv - nAdmitted,
        nAdmitted)).toDF("grp", "n_docs", "n_tokens", "n_seqs", "n_straddles")
        .withColumn("pad_tokens", lit(0L))
      packed.unionByName(sentinel).orderBy(col("grp"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q148_daily_tick" -> {
      s"""WITH ${DedupLedger.baseDuck},
        |${DedupLedger.survivorsDuck},
        |scored AS (
        |  SELECT d.doc_id, d.text,
        |    round(0.4 * least(n_chars / 500.0, 1.0)
        |      + 0.3 * (len(list_distinct(str_split(text, ' ')))
        |               / len(str_split(text, ' '))::DOUBLE)
        |      + 0.3 * least(len(str_split(text, ' ')) / 80.0, 1.0),
        |      6) AS score
        |  FROM documents d JOIN survivors USING (doc_id)),
        |admitted AS (SELECT doc_id, text FROM scored WHERE score >= 0.5),
        |${BpeOps.trainChainDuck("doc_id < (SELECT c FROM cut)")},
        |${BpeOps.encBaseDuck("admitted")},
        |${BpeOps.encStepsDuck},
        |${BpeOps.packDuck(s"e${BpeOps.N_MERGES}")},
        |sentinel AS (
        |  SELECT -1::BIGINT AS grp,
        |    (SELECT count(*) FROM batch)::BIGINT AS n_docs,
        |    ((SELECT count(*) FROM batch)
        |      - (SELECT count(*) FROM survivors))::BIGINT AS n_tokens,
        |    ((SELECT count(*) FROM survivors)
        |      - (SELECT count(*) FROM admitted))::BIGINT AS n_seqs,
        |    (SELECT count(*) FROM admitted)::BIGINT AS n_straddles,
        |    0::BIGINT AS pad_tokens)
        |SELECT * FROM packed
        |UNION ALL SELECT * FROM sentinel
        |ORDER BY grp""".stripMargin
    }
  )
}
