package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.ops.{DedupLedger, IndexStore}

/** STREAMING ingest with online deduplication: the dedup ledger
  * (q139/q140) attached to a live document stream. Each micro-batch is
  * deduped against the ledger's CURRENT snapshot — exact sha2 hits and
  * signature-estimated near hits both drop — and the survivors'
  * fingerprints append under one atomic tagged snapshot, so the NEXT
  * micro-batch dedups against everything this one admitted. This is
  * the "firehose ingest" deployment: crawl output streams in, only
  * novel documents accumulate, and the dedup state lives in the store,
  * not in executor memory (unlike `dropDuplicates` watermark state,
  * which a 100 TB corpus could never hold in a state store — the
  * ledger IS the state, already partitioned, compactable, vacuumable).
  *
  * Exactly-once: same discipline as [[IndexMaintenance]] — foreachBatch
  * replays are no-ops through the `stream-<batchId>` idempotency tag.
  * Within a micro-batch, exact duplicates collapse to one appended
  * fingerprint ([[DedupLedger.append]]'s representative rule);
  * near-duplicate pairs WITHIN one micro-batch are deliberately not
  * cross-checked (that is the batch family's job — q49 over the
  * landing zone; a tick-sized batch is small enough to re-run it) —
  * the ledger guards the CROSS-batch axis that batch dedup cannot see.
  */
object DedupMaintenance {

  /** Attach online dedup to a document stream (schema: doc_id, text).
    * The ledger must already be published (build it over the seed
    * corpus first); the returned writer drains available data and
    * stops (AvailableNow — the engine's per-tick convention). Each
    * micro-batch is the text arm's tick step ([[DedupLedger.stage]]),
    * committed under `stream-<batchId>`. */
  def dedupSink(stream: DataFrame, ledgerDir: String,
                checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    sink(stream, checkpointDir) { (b, id, n) =>
      DedupLedger.stage(DedupLedger.Text, DedupLedger.Text.prepare(b),
        ledgerDir, IndexStore.snapshot(ledgerDir), s"stream-$id", Some(n))()
      ()
    }

  /** MIXED-modality online dedup (q158/q169): one stream carries text
    * docs AND media payloads (schema: kind, doc_id, text, payload —
    * text rows have payload null, image/video rows text null); each
    * micro-batch routes by kind through the ledger arms against the
    * SAME snapshot — text through the exact/near signature arms, images
    * through decode → dHash → the marks-table hamming arm, VIDEOS
    * through frame sampling → per-frame dHash → the seqs-table temporal
    * vote arm — and each arm's survivors append under their own
    * idempotency tag (`stream-<id>-text` / `-media` / `-video`), so a
    * replayed batch is a no-op on every table. The ledger store
    * versions all four tables in one snapshot, so tick N+1's verdicts
    * all see exactly what tick N admitted, never half a tick.
    * `gw`/`gh` size the video fingerprints (4 frames), `imgGw`/`imgGh`
    * the still-image ones, and `geom` is the band geometry both
    * fingerprint arms verdict under — all must match the seed store's
    * stamped geometry (DedupLedger.MarksGeom params discipline). The
    * defaults are the narrow 42-bit gate config; a 10⁶⁺-item corpus
    * streams at `DedupLedger.WideMarks` with 16×8 grids — the wide
    * family enters the streamed path through these parameters, not a
    * code change. */
  def mixedSink(stream: DataFrame, ledgerDir: String,
                checkpointDir: String, gw: Int = 8, gh: Int = 6,
                imgGw: Int = 8, imgGh: Int = 6,
                geom: DedupLedger.MarksGeom = DedupLedger.NarrowMarks)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    val arms = Seq(DedupLedger.Text, DedupLedger.Media(geom, imgGw, imgGh),
      DedupLedger.Video(geom, gw, gh))
    // grid/geometry consistency fails at SINK CONSTRUCTION, not when
    // the first record of an unlucky modality arrives mid-stream (the
    // per-row width guard would fail every replay of that micro-batch)
    arms.foreach(_.requireGrid())
    sink(stream, checkpointDir) { (b, id, n) =>
      // ONE pass over the checkpointed batch decides which modality
      // arms run (VERDICT r14 Next #7: per-arm isEmpty probes were
      // one extra Spark job each per micro-batch). Filter to the
      // KNOWN kinds before the distinct: dirty data with free-text
      // kinds must be ignored (the pre-round-16 behavior), never
      // fail the bounded collect — inside foreachBatch that throw
      // would replay the same poisoned batch forever (round-16
      // second review pass)
      val kinds = graft.ops.ScaleOps.boundedCollect(
        b.filter(col("kind").isin(arms.map(_.kind): _*))
          .select(col("kind")).distinct(), arms.size.toLong,
        "stream modality kinds")
        .map(_.getString(0)).toSet
      // PARALLEL arm phase (round-17 tick trim): the modality
      // pipelines are independent DAGs over disjoint store tables —
      // each arm's verdict + survivor materialization runs
      // concurrently (job-submission futures; the work itself is
      // Spark tasks over idle cores). All verdicts read the SAME
      // pre-tick snapshot. The COMMITS stay serial in fixed
      // text→image→video order: the store writer lock serializes
      // manifest publishes anyway, and the fixed order keeps version
      // numbering deterministic. A replayed batch is still a no-op per
      // arm through the idempotency tags.
      val snap0 = IndexStore.snapshot(ledgerDir)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        DedupLedger.armWriteEc
      arms.filter(a => kinds(a.kind))
        .map(arm => Future(DedupLedger.stage(arm,
          arm.prepare(b.filter(col("kind") === arm.kind)), ledgerDir, snap0,
          s"stream-$id-${arm.modality}", Some(n))))
        .map(Await.result(_, Duration.Inf))
        .foreach(_.apply())
    }
  }

  /** A checkpointed AvailableNow sink running `tick(batch, id, rows)`
    * over each non-empty micro-batch, materialized once (every arm
    * reads it) and then counted off the materialized rows: one job
    * each, and the count gates the arms' broadcasts when the batch's
    * plan carries no size estimate (an in-memory source). */
  private def sink(stream: DataFrame, checkpointDir: String)
                  (tick: (DataFrame, Long, Long) => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.localCheckpoint()
        // the plan's rows as-is: no count aggregate, no exchange
        val n = b.queryExecution.toRdd.count()
        if (n > 0) tick(b, id, n)
      }

  /** Snapshot version a monitor watches to confirm the tailer publishes. */
  def publishedVersion(ledgerDir: String): Option[Int] =
    IndexStore.headVersion(ledgerDir)
}
