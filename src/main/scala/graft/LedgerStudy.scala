package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.ops.{DedupLedger, DedupOps, IndexStore, TextOps}
import graft.ops.DedupLedger.Text

/** Measurement harness for the dedup ledger's ECONOMICS claim
  * (q139/q140): the daily increment dedups in time proportional to the
  * INCREMENT (one signature pass over the batch + one streamed scan of
  * the stored fingerprints), while the no-ledger alternative re-runs
  * batch dedup over history ∪ batch — re-shingling history every day.
  * Also measures the signature-estimate's recall against the fixture's
  * PLANTED cross-line pairs (the ledger estimates Jaccard from 12
  * stored minhashes instead of exact shingle intersection — that
  * approximation deserves a number, not an assertion).
  *
  *   sbt "runMain graft.LedgerStudy fixtures/sf1"
  *
  * Not part of the correctness gate; numbers land in SCALING.md.
  */
object LedgerStudy {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "fixtures/sf1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.rebalance(Tables.documents(spark, dir)).localCheckpoint()
    val n = docs.count()
    // boundary from max(doc_id), not count: a sparse-id fixture (post-
    // dedup, filtered) would otherwise mis-size the "last 1000" batch
    val batchLo = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L - 1000L
    val batch = docs.filter(col("doc_id") >= batchLo).localCheckpoint()
    println(s"== corpus $dir: $n docs; fixed batch = last 1000 ==")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // untimed warm-up at a throwaway scale: codegen, parquet writer and
    // shuffle paths all JIT before the first measured row
    locally {
      val wdir = java.nio.file.Files.createTempDirectory("ledger-study-warm").toString
      val whist = docs.filter(col("doc_id") < 2000)
      DedupLedger.buildLedger(whist, wdir)
      DedupLedger.verdict(Text, spark, batch, wdir,
        IndexStore.snapshot(wdir)).count()
      DedupOps.minhashLshPairs(TextOps.shingled(whist.unionByName(batch)),
        pairBudgetPerDoc = Some(TextOps.PAIR_BUDGET_PER_DOC)).count()
      ()
    }

    for (h <- Seq(batchLo / 4, batchLo / 2, batchLo)) {
      val hist = docs.filter(col("doc_id") < h)
      val ldir = java.nio.file.Files.createTempDirectory(s"ledger-study-$h").toString
      val (_, tBuild) = timed { DedupLedger.buildLedger(hist, ldir) }
      val snap = IndexStore.snapshot(ldir)
      // warm once (parquet footers), then measure the verdict serve
      DedupLedger.verdict(Text, spark, batch, ldir, snap).count()
      val (verdict, tVerdict) = timed {
        val v = DedupLedger.verdict(Text, spark, batch, ldir, snap)
          .localCheckpoint()
        v.count(); v
      }
      val (_, tAppend) = timed {
        DedupLedger.append(Text, DedupLedger.keepers(Text, batch, verdict),
          ldir, tag = "study")
      }
      // the no-ledger alternative: re-run the q49 batch pass over
      // history ∪ batch (re-shingles and re-signs EVERYTHING)
      val (nPairs, tRerun) = timed {
        DedupOps.minhashLshPairs(
          TextOps.shingled(hist.unionByName(batch)),
          pairBudgetPerDoc = Some(TextOps.PAIR_BUDGET_PER_DOC))
          .filter(col("d2") >= batchLo).count()
      }
      val dropped = verdict.filter(col("keep") === 0L).count()
      println(f"H=$h%6d  build=$tBuild%6.2fs  verdict=$tVerdict%5.2fs  " +
        f"append=$tAppend%5.2fs  rerun-batch-dedup=$tRerun%6.2fs  " +
        f"(dropped $dropped%4d of 1000; rerun pairs hitting batch: $nPairs)")
    }

    // recall of the SIGNATURE estimate on planted cross-line pairs:
    // history side < batchLo ≤ batch side, judged vs the full-history
    // ledger (the H=batchLo row above)
    val planted = spark.read
      .parquet(s"$dir/planted_pairs.parquet")
      .toDF("d1", "d2", "kind")
      .withColumn("lo", least(col("d1"), col("d2")))
      .withColumn("hi", greatest(col("d1"), col("d2")))
      .filter(col("lo") < batchLo && col("hi") >= batchLo)
    val ldir = java.nio.file.Files.createTempDirectory("ledger-study-full").toString
    DedupLedger.buildLedger(docs.filter(col("doc_id") < batchLo), ldir)
    val verdict = DedupLedger.verdict(Text, spark, batch, ldir,
      IndexStore.snapshot(ldir)).localCheckpoint()
    val caught = planted.join(
      verdict.select(col("doc_id").as("hi"), col("exact_of"), col("near_of")),
      Seq("hi"), "left")
    println("== planted cross-line pairs caught by the ledger ==")
    caught.groupBy(col("kind"))
      .agg(count(lit(1)).as("pairs"),
           sum(when(col("exact_of").isNotNull || col("near_of").isNotNull, 1L)
             .otherwise(0L)).as("caught"))
      .orderBy(col("kind"))
      .show(false)
    spark.stop()
  }
}
