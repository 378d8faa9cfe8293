package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.ops.{DedupLedger, IndexStore}
import graft.ops.DedupLedger.{Media, Text}

/** Measurement harness for the TOMBSTONE takedown's ECONOMICS claim
  * (q177/q178): a forget costs O(deleted) regardless of corpus size
  * (it writes tombstone rows and publishes one manifest — no corpus
  * IO), the merge-on-read subtraction prices as one broadcast anti-join
  * on every subsequent verdict (flat in history size, zero on stores
  * without tombstones), and the physical drop rides the compaction the
  * store runs anyway. The study builds ledgers at three history scales,
  * takes down 500 owners at each, and times: the forget itself, the
  * batch verdict before/with/after-compaction tombstones, and the
  * folding compaction.
  *
  *   sbt "runMain graft.TombStudy fixtures/sf1"
  *
  * Not part of the correctness gate; numbers land in SCALING.md.
  */
object TombStudy {
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
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    val batch = docs.filter(col("doc_id") >= mx - 999L).localCheckpoint()
    println(s"== corpus $dir: ${docs.count()} docs; batch = last 1000 ==")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // untimed warm-up: codegen, parquet writer, manifest paths
    locally {
      val wdir = java.nio.file.Files.createTempDirectory("tomb-warm").toString
      DedupLedger.buildLedger(docs.filter(col("doc_id") < 2000), wdir)
      IndexStore.forget(spark, wdir, "text",
        docs.filter(col("doc_id") < 100).select(col("doc_id")))
      DedupLedger.verdict(Text, spark, batch, wdir,
        IndexStore.snapshot(wdir)).count()
      IndexStore.compact(spark, wdir)
      ()
    }

    val histLo = mx - 999L
    for (h <- Seq(histLo / 4, histLo / 2, histLo)) {
      val hist = docs.filter(col("doc_id") < h)
      val ldir =
        java.nio.file.Files.createTempDirectory(s"tomb-study-$h").toString
      DedupLedger.buildLedger(hist, ldir)
      val nHist = IndexStore
        .frames(spark, ldir, IndexStore.snapshot(ldir),
          Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL))
        ._1.count()
      // verdict against the clean store (min of 3)
      def verdict(): Long =
        DedupLedger.verdict(Text, spark, batch, ldir,
          IndexStore.snapshot(ldir)).count()
      verdict() // footer warm
      val tClean = (1 to 3).map(_ => timed(verdict())._2).min
      // the takedown: 500 owners, spread across the exact arm
      val doomed = IndexStore
        .frames(spark, ldir, IndexStore.snapshot(ldir),
          Some(IndexStore.CODES_DDL), Some(IndexStore.VECTORS_DDL))
        ._1.select(col("owner")).orderBy(col("owner")).limit(500)
      val (_, tForget) = timed {
        IndexStore.forget(spark, ldir, "text", doomed, Some("study"))
      }
      // verdict THROUGH the tombstones (merge-on-read)
      verdict() // warm the tombs footer
      val tTomb = (1 to 3).map(_ => timed(verdict())._2).min
      // the folding compaction, then the post-fold verdict
      val (_, tCompact) = timed {
        IndexStore.compact(spark, ldir); IndexStore.vacuum(ldir); ()
      }
      verdict()
      val tAfter = (1 to 3).map(_ => timed(verdict())._2).min
      println(f"hist=$nHist%7d  forget(500)=$tForget%6.3f s  " +
        f"verdict clean=$tClean%6.3f s  with-tombs=$tTomb%6.3f s  " +
        f"post-fold=$tAfter%6.3f s  compact=$tCompact%6.3f s")
    }

    // ---- shuffle-scale arm (VERDICT r17 #7): a takedown big enough
    // that the tombstone side outgrows broadcast — 2M-fingerprint
    // marks store, 1M-owner forget. Verifies the anti-join flips to a
    // shuffle plan cleanly (no OOM-prone forced broadcast), the
    // verdict stays in family, and the fold still drops physically.
    locally {
      val mask42 = (1L << 42) - 1
      def fps(lo: Long, hi: Long) = spark.range(lo, hi, 1, 32)
        .select(col("id").as("media_id"),
          expr(s"array(cast(conv(substring(md5(cast(id as string)), 1, " +
            s"11), 16, 10) as bigint) & $mask42)").as("fp"))
      val sdir =
        java.nio.file.Files.createTempDirectory("tomb-shuffle").toString
      val (_, tBuild) = timed {
        DedupLedger.build(sdir, "text,media,video",
          Text -> docs.filter(col("doc_id") < 10).select(col("doc_id"), col("text")),
          Media() -> fps(0L, 2000000L))
      }
      val batchFps = fps(3000000L, 3001000L)
        .unionByName(fps(0L, 100L) // re-uploads of history: must resolve
          .withColumn("media_id", col("media_id") + 5000000L))
        .localCheckpoint()
      def mVerdict(): Long =
        DedupLedger.verdict(Media(), spark, batchFps, sdir,
          IndexStore.snapshot(sdir)).count()
      mVerdict()
      val tClean = (1 to 3).map(_ => timed(mVerdict())._2).min
      val (_, tForget) = timed {
        IndexStore.forget(spark, sdir, "media",
          spark.range(0L, 1000000L).select(col("id").as("owner")),
          Some("mega-takedown"))
      }
      // which join did the planner pick for the tombstone subtraction?
      val marked = IndexStore.marksFrame(spark, sdir,
        IndexStore.snapshot(sdir), IndexStore.MARKS_DDL)
      marked.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
      val plan = marked.queryExecution.executedPlan.toString
      val joinNode = Seq("BroadcastHashJoin", "ShuffledHashJoin",
        "SortMergeJoin").filter(plan.contains)
      val nLive = marked.count()
      mVerdict()
      val tTomb = (1 to 3).map(_ => timed(mVerdict())._2).min
      val preFoldTombKiB = IndexStore.snapshot(sdir).tombs
        .map(rel => new java.io.File(s"$sdir/tombs/$rel").length()).sum / 1024
      val (_, tCompact) = timed {
        IndexStore.compact(spark, sdir); IndexStore.vacuum(sdir); ()
      }
      require(IndexStore.snapshot(sdir).tombs.isEmpty, "fold must clear tombs")
      mVerdict()
      val tAfter = (1 to 3).map(_ => timed(mVerdict())._2).min
      def tombBytes(): Long = IndexStore.snapshot(sdir).tombs
        .map(rel => new java.io.File(s"$sdir/tombs/$rel").length()).sum
      println(f"SHUFFLE-SCALE 2M marks / 1M takedown: build=$tBuild%6.1f s  " +
        f"forget(1M)=$tForget%6.3f s  live-after=$nLive " +
        f"(expect 1000000)  anti-join=${joinNode.mkString("+")} " +
        f"(tombs $preFoldTombKiB%d KiB)")
      println(f"  verdict clean=$tClean%6.3f s  with-tombs=$tTomb%6.3f s  " +
        f"post-fold=$tAfter%6.3f s  compact=$tCompact%6.3f s")
      // find the natural broadcast -> shuffle flip: keep growing the
      // tombstone set (absent ids are legal tombstones — the anti-join
      // semantics don't require presence) until the planner changes node
      var lo = 1000000L
      var flipped = Seq.empty[String]
      while (flipped.forall(_ == "BroadcastHashJoin") && lo < 64000000L) {
        IndexStore.forget(spark, sdir, "media",
          spark.range(lo, lo * 2).select(col("id").as("owner")),
          Some(s"grow-$lo"))
        val f2 = IndexStore.marksFrame(spark, sdir,
          IndexStore.snapshot(sdir), IndexStore.MARKS_DDL)
        val (_, tV) = timed(
          f2.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ()))
        val p2 = f2.queryExecution.executedPlan.toString
        flipped = Seq("BroadcastHashJoin", "ShuffledHashJoin",
          "SortMergeJoin").filter(p2.contains)
        lo = lo * 2
        println(f"  tombs=${lo}%9d rows ${tombBytes() / 1024}%7d KiB  " +
          f"join=${flipped.mkString("+")}  full-read=$tV%6.3f s")
      }
    }
    spark.stop()
  }
}
