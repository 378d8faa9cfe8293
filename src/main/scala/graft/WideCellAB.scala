package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.ops.{DedupLedger, IndexStore}
import graft.ops.DedupLedger.{Media, Text, Video}

/** VERDICT r16 #1: the two WIDE healthy-store cells (marks wide 3x40,
  * seqs wide 3x40, 1M items, 10k batch) drifted +1-3 s under the
  * default shed ladder vs their r15 (budget = None) readings, measured
  * on a 4-hour-busy box. This A/B decomposes the cost on a QUIET box,
  * min-of-3 per variant, interleaved:
  *
  *   - DEFAULT cold  — memos cleared before each run: the first
  *     verdict against a fresh published version (pays the ladder's
  *     step-2 histogram job if it runs)
  *   - DEFAULT warm  — memo hit (the steady state for repeated
  *     verdicts against one version)
  *   - None          — the r15 uncapped path
  *
  * If cold >> warm ~= None, the drift is the per-version bucket-size
  * histogram job (a corpus-proportional aggregation), NOT step 3's
  * batch checkpoint — and the fix is publish-time stats, not a
  * sharper runtime gate.
  *
  *   sbt "runMain graft.WideCellAB"
  *
  * Not part of the correctness gate; numbers land in SCALING.md.
  */
object WideCellAB {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val mask60 = (1L << 60) - 1

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def minOf3(label: String, expectKeep: Long)(f: => Long): Unit = {
      val runs = (1 to 3).map { _ => val (k, t) = timed(f); (k, t) }
      require(runs.forall(_._1 == expectKeep),
        s"$label keep drifted: ${runs.map(_._1)} (expect $expectKeep)")
      println(f"$label%-28s min=${runs.map(_._2).min}%6.2f s  " +
        f"runs=${runs.map(r => f"${r._2}%.2f").mkString(",")}  keep=$expectKeep")
    }

    // ---- marks wide 3x40 @ 1M (the addendum-5 cell, verbatim)
    val seedDoc = {
      import spark.implicits._
      Seq((0L, "wide cell ab seed document text")).toDF("doc_id", "text")
    }
    def wfp(idExpr: String) =
      s"""array(
         |cast(conv(substring(md5(concat($idExpr, '|a')), 1, 15), 16, 10) as bigint) & $mask60,
         |cast(conv(substring(md5(concat($idExpr, '|b')), 1, 15), 16, 10) as bigint) & $mask60)"""
        .stripMargin
    val dirM = java.nio.file.Files.createTempDirectory("graft-ab-marks").toString
    val marksW = spark.range(0, 1000000L, 1, 32)
      .select(col("id").as("media_id"), expr(wfp("id")).as("fp"))
    val (_, tBuildM) = timed(DedupLedger.build(dirM, "text,media,video",
      Text -> seedDoc, Media(DedupLedger.WideMarks) -> marksW))
    val snapM = IndexStore.snapshot(dirM)
    val batchM = spark.range(0, 10000L, 1, 32)
      .select((col("id") + 2000000L).as("media_id"),
        expr(s"CASE WHEN id < 1000 THEN ${wfp("id")} " +
          s"ELSE ${wfp("(id + 5000000)")} END").as("fp"))
      .localCheckpoint()
    def marksKeep(budget: Option[Int]): Long =
      DedupLedger.verdict(Media(DedupLedger.WideMarks), spark, batchM, dirM,
          snapM, pairBudgetPerItem = budget)
        .agg(sum(col("keep"))).head.getLong(0)
    // warm-up (JIT + parquet reader paths), untimed
    marksKeep(DedupOpsDefault.default)
    println(f"== marks wide 3x40 @ 1M (build $tBuildM%.1f s) ==")
    minOf3("marks DEFAULT cold", 9000L) {
      DedupLedger.clearShedMemos(); marksKeep(DedupOpsDefault.default)
    }
    minOf3("marks DEFAULT warm", 9000L) { marksKeep(DedupOpsDefault.default) }
    minOf3("marks None (r15 path)", 9000L) { marksKeep(None) }

    // ---- seqs wide 3x40 @ 1M videos, no intro (the addendum-5 cell)
    val dirS = java.nio.file.Files.createTempDirectory("graft-ab-seqs").toString
    def wFrames(idCol: String) =
      s"""array(
         |cast(conv(substring(md5(concat($idCol, '|', f, '|a')), 1, 15), 16, 10) as bigint) & $mask60,
         |cast(conv(substring(md5(concat($idCol, '|', f, '|b')), 1, 15), 16, 10) as bigint) & $mask60)"""
        .stripMargin
    val histS = spark.range(0, 1000000L, 1, 32)
      .select(col("id"), explode(expr("sequence(0, 3)")).as("f"))
      .select(col("id").as("media_id"), col("f"), expr(wFrames("id")).as("fp"))
    val (_, tBuildS) = timed(
      DedupLedger.append(Video(DedupLedger.WideMarks), histS, dirS, tag = "seed"))
    val snapS = IndexStore.snapshot(dirS)
    val batchS = spark.range(0, 10000L, 1, 32)
      .select(col("id"), explode(expr("sequence(0, 3)")).as("f"))
      .select((col("id") + 2000000L).as("media_id"), col("f"),
        expr(s"""CASE
          |WHEN id < 1000 THEN ${wFrames("id")}
          |WHEN id < 5000 AND f = id % 4 THEN
          |  transform(${wFrames("id")}, (w, i) -> IF(i = 0, w ^ 3L, w))
          |WHEN id < 5000 THEN ${wFrames("id")}
          |ELSE ${wFrames("(id + 7000000)")} END""".stripMargin).as("fp"))
      .localCheckpoint()
    def seqsKeep(budget: Option[Int]): Long =
      DedupLedger.verdict(Video(DedupLedger.WideMarks), spark, batchS, dirS,
          snapS, pairBudgetPerItem = budget)
        .agg(sum(col("keep"))).head.getLong(0)
    seqsKeep(DedupOpsDefault.default)
    println(f"== seqs wide 3x40 @ 1M videos, no intro (build $tBuildS%.1f s) ==")
    minOf3("seqs DEFAULT cold", 5000L) {
      DedupLedger.clearShedMemos(); seqsKeep(DedupOpsDefault.default)
    }
    minOf3("seqs DEFAULT warm", 5000L) { seqsKeep(DedupOpsDefault.default) }
    minOf3("seqs None (r15 path)", 5000L) { seqsKeep(None) }
    spark.stop()
  }

  /** Indirection so the study text reads "DEFAULT" where the operator
    * signature's default applies. */
  private object DedupOpsDefault {
    val default: Option[Int] = graft.ops.DedupOps.DEFAULT_PAIR_BUDGET
  }
}
