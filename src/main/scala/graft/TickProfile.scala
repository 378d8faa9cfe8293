package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupLedger, IndexStore}
import graft.ops.DedupLedger.Text

/** Throwaway profiling main for the tick family (round 16, VERDICT r15
  * Next #4): times each phase of q152's runtime shape so the trim
  * targets measured cost, not guesses. Not part of the catalog. */
object TickProfile {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    def t[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROFILE $what%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    // warm like Bench does
    s.read.parquet(s"$d/region.parquet").count()
    t("ensureHistoryLedger") { DedupLedger.ensureHistoryLedger(s, d) }
    (1 to 2).foreach { round =>
      println(s"-- round $round")
      val docs = Tables.rebalance(Tables.documents(s, d))
      val mx = t("max doc_id") { docs.agg(max(col("doc_id"))).head.getLong(0) }
      val c9 = mx * 9L / 10L; val cMid = mx * 19L / 20L
      val zone = graft.jobs.JobRecordGate.freshZone("graft-tickprof-", d)
      val dir = new java.io.File(zone, "ledger").getAbsolutePath
      t("cloneStore") { DedupLedger.cloneStore(
        DedupLedger.ensureHistoryLedger(s, d), dir) }
      val landing = new java.io.File(zone, "in").getAbsolutePath
      val ckpt = new java.io.File(zone, "ck").getAbsolutePath
      val ss = graft.streaming.StreamConf.stateSession(s, 8)
      def stream = ss.readStream.schema("doc_id LONG, text STRING").json(landing)
      t("land tick1 json") {
        docs.filter(col("doc_id") >= c9 && col("doc_id") < cMid)
          .select(col("doc_id"), col("text")).repartition(1)
          .write.mode("overwrite").json(landing) }
      t("drain tick1") {
        graft.streaming.DedupMaintenance.dedupSink(stream, dir, ckpt)
          .start().awaitTermination() }
      t("land tick2 json") {
        docs.filter(col("doc_id") >= cMid)
          .select(col("doc_id"), col("text")).repartition(1)
          .write.mode("append").json(landing) }
      t("drain tick2") {
        graft.streaming.DedupMaintenance.dedupSink(stream, dir, ckpt)
          .start().awaitTermination() }
      t("final verdict+count") {
        DedupLedger.verdict(Text, s, docs.filter(col("doc_id") >= c9),
          dir, IndexStore.snapshot(dir)).count() }
      // decomposition: the same tick WITHOUT the stream — batch API
      val zone2 = graft.jobs.JobRecordGate.freshZone("graft-tickprof2-", d)
      val dir2 = new java.io.File(zone2, "ledger").getAbsolutePath
      t("clone2") { DedupLedger.cloneStore(
        DedupLedger.ensureHistoryLedger(s, d), dir2) }
      val b1 = t("batch read+ckpt") {
        docs.filter(col("doc_id") >= c9 && col("doc_id") < cMid)
          .select(col("doc_id"), col("text")).localCheckpoint() }
      val v1 = t("verdict construct") {
        DedupLedger.verdict(Text, s, b1, dir2, IndexStore.snapshot(dir2)) }
      t("verdict action") { v1.count() }
      t("append") {
        DedupLedger.append(Text, DedupLedger.keepers(Text, b1, v1), dir2,
          "prof-1") }
      // append decomposition on a fresh clone
      val zone3 = graft.jobs.JobRecordGate.freshZone("graft-tickprof3-", d)
      val dir3 = new java.io.File(zone3, "ledger").getAbsolutePath
      DedupLedger.cloneStore(DedupLedger.ensureHistoryLedger(s, d), dir3)
      val sv = t("survivors ckpt") {
        b1.join(v1.filter(col("keep") === 1L).select(col("doc_id")),
          Seq("doc_id"), "left_semi").localCheckpoint() }
      val reps3 = t("exactRows ckpt") {
        graft.ops.DedupLedgerProbe.exactRowsOf(sv).localCheckpoint() }
      t("codes write") {
        reps3.repartition(col("cell")).write.mode("append")
          .partitionBy("cell").parquet(dir3 + "/codes") }
      val sig3 = t("sigRows plan+exec") {
        val x = graft.ops.DedupLedger.sigRows(
          sv.join(reps3.select(col("owner").as("doc_id")), Seq("doc_id"), "left_semi"))
        x.localCheckpoint() }
      t("vectors write") {
        sig3.repartition(col("cell")).write.mode("append")
          .partitionBy("cell").parquet(dir3 + "/vectors") }
      // bare stream overhead: a no-op foreachBatch over the same landing
      val ckpt2 = new java.io.File(zone2, "ck").getAbsolutePath
      t("bare stream drain") {
        ss.readStream.schema("doc_id LONG, text STRING").json(landing)
          .writeStream.option("checkpointLocation", ckpt2)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.count(); () }
          .start().awaitTermination() }
    }
    s.stop()
  }
}
