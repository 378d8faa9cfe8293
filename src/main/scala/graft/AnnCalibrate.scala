package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The joint (k, coarseIters) × (probes, rerank) serving-stack
  * calibration (VERDICT r11 #2, upgraded to cover the round-12 router
  * candidates): each (k, iters) index builds ONCE, then every
  * (probes, rerank) cell serves from the same built frames — the grid
  * costs builds + cheap serves instead of builds × grid.
  *
  *   sbt "runMain graft.AnnCalibrate fixtures/sf1vecwide"
  */
object AnnCalibrate {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nq = 10
    val emb = Tables.embeddings(spark, dir)
    val brute = SparkEntry.queries("q51_cosine_topk")(spark, dir)
      .filter(col("rn") <= 5).select(col("qid"), col("vec_id"))
      .localCheckpoint()
    val denom = 5 * nq

    for ((k, iters) <- Seq((8, 1), (8, 4), (10, 4), (10, 8), (10, 16))) {
      val (quant0, coarse0, cb0, codes0, _) =
        ops.VectorOps.ivfPqBuild(emb, k, coarseIters = iters)
      val quant = quant0.localCheckpoint()
      val coarse = coarse0.localCheckpoint()
      val cb = cb0.localCheckpoint()
      val codes = codes0.localCheckpoint()
      for (p <- 2 to 5; r <- Seq(20, 50, 100)) {
        val hits = ops.VectorOps.serveIvfPq(quant, coarse, cb, codes,
            numQueries = nq, probes = p, rerank = r, topK = 5)
          .select(col("qid"), col("vec_id"))
          .join(brute, Seq("qid", "vec_id"), "left_semi").count()
        println(f"k=$k%-3d iters=$iters%-3d p=$p r=$r%-4d recall@5 = " +
          f"$hits/$denom = ${100.0 * hits / denom}%5.1f%%")
      }
    }
    spark.stop()
  }
}
