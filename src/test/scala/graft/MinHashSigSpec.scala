package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, TextOps}

/** [[graft.functions.MinHashSig]] against the formulation it replaces
  * (and the DuckDB oracle still runs): one row per shingle, the md5
  * head as a long, NUM_SEEDS `min` aggregates keyed by doc. Bit for bit,
  * with whole-stage codegen, with expression codegen only (compile
  * failures throw instead of falling back) and interpreted. */
class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  /** `(id, grams)` → id → the reference signature (null without a
    * non-null gram). */
  private def reference(g: DataFrame): Map[Long, Seq[Long]] = {
    val mins = (0 until DedupOps.NUM_SEEDS).map(s =>
      min(expr(s"(hm * ${2 * s + 1} + ${7919 * s}) % ${DedupOps.HASH_P}")).as(s"m$s"))
    g.select(col("id"), explode_outer(col("grams")).as("gram"))
      .withColumn("hv", expr("conv(substring(md5(gram), 1, 15), 16, 10)").cast("long"))
      .withColumn("hm", expr(s"hv % ${DedupOps.HASH_P}"))
      .groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null
          else (1 to DedupOps.NUM_SEEDS).map(r.getLong))
      }.toMap
  }

  private def kernel(g: DataFrame): Map[Long, Seq[Long]] =
    g.select(col("id"), DedupOps.minhashSig(col("grams")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** The kernel's signatures under each evaluation path. */
  private def everyPath(g: DataFrame): Seq[(String, Map[Long, Seq[Long]])] = Seq(
    "whole-stage codegen" -> withConf("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(kernel(g)),
    "expression codegen" -> withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(kernel(g)),
    "interpreted" -> withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(kernel(g)))

  private def assertMatches(g: DataFrame): Map[Long, Seq[Long]] = {
    val want = reference(g)
    for ((path, got) <- everyPath(g))
      assert(got == want, s"$path: ${got.toSeq.sortBy(_._1).diff(want.toSeq.sortBy(_._1))}")
    want
  }

  private def shingles(docs: Seq[(Long, String)]): DataFrame =
    TextOps.shingled(docs.toDF("doc_id", "text"))
      .select(col("doc_id").as("id"), col("grams"))

  test("shingled docs: short, repeated trigrams, multi-byte UTF-8 and null text") {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("naïve", "café", "über", "日本語", "テキスト", "🙂", "ñ",
      "straße", "a", "b", "", "x")
    val random = (100L until 160L).map(i =>
      i -> Seq.fill(3 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val docs = Seq(
      1L -> "two tokens",                        // < 3 tokens: no shingles
      2L -> "",
      3L -> (null: String),
      4L -> "x y z x y z x y z x y z",           // repeated trigrams
      5L -> "naïve café über 日本語 テキスト 🙂 ñ",   // multi-byte UTF-8
      6L -> "a  b c",                            // empty token
      7L -> "one two three") ++ random
    val sigs = assertMatches(shingles(docs))
    assert(Seq(1L, 2L, 3L).forall(sigs(_) == null), sigs)
    assert(sigs(4L).size == DedupOps.NUM_SEEDS && sigs(5L) != null)
    // repeated trigrams sign like their distinct set
    assert(sigs(4L) == kernel(Seq((4L, Seq("x y z", "y z x", "z x y")))
      .toDF("id", "grams")).apply(4L))
  }

  test("raw gram arrays: null elements are skipped, empty and null arrays have no signature") {
    val g = Seq[(Long, Seq[String])](
      1L -> Seq("a b c", null, "b c d"),
      2L -> Seq(null, null),
      3L -> Seq(),
      4L -> null,
      5L -> Seq("日本語 テキスト 🙂")).toDF("id", "grams")
    val sigs = assertMatches(g)
    assert(Seq(2L, 3L, 4L).forall(sigs(_) == null), sigs)
    assert(sigs(1L) == kernel(Seq((1L, Seq("a b c", "b c d"))).toDF("id", "grams"))(1L))
  }

  test("a non-string gram array is rejected at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq((1L, Seq(1L, 2L))).toDF("id", "grams")
        .select(DedupOps.minhashSig(col("grams"))).collect())
    assert(e.getMessage.contains("array<string>"), e.getMessage)
  }
}
