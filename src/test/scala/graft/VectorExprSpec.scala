package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.ldot

class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  test("ldot matches the higher-order-function formulation exactly") {
    val rows = (0 until 500).map { i =>
      (Seq.tabulate(64)(j => ((i * 31 + j * 7) % 2001 - 1000).toLong),
       Seq.tabulate(64)(j => ((i * 17 + j * 13) % 2001 - 1000).toLong))
    }
    val df = rows.toDF("a", "b")
    val got = df.select(
      ldot($"a", $"b").as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), cast(0 AS bigint), (acc, v) -> acc + v)")
        .as("ref"))
    assert(got.filter($"fast" =!= $"ref").count() == 0)
  }

  test("ldot codegen and interpreted paths agree") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))).toDF("a", "b")
    val on = df.select(ldot($"a", $"b")).head.getLong(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = df.select(ldot($"a", $"b")).head.getLong(0)
      assert(on == 32L && off == 32L)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("ldot null array yields null") {
    val df = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
    assert(df.select(ldot($"a", $"b")).head.isNullAt(0))
  }

  test("srpCodes matches the higher-order-function formulation exactly") {
    import graft.functions.VectorFunctions.srpCodes
    val rows = (0 until 300).map { i =>
      Tuple1(Seq.tabulate(64)(j => ((i * 131 + j * 37) % 20001 - 10000).toLong))
    }
    val df = rows.toDF("q")
    val got = df.select(
      srpCodes($"q", 4, 8).as("fast"),
      expr(graft.ops.DedupOps.srpCodesHof).as("ref"))
    assert(got.filter(expr("fast != ref")).count() == 0)
    // codes actually vary across vectors (banding is not degenerate)
    assert(got.select($"fast").distinct().count() > 1)
  }

  test("srpCodes codegen and interpreted paths agree") {
    import graft.functions.VectorFunctions.srpCodes
    val df = Seq(Tuple1(Seq.tabulate(64)(j => (j * 97 % 2001 - 1000).toLong))).toDF("q")
    val on = df.select(srpCodes($"q", 4, 8)).head.getSeq[Long](0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = df.select(srpCodes($"q", 4, 8)).head.getSeq[Long](0)
      assert(on == off && on.length == 4)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  // ---- IVF-PQ kernels vs the higher-order forms they replace --------
  private val rnd = new scala.util.Random(42)
  private def randVec(dim: Int, amp: Int): Seq[Long] =
    Seq.fill(dim)((rnd.nextInt(2 * amp + 1) - amp).toLong)
  private lazy val centers = Seq.fill(8)(randVec(64, 15000))
  // 500 random 64-d vectors on the quantized scale (|x| ≤ 2e4) around
  // the 8 centers
  private lazy val vecs = (0 until 500).map(i => Tuple1(
    centers(i % 8).zip(randVec(64, 4000)).map { case (c, e) => c + e })).toDF("q")
  // rational centroids (cell, s, n) near the centers, listed out of cell
  // order; cells 9 and 2 are the SAME centroid, so every vector nearest
  // to it is a planted distance tie the lower cell must win
  private lazy val cents: Seq[(Int, Seq[Long], Long)] = {
    def sums(c: Int, n: Long) =
      centers(c).zip(randVec(64, 5)).map { case (x, e) => x * n + e }
    val base = (0 until 8).filterNot(_ == 2).map { c =>
      val n = 1L + rnd.nextInt(20)
      (c, sums(c, n), n)
    }
    val twin = sums(2, 3L)
    ((9, twin, 3L) +: base.reverse) :+ ((2, twin, 3L))
  }
  private def withoutWholeStage[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try body finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }
  private def interpreted[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try withoutWholeStage(body)
    finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }
  private def rootCauses(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("nearestCentroid matches the higher-order form exactly, ties to the lower cell") {
    import graft.functions.VectorFunctions.nearestCentroid
    import graft.ops.VectorOps
    assert(cents.count(_._1 == 2) == 1 && cents.count(_._1 == 9) == 1)
    val got = vecs
      .withColumn("_cents", typedLit(cents))
      .select(nearestCentroid($"q", typedLit(cents)).as("fast"),
              expr(VectorOps.nearestCentroidHof).as("ref"))
      .localCheckpoint()
    assert(got.filter(!($"fast" <=> $"ref")).count() == 0)
    // the tie is live: vectors land on the twin pair, and never on 9
    val cells = got.select($"fast.cell").as[Int].collect().toSet
    assert(cells.contains(2) && !cells.contains(9), cells)
    assert(cells.size > 2, s"assignment degenerate: $cells")
    // the twin's own center: equally near cells 9 and 2, cell 2 wins
    val on = Seq(Tuple1(centers(2))).toDF("q")
      .select(nearestCentroid($"q", typedLit(cents)).as("m")).head.getStruct(0)
    assert(on.getInt(1) == 2)
    // an empty table assigns nothing, like array_min of an empty array
    assert(vecs.limit(1).select(nearestCentroid($"q",
      typedLit(Seq.empty[(Int, Seq[Long], Long)]))).head.isNullAt(0))
  }

  /** A 16 × 4 codebook over 64-d vectors: sub-space 5 is EMPTY, and in
    * sub-space 3 codes 11 and 4 are the same codeword (planted ties). */
  private lazy val codebook: Seq[Seq[(Int, Seq[Long], Long)]] =
    (0 until 16).map {
      case 5 => Seq.empty
      case sub =>
        val cws = (0 until 16).map { c =>
          val n = 1L + rnd.nextInt(8)
          (c, randVec(4, 20000).map(_ * n), n)
        }
        if (sub != 3) cws
        else cws.map { case (c, s, n) => if (c == 11) (c, cws(4)._2, cws(4)._3) else (c, s, n) }
          .reverse
    }

  test("pqEncode matches the higher-order form exactly; empty sub-space gives a null code") {
    import graft.functions.VectorFunctions.pqEncode
    import graft.ops.VectorOps
    val got = vecs
      .withColumn("_cb", typedLit(codebook))
      .select(pqEncode($"q", typedLit(codebook), VectorOps.PQ_SUBDIM).as("fast"),
              expr(VectorOps.pqEncodeHof("q")).as("ref"))
      .localCheckpoint()
    assert(got.filter(!($"fast" <=> $"ref")).count() == 0)
    val codes = got.select($"fast").as[Seq[Option[Int]]].collect()
    assert(codes.forall(c => c.length == 16 && c(5).isEmpty && c.patch(5, Nil, 1).forall(_.isDefined)))
    val sub3 = codes.map(_(3).get).toSet
    assert(!sub3.contains(11), sub3) // code 11 only ever ties code 4
    // a vector whose sub-space 3 IS the tied codeword: code 4 wins
    val (_, s4, n4) = codebook(3).find(_._1 == 4).get
    val tied = Seq(Tuple1(Seq.fill(12)(0L) ++ s4.map(_ / n4) ++ Seq.fill(48)(0L))).toDF("q")
    assert(tied.select(pqEncode($"q", typedLit(codebook), 4)).head.getSeq[Any](0)(3) == 4)
  }

  test("adcFold matches the higher-order form exactly; a null code gives a null adist") {
    import graft.functions.VectorFunctions.adcFold
    import graft.ops.VectorOps
    val rows = (0 until 500).map { i =>
      val codes: Seq[Option[Int]] = Seq.fill(16)(Some(rnd.nextInt(16)))
        .updated(i % 16, if (i % 7 == 0) None else Some(rnd.nextInt(16)))
      val dtab = Seq.fill(256)(
        if (rnd.nextInt(20) == 0) Double.PositiveInfinity else rnd.nextDouble() * 1e6)
      (codes, dtab)
    }
    val got = rows.toDF("codes", "dtab")
      .select($"codes", adcFold($"codes", $"dtab", VectorOps.PQ_M, VectorOps.PQ_KSUB).as("fast"),
              expr(VectorOps.adcFoldHof).as("ref"))
      .localCheckpoint()
    assert(got.filter(!($"fast" <=> $"ref")).count() == 0)
    val nullCode = got.filter(exists($"codes", _.isNull))
    assert(nullCode.count() > 0 && nullCode.filter($"fast".isNotNull).count() == 0)
    assert(got.filter($"fast".isNull).count() == nullCode.count())
  }

  test("IVF-PQ kernels: codegen, wholeStage=false and interpreted paths agree") {
    import graft.functions.VectorFunctions.{adcFold, nearestCentroid, pqEncode}
    val df = vecs.limit(50)
      .select($"q", nearestCentroid($"q", typedLit(cents)).as("m"),
              pqEncode($"q", typedLit(codebook), 4).as("codes"))
      .withColumn("dtab", expr("transform(sequence(0, 255), i -> cast(i * 1.5 AS double))"))
      .withColumn("adist", adcFold($"codes", $"dtab", 16, 16))
    def run() = df.collect().toSeq.map(_.toString)
    val on = run()
    assert(on.nonEmpty)
    assert(withoutWholeStage(run()) == on)
    assert(interpreted(run()) == on)
  }

  test("IVF-PQ kernels: an int64 envelope breach throws, it never wraps") {
    import graft.functions.VectorFunctions.{nearestCentroid, pqEncode}
    val big = Seq(Tuple1(Seq.fill(64)(Long.MaxValue / 4))).toDF("q")
    val cs = Seq((0, Seq.fill(64)(0L), 8L))
    val cb = Seq.fill(16)(Seq((0, Seq.fill(4)(0L), 8L)))
    def breaches(): Unit = {
      val e1 = intercept[Exception](big.select(nearestCentroid($"q", typedLit(cs))).collect())
      assert(rootCauses(e1).exists(_.isInstanceOf[ArithmeticException]), e1)
      val e2 = intercept[Exception](big.select(pqEncode($"q", typedLit(cb), 4)).collect())
      assert(rootCauses(e2).exists(_.isInstanceOf[ArithmeticException]), e2)
    }
    breaches()
    interpreted(breaches())
  }

  test("k-means IVF build (q124): Lloyd objective monotone, assignment total, clusters converge") {
    import graft.ops.VectorOps
    // clustered corpus with known geometry (the sf1vec generator at
    // spec scale): 10 true cells, well separated
    val emb = graft.GenFixtures.clusteredEmbeddings(spark, 600)
    val quant = emb
      .withColumn("q", expr(VectorOps.quantExpr))
      .select($"vec_id", $"q").localCheckpoint()
    val k = 10
    val a1 = VectorOps.kmeansAssign(quant, VectorOps.kmeansInit(quant, k))
      .localCheckpoint()
    val a2 = VectorOps.kmeansAssign(quant, VectorOps.kmeansUpdate(a1))
      .localCheckpoint()
    // every vector assigned exactly once, both passes
    assert(a1.count() == 600 && a2.count() == 600)
    assert(a1.select("vec_id").distinct().count() == 600)
    // Lloyd monotonicity: total objective never increases across an
    // update+reassign round (the textbook invariant — a drifted
    // distance formula or tie-break breaks it immediately)
    val j1 = a1.agg(sum($"dist")).head.getDouble(0)
    val j2 = a2.agg(sum($"dist")).head.getDouble(0)
    assert(j2 <= j1 * (1 + 1e-12), s"objective rose: $j1 -> $j2")
    // determinism: the whole build replays bit-identically
    val a2b = VectorOps.kmeansAssign(quant,
      VectorOps.kmeansUpdate(VectorOps.kmeansAssign(quant, VectorOps.kmeansInit(quant, k))))
    assert(a2.select($"vec_id", $"cell").except(
      a2b.select($"vec_id", $"cell")).count() == 0)
    // geometry recovered: learned cells refine the true ones — the
    // dominant true label inside each learned cell covers most members
    // (well-separated spread 0.15 corpus; 2 iterations from singleton
    // seeds is enough to pull cells onto cluster cores). Floor
    // recalibrated for the HELD-OUT init (seeds vec_id 10..19, labels
    // random per id, so the seed draw covers a different cluster mix
    // than the old first-k init): measured 0.778 deterministic.
    val withTruth = a2.join(emb.select($"vec_id", $"label"), "vec_id")
    val purity = withTruth.groupBy($"cell", $"label").count()
      .groupBy($"cell").agg(max($"count").as("top"), sum($"count").as("tot"))
      .agg(sum($"top").cast("double") / sum($"tot")).head.getDouble(0)
    assert(purity >= 0.75, s"learned-cell purity $purity < 0.75")
  }

  test("IVF-PQ re-rank (q127): probed-cell containment, exact re-scores, deterministic replay") {
    import graft.ops.VectorOps
    val emb = graft.GenFixtures.clusteredEmbeddings(spark, 600)
    val res = VectorOps.ivfPqRerankTopK(emb, k = 10, numQueries = 5,
      probes = 2, rerank = 20, topK = 5).localCheckpoint()
    // shape: exactly topK per query, rn dense, adist finite
    assert(res.count() == 25)
    assert(res.groupBy($"qid").count().filter($"count" =!= 5).count() == 0)
    assert(res.filter(!$"adist".isNotNull || $"adist" === Double.PositiveInfinity)
      .count() == 0)
    // the reported cos IS the exact full-precision cosine of that pair
    // (the whole point of the re-rank stage) — recompute independently
    val quant = emb.withColumn("q", expr(VectorOps.quantExpr))
      .withColumn("norm", ldot($"q", $"q"))
      .select($"vec_id", $"q", $"norm").localCheckpoint()
    val expect = res.select($"qid", $"vec_id", $"cos")
      .join(quant.select($"vec_id", $"q", $"norm"), "vec_id")
      .join(quant.select($"vec_id".as("qid"), $"q".as("qv"), $"norm".as("qnorm")),
            "qid")
      .withColumn("cos2", ldot($"q", $"qv").cast("double") /
        sqrt($"norm".cast("double")) / sqrt($"qnorm".cast("double")))
    assert(expect.filter(abs($"cos" - $"cos2") > 1e-12).count() == 0)
    // every returned neighbor lives in one of its query's 2 probed cells
    // (re-derive the coarse assignment with the same helpers)
    val a2 = VectorOps.kmeansAssign(quant.select($"vec_id", $"q"),
      VectorOps.kmeansUpdate(VectorOps.kmeansAssign(quant.select($"vec_id", $"q"),
        VectorOps.kmeansInit(quant.select($"vec_id", $"q"), 10))))
      .select($"vec_id", $"cell").localCheckpoint()
    val qCellCount = res.join(a2, "vec_id")
      .join(a2.select($"vec_id".as("qid"), $"cell".as("qcell")), "qid")
      .groupBy($"qid").agg(countDistinct($"cell").as("cells"))
    assert(qCellCount.filter($"cells" > 2).count() == 0,
      "neighbors drawn from more than `probes` cells")
    // bit-identical replay (train + encode + route + scan + re-rank)
    val res2 = VectorOps.ivfPqRerankTopK(emb, k = 10, numQueries = 5,
      probes = 2, rerank = 20, topK = 5)
    assert(res.except(res2).count() == 0 && res2.except(res).count() == 0)
  }

  test("q128: stored-index serve replays the in-query stack bit-identically") {
    import graft.ops.VectorOps
    val emb = graft.GenFixtures.clusteredEmbeddings(spark, 400)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-idx").toString
    VectorOps.buildIvfPqIndex(emb, dir, k = 8)
    // the persisted layout is the serving contract: coarse cells,
    // codebook, and codes partitioned into cell=... directories
    assert(new java.io.File(s"$dir/codes").listFiles()
      .exists(_.getName.startsWith("cell=")), "codes not cell-partitioned")
    val served = VectorOps.servedIvfPqTopK(spark, dir, emb,
      numQueries = 5, probes = 2, rerank = 10, topK = 3).localCheckpoint()
    val inq = VectorOps.ivfPqRerankTopK(emb, k = 8, numQueries = 5,
      probes = 2, rerank = 10, topK = 3)
    assert(served.count() == 15)
    assert(served.except(inq).count() == 0 && inq.except(served).count() == 0)
  }

  test("index append (q129): new vectors route/encode against the FROZEN store") {
    import graft.ops.VectorOps
    val emb = graft.GenFixtures.clusteredEmbeddings(spark, 500)
    val base = emb.filter($"vec_id" < 450)
    val tail = emb.filter($"vec_id" >= 450)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-append").toString
    VectorOps.buildIvfPqIndex(base, dir, k = 8)
    val coarseBefore = spark.read.parquet(s"$dir/coarse").collect().toSet
    val cbBefore = spark.read.parquet(s"$dir/codebook").collect().toSet
    VectorOps.appendToIvfPqIndex(spark, tail, dir)
    // maintenance contract: cells and codebook are FROZEN by the append
    assert(spark.read.parquet(s"$dir/coarse").collect().toSet == coarseBefore)
    assert(spark.read.parquet(s"$dir/codebook").collect().toSet == cbBefore)
    // every vector has exactly one code row after the append
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == 500)
    assert(codes.select("vec_id").distinct().count() == 500)
    // appended rows landed in the cell the stored coarse assigns them to
    val quant = tail.withColumn("q", expr(VectorOps.quantExpr))
      .select($"vec_id", $"q")
    val want = VectorOps.kmeansAssign(quant, spark.read.parquet(s"$dir/coarse"))
      .select($"vec_id", $"cell")
    val got = codes.filter($"vec_id" >= 450).select($"vec_id", $"cell")
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("vector build completes under a RELIABLE checkpoint dir and matches local") {
    // the 100 TB setting (VERDICT r10 #2): executor-local checkpoint
    // blocks die with the executor; a reliable dir must be a drop-in
    import graft.ops.VectorOps
    val emb = graft.GenFixtures.clusteredEmbeddings(spark, 200)
    val dir = java.nio.file.Files.createTempDirectory("vec-ckpt").toString
    val res = VectorOps.ivfPqRerankTopK(emb, k = 8, numQueries = 5,
      probes = 2, rerank = 10, topK = 3,
      checkpointDir = Some(dir)).localCheckpoint()
    assert(res.count() == 15)
    // the reliable checkpoints actually landed in the dir
    assert(new java.io.File(dir).listFiles().nonEmpty, "no checkpoint written")
    val local = VectorOps.ivfPqRerankTopK(emb, k = 8, numQueries = 5,
      probes = 2, rerank = 10, topK = 3)
    assert(res.except(local).count() == 0 && local.except(res).count() == 0)
  }

  test("dead-cell re-seeding: dead ids pair with worst-served non-query points, deterministically") {
    // the kmeansFit between-rounds repair (VERDICT r11 #1): a cell id
    // absent from the update's output is re-seeded as a singleton at
    // the worst-served point of the last assignment — (dist DESC,
    // vec_id) rank paired with dead ids ascending, queries (vec_id <
    // SEED_FROM) never eligible (they must stay out of the quantizer)
    import graft.ops.VectorOps
    val cents = Seq((0, Seq(0L, 0L), 2L), (2, Seq(10L, 10L), 3L))
      .toDF("cell", "s", "n")
    val assigned = Seq(
      (13L, Seq(1L, 1L), 0, 5.0),
      (17L, Seq(9L, 9L), 2, 9.0),
      (12L, Seq(2L, 2L), 0, 9.0), // dist tie with vec 17 -> lower id ranks first
      (1L, Seq(99L, 99L), 2, 50.0) // a benchmark query: worst-served but excluded
    ).toDF("vec_id", "q", "cell", "dist")
    val out = VectorOps.reseedDead(cents, assigned, k = 4)
      .orderBy($"cell").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(0, 1, 2, 3), "cells 1 and 3 not re-seeded")
    assert(out(1)._2 == Seq(2L, 2L) && out(1)._3 == 1L,
      "dead cell 1 should take the worst non-query point (vec 12 by tie-break)")
    assert(out(3)._2 == Seq(9L, 9L) && out(3)._3 == 1L,
      "dead cell 3 should take the second-worst non-query point (vec 17)")
    // live cells untouched
    assert(out(0)._2 == Seq(0L, 0L) && out(0)._3 == 2L)
    assert(out(2)._2 == Seq(10L, 10L) && out(2)._3 == 3L)
    // no-op when every cell is live
    val full = Seq((0, Seq(0L, 0L), 1L), (1, Seq(1L, 1L), 1L))
      .toDF("cell", "s", "n")
    assert(VectorOps.reseedDead(full, assigned, k = 2).collect().length == 2)
  }
}
