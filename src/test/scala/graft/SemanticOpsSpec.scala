package graft

import org.apache.spark.sql.functions._
import graft.ops.{SemanticOps, TextOps, VectorOps}

/** Oracle-independent invariants for the semantic-curation family
  * (q131 SemDeDup, q132 sequence packing, q133 cluster-balanced
  * sample) on the sf0.001 fixture — structural properties that must
  * hold for ANY corpus, complementing the hash gate's exact replay.
  */
class SemanticOpsSpec extends SparkSpec {

  private val SF = "/root/testdata/sf0.001"

  test("q131: keep flags partition the corpus; every dropped vector has " +
       "a same-cell witness that beats it under the keep policy") {
    val out = SemanticOps.queries("q131_semantic_dedup")(spark, SF)
      .localCheckpoint()
    val n = out.count()
    assert(n == 500, s"one row per corpus vector, got $n")
    val dropped = out.filter(col("keep") === 0L).count()
    assert(dropped > 0 && dropped < n,
      s"prune set should be non-degenerate, got $dropped of $n")
    // independent witness check: recompute within-cell cosines and the
    // centroid-distance ranking from scratch via the public pieces
    val emb = Tables.rebalance(Tables.embeddings(spark, SF))
    val quant = emb.withColumn("q", expr(VectorOps.quantExpr))
      .select(col("vec_id"), col("q"))
    val assigned = VectorOps.kmeansAssign(quant,
      VectorOps.kmeansFit(quant, VectorOps.GATED_K,
        VectorOps.IVF_COARSE_ITERS))
      .withColumn("norm", graft.functions.VectorFunctions.ldot(col("q"), col("q")))
    val a = assigned.select(col("vec_id").as("v1"), col("cell"),
      col("q").as("q1"), col("norm").as("m1"), col("dist").as("d1"))
    val b = assigned.select(col("vec_id").as("v2"), col("cell"),
      col("q").as("q2"), col("norm").as("m2"), col("dist").as("d2"))
    val witnesses = a.join(b, Seq("cell"))
      .filter(col("v1") =!= col("v2"))
      .withColumn("cos",
        graft.functions.VectorFunctions.ldot(col("q1"), col("q2")).cast("double") /
          sqrt(col("m1").cast("double")) / sqrt(col("m2").cast("double")))
      .filter(col("cos") >= SemanticOps.SEMDEDUP_T)
      // v1 loses to v2 when v2 ranks ahead under (dist DESC, vec_id ASC)
      .filter(col("d2") > col("d1") ||
        (col("d2") === col("d1") && col("v2") < col("v1")))
      .select(col("v1").as("vec_id")).distinct()
    val flagged = out.filter(col("keep") === 0L).select(col("vec_id"))
    assert(flagged.exceptAll(witnesses).count() == 0,
      "a dropped vector has no qualifying same-cell witness")
    assert(witnesses.exceptAll(flagged).count() == 0,
      "a vector with a qualifying witness was not dropped")
  }

  test("q137: multi-probe drop set is a superset of single-probe's " +
       "(the primary cell is always among the probes)") {
    val p1 = SemanticOps.queries("q131_semantic_dedup")(spark, SF)
      .filter(col("keep") === 0L).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    val p2 = SemanticOps.queries("q137_semantic_dedup_probes")(spark, SF)
      .filter(col("keep") === 0L).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(p1.subsetOf(p2),
      s"probes=2 lost drops probes=1 found: ${p1 -- p2}")
    assert(p2.size > p1.size,
      "the second probe surfaced no cross-boundary pairs on this corpus")
  }

  test("q132: per-shard packing arithmetic is self-consistent") {
    val out = TextOps.queries("q132_sequence_pack")(spark, SF).collect()
    assert(out.length == TextOps.PACK_SHARDS)
    val L = TextOps.PACK_SEQ_LEN
    out.foreach { r =>
      val nDocs = r.getAs[Long]("n_docs")
      val nTok = r.getAs[Long]("n_tokens")
      val nSeqs = r.getAs[Long]("n_seqs")
      val nStr = r.getAs[Long]("n_straddles")
      val pad = r.getAs[Long]("pad_tokens")
      assert(nSeqs == (nTok + L - 1) / L,
        s"contiguous packing must yield ceil(tokens/L) sequences ($r)")
      assert(pad == nSeqs * L - nTok, s"pad is the terminal remainder ($r)")
      assert(nStr <= nSeqs - 1 || nStr == 0,
        s"each straddle consumes a distinct boundary ($r)")
      assert(nStr <= nDocs, s"a doc straddles at most once in this gate ($r)")
    }
    val totStr = out.map(_.getAs[Long]("n_straddles")).sum
    assert(totStr > 0, "fixture must exercise the straddle path")
  }

  test("q136: span map partitions every document exactly and agrees with " +
       "q132's aggregates") {
    val spans = TextOps.queries("q136_pack_spans")(spark, SF).localCheckpoint()
    val L = TextOps.PACK_SEQ_LEN
    // offsets/lengths inside the sequence budget
    assert(spans.filter(col("off_in_seq") < 0 || col("off_in_seq") >= L ||
      col("len_in_seq") <= 0 ||
      col("off_in_seq") + col("len_in_seq") > L).count() == 0,
      "a span escapes its sequence budget")
    // per-document span lengths sum to the token count
    val sums = spans.groupBy(col("doc_id"))
      .agg(sum(col("len_in_seq")).as("spanned"), count(lit(1)).as("n_spans"))
    val toks = Tables.documents(spark, SF)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    assert(sums.join(toks, "doc_id")
      .filter(col("spanned") =!= col("n_toks")).count() == 0,
      "span lengths do not reassemble the document")
    // docs with >1 span are exactly q132's straddles
    val straddlers = sums.filter(col("n_spans") > 1).count()
    val q132Straddles = TextOps.queries("q132_sequence_pack")(spark, SF)
      .agg(sum(col("n_straddles"))).head.getLong(0)
    assert(straddlers == q132Straddles,
      s"span map straddlers ($straddlers) != q132 straddle count ($q132Straddles)")
  }

  test("q134: every filtered-serve result satisfies the predicate, and " +
       "the filter is binding vs the unfiltered serve") {
    val unfiltered = graft.ops.VectorOps.queries("q128_ann_serve_stored")(spark, SF)
      .select(col("qid"), col("vec_id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val filtered = graft.ops.VectorOps.queries("q134_ann_filtered_serve")(spark, SF)
      .select(col("qid"), col("vec_id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = Tables.embeddings(spark, SF)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(filtered.nonEmpty)
    filtered.foreach { case (_, v) =>
      assert(labels(v) % 2 == 0, s"vec $v violates the predicate") }
    assert(filtered.toSet != unfiltered.toSet,
      "predicate did not bind — filtered and unfiltered serves identical")
  }

  test("q135: fused ranking prefers docs surfaced by both arms; rrf " +
       "bounds hold") {
    val out = SemanticOps.queries("q135_hybrid_rrf")(spark, SF).collect()
    assert(out.nonEmpty && out.length <= 5 * SemanticOps.HYBRID_QUERIES)
    out.foreach { r =>
      val rrf = r.getAs[Double]("rrf")
      // one arm contributes at most 1/(k+1); two arms at most 2/(k+1)
      assert(rrf > 0.0 && rrf <= 2.0 / (SemanticOps.RRF_K + 1) + 1e-12,
        s"rrf out of bounds: $r")
    }
    // within each query the ranking must be by (rrf desc, doc_id asc)
    out.groupBy(_.getAs[Long]("qid")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rn"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (ra, rb) = (a.getAs[Double]("rrf"), b.getAs[Double]("rrf"))
          assert(ra > rb || (ra == rb &&
            a.getAs[Long]("doc_id") < b.getAs[Long]("doc_id")), s"$a !>= $b")
        case _ =>
      }
    }
  }

  test("q133: per-cell quota respected, ranks contiguous from 1, " +
       "sample is a subset of the cell's members") {
    val out = SemanticOps.queries("q133_cluster_sample")(spark, SF)
      .localCheckpoint()
    val quota = out.groupBy(col("cell")).agg(
      count(lit(1)).as("n"), max(col("rnk")).as("mx"), min(col("rnk")).as("mn"))
      .collect()
    assert(quota.nonEmpty)
    quota.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(n <= SemanticOps.SAMPLE_PER_CELL, s"quota exceeded: $r")
      assert(r.getAs[Long]("mn") == 1L && r.getAs[Long]("mx") == n,
        s"ranks must be 1..n within a cell: $r")
    }
    // no vector sampled twice
    assert(out.select(col("vec_id")).distinct().count() == out.count())
  }
}
