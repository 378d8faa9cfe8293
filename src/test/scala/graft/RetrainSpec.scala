package graft

import org.apache.spark.sql.functions._
import graft.ops.{IndexStore, VectorOps}

/** The ANN store's RETRAIN-TRIGGER policy (round 16, VERDICT r15 Next
  * #6): q129/q130 prove append/compact mechanics, but a codebook
  * trained on yesterday's distribution quietly loses recall as
  * appended vectors diverge from it. The policy is quantization-error
  * drift: the build stamps its training-time mean coarse error
  * (`qe_base`) and snapshot version; `appendedDriftRatio` reads ONLY
  * the appended rows (manifest diff) and compares their error against
  * the stamp; `needsRetrain` fires past a threshold. This spec pins
  * the polarity on both sides: in-distribution appends must NOT fire
  * (a policy that always retrains is as useless as one that never
  * does), diverged appends MUST. */
class RetrainSpec extends SparkSpec {
  import spark.implicits._

  test("drift policy: in-distribution appends hold ratio ~1, a diverged " +
       "append population fires needsRetrain") {
    val emb = GenFixtures.clusteredEmbeddings(spark, 700).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("idx-drift").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 500), dir, k = 8)
    // the stamps ride in the manifest the build publishes
    val built = IndexStore.snapshot(dir)
    assert(built.stamps.get("qe_base").exists(_.toDouble > 0.0),
      "build must stamp the training-time quantization error")
    assert(built.stamps.get("built_version").contains(built.version.toString),
      s"build must stamp its own version: ${built.stamps}")
    assert(!IndexStore.props(dir).contains("qe_base"),
      "build stamps must not be written to store props")
    assert(VectorOps.appendedDriftRatio(spark, dir).isEmpty,
      "no appends yet -> no ratio")
    assert(!VectorOps.needsRetrain(spark, dir))

    // append 200 vectors from the SAME generator: drift ≈ 1
    VectorOps.appendToIvfPqIndex(spark,
      emb.filter($"vec_id" >= 500), dir, Some("in-dist"))
    val inDist = VectorOps.appendedDriftRatio(spark, dir).get
    assert(inDist > 0.5 && inDist < 1.5,
      s"in-distribution appends must read ~1x the training error: $inDist")
    assert(!VectorOps.needsRetrain(spark, dir),
      "the policy must not fire on in-distribution appends")

    // a second store from the same build, appended ONLY with a DIVERGED
    // population: deterministic seeded random unit vectors, nowhere
    // near the trained clusters (random directions in d dims sit at
    // near-orthogonal distance from every centroid; the trained points
    // sit within their cluster spread)
    val dir2 = java.nio.file.Files.createTempDirectory("idx-drift2").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 500), dir2, k = 8)
    val dim = emb.select(size($"embedding")).head.getInt(0)
    val shifted = spark.range(10000, 10200).map { id =>
      val rng = new java.util.Random(id)
      val v = Array.fill(dim)(rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (id, v.map(_ / n))
    }.toDF("vec_id", "embedding")
    VectorOps.appendToIvfPqIndex(spark, shifted, dir2, Some("diverged"))
    val drifted = VectorOps.appendedDriftRatio(spark, dir2).get
    assert(drifted > 1.5,
      s"a diverged append population must exceed the 1.5x threshold: $drifted")
    assert(VectorOps.needsRetrain(spark, dir2),
      "the policy must fire once appended vectors outgrow the codebook")

    // the INCREMENTAL response (round 17, VERDICT r16 #3): refine only
    // the drifted cells — the trigger clears, no vector is lost, the
    // router grows split cells, untouched cells' files carry forward
    // byte-identical, and the store still serves
    val headBefore = IndexStore.snapshot(dir2)
    val coarseBefore = spark.read.parquet(s"$dir2/coarse").count()
    val split = VectorOps.refineDriftedCells(spark, dir2, minCellMass = 20L)
    assert(split.nonEmpty,
      "a fired trigger with concentrated appended mass must name drifted cells")
    assert(!VectorOps.needsRetrain(spark, dir2),
      "the refine response must clear the trigger (policy window restarts)")
    val headAfter = IndexStore.snapshot(dir2)
    assert(headAfter.stamps.get("built_version").contains(headAfter.version.toString) &&
      headAfter.stamps.get("last_replace_version").contains(headAfter.version.toString) &&
      headAfter.stamps.get("qe_base") == headBefore.stamps.get("qe_base"),
      s"a refine restamps built_version to its own version: ${headAfter.stamps}")
    // untouched cells' data files carried forward byte-identical
    val untouchedBefore = headBefore.codes.filterNot(f =>
      split.exists(c => f.startsWith(s"cell=$c/"))).toSet
    assert(untouchedBefore.subsetOf(headAfter.codes.toSet),
      "refine must carry untouched cells' files, not rewrite them")
    // no split cell's partition survives in the new snapshot
    assert(!headAfter.codes.exists(f =>
      split.exists(c => f.startsWith(s"cell=$c/"))),
      "split cells' old partitions must be replaced")
    // content preserved exactly: every vec_id still present once
    val (codes, vecs) = IndexStore.frames(spark, dir2, headAfter)
    assert(codes.select($"vec_id").distinct().count() == 700 &&
      codes.count() == 700, "refine lost or duplicated code rows")
    assert(vecs.count() == 700, "refine lost or duplicated vector rows")
    // the router gained the split cells (net: -1 drifted +SPLIT_FACTOR)
    val coarseAfter = spark.read.parquet(s"$dir2/coarse")
    assert(coarseAfter.count() > coarseBefore - split.size,
      "refine must add sub-centroids for the split cells")
    // codes live only in cells the router knows
    val routed = coarseAfter.select($"cell").collect().map(_.getInt(0)).toSet
    val codeCells = codes.select($"cell").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(codeCells.subsetOf(routed),
      s"orphan code cells after refine: ${codeCells -- routed}")
    // and the store still serves the full query contract
    assert(VectorOps.servedIvfPqTopK(spark, dir2,
      emb.filter($"vec_id" < 500), numQueries = 5, probes = 2,
      rerank = 10, topK = 3).count() == 15)

    // idempotent-by-policy: a second refine with nothing appended since
    // is a no-op (same None conditions as the drift ratio)
    assert(VectorOps.refineDriftedCells(spark, dir2).isEmpty)

    // and the documented FULL response — a rebuild over the grown
    // corpus — resets the stamp and clears the trigger
    VectorOps.buildIvfPqIndex(
      emb.filter($"vec_id" < 500)
        .unionByName(shifted.withColumn("label", lit(0))), dir2, k = 8)
    assert(VectorOps.appendedDriftRatio(spark, dir2).isEmpty,
      "a rebuild re-stamps built_version at HEAD: nothing appended since")
    assert(!VectorOps.needsRetrain(spark, dir2))
  }

  test("incremental refine: generation codebook serves the split cells, " +
       "appends after a refine encode per generation, and oversized " +
       "drift DECLINES to rebuild without mutating the store") {
    val emb = GenFixtures.clusteredEmbeddings(spark, 700).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("idx-gen").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 500), dir, k = 8)
    // a far localized blob (constant shift — a new domain in the feed):
    // lands in 1-2 cells, far outside the trained codebook's range
    def shifted(lo: Long, hi: Long, idBase: Long) =
      emb.filter($"vec_id" >= lo && $"vec_id" < hi)
        .withColumn("embedding",
          expr("transform(embedding, x -> x + cast(2.5 AS float))"))
        .withColumn("vec_id", $"vec_id" - lo + idBase)
        .select($"vec_id", $"embedding")
    VectorOps.appendToIvfPqIndex(spark, shifted(500, 650, 10000), dir,
      Some("blob"))
    assert(VectorOps.needsRetrain(spark, dir))
    val split = VectorOps.refineDriftedCells(spark, dir, minCellMass = 20L)
    assert(split.nonEmpty, "localized blob must name its drifted cells")
    // the refine left a generation: tagged router + codebook2 rows
    val coarseAfter = spark.read.parquet(s"$dir/coarse")
    val gens = VectorOps.cellGensOf(coarseAfter)
    assert(gens.nonEmpty && gens.values.max == 1,
      s"split cells must carry codebook generation 1: $gens")
    val cb2 = spark.read.parquet(s"$dir/codebook2")
    assert(cb2.filter($"gen" === 1).count() > 0,
      "generation 1 must have re-fitted codebook rows")
    // blob queries served THROUGH the generation path return only
    // blob-region neighbors (exact re-rank over gen-ADC candidates)
    val served = VectorOps.servedIvfPqTopK(spark, dir,
      shifted(500, 505, 0), numQueries = 5, probes = 2, rerank = 10,
      topK = 3).collect()
    assert(served.length == 15)
    assert(served.forall(_.getAs[Long]("vec_id") >= 10000),
      "a blob query's neighbors are blob members — the generation " +
      s"codebook must rank them: ${served.mkString(",")}")
    // appending MORE of the (now modeled) domain encodes against the
    // generation codebook and must NOT re-fire the trigger: the split
    // cells' dedicated centroids absorb it in-distribution
    VectorOps.appendToIvfPqIndex(spark, shifted(300, 350, 20000), dir,
      Some("blob2"))
    assert(VectorOps.appendedDriftRatio(spark, dir).isDefined)
    assert(!VectorOps.needsRetrain(spark, dir),
      "post-refine appends of the refined domain are in-distribution")
    val served2 = VectorOps.servedIvfPqTopK(spark, dir,
      shifted(500, 505, 0), numQueries = 5, probes = 2, rerank = 10,
      topK = 3).collect()
    assert(served2.length == 15 &&
      served2.forall(_.getAs[Long]("vec_id") >= 10000))

    // PROPORTIONALITY GUARD: drifted mass past maxRefineFraction
    // declines by name — empty result, store untouched, trigger still
    // up (the caller's fallback is the documented full rebuild)
    val dirG = java.nio.file.Files.createTempDirectory("idx-guard").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 200), dirG, k = 8)
    val dim = emb.select(size($"embedding")).head.getInt(0)
    val big = spark.range(30000, 30600).map { id =>
      val rng = new java.util.Random(id)
      val v = Array.fill(dim)(rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (id, v.map(_ / n))
    }.toDF("vec_id", "embedding")
    VectorOps.appendToIvfPqIndex(spark, big, dirG, Some("flood"))
    assert(VectorOps.needsRetrain(spark, dirG))
    val vBefore = IndexStore.snapshot(dirG).version
    assert(VectorOps.refineDriftedCells(spark, dirG).isEmpty,
      "75% drifted mass must decline to rebuild")
    assert(IndexStore.snapshot(dirG).version == vBefore,
      "a declined refine must not publish anything")
    assert(VectorOps.needsRetrain(spark, dirG),
      "declining must leave the trigger up for the rebuild fallback")
  }

  test("driftSink: the index tailer ingests, watches its own drift, and " +
       "repairs cell-locally MID-STREAM — in-distribution tick quiet, " +
       "diverged tick fires AND refines, post-refine tick of the same " +
       "domain reads clean; replays restamp nothing; oversized drift " +
       "DECLINES by name") {
    val emb = GenFixtures.clusteredEmbeddings(spark, 700).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("idx-dsink").toString
    val landing = java.nio.file.Files.createTempDirectory("idx-dsink-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("idx-dsink-ck").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 500), dir, k = 8)
    def stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
      .parquet(landing)
    def drain(): Unit =
      graft.streaming.IndexMaintenance.driftSink(stream, dir, ckpt,
        minCellMass = 20L, refineIters = 1, maxRefineFraction = 0.75)
        .start().awaitTermination()
    def stamp(b: Int): String =
      IndexStore.props(dir).getOrElse(s"drift_policy_b$b", "<missing>")
    def shifted(lo: Long, hi: Long, idBase: Long) =
      emb.filter($"vec_id" >= lo && $"vec_id" < hi)
        .withColumn("embedding",
          expr("transform(embedding, x -> x + cast(2.5 AS float))"))
        .withColumn("vec_id", $"vec_id" - lo + idBase)
        .select($"vec_id", $"embedding", $"label")

    // tick 1: in-distribution appends — the policy must NOT fire
    emb.filter($"vec_id" >= 500)
      .repartition(1).write.mode("overwrite").parquet(landing)
    drain()
    assert(stamp(0) == "0:0:0",
      s"in-distribution tick must stamp quiet: ${stamp(0)}")

    // tick 2 (the stream was KILLED and is RESUMED): a diverged blob —
    // the policy fires and the cell-local response runs INSIDE the tick
    shifted(0, 150, 10000)
      .repartition(1).write.mode("append").parquet(landing)
    drain()
    val parts1 = stamp(1).split(':')
    assert(parts1(0) == "1" && parts1(1).toInt > 0 && parts1(2) == "0",
      s"diverged tick must fire AND refine: ${stamp(1)}")
    assert(!VectorOps.needsRetrain(spark, dir),
      "the in-tick refine must leave a clean policy window")
    val gens = VectorOps.cellGensOf(spark.read.parquet(s"$dir/coarse"))
    assert(gens.nonEmpty && gens.values.max == 1,
      s"the refine must have split against a generation codebook: $gens")

    // a replayed (already-drained) checkpoint restamps NOTHING and
    // publishes nothing — first-write-wins audit history
    val vDrained = IndexStore.headVersion(dir).get
    val propsBefore = IndexStore.props(dir)
      .view.filterKeys(_.startsWith("drift_policy_")).toMap
    drain()
    assert(IndexStore.headVersion(dir).contains(vDrained),
      "drained-checkpoint replay published a version")
    assert(IndexStore.props(dir)
        .view.filterKeys(_.startsWith("drift_policy_")).toMap == propsBefore,
      "replay altered the audit stamps")

    // tick 3: MORE of the refined domain — the generation cells absorb
    // it in-distribution; the trigger stays quiet (the response actually
    // repaired what it measured)
    shifted(150, 300, 20000)
      .repartition(1).write.mode("append").parquet(landing)
    drain()
    assert(stamp(2) == "0:0:0",
      s"post-refine tick of the refined domain must read clean: ${stamp(2)}")
    // exactly-once across all three ticks + the refine's replacement
    // commits: every row present once in both tables
    val (codes, vecs) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
    assert(codes.count() == 1000 &&
      codes.select($"vec_id").distinct().count() == 1000,
      "ticks + refine lost or duplicated code rows")
    assert(vecs.count() == 1000, "ticks + refine lost or duplicated vectors")

    // DECLINED path: drifted mass past maxRefineFraction — the sink
    // records fired:0:declined and mutates nothing beyond the append
    val dirG = java.nio.file.Files.createTempDirectory("idx-dsink-g").toString
    val landG = java.nio.file.Files.createTempDirectory("idx-dsink-gi").toString
    val ckG = java.nio.file.Files.createTempDirectory("idx-dsink-gc").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 200), dirG, k = 8)
    val dim = emb.select(size($"embedding")).head.getInt(0)
    spark.range(30000, 30600).map { id =>
      val rng = new java.util.Random(id)
      val v = Array.fill(dim)(rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (id, v.map(_ / n), 0)
    }.toDF("vec_id", "embedding", "label")
      .repartition(1).write.mode("overwrite").parquet(landG)
    val vG = IndexStore.headVersion(dirG).get
    graft.streaming.IndexMaintenance.driftSink(
        spark.readStream
          .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
          .parquet(landG), dirG, ckG,
        minCellMass = 20L, refineIters = 1, maxRefineFraction = 0.75)
      .start().awaitTermination()
    assert(IndexStore.props(dirG)
        .getOrElse("drift_policy_b0", "<missing>") == "1:0:1",
      "an oversized flood must record fired + declined")
    assert(IndexStore.headVersion(dirG).contains(vG + 1),
      "a declined refine must publish ONLY the append snapshot")
    assert(VectorOps.needsRetrain(spark, dirG),
      "declining must leave the trigger up for the rebuild fallback")
  }

  test("drift policy degrades HONESTLY under the store's own lifecycle: " +
       "compaction yields None (never a diluted ~1), vacuum yields None " +
       "(never a crash)") {
    val emb = GenFixtures.clusteredEmbeddings(spark, 700).localCheckpoint()
    // compaction rewrites every file: a manifest diff across it would
    // read the WHOLE corpus as appended and dilute a real divergence
    // toward 1.0 — the policy must say "signal unavailable", not "fine"
    val dir = java.nio.file.Files.createTempDirectory("idx-drift-c").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 500), dir, k = 8)
    VectorOps.appendToIvfPqIndex(spark,
      emb.filter($"vec_id" >= 500), dir, Some("a1"))
    assert(VectorOps.appendedDriftRatio(spark, dir).isDefined)
    VectorOps.compactIvfPqIndex(spark, dir)
    val compacted = IndexStore.snapshot(dir)
    assert(compacted.stamps.get("last_replace_version")
      .contains(compacted.version.toString) &&
      compacted.stamps.contains("qe_base"),
      s"compaction must carry the build stamps and stamp itself: ${compacted.stamps}")
    assert(VectorOps.appendedDriftRatio(spark, dir).isEmpty,
      "a compaction inside the policy window must surface as no-signal")
    assert(!VectorOps.needsRetrain(spark, dir))

    // vacuum past the build manifest: the incremental read is gone —
    // None, not an exception from snapshotAt
    val dir2 = java.nio.file.Files.createTempDirectory("idx-drift-v").toString
    VectorOps.buildIvfPqIndex(emb.filter($"vec_id" < 500), dir2, k = 8)
    VectorOps.appendToIvfPqIndex(spark,
      emb.filter($"vec_id" >= 500), dir2, Some("a1"))
    VectorOps.vacuumIvfPqIndex(dir2) // keepLast=1 prunes the build manifest
    assert(VectorOps.appendedDriftRatio(spark, dir2).isEmpty,
      "a vacuumed build manifest must read as no-signal, not crash")
    assert(!VectorOps.needsRetrain(spark, dir2))

    // and a rebuild restores the signal from a clean window
    VectorOps.buildIvfPqIndex(emb, dir, k = 8)
    val rebuilt = IndexStore.snapshot(dir)
    assert(!rebuilt.stamps.contains("last_replace_version") &&
      rebuilt.stamps.get("built_version").contains(rebuilt.version.toString),
      s"a rebuild's manifest must carry only its own stamps: ${rebuilt.stamps}")
    VectorOps.appendToIvfPqIndex(spark,
      emb.filter($"vec_id" >= 500).withColumn("vec_id", $"vec_id" + 10000),
      dir, Some("a2"))
    assert(VectorOps.appendedDriftRatio(spark, dir).isDefined,
      "a rebuild clears last_replace_version and restores the signal")
  }
}
