package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupLedger, IndexStore, TextOps}
import graft.ops.DedupLedger.{Media, Text}

/** The incremental-dedup ledger (q139/q140) and the exact-substring
  * span map (q138): the two round-12 additions to the dedup family.
  *
  * Ledger contract pinned here (the catalog gates the fixture numbers;
  * this spec gates the SEMANTICS on planted corpora):
  *   - a batch doc whose text exists verbatim in history exact-drops;
  *   - a batch doc sharing most shingles with a history doc near-drops
  *     even though its sha2 differs (the signature-only estimate — the
  *     ledger never stores history's shingles);
  *   - replaying a tagged ingest publishes nothing twice;
  *   - batch-internal exact duplicates collapse to one appended
  *     fingerprint row owned by the min doc_id;
  *   - a verdict pinned to the pre-append snapshot is byte-stable
  *     across the append (time travel isolates readers from ingest).
  */
class DedupLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private def words(n: Int, seed: String) =
    (0 until n).map(i => s"$seed$i").mkString(" ")

  test("ledger verdicts: exact hit, near hit via stored signature, clean keep") {
    val dir = java.nio.file.Files.createTempDirectory("ledger").toString
    val history = docs(
      0L -> base,
      1L -> words(30, "h"),
      2L -> words(30, "x"))
    // 10: verbatim copy of doc 0 (exact); 11: doc 1 with one token
    // appended (near: shingle overlap ~28/31, signatures mostly agree);
    // 12: fresh content (keep)
    val batch = docs(
      10L -> base,
      11L -> (words(30, "h") + " tail"),
      12L -> words(30, "z"))
    DedupLedger.buildLedger(history, dir)
    val v = DedupLedger.verdict(Text, spark, batch, dir,
      IndexStore.snapshot(dir)).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)), r.getLong(3)))
      .toMap
    assert(v(10L)._1.contains(0L), s"verbatim copy must exact-match: ${v(10L)}")
    assert(v(10L)._3 == 0L)
    assert(v(11L)._1.isEmpty, "near-dup must not exact-match")
    assert(v(11L)._2.contains(1L), s"perturbed copy must near-match: ${v(11L)}")
    assert(v(11L)._3 == 0L)
    assert(v(12L) == ((None, None, 1L)), s"fresh doc must keep: ${v(12L)}")
  }

  test("tagged ingest is idempotent and batch-internal dups collapse to one rep") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-tag").toString
    DedupLedger.buildLedger(docs(0L -> words(25, "h")), dir)
    // two identical surviving texts: only the min-id rep may land
    val survivors = docs(20L -> words(25, "s"), 21L -> words(25, "s"))
    val v1 = DedupLedger.append(Text, survivors, dir, tag = "batch-1")
    val (exact, sigs) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
    val added = exact.filter(col("owner") >= 20L).collect()
    assert(added.length == 1 && added.head.getAs[Long]("owner") == 20L,
      "batch-internal exact dups must collapse to the min-id representative")
    assert(sigs.filter(col("doc_id") === 21L).count() == 0,
      "non-representatives must not contribute signature rows")
    assert(sigs.filter(col("doc_id") === 20L).count() == 1,
      "the representative contributes exactly one signature row")
    // replay: same tag → same version, nothing appended twice
    val v2 = DedupLedger.append(Text, survivors, dir, tag = "batch-1")
    assert(v2 == v1, s"tag replay must not publish a new version ($v1 -> $v2)")
    assert(IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
      ._1.count() == exact.count())
  }

  test("pre-append snapshot is isolated from the ingest (time travel)") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-tt").toString
    val history = docs(0L -> words(25, "h"))
    val batch = docs(10L -> words(25, "h"), 11L -> words(25, "n"))
    DedupLedger.buildLedger(history, dir)
    val pinned = IndexStore.snapshot(dir)
    val before = DedupLedger.verdict(Text, spark, batch, dir, pinned)
      .collect().toSeq
    DedupLedger.append(Text, docs(11L -> words(25, "n")), dir, "b1")
    val after = DedupLedger.verdict(Text, spark, batch, dir, pinned)
      .collect().toSeq
    assert(before == after,
      "a verdict against the pinned snapshot must not see the append")
    // and HEAD does see it: 11's own fingerprint now exact-matches
    val head = DedupLedger.verdict(Text, spark, batch, dir,
      IndexStore.snapshot(dir)).filter(col("doc_id") === 11L).collect().head
    assert(head.getAs[Long]("exact_of") == 11L)
  }

  test("streaming ingest: batch 2 dedups against batch 1's survivors; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("ledger-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ledger-ckpt").toString
    DedupLedger.buildLedger(docs(0L -> words(25, "h")), dir)

    implicit val sc = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val stream = src.toDF().toDF("doc_id", "text")
    // tick 1: a history dup (drops) + two novel docs (land). Each tick
    // drains separately (AvailableNow consumes ALL queued offsets in one
    // micro-batch, so cross-batch semantics need two sink runs).
    src.addData(Seq(10L -> words(25, "h"), 11L -> words(25, "n"),
                    12L -> words(25, "m")))
    graft.streaming.DedupMaintenance.dedupSink(stream, dir, ckpt)
      .start().awaitTermination()
    // tick 2: an exact copy and a near variant of tick 1's survivor 11
    // (both must drop THROUGH THE LEDGER — batch dedup can't see them)
    // + one novel doc
    src.addData(Seq(20L -> words(25, "n"),
                    21L -> (words(25, "n") + " tail"),
                    22L -> words(25, "z")))
    graft.streaming.DedupMaintenance.dedupSink(stream, dir, ckpt)
      .start().awaitTermination()

    val (exact, _) = IndexStore.frames(spark, dir, IndexStore.snapshot(dir))
    val owners = exact.select(col("owner")).collect().map(_.getLong(0)).toSet
    assert(owners == Set(0L, 11L, 12L, 22L),
      s"ledger owners after two ticks: $owners")
    assert(IndexStore.committedTags(dir) == Set("stream-0", "stream-1"))
    val v = IndexStore.headVersion(dir).get
    // drained checkpoint: restarting the sink ingests nothing twice
    graft.streaming.DedupMaintenance.dedupSink(stream, dir, ckpt)
      .start().awaitTermination()
    assert(IndexStore.headVersion(dir).get == v,
      "restart over a drained checkpoint must publish nothing")
  }

  test("mixed streamed tick at the WIDE geometry: 16x8 image fingerprints " +
       "cross-tick dedup through the array-typed marks arm") {
    // the wide family must enter the STREAMED path purely through
    // mixedSink's geometry parameters (round-15: no narrow pinning
    // left anywhere on the ingest side)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.multimodal.MediaOps
    val dir = java.nio.file.Files.createTempDirectory("ledger-wstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ledger-wckpt").toString
    def bmp(key: Long, bump: Boolean): Array[Byte] =
      DedupLedger.mediaFixtureBmp(key, bump, 16, 8)
    val histRecs = spark.createDataset((0L until 10L).map(k =>
      MediaOps.MediaRecord(k, MediaOps.MediaMeta("image", 16, 8, 0),
        bmp(k, bump = false))))
    val histFps = MediaOps.dHashWide(histRecs, 16, 8)
      .filter(col("decoded") === 1L)
      .select(col("media_id"), col("dhash").as("fp"))
    DedupLedger.build(dir, "text,media,video",
      Text -> docs(0L -> words(25, "h")), Media() -> histFps)

    implicit val sc = spark.sqlContext
    val src = MemoryStream[(String, Long, String, Array[Byte])]
    val stream = src.toDF().toDF("kind", "doc_id", "text", "payload")
    def drain(): Unit =
      graft.streaming.DedupMaintenance.mixedSink(stream, dir, ckpt,
          gw = 16, gh = 8, imgGw = 16, imgGh = 8,
          geom = DedupLedger.WideMarks)
        .start().awaitTermination()
    // tick 1: a history copy (drops), a one-pixel edit of history
    // (hamming <= 2 at the 16x8 grid -> near-drops), a novel (lands)
    src.addData(Seq(("image", 10L, null, bmp(0, bump = false)),
                    ("image", 11L, null, bmp(1, bump = true)),
                    ("image", 12L, null, bmp(100, bump = false))))
    drain()
    // tick 2: an exact copy of TICK 1's novel (a duplicate only if the
    // wide append landed — the cross-tick proof) + a new novel
    src.addData(Seq(("image", 20L, null, bmp(100, bump = false)),
                    ("image", 21L, null, bmp(200, bump = false))))
    drain()
    val owners = IndexStore.marksFrame(spark, dir, IndexStore.snapshot(dir),
        IndexStore.MARKS_DDL)
      .select(col("owner")).collect().map(_.getLong(0)).toSet
    assert(owners == (0L until 10L).toSet ++ Set(12L, 21L),
      s"wide streamed marks owners after two ticks: $owners")
  }

  test("diffFrames reads exactly the appended rows, from only the new files") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-diff").toString
    DedupLedger.buildLedger(docs(0L -> words(25, "h"), 1L -> words(25, "g")), dir)
    val v1 = IndexStore.snapshot(dir)
    DedupLedger.append(Text, docs(10L -> words(25, "a")), dir, "b1")
    DedupLedger.append(Text, docs(11L -> words(25, "b")), dir, "b2")
    val (ex, sg) = IndexStore.diffFrames(spark, dir, v1, IndexStore.snapshot(dir))
    assert(ex.select(col("owner")).collect().map(_.getLong(0)).toSet ==
      Set(10L, 11L), "changelog exact rows != the two appended batches")
    assert(sg.select(col("doc_id")).collect().map(_.getLong(0)).toSet ==
      Set(10L, 11L))
    // empty range → empty frames, schema intact
    val (e0, s0) = IndexStore.diffFrames(spark, dir, v1, v1)
    assert(e0.count() == 0 && s0.count() == 0)
    assert(e0.columns.contains("owner") && s0.columns.contains("sig"))
  }

  test("ledger compaction + vacuum preserve verdicts (layout-only ops)") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-compact").toString
    DedupLedger.buildLedger(docs(0L -> words(25, "h"), 1L -> words(25, "g")), dir)
    for (i <- 0 until 3) // three append generations → small-file decay
      DedupLedger.append(Text, docs((10L + i) -> words(25, s"s$i")), dir,
        tag = s"b$i")
    val probe = docs(30L -> words(25, "h"), 31L -> words(25, "s1"),
                     32L -> words(25, "w"))
    val before = DedupLedger.verdict(Text, spark, probe, dir,
      IndexStore.snapshot(dir)).collect().toSeq
    IndexStore.compact(spark, dir)
    IndexStore.vacuum(dir)
    val after = DedupLedger.verdict(Text, spark, probe, dir,
      IndexStore.snapshot(dir)).collect().toSeq
    assert(before == after, "compaction/vacuum changed ledger verdicts")
    // sized layout: each exact cell directory holds exactly one file
    val snap = IndexStore.snapshot(dir)
    val perCell = snap.codes.groupBy(_.split('/').head).map(_._2.size)
    assert(perCell.forall(_ == 1),
      s"compaction left multiple files in a cell: ${snap.codes}")
  }

  test("dup span map: planted runs merge to exact spans; clean docs absent") {
    val k = TextOps.SPAN_K
    val shared = words(12, "dup") // 12-token duplicated run, > SPAN_K
    val d = docs(
      0L -> (words(10, "a") + " " + shared + " " + words(10, "b")),
      1L -> (words(10, "c") + " " + shared + " " + words(10, "d")),
      2L -> words(40, "e"))
    val spans = TextOps.dupSpanMap(d, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the duplicated run is 12 tokens at offset 10 in both docs: its
    // 12-8+1 = 5 duplicated 8-grams merge back to ONE span of length 12
    assert(spans.toSet == Set((0L, 1L, 10L, 12L), (1L, 1L, 10L, 12L)),
      s"got ${spans.toSeq}")
  }

  test("dup span map: two separated runs stay two spans, adjacent runs merge") {
    val k = TextOps.SPAN_K
    val r1 = words(9, "p")
    val r2 = words(9, "q")
    // doc 0/1 share r1 at offset 0 and r2 at offset 9+gap — a gap wider
    // than zero keeps them separate spans; doc 2/3 share r1 immediately
    // followed by r2 → one merged 18-token span
    val d = docs(
      0L -> (r1 + " " + words(10, "g") + " " + r2),
      1L -> (r1 + " " + words(10, "h") + " " + r2),
      2L -> (r1 + " " + r2 + " " + words(10, "i")),
      3L -> (r1 + " " + r2 + " " + words(10, "j")))
    val spans = TextOps.dupSpanMap(d, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(spans == Set(
      (0L, 1L, 0L, 9L), (0L, 2L, 19L, 9L),
      (1L, 1L, 0L, 9L), (1L, 2L, 19L, 9L),
      (2L, 1L, 0L, 18L), (3L, 1L, 0L, 18L)), s"got $spans")
  }

  test("cloneStore: the clone is a valid independent store; mutating it never touches the source") {
    // q152 provisions its per-execution ledger by cloning the cached
    // history seed — a clone that kept ANY live reference to the
    // source (hard link, shared manifest, absolute path in a manifest
    // line) would silently poison the seed for every later execution.
    val src = java.nio.file.Files.createTempDirectory("clone-src").toString
    DedupLedger.buildLedger(docs(0L -> words(25, "h"), 1L -> words(25, "g")), src)
    val srcSnap = IndexStore.snapshot(src)
    val dst = new java.io.File(
      java.nio.file.Files.createTempDirectory("clone-dst").toFile, "led")
      .getAbsolutePath
    DedupLedger.cloneStore(src, dst)
    // the clone serves identically at its own location
    val probe = docs(10L -> words(25, "h"), 11L -> words(25, "w"))
    val fromSrc = DedupLedger.verdict(Text, spark, probe, src, srcSnap)
      .collect().map(_.toSeq).toSeq
    val fromDst = DedupLedger.verdict(Text, spark, probe, dst,
      IndexStore.snapshot(dst)).collect().map(_.toSeq).toSeq
    assert(fromDst == fromSrc, "clone must serve the source's verdicts")
    // mutate the clone: append + compact + vacuum
    DedupLedger.append(Text, docs(11L -> words(25, "w")), dst, "c1")
    IndexStore.compact(spark, dst)
    IndexStore.vacuum(dst)
    // the source is bit-untouched: same head, same file list, same verdict
    assert(IndexStore.snapshot(src) == srcSnap,
      "mutating the clone changed the source's snapshot")
    assert(DedupLedger.verdict(Text, spark, probe, src,
      IndexStore.snapshot(src)).collect().map(_.toSeq).toSeq == fromSrc,
      "mutating the clone changed the source's verdicts")
    // and the mutation is visible in the clone
    assert(IndexStore.headVersion(dst).get > IndexStore.headVersion(src).get)
  }
}
