package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed BPE tokenizer TRAINING (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the
  * vocabulary-induction pass a training-data pipeline runs before it
  * can tokenize anything: iteratively merge the most frequent adjacent
  * symbol pair, starting from characters.
  *
  * The scale shape is the one every industrial BPE trainer uses: the
  * corpus is touched ONCE (the word-count shuffle, map-side combined);
  * all [[N_MERGES]] iterations then run over the DISTINCT-WORD table
  * weighted by count — a table that grows sub-linearly with the corpus
  * (Heaps' law: ~10M rows for a web-scale corpus vs billions of
  * documents), so per-merge cost is independent of corpus size. Each
  * iteration is one small aggregation job (adjacent-pair counts → one
  * argmax row to the driver — the only driver state is the merge list
  * itself, which IS the trainer's output) plus one row-local rewrite.
  *
  * Cross-engine determinism is the interesting problem: a BPE merge is
  * greedy LEFT-TO-RIGHT and non-overlapping ("a a a" under (a,a) →
  * "aa a", not "a aa"), which a naive fold expresses but DuckDB has no
  * list-building fold to replay. The trick: keep each word's symbol
  * sequence as a STRING with every symbol wrapped as \u0001·sym·\u0002.
  * Adjacent occurrences then NEVER share delimiter characters
  * ("x y x y" = ␁x␂␁y␂␁x␂␁y␂), so plain `replace()` — which both
  * engines implement as left-to-right, non-overlapping,
  * all-occurrences — IS the BPE merge:
  * replace(s, ␁x␂␁y␂, ␁xy␂). One string function per iteration, bit-
  * identical in both engines, no UDF, no fold.
  *
  * The argmax tiebreak is (count DESC, left ASC, right ASC) on binary
  * string order — deterministic in both engines for any corpus.
  */
object BpeOps {

  /** Merge rounds. Enough to reach multi-character subwords and
    * </w>-absorbing merges on the fixture while keeping the oracle's
    * unrolled CTE chain readable; a production run sets 30k–50k and
    * nothing in the topology changes (each round is one vocab-table
    * aggregation). */
  private[graft] val N_MERGES = 12

  private[ops] val S1 = "\u0001" // symbol open
  private[ops] val S2 = "\u0002" // symbol close
  /** End-of-word marker symbol (the standard </w>): lets BPE learn
    * word-final subwords distinctly from word-internal ones.
    *
    * PRECONDITIONS on the corpus text (round-12 ADVICE): (a) no word
    * may BE the literal string "</w>" (it would alias the marker), and
    * (b) no text may contain U+0001/U+0002 — a delimiter occurring in
    * the data corrupts symbol parsing identically in both engines, so
    * the cross-engine hash gate cannot catch the injection. A real
    * deployment's cleaning pass strips C0 controls long before
    * tokenization (they are never legitimate document text); here the
    * fixture generator asserts both preconditions at generation time
    * (GenFixtures) so a regenerated corpus cannot silently violate
    * them. */
  private val EOW = "</w>"

  /** `(word, cnt, s)` — the weighted distinct-word table with each
    * word's initial symbol string: characters, then the EOW marker,
    * each wrapped ␁·␂. */
  private def wordTable(docs: DataFrame): DataFrame =
    Tables.rebalance(docs)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "") // a run of spaces yields no symbol
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("s", concat(
        expr(s"""concat_ws('', transform(sequence(1, char_length(word)),
                 i -> concat('$S1', substring(word, i, 1), '$S2')))"""),
        lit(s"$S1$EOW$S2")))

  /** Adjacent-pair counts of the CURRENT symbol strings: split the
    * wrapped string back to symbols (row-local), emit every adjacent
    * position weighted by the word count, aggregate. */
  private def pairCounts(wc: DataFrame): DataFrame =
    wc.withColumn("parts",
        split(expr("substring(s, 2, char_length(s) - 2)"), s"$S2$S1"))
      .filter(size(col("parts")) >= 2)
      .select(col("cnt"), explode(expr(
        """transform(sequence(1, size(parts) - 1),
          |  i -> named_struct('lhs', element_at(parts, i),
          |                    'rhs', element_at(parts, i + 1)))""".stripMargin))
        .as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("cnt")).as("pair_cnt"))

  /** Train: returns the merge table `(step, lhs, rhs, pair_cnt,
    * merged)` — the BPE vocabulary artifact (applying it in order
    * re-tokenizes any text). */
  def bpeTrain(docs: DataFrame, nMerges: Int = N_MERGES): DataFrame = {
    val spark = docs.sparkSession
    var wc = wordTable(docs).localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, Long, String)]
    for (step <- 1 to nMerges) {
      val best = pairCounts(wc)
        .orderBy(col("pair_cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val (l, r, c) = (best.head.getString(0), best.head.getString(1),
          best.head.getLong(2))
        merges += ((step.toLong, l, r, c, l + r))
        wc = wc.withColumn("s",
          call_function("replace", col("s"),
            lit(s"$S1$l$S2$S1$r$S2"), lit(s"$S1$l$r$S2")))
          .localCheckpoint()
      }
    }
    import spark.implicits._
    merges.result().toDF("step", "lhs", "rhs", "pair_cnt", "merged")
      .orderBy(col("step"))
  }

  /** ENCODE with a trained merge list: wrap the whole document (each
    * word's characters + EOW), apply the merges IN ORDER as the same
    * wrapped-string replaces, split back to subword tokens. Row-local
    * over the corpus — zero shuffles until the caller aggregates — the
    * shape that matters at 100 TB (training is vocab-sized; encoding is
    * the corpus-sized pass, and it is embarrassingly parallel).
    *
    * Whole-document application is exact: no trained pattern can match
    * across a word boundary, because crossing requires an lhs that ends
    * the word — and every word-final symbol contains EOW, which is
    * never an lhs (EOW has no within-word successor during training).
    *
    * DEPTH LIMIT (round-12 VERDICT #2): this form folds ONE
    * withColumn+replace PER MERGE into the plan — a chained expression
    * tree `merges.length` deep. That is the right shape at the gated
    * N_MERGES=12 (one codegen'd Project, bit-replayable in DuckDB), but
    * it does NOT extend to a production vocabulary — and the cliff is
    * a CRASH, not a slowdown: measured at M=500 (SCALING.md "Round-13:
    * the production-vocabulary BPE encoder", two independent runs),
    * codegen collapses (generated method > 64 KB), the interpreted
    * fallback's per-row eval() recursion overflows the executor thread
    * stacks, and Spark's uncaught-exception handler treats
    * StackOverflowError as fatal and kills the whole container.
    * Production encode is [[bpeEncodeRanked]] —
    * one mapPartitions pass applying merge RANKS per word,
    * O(doclen · fires) per row with no per-merge plan nodes; q150 gates
    * the two forms md5-identical per document on the trained list, and
    * BpeRankedSpec pins the equivalence on adversarial merge lists.
    */
  def bpeEncode(docs: DataFrame,
                merges: Seq[(String, String)]): DataFrame = {
    val wrapped = Tables.rebalance(docs).withColumn("s",
      expr(s"""concat_ws('', transform(filter(split(text, ' '), w -> w != ''),
               w -> concat(concat_ws('', transform(sequence(1, char_length(w)),
                      i -> concat('$S1', substring(w, i, 1), '$S2'))),
                    '$S1$EOW$S2')))"""))
    merges.foldLeft(wrapped) { case (df, (l, r)) =>
      df.withColumn("s", call_function("replace", col("s"),
        lit(s"$S1$l$S2$S1$r$S2"), lit(s"$S1$l$r$S2")))
    }
  }

  /** Encode ONE word (code-point characters + EOW) against a merge-rank
    * map, faithful to the replace-chain semantics: merges apply in
    * STRICTLY INCREASING rank, each as one left-to-right non-overlapping
    * pass, and a pair whose rank is ≤ the last applied rank is SKIPPED
    * even if a later merge re-created it (the replace chain never
    * revisits an earlier merge). For a TRAINED list the skip never
    * fires — a merge's constituent symbols are created only by
    * strictly-earlier merges — but hand-rolled or truncated lists can
    * violate that, and silently diverging from the gated chain form
    * would be a correctness bug, not a performance one
    * (BpeRankedSpec pins the skip). A DUPLICATE (lhs, rhs) entry keeps
    * ALL its ranks — the chain re-fires the later occurrence when an
    * intervening merge re-creates the pattern (a trained list can
    * never contain one, but the fidelity contract covers hand-rolled
    * lists, and first-rank-only silently diverged exactly there).
    * Keys are `lhs + S1 + rhs` — S1 cannot occur inside a symbol
    * (corpus precondition above), so the key is unambiguous.
    * O(len · fires) per word with small constants; independent of
    * merge-list SIZE, which is the whole point.
    */
  private[graft] def encodeWordRanked(
      word: String, rank: java.util.HashMap[String, Array[Int]]): Array[String] = {
    // smallest rank of `key` strictly after `after` (ranks sorted asc)
    def nextRank(key: String, after: Int): Int = {
      val rs = rank.get(key)
      if (rs == null) Integer.MAX_VALUE
      else {
        var k = 0
        while (k < rs.length && rs(k) <= after) k += 1
        if (k < rs.length) rs(k) else Integer.MAX_VALUE
      }
    }
    val syms = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) { // code points, like Spark substring / DuckDB w[i]
      val cp = word.codePointAt(i)
      syms += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    syms += EOW
    var lastApplied = 0
    var done = false
    while (!done && syms.length >= 2) {
      // min applicable rank among adjacent pairs (strictly after the
      // last applied one)
      var best = Integer.MAX_VALUE
      var j = 0
      while (j < syms.length - 1) {
        val r = nextRank(syms(j) + S1 + syms(j + 1), lastApplied)
        if (r < best) best = r
        j += 1
      }
      if (best == Integer.MAX_VALUE) done = true
      else {
        // one left-to-right non-overlapping pass of the chosen merge
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var p = 0
        while (p < syms.length) {
          if (p < syms.length - 1 &&
              nextRank(syms(p) + S1 + syms(p + 1), lastApplied) == best) {
            out += syms(p) + syms(p + 1); p += 2
          } else { out += syms(p); p += 1 }
        }
        syms.clear(); syms ++= out
        lastApplied = best
      }
    }
    syms.toArray
  }

  /** Production-vocabulary ENCODE (round-12 VERDICT "What's missing
    * #1"): the same tokenization as [[bpeEncode]] — q150 gates the two
    * md5-identical per document — as ONE mapPartitions pass against a
    * broadcast merge-rank map, with no per-merge plan nodes. Plan size
    * and per-row cost are independent of the merge count, so this is
    * the form a 30k–50k-merge deployment runs; the replace-chain form
    * stays the cross-engine gate at N_MERGES=12 (DuckDB can replay
    * replace(), not a rank loop).
    *
    * Per-partition word cache: encoding is pure per word and word
    * frequency is Zipfian, so a bounded memo (64k entries, insertion-
    * capped — no eviction churn) collapses the corpus-sized pass to
    * ~one encode per DISTINCT word per partition, the same Heaps-law
    * economics the trainer exploits. Output schema: (doc_id, s) with
    * `s` in the exact wrapped-symbol form every downstream consumer
    * ([[tokenCounts]], the q142 split) already reads.
    */
  def bpeEncodeRanked(docs: DataFrame,
                      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bcRank = spark.sparkContext.broadcast {
      // every rank per key, ascending: a duplicate entry must be able
      // to RE-FIRE at its later rank when an intervening merge
      // re-creates the pattern, exactly as the chain's later replace()
      // pass would (first-rank-only diverged on such lists)
      val m = new java.util.HashMap[String, Array[Int]](merges.length * 2)
      merges.zipWithIndex.foreach { case ((l, r), i) =>
        m.merge(l + S1 + r, Array(i + 1), (a, b) => a ++ b)
      }
      m
    }
    Tables.rebalance(docs)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val rank = bcRank.value
        val memo = new java.util.HashMap[String, String](1 << 12)
        it.map { case (id, text) =>
          val sb = new java.lang.StringBuilder
          text.split(' ').foreach { w =>
            if (w.nonEmpty) {
              var frag = memo.get(w)
              if (frag == null) {
                val syms = encodeWordRanked(w, rank)
                val fb = new java.lang.StringBuilder
                syms.foreach(sym => fb.append(S1).append(sym).append(S2))
                frag = fb.toString
                if (memo.size < (1 << 16)) memo.put(w, frag)
              }
              sb.append(frag)
            }
          }
          (id, sb.toString)
        }
      }.toDF("doc_id", "s")
  }

  /** Per-doc subword counts of an encoded frame `(doc_id, s)` — the
    * symbol count of the wrapped string (0 for an empty document). One
    * authored copy (round-12 ADVICE: the split delimiter was previously
    * re-spelled at each callsite, once as raw invisible control bytes).
    */
  private[ops] def tokenCounts(encoded: DataFrame): DataFrame =
    encoded.withColumn("n_toks",
        when(expr("char_length(s) < 2"), 0L)
          .otherwise(size(split(expr("substring(s, 2, char_length(s) - 2)"),
            s"$S2$S1")).cast("long")))
      .select(col("doc_id"), col("n_toks"))

  /** Shared pack-accounting tail (q143 / q148) over `(doc_id, n_toks)`:
    * shard by doc_id, running-sum within the shard, split at
    * [[TextOps.PACK_SEQ_LEN]] boundaries, aggregate per-shard layout
    * stats. Factored so the tokenizer-true packing arithmetic —
    * including the fin=0 div-vs-floor guard — exists ONCE per engine
    * form (round-12 ADVICE: the two verbatim copies could drift). */
  private[ops] def packStats(counted: DataFrame): DataFrame = {
    val L = TextOps.PACK_SEQ_LEN
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("doc_id"))
    counted
      .withColumn("grp", pmod(col("doc_id"), lit(TextOps.PACK_SHARDS.toLong)))
      .withColumn("fin", sum(col("n_toks")).over(w))
      .withColumn("seq_first", expr(s"(fin - n_toks) div $L"))
      // fin = 0 (a shard prefix of zero-token docs) must not emit
      // sequence -1: Spark's `div` truncates toward zero while DuckDB's
      // `//` floors, so (0-1) would diverge cross-engine
      .withColumn("seq_last",
        when(col("fin") === 0L, 0L).otherwise(expr(s"(fin - 1) div $L")))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_toks")).as("n_tokens"),
           (max(col("seq_last")) + lit(1L)).as("n_seqs"),
           sum(when(col("seq_first") =!= col("seq_last"), 1L)
             .otherwise(0L)).as("n_straddles"),
           ((max(col("seq_last")) + lit(1L)) * L
             - sum(col("n_toks"))).as("pad_tokens"))
  }

  /** DuckDB form of [[tokenCounts]] + [[packStats]] as the CTE fragment
    * `ntk, o, packed` over an encoded relation `src(doc_id, s)` — the
    * single authored copy both the q143 and q148 oracles splice. */
  private[ops] def packDuck(src: String): String = {
    val L = TextOps.PACK_SEQ_LEN
    s"""ntk AS (
      |  SELECT doc_id,
      |    CASE WHEN len(s) < 2 THEN 0
      |         ELSE len(str_split(s[2:len(s) - 1], chr(2) || chr(1)))
      |    END::BIGINT AS n_toks,
      |    doc_id % ${TextOps.PACK_SHARDS} AS grp
      |  FROM $src),
      |o AS (
      |  SELECT grp, n_toks,
      |    sum(n_toks) OVER (PARTITION BY grp ORDER BY doc_id) AS fin
      |  FROM ntk),
      |packed AS (
      |  SELECT grp, count(*) AS n_docs, sum(n_toks)::BIGINT AS n_tokens,
      |    (max(sl) + 1)::BIGINT AS n_seqs,
      |    sum(CASE WHEN (fin - n_toks) // $L
      |               <> sl THEN 1 ELSE 0 END)::BIGINT AS n_straddles,
      |    ((max(sl) + 1) * $L - sum(n_toks))::BIGINT AS pad_tokens
      |  FROM (SELECT grp, n_toks, fin,
      |          CASE WHEN fin = 0 THEN 0 ELSE (fin - 1) // $L END AS sl
      |        FROM o)
      |  GROUP BY grp)""".stripMargin
  }

  /** Trained merges as a driver-cached artifact keyed by the source
    * parquet's (path, length, mtime) set — the q131 `fittedCents`
    * discipline: a production pipeline trains the tokenizer ONCE and
    * every downstream pass (encode, pack, stats) reads the merge list,
    * so the catalog entries do the same instead of re-running the
    * 12-round loop per query. Values are the exact collected rows, so
    * hashes are unaffected; a regenerated fixture invalidates by
    * fingerprint. */
  private val mergesCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Seq[(Long, String, String, Long, String)])]()
  private[graft] def trainedMerges(s: SparkSession, d: String,
                                 historyOnly: Boolean = false)
      : Seq[(Long, String, String, Long, String)] = {
    val fp = Fingerprint.of(d, "documents.parquet")
    val key = s"$d|hist=$historyOnly"
    val cached = mergesCache.get(key)
    if (cached != null && cached._1 == fp) cached._2
    else {
      val docs = Tables.documents(s, d)
      val src =
        if (!historyOnly) docs
        else docs.filter(col("doc_id") < DedupLedger.cutoffOf(docs))
      val m = bpeTrain(src).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getString(4))).toSeq
      mergesCache.put(key, (fp, m))
      m
    }
  }

  /** Versioned TOKENIZER REGISTRY — the third persisted-artifact
    * lifecycle beside the dedup ledger and the ANN index, on the same
    * [[IndexStore]] manifest machinery: each published VERSION is a
    * complete standalone merge list (v1 = trained on history only —
    * yesterday's artifact, the one q148's tick applies; v2 = retrained
    * on the full corpus), committed as a REPLACEMENT publish so the
    * previous version's files stay on disk behind their manifest —
    * time travel to any still-retained vocabulary is one `snapshotAt`,
    * which is how a training run pins "the tokenizer as of checkpoint
    * N" while ingest keeps retraining. Deliberately NOT vacuumed:
    * retired vocabularies are consultable artifacts, so the registry
    * opts out of vacuum STRUCTURALLY ([[IndexStore.markRetainAll]] —
    * vacuum on this layout is a no-op, pinned by IndexStoreSpec), not
    * merely by the publisher declining to call it. */
  private[graft] def ensureTokenizerRegistry(s: SparkSession,
                                             d: String): String = {
    val dir = VectorOps.ensureIndex(d, "tokreg", s"v1|m=$N_MERGES|cut90",
        "documents.parquet") { base =>
      // born protected: the marker lands before any data publishes, so
      // there is no window in which a crash (or a concurrent vacuum)
      // meets an unmarked registry
      IndexStore.markRetainAll(base.getPath)
      val docs = Tables.rebalance(Tables.documents(s, d))
      val cut = DedupLedger.cutoffOf(docs)
      IndexStore.commitRebuild(base.getPath) {
        bpeTrain(docs.filter(col("doc_id") < cut))
          .write.mode("overwrite").parquet(s"${base.getPath}/codes")
      }
      IndexStore.commitReplace(base.getPath, IndexStore.snapshot(base.getPath)) {
        bpeTrain(docs).write.mode("append").parquet(s"${base.getPath}/codes")
      }
      ()
    }
    // ALSO stamped outside the closure: a registry cached before the
    // retain-all policy existed never re-runs the build, so the
    // every-touch stamp is what retrofits old caches (the in-closure
    // stamp covers birth, this covers history)
    IndexStore.markRetainAll(dir)
    dir
  }

  /** The HISTORY vocabulary served from the registry — what q148's
    * tick applies: "yesterday's artifact" read from the store (version
    * 1 via time travel), not a driver-side retrain. */
  private[ops] def registryHistoryVocab(s: SparkSession,
                                        d: String): Seq[(String, String)] =
    mergesAt(s, ensureTokenizerRegistry(s, d), 1)

  /** The merge list a registry VERSION publishes, in training order. */
  private def mergesAt(s: SparkSession, dir: String,
                       v: Int): Seq[(String, String)] = {
    val snap = IndexStore.snapshotAt(dir, v)
    s.read.option("basePath", s"$dir/codes")
      .parquet(snap.codes.map(f => s"$dir/codes/$f"): _*)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- q141: BPE tokenizer training — the first N_MERGES merges
    // over the documents corpus. The hash gates the ENTIRE iterative
    // process: a wrong pair count, argmax tiebreak, or merge rewrite at
    // ANY step changes every later step's counts.
    "q141_bpe_train" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      trainedMerges(s, d)
        .toDF("step", "lhs", "rhs", "pair_cnt", "merged")
        .orderBy(col("step"))
    }),

    // ---- q142: BPE ENCODE — tokenize the corpus with q141's learned
    // vocabulary and report the realized subword distribution (symbol,
    // count). The hash pins every token boundary in the corpus: a
    // merge applied out of order, an overlap mishandled, or a pattern
    // leaking across a word boundary all shift counts.
    "q142_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = trainedMerges(s, d).map(m => (m._2, m._3))
      bpeEncode(docs, merges)
        .filter(expr("char_length(s) >= 2"))
        .select(explode(split(expr("substring(s, 2, char_length(s) - 2)"),
          s"$S2$S1")).as("sym"))
        .groupBy(col("sym")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("sym"))
    }),

    // ---- q143: TOKENIZE → PACK — the corpus-to-training-shards tail
    // of the pipeline, composed end to end: q141's learned vocabulary
    // tokenizes every document (q142's row-local encode), and the
    // SUBWORD counts drive q132's packing layout (shard by doc_id,
    // concatenate in order, split at PACK_SEQ_LEN subword boundaries).
    // Packing real tokenizer output instead of whitespace counts is
    // what a training-data pipeline actually ships; the hash pins the
    // learned vocabulary, every document's subword length, and the
    // resulting sequence/straddle/pad arithmetic per shard.
    "q143_tokenize_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = trainedMerges(s, d).map(m => (m._2, m._3))
      packStats(tokenCounts(bpeEncode(docs, merges))).orderBy(col("grp"))
    }),

    // ---- q150: the PRODUCTION-VOCABULARY encoder gate — every
    // document's ranked-encode output md5-pinned against the oracle's
    // replay of the replace CHAIN. This is the strongest possible
    // equivalence gate: not symbol counts, not token counts — the exact
    // wrapped byte string per document, so a single mis-ordered merge,
    // a skipped occurrence, or a boundary leak in the rank-loop encoder
    // flips some row's hash.
    "q150_bpe_encode_ranked" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = trainedMerges(s, d).map(m => (m._2, m._3))
      bpeEncodeRanked(docs, merges)
        .select(col("doc_id"), md5(col("s").cast("binary")).as("enc_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- q153: the tokenizer REGISTRY — both published vocabulary
    // versions served from the store (v1 via time travel, v2 = HEAD)
    // and applied to the increment with the PRODUCTION rank-loop
    // encoder: per-doc token counts under yesterday's vocabulary vs
    // today's retrain, plus a doc_id=-1 sentinel carrying the
    // vocabulary drift (merge pairs shared between versions, total
    // merges) — the retrain-impact report a tokenizer upgrade ships
    // with. The hash covers both training runs, both store round-trips,
    // the version isolation (a v2 file leaking into the v1 read flips
    // the v1 counts), and the ranked encoder against the oracle's
    // chain replay — a second consumer for the q150 equivalence.
    "q153_tokenizer_registry" -> ((s, d) => {
      val dir = ensureTokenizerRegistry(s, d)
      val m1 = mergesAt(s, dir, 1)
      val m2 = mergesAt(s, dir, 2)
      val docs = Tables.rebalance(Tables.documents(s, d))
      val cut = DedupLedger.cutoffOf(docs)
      val batch = docs.filter(col("doc_id") >= cut)
        .select(col("doc_id"), col("text")).localCheckpoint()
      val n1 = tokenCounts(bpeEncodeRanked(batch, m1))
        .withColumnRenamed("n_toks", "n_v1")
      val n2 = tokenCounts(bpeEncodeRanked(batch, m2))
        .withColumnRenamed("n_toks", "n_v2")
      import s.implicits._
      val sentinel = Seq((-1L, m1.toSet.intersect(m2.toSet).size.toLong,
        m2.length.toLong)).toDF("doc_id", "n_v1", "n_v2")
      n1.join(n2, Seq("doc_id")).unionByName(sentinel)
        .orderBy(col("doc_id"))
    })
  )

  /** The training loop as an unrolled (materialized) CTE chain — wc →
    * s0 → (p1, b1, s1) → … → (pN, bN, sN) — with the same
    * wrapped-string representation, so DuckDB replays every replace()
    * bit-for-bit. Shared by both oracles. */
  private[ops] def trainChainDuck(where: String = "",
                                  pfx: String = ""): String = {
    val steps = (1 to N_MERGES).map { k =>
      s"""${pfx}p$k AS (
        |  SELECT parts[i] AS lhs, parts[i + 1] AS rhs,
        |         sum(cnt)::BIGINT AS pair_cnt
        |  FROM (SELECT cnt,
        |          str_split(s[2:len(s) - 1], chr(2) || chr(1)) AS parts
        |        FROM ${pfx}s${k - 1}),
        |       unnest(range(1, len(parts))) u(i)
        |  GROUP BY lhs, rhs),
        |${pfx}b$k AS MATERIALIZED (SELECT lhs, rhs, pair_cnt FROM ${pfx}p$k
        |        ORDER BY pair_cnt DESC, lhs, rhs LIMIT 1),
        |${pfx}s$k AS MATERIALIZED (
        |  SELECT word, cnt,
        |    replace(s,
        |      chr(1) || (SELECT lhs FROM ${pfx}b$k) || chr(2) || chr(1) ||
        |        (SELECT rhs FROM ${pfx}b$k) || chr(2),
        |      chr(1) || (SELECT lhs FROM ${pfx}b$k) ||
        |        (SELECT rhs FROM ${pfx}b$k) || chr(2)) AS s
        |  FROM ${pfx}s${k - 1})""".stripMargin
    }.mkString(",\n")
    val gate = if (where.isEmpty) "" else s" AND ($where)"
    s"""${pfx}wc AS (
      |  SELECT word, count(*)::BIGINT AS cnt
      |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> ''$gate GROUP BY word),
      |${pfx}s0 AS MATERIALIZED (
      |  SELECT word, cnt,
      |    array_to_string([chr(1) || word[i] || chr(2)
      |                     FOR i IN range(1, len(word) + 1)], '') ||
      |      chr(1) || '</w>' || chr(2) AS s
      |  FROM ${pfx}wc),
      |$steps""".stripMargin
  }

  /** The encode loop as CTEs e1..eN over an `e0(doc_id, s)` base —
    * shared by every oracle that applies the trained merges. */
  private[ops] def encStepsDuck: String = encStepsDuckP("")

  /** Prefixed form: encode CTEs `${pfx}e1..eN` consuming the train
    * chain published under the SAME prefix — lets one oracle splice two
    * independent vocabularies (q153). */
  private[ops] def encStepsDuckP(pfx: String): String =
    (1 to N_MERGES).map { k =>
      s"""${pfx}e$k AS MATERIALIZED (
        |  SELECT doc_id,
        |    replace(s,
        |      chr(1) || (SELECT lhs FROM ${pfx}b$k) || chr(2) || chr(1) ||
        |        (SELECT rhs FROM ${pfx}b$k) || chr(2),
        |      chr(1) || (SELECT lhs FROM ${pfx}b$k) ||
        |        (SELECT rhs FROM ${pfx}b$k) || chr(2)) AS s
        |  FROM ${pfx}e${k - 1})""".stripMargin
    }.mkString(",\n")

  /** The wrapped-symbol document base CTE (`e0`) over a doc source
    * relation providing (doc_id, text). */
  private[ops] def encBaseDuck(src: String, pfx: String = ""): String =
    s"""${pfx}e0 AS MATERIALIZED (
      |  SELECT doc_id, array_to_string(list_transform(
      |    list_filter(str_split(text, ' '), w -> w <> ''),
      |    w -> array_to_string([chr(1) || w[i] || chr(2)
      |                          FOR i IN range(1, len(w) + 1)], '') ||
      |         chr(1) || '</w>' || chr(2)), '') AS s
      |  FROM $src)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q141_bpe_train" -> {
      val chain = trainChainDuck()
      val rows = (1 to N_MERGES).map { k =>
        s"SELECT $k::BIGINT AS step, lhs, rhs, pair_cnt, lhs || rhs AS merged FROM b$k"
      }.mkString("\nUNION ALL ")
      s"""WITH $chain
        |$rows
        |ORDER BY step""".stripMargin
    },

    "q142_bpe_encode" ->
      s"""WITH ${trainChainDuck()},
        |${encBaseDuck("documents")},
        |$encStepsDuck
        |SELECT sym, count(*)::BIGINT AS cnt FROM (
        |  SELECT unnest(str_split(s[2:len(s) - 1], chr(2) || chr(1))) AS sym
        |  FROM e$N_MERGES WHERE len(s) >= 2)
        |GROUP BY sym ORDER BY cnt DESC, sym""".stripMargin,

    "q143_tokenize_pack" ->
      s"""WITH ${trainChainDuck()},
        |${encBaseDuck("documents")},
        |$encStepsDuck,
        |${packDuck(s"e$N_MERGES")}
        |SELECT * FROM packed ORDER BY grp""".stripMargin,

    // the oracle replays the replace CHAIN (e1..eN) — the Spark side
    // runs the rank-loop encoder, so this gate IS the chain≡ranked proof
    "q150_bpe_encode_ranked" ->
      s"""WITH ${trainChainDuck()},
        |${encBaseDuck("documents")},
        |$encStepsDuck
        |SELECT doc_id, md5(s) AS enc_md5 FROM e$N_MERGES
        |ORDER BY doc_id""".stripMargin,

    // q153: TWO independent train chains (history-gated `h*`, full-
    // corpus `f*`) + two encode chains over the increment, spliced into
    // one statement via the prefixed CTE builders; the Spark side reads
    // both vocabularies back from the versioned store and encodes with
    // the rank loop — so the hash is simultaneously the store
    // round-trip proof and the chain≡ranked proof under two different
    // merge lists.
    "q153_tokenizer_registry" -> {
      def ntk(src: String, as: String) =
        s"""SELECT doc_id,
          |  CASE WHEN len(s) < 2 THEN 0
          |       ELSE len(str_split(s[2:len(s) - 1], chr(2) || chr(1)))
          |  END::BIGINT AS $as
          |FROM $src""".stripMargin
      def mergeRows(pfx: String) = (1 to N_MERGES)
        .map(k => s"SELECT lhs, rhs FROM ${pfx}b$k")
        .mkString("\n  UNION ALL ")
      s"""WITH tcut AS (SELECT (max(doc_id) * 9) // 10 AS c FROM documents),
        |${trainChainDuck("doc_id < (SELECT c FROM tcut)", "h")},
        |${trainChainDuck("", "f")},
        |bdocs AS MATERIALIZED (
        |  SELECT d.doc_id, d.text FROM documents d, tcut
        |  WHERE d.doc_id >= tcut.c),
        |${encBaseDuck("bdocs", "h")},
        |${encStepsDuckP("h")},
        |${encBaseDuck("bdocs", "f")},
        |${encStepsDuckP("f")},
        |n1 AS (${ntk(s"he$N_MERGES", "n_v1")}),
        |n2 AS (${ntk(s"fe$N_MERGES", "n_v2")}),
        |v1m AS (${mergeRows("h")}),
        |v2m AS (${mergeRows("f")}),
        |sent AS (SELECT -1::BIGINT AS doc_id,
        |  (SELECT count(*) FROM
        |     (SELECT * FROM v1m INTERSECT SELECT * FROM v2m))::BIGINT AS n_v1,
        |  (SELECT count(*) FROM v2m)::BIGINT AS n_v2)
        |SELECT doc_id, n_v1, n_v2 FROM (
        |  SELECT n1.doc_id, n_v1, n_v2 FROM n1 JOIN n2 USING (doc_id)
        |  UNION ALL SELECT * FROM sent)
        |ORDER BY doc_id""".stripMargin
    }
  )
}
