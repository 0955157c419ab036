package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked text retrieval over a document corpus: BM25 scoring and
  * reciprocal-rank fusion (hybrid lexical + vector search).
  *
  * Scale shape (the reason this is NOT an inverted-index lookup here):
  * a scoring query carries a handful of terms, so per-document term
  * frequencies become literal `filter(ws, x -> x = term)` columns —
  * a MAP-ONLY pass with no explode and no (doc, term) shuffle. Corpus
  * statistics (N, avgdl, per-term document frequency) reduce to ONE
  * single-row aggregate (partial-agg tree, the `agg_global` shape),
  * broadcast back as a 1-row cross join. Scoring is then a second
  * map-only pass feeding TakeOrderedAndProject. Total cost at 100 TB:
  * two corpus scans, one single-row shuffle, zero wide shuffles. For
  * repeated interactive queries the stats pass amortizes (N/avgdl are
  * corpus constants; per-term df could be served off the persisted
  * `llm_inverted_index` artifact — same numbers, zero scans).
  */
object Retrieval {

  /** Classic BM25 (Robertson; k1/b free parameters, idf in the
    * +1-smoothed form `ln(1 + (N - df + 0.5)/(df + 0.5))` so scores
    * stay non-negative). Emits (idCol, bm25 = 4dp-rounded score) for
    * EVERY document — callers filter/rank. Determinism: every
    * arithmetic step is double with a fixed association order,
    * mirrored literally by the DuckDB oracle. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val ws = docs
      .withColumn("ws", filter(Dedup.words(col(textCol)), w => w =!= lit("")))
      .withColumn("dl", size(col("ws")).cast("double"))
    val tf = terms.zipWithIndex.foldLeft(ws) { case (df, (t, i)) =>
      df.withColumn(s"tf$i",
        size(filter(col("ws"), w => w === lit(t))).cast("double"))
    }.select(col(idCol) +: col("dl") +: terms.indices.map(i => col(s"tf$i")): _*)
    // ONE row: N, avgdl, df per term (dl/tf are exact small integers in
    // double, so the sums are order-independent — no decimal quantize
    // needed for cross-engine equality)
    val stats = tf.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double").as(s"df$i")): _*)
    val scored = tf.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      idf * (col(s"tf$i") * lit(k1 + 1.0)) /
        (col(s"tf$i") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    scored.select(col(idCol), graft.core.D.r4s(score).as("bm25"))
  }

  /** Top-k BM25 hits (score > 0 — documents sharing no query term are
    * not hits), deterministic (score desc, id) order. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int): DataFrame =
    bm25(docs, idCol, textCol, terms)
      .where(col("bm25") > 0)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)

  /** Dirichlet-smoothed query-likelihood retrieval (the Zhai–Lafferty
    * LM alternative to BM25): score(q,d) = Σ_t ln((tf_td + μ·cf_t/|C|)
    * / (dl + μ)). Same scan-side map-only shape as [[bm25]]: per-term
    * tf columns (no explode, no (doc,term) shuffle), corpus stats
    * (total token count |C| + per-term collection frequency cf_t) ONE
    * single-row broadcast aggregate — all integer-exact sums in double
    * — and scoring a second map-only pass into TakeOrderedAndProject.
    * Only docs sharing ≥1 query term rank (scores are negative
    * log-probabilities; the all-background score of a no-term doc is
    * meaningless for ranking). Fixed term-order double sum, mirrored
    * literally by the oracle. */
  def queryLikelihoodTopK(docs: DataFrame, idCol: String, textCol: String,
                          terms: Seq[String], k: Int,
                          mu: Double = 2000.0): DataFrame = {
    require(terms.nonEmpty, "query likelihood needs at least one term")
    val ws = docs
      .withColumn("ws", filter(Dedup.words(col(textCol)), w => w =!= lit("")))
      .withColumn("dl", size(col("ws")).cast("double"))
    val tf = terms.zipWithIndex.foldLeft(ws) { case (df, (t, i)) =>
      df.withColumn(s"tf$i",
        size(filter(col("ws"), w => w === lit(t))).cast("double"))
    }.select(col(idCol) +: col("dl") +: terms.indices.map(i => col(s"tf$i")): _*)
    val stats = tf.agg(sum(col("dl")).as("ctot"),
      terms.indices.map(i => sum(col(s"tf$i")).as(s"cf$i")): _*)
    val scored = tf.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      log((col(s"tf$i") + lit(mu) * col(s"cf$i") / col("ctot")) /
        (col("dl") + lit(mu)))
    }.reduce(_ + _)
    val anyTf = terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _)
    scored.where(anyTf)
      .select(col(idCol), graft.core.D.r4s(score).as("ql"))
      .orderBy(col("ql").desc, col(idCol))
      .limit(k)
  }

  /** Top-k exact-phrase hits, scan-side: pf = number of token offsets
    * where the phrase's terms appear CONSECUTIVELY. Same map-only
    * shape as [[bm25]] — the candidate starts are a per-row
    * `sequence`, the consecutive-match test a codegen'd array
    * `filter`; no explode, no (doc, term) shuffle, one
    * TakeOrderedAndProject. Deterministic: pf is an exact integer. */
  def phraseTopK(docs: DataFrame, idCol: String, textCol: String,
                 phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two terms")
    val ws = docs
      .withColumn("ws", filter(Dedup.words(col(textCol)), w => w =!= lit("")))
    // 1-based candidate start offsets (element_at is 1-based); a doc
    // shorter than the phrase has no candidates at all
    val starts = when(size(col("ws")) >= phrase.size,
      sequence(lit(1), size(col("ws")) - lit(phrase.size - 1)))
      .otherwise(array().cast("array<int>"))
    val hitAt = (i: Column) => phrase.zipWithIndex.map { case (t, j) =>
      element_at(col("ws"), (i + lit(j)).cast("int")) === lit(t)
    }.reduce(_ && _)
    ws.select(col(idCol).as("doc_id"),
        size(filter(starts, hitAt)).cast("long").as("pf"))
      .where(col("pf") > 0)
      .orderBy(col("pf").desc, col("doc_id"))
      .limit(k)
  }

  // ----------------------- persisted text index (build once, probe many)
  //
  // The scan-side BM25 above reads the whole corpus twice per query —
  // right for one-off analytics, wrong for a serving path. The stored
  // index is the inverted-file analog of the ANN artifact: postings
  // (term, doc_id, tf, dl, positions) PARTITIONED by a term-hash bucket so a probe
  // partition-prunes to the query terms' buckets, plus a single-row
  // corpus-stats table (N, avgdl). Same Keysets swap contract as the
  // ANN index: build commits atomically, readers never see half an
  // index. Per-term df is NOT materialized — it is a count over the
  // already-pruned postings at probe time (t tiny aggregates), so
  // appends would only touch postings+stats.

  /** On-disk layout version of the text-index artifact — part of every
    * ensure fingerprint, so a LAYOUT refactor (not just a data change)
    * forces a rebuild instead of silently serving an old-layout
    * artifact to new probe code. Bump rule: increment whenever the
    * directory layout or any stored schema changes (v2: stats moved to
    * `postings/_stats` carrying integer-exact `sum_dl` instead of a
    * sibling `stats` dir with `avgdl`; v3: posting rows gained a
    * sorted 0-based `positions` int array so phrase probes serve from
    * the index). */
  val TextLayoutVersion = "text-v3"

  /** Tokenized posting rows + the matching single-row stats for one doc
    * batch — THE shared definition between build and append (a drifted
    * append-side tokenizer would silently corrupt df/tf). Stats carry
    * exact-integer sums (n_docs, sum_dl) so batches COMBINE exactly:
    * Σ over stats rows ≡ the stats of one whole-corpus build. */
  private[graft] def postingRows(docs: DataFrame, idCol: String, textCol: String,
                                 buckets: Int): (DataFrame, DataFrame) = {
    val ws = docs
      .withColumn("ws", filter(Dedup.words(col(textCol)), w => w =!= lit("")))
      .withColumn("dl", size(col("ws")).cast("double"))
    val postings = ws
      .select(col(idCol).as("doc_id"), col("dl"),
        posexplode(col("ws")).as(Seq("pos", "term")))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("double").as("tf"),
        // 0-based token offsets, sorted so the stored array is
        // deterministic regardless of shuffle order — the payload
        // phrase probes intersect (BM25 probes never read it)
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("tb", pmod(xxhash64(col("term")), lit(buckets)).cast("int"))
    val stats = ws.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
      .withColumn("buckets", lit(buckets)) // probes must hash with the build's modulus
    (postings, stats)
  }

  /** Build the persisted inverted index for `docs` at `path`. Linear in
    * corpus size (the explode→(term,doc) aggregate is the word-count
    * shape); the posting rows carry dl so scoring never joins back to
    * the corpus. Layout note: the stats table lives at
    * `postings/_stats` — underscore paths are invisible to parquet
    * data discovery, so the postings scan never sees it, while build,
    * append, and compaction each commit postings AND their stats in
    * ONE atomic swap (a sibling stats dir would open a crash window
    * where the two disagree). */
  def buildTextIndex(s: org.apache.spark.sql.SparkSession, docs: DataFrame,
                     idCol: String, textCol: String, path: String,
                     fingerprint: String, buckets: Int = 16): Unit = {
    val (postings, stats) = postingRows(docs, idCol, textCol, buckets)
    graft.tsdb.Keysets.swapBuiltDir(s, path) { tmp =>
      postings.write.partitionBy("tb").parquet(s"$tmp/postings")
      stats.coalesce(1).write.parquet(s"$tmp/postings/_stats")
      graft.tsdb.Keysets.writeMarker(s, s"$tmp/_meta", fingerprint)
    }
  }

  /** Corpus stats (N, avgdl, bucket modulus) = Σ over the stats rows of
    * the base index plus every committed delta (each root read
    * explicitly — `_stats` is hidden from data discovery): integer-exact
    * sums, so the combined avgdl is bit-identical to a whole-corpus
    * build's; a bootstrap-empty base contributes n=0 / null sum_dl.
    * Roots with no `_stats` table are skipped: tombstone deltas carry
    * only marker rows, and corpus stats deliberately keep counting
    * deleted docs until compaction recomputes them. */
  private def readTextStats(s: org.apache.spark.sql.SparkSession,
                            path: String): (Double, Double, Int) = {
    val roots = s"$path/postings/_stats" +:
      graft.tsdb.Keysets.deltaDirs(s, path, "postings")
        .map(d => s"$d/postings/_stats")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val rows = roots.filter(r => fs.exists(new org.apache.hadoop.fs.Path(r)))
      .map(r => s.read.parquet(r))
      .reduce(_.unionByName(_)).collect().toIndexedSeq
    val n = rows.map(_.getAs[Double]("n_docs")).sum
    val avgdl = rows.map(r =>
      if (r.isNullAt(r.fieldIndex("sum_dl"))) 0.0
      else r.getAs[Double]("sum_dl")).sum / n
    (n, avgdl, rows.head.getAs[Int]("buckets"))
  }

  /** Visible (un-folded) delta dirs of the text index — the
    * did-the-lifecycle-actually-run guard the registrations use. */
  def textDeltaCount(s: org.apache.spark.sql.SparkSession, path: String): Int =
    graft.tsdb.Keysets.deltaDirs(s, path, "postings").size

  /** Highest delta id folded into the base postings (-1 = never
    * compacted) — the did-compaction-actually-run guard: after a fold,
    * delta count drops back to 0, so the watermark is the only durable
    * evidence distinguishing a compacted index from a fresh build. */
  def textFoldedThru(s: org.apache.spark.sql.SparkSession, path: String): Int =
    graft.tsdb.Keysets.foldedThru(s, path, "postings")

  /** O(batch) index growth: tokenize the new docs with the STORED
    * bucket modulus and commit them as one atomic delta dir (postings +
    * the batch's stats in the same swap — the Keysets delta contract).
    * df needs no maintenance (it is derived at probe time), and corpus
    * stats combine exactly because they are stored as integer-exact
    * sums. Doc ids must be new — the index never rewrites on append.
    * With `txn = Some((streamId, batchId))` the batch lands exactly
    * once (the Delta Lake txn pattern of
    * [[graft.tsdb.Keysets.appendDelta]], shared with the band and IVF
    * sinks); auto-allocated delta ids mean a replay can never
    * overwrite a takedown tombstone or any other writer's delta.
    * Returns whether anything landed. */
  def appendTextDelta(s: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
                      idCol: String, textCol: String, path: String,
                      txn: Option[(String, Long)] = None): Boolean =
    // stats read inside the callback: a replay-skip costs zero jobs
    graft.tsdb.Keysets.appendDelta(s, path, "postings", txn) { tmp =>
      val buckets = readTextStats(s, path)._3
      val (postings, stats) = postingRows(newDocs, idCol, textCol, buckets)
      postings.write.partitionBy("tb").parquet(tmp)
      stats.coalesce(1).write.parquet(s"$tmp/_stats")
    }

  /** Tombstone-delete documents WITHOUT rewriting postings — the
    * takedown shape, same contract as the ANN index: the markers land
    * as a normal atomic delta, probes drop shadowed ids behind the
    * gated anti-join, and the next compaction purges physically. One
    * marker per (doc_id, term-bucket) the doc actually posts into, so
    * a bucket-pruned probe ALWAYS reads the marker alongside the rows
    * it shadows. Corpus stats keep counting deleted docs until
    * compaction (bounded staleness — the BM25 twin of the ANN
    * quantizer-drift trade, and exactly as documented there). */
  def deleteFromTextIndex(s: org.apache.spark.sql.SparkSession,
                          ids: DataFrame, path: String): Unit = {
    val doomed = graft.core.Exec.materialize(
      graft.tsdb.Keysets.readWithDeltas(s, path, "postings")
        .join(ids.toDF("doc_id"), Seq("doc_id"), "left_semi")
        .select("doc_id", "tb").distinct()
        .withColumn("tomb", lit(true)))
    if (!doomed.isEmpty) {
      graft.tsdb.Keysets.appendDelta(s, path, "postings")(
        tmp => doomed.write.partitionBy("tb").parquet(tmp))
    }
  }

  /** Fold committed deltas into the base postings (tombstoned docs
    * become physically absent) and RECOMPUTE stats from the folded
    * rows — one distinct (doc_id, dl) pass, so post-compaction corpus
    * stats are exact again after takedowns. One atomic swap via the
    * shared Keysets fold (readers never see a half-fold; the `_folded`
    * watermark keeps late-listed delta dirs from replaying). */
  def compactTextDeltas(s: org.apache.spark.sql.SparkSession,
                        path: String): Unit = {
    val buckets = readTextStats(s, path)._3
    graft.tsdb.Keysets.compactDeltas(s, path, "postings", "doc_id") { (rows, tmp) =>
      val live = graft.core.Exec.materialize(rows)
      graft.tsdb.Keysets.writeTable(live, tmp)(_.write.partitionBy("tb"))
      live.select("doc_id", "dl").distinct()
        .agg(count(lit(1)).cast("double").as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("buckets", lit(buckets))
        .coalesce(1).write.parquet(s"$tmp/_stats")
    }
  }

  /** Build only when the committed fingerprint differs (the ensure
    * pattern every stored-artifact registration uses). */
  def ensureTextIndex(s: org.apache.spark.sql.SparkSession, docs: DataFrame,
                      idCol: String, textCol: String, path: String,
                      fingerprint: String, buckets: Int = 16): Unit =
    if (!graft.tsdb.Keysets.fingerprint(s, path).contains(fingerprint))
      buildTextIndex(s, docs, idCol, textCol, path, fingerprint, buckets)

  /** BM25 top-k off the STORED index: reads the query terms' hash-bucket
    * partitions only (partition filter from driver-side term hashes —
    * the engine's own xxhash64, evaluated in one terms-sized local job)
    * across the base table AND every committed delta, minus tombstoned
    * docs; derives per-term df with tiny aggregates over the pruned live
    * postings, scores posting rows map-side, and sums per document. The
    * only data that moves is Σ df(term) candidate rows — corpus size is
    * out of the cost entirely. Corpus stats (N, avgdl) combine exactly
    * across base + deltas (integer-exact sums); after a takedown they
    * keep counting deleted docs until compaction recomputes them — the
    * documented bounded-staleness trade, mirrored by the oracle.
    *
    * Determinism note: the scan-side [[bm25]] sums term contributions in
    * fixed column order (pure doubles); here rows arrive in shuffle
    * order, so each contribution is 4dp-DECIMAL-quantized before the
    * order-independent decimal sum. Scores can therefore differ from the
    * scan side in the last decimal — the oracle mirrors THIS
    * formulation, and the spec pins hit-set equality against the scan
    * side. */
  def bm25TopKStored(s: org.apache.spark.sql.SparkSession, path: String,
                     terms: Seq[String], k: Int,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (post, n, avgdl) = storedProbe(s, path, terms)
    rankStoredCandidates(post, post, n, avgdl, k, k1, b)
  }

  /** The shared stored-probe core: pruned LIVE posting rows of the
    * query terms plus the combined corpus stats (N, avgdl). */
  private def storedProbe(s: org.apache.spark.sql.SparkSession, path: String,
                          terms: Seq[String]): (DataFrame, Double, Double) = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val (n, avgdl, nBuckets) = readTextStats(s, path)
    // bucket ids via the engine's own hash (a terms-sized local job —
    // a driver-side reimplementation of xxhash64 could silently drift)
    import s.implicits._
    val buckets = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).cast("int").as("tb"))
      .collect().map(_.getInt(0)).distinct.toSeq
    // bucket-prune FIRST (tombstone markers are written per (doc_id,
    // tb), so the pruned slice always carries the markers shadowing
    // its rows), drop tombstoned docs BEFORE the term filter (marker
    // rows have a null term and would otherwise be filtered away),
    // THEN narrow to the query terms
    val post = graft.tsdb.Keysets.dropTombstoned(
        graft.tsdb.Keysets.readWithDeltas(s, path, "postings")
          .where(col("tb").isin(buckets: _*)), "doc_id")
      .where(col("term").isin(terms: _*))
    (post, n, avgdl)
  }

  /** Score `candidates` (a subset of `post`'s rows) against per-term df
    * derived from the FULL live posting slice `post` — df is a
    * term-rarity prior of the corpus, so a metadata filter narrows the
    * candidate set without re-weighting terms (the Lucene semantics;
    * `llm_sim_ivf_filtered` makes the same call for ANN: candidates
    * filtered, ranking math unchanged). */
  private def rankStoredCandidates(post: DataFrame, candidates: DataFrame,
                                   n: Double, avgdl: Double, k: Int,
                                   k1: Double, b: Double): DataFrame = {
    val dfs = post.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = candidates.join(broadcast(dfs), "term")
      .withColumn("idf", log(lit(1.0) +
        (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib", graft.core.D.dec(
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))))
    scored.groupBy("doc_id")
      .agg(graft.core.D.r4s(sum(col("contrib")).cast("double")).as("bm25"))
      .where(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** BATCH BM25 off the stored index: score MANY queries in one probe —
    * the training-data-mining shape (a query table joined against the
    * index, not a per-query loop). `queries` is (query_id, term) rows;
    * emits (query_id, rn, doc_id, bm25), top `k` per query.
    *
    * One probe serves the whole batch: the postings are bucket-pruned
    * once to the UNION of the batch's terms (terms-sized driver list,
    * same k-sized collect contract as the single-query probe), df is
    * derived once per term — it is a corpus property, shared across
    * queries — and the query table broadcasts into the pruned posting
    * rows, fanning each (doc, term) row out only to the queries that
    * contain the term. Per-(query, doc) scores then sum decimal-
    * quantized contributions, and the top-k window runs per query.
    * Data moved: Σ_q Σ_t df(t) candidate rows — corpus size is out of
    * the cost, and Q queries cost ONE index probe, not Q. (A batch too
    * large to enumerate buckets for would skip pruning and sort-merge
    * join postings on term — same math, no driver list; this entry
    * point is the bounded-batch serving shape.) */
  def bm25TopKStoredBatch(s: org.apache.spark.sql.SparkSession, path: String,
                          queries: DataFrame, k: Int,
                          k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qt = queries.select("query_id", "term").distinct()
    val terms = qt.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    val (post, n, avgdl) = storedProbe(s, path, terms)
    val dfs = post.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = post.join(broadcast(dfs), "term")
      .join(broadcast(qt), "term")
      .withColumn("idf", log(lit(1.0) +
        (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib", graft.core.D.dec(
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))))
      .groupBy("query_id", "doc_id")
      .agg(graft.core.D.r4s(sum(col("contrib")).cast("double")).as("bm25"))
      .where(col("bm25") > 0)
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select("query_id", "rn", "doc_id", "bm25")
      .orderBy("query_id", "rn")
  }

  /** Metadata-filtered BM25 off the stored index — the lexical twin of
    * the filtered ANN probes: only documents in `keepIds` may rank,
    * while df / N / avgdl keep their corpus-level values (a filter
    * narrows WHO can match, not how terms weigh). `keepIds` is the
    * caller's predicate-filtered (doc_id) frame; the join order keeps
    * every moving set candidate-sized: the pruned postings' distinct
    * doc_ids broadcast INTO the metadata scan (so its own pushed-down
    * predicate plus this semi-join bound what it returns), and the
    * surviving ids broadcast back against the postings — the corpus
    * never shuffles, and the metadata table is read once with both
    * filters applied. */
  def bm25TopKStoredFiltered(s: org.apache.spark.sql.SparkSession, path: String,
                             terms: Seq[String], keepIds: DataFrame, k: Int,
                             k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (post, n, avgdl) = storedProbe(s, path, terms)
    val candIds = post.select("doc_id").distinct()
    val keep = keepIds.toDF("doc_id")
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
    val candidates = post.join(broadcast(keep), Seq("doc_id"), "left_semi")
    rankStoredCandidates(post, candidates, n, avgdl, k, k1, b)
  }

  /** Top-k exact-phrase hits off the STORED positional index — the
    * serving twin of [[phraseTopK]]: prune postings to the phrase
    * terms' hash buckets (base + deltas, minus tombstones — the same
    * [[storedProbe]] choke point as BM25), then chain per-term
    * position-array intersections: starting from the first term's
    * stored offsets, each later term keeps only the starts whose
    * `start + j` offset it posts. Every join is per-doc on df-sized
    * posting rows — Σ df(term) candidate rows move, corpus size drops
    * out entirely (at 100 TB a sort-merge join on doc_id over two
    * df-sized sides, never a corpus scan). pf = surviving starts,
    * exact integer, so stored ≡ scan-side bit-for-bit. */
  def phraseTopKStored(s: org.apache.spark.sql.SparkSession, path: String,
                       phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two terms")
    val (post, _, _) = storedProbe(s, path, phrase.distinct)
    val first = post.where(col("term") === phrase.head)
      .select(col("doc_id"), col("positions").as("starts"))
    val chained = phrase.tail.zipWithIndex.foldLeft(first) {
      case (acc, (t, j)) =>
        val nxt = post.where(col("term") === t)
          .select(col("doc_id"), col("positions").as("nxt"))
        acc.join(nxt, "doc_id")
          .select(col("doc_id"),
            filter(col("starts"),
              p => array_contains(col("nxt"), p + lit(j + 1))).as("starts"))
    }
    chained.select(col("doc_id"), size(col("starts")).cast("long").as("pf"))
      .where(col("pf") > 0)
      .orderBy(col("pf").desc, col("doc_id"))
      .limit(k)
  }

  /** One-row DESCRIBE of the stored text index — the operational
    * health check (doc count, average doc length, vocabulary size,
    * posting rows) served FROM the artifact: stats from the committed
    * base+delta stats rows, vocabulary/postings from one aggregate
    * over the live posting rows (all buckets — a maintenance query, so
    * no term pruning applies; still postings-sized, never
    * corpus-text-sized). Matching the recomputed-from-documents oracle
    * proves the artifact's bookkeeping, not just its probe path. */
  def textIndexStats(s: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = {
    val (n, avgdl, _) = readTextStats(s, path)
    graft.tsdb.Keysets.dropTombstoned(
        graft.tsdb.Keysets.readWithDeltas(s, path, "postings"), "doc_id")
      .agg(count_distinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_postings"))
      .select(lit(n.toLong).as("n_docs"),
        lit(math.round(avgdl * 10000.0) / 10000.0 + 0.0).as("avgdl"),
        col("n_terms"), col("n_postings"))
  }

  /** Dense rank positions of an ALREADY-SMALL ranked pool (a top-k
    * result, k rows). The unpartitioned window is deliberate — it runs
    * over k rows post-limit, never the corpus. Ranks off the 4dp-rounded
    * score so rank order is engine-portable. */
  private def ranked(pool: DataFrame, idCol: String, scoreCol: String,
                     rankCol: String): DataFrame =
    pool.select(col(idCol),
      row_number().over(Window.orderBy(col(scoreCol).desc, col(idCol)))
        .cast("long").as(rankCol))

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998):
    * greedily pick `k` of the query's `poolK` nearest vectors, each
    * step maximizing `λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s)` — the
    * standard diversification pass over a retrieved pool (first pick =
    * highest relevance; the empty-set penalty is 0).
    *
    * Scale shape: the expensive part is the POOL query (brute force
    * here for oracle exactness; the stored-IVF probe is the production
    * swap — MMR only sees (id, rel) rows). Pairwise candidate cosines
    * are a poolK²-bounded broadcast self-join, and the greedy argmax
    * itself runs driver-side over ≤ poolK rows — a k-sized collect
    * like the centroid/stats reads, NOT a corpus collect; the corpus
    * is never touched after the pool query. Determinism: rel and sim
    * are the engine's 4dp cosines, the MMR objective is 4dp-quantized
    * before each argmax, ties break by id — so the greedy trace is
    * engine-portable (the oracle replays it as a recursive CTE). */
  def mmrRerank(s: org.apache.spark.sql.SparkSession,
                vectors: DataFrame, queryVec: DataFrame,
                poolK: Int, k: Int, lambda: Double): DataFrame = {
    val pool = Similarity.cosineTopK(vectors, queryVec, poolK)
    val poolVecs = vectors
      .join(broadcast(pool.select("vec_id")), Seq("vec_id"))
      .withColumn("mmr_blk", lit(1))
    val rel = pool.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sims = Similarity.blockedPairCosines(poolVecs, "mmr_blk", ordered = true)
      .collect().flatMap { r =>
        val (a, b, v) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        Seq((a, b) -> v, (b, a) -> v)
      }.toMap
    val mu = 1.0 - lambda
    def q4(x: Double) = math.round(x * 10000.0) / 10000.0 + 0.0
    val ids = rel.keys.toSeq
    val picked = scala.collection.mutable.ArrayBuffer(
      ids.minBy(id => (-rel(id), id)))
    while (picked.size < math.min(k, ids.size)) {
      picked += ids.filterNot(picked.contains).minBy { c =>
        (-q4(lambda * rel(c) - mu * picked.map(p => sims((c, p))).max), c)
      }
    }
    import s.implicits._
    picked.toSeq.zipWithIndex
      .map { case (id, i) => ((i + 1).toLong, id) }
      .toDF("sel_rank", "vec_id")
  }

  /** Pseudo-relevance-feedback query expansion (the Rocchio/RM
    * family's deterministic core): run BM25 with the original `terms`,
    * take the top `fbK` hits as feedback docs, pick the `expand` most
    * frequent feedback-doc terms (≥ `minLen` chars, originals
    * excluded; ties break lexicographically) as expansion terms, then
    * re-score the corpus with the UNION of original + expansion terms
    * and return the top `k`.
    *
    * Scale shape: the feedback pool is fbK rows; expansion-term mining
    * is one word-count aggregate over fbK docs (broadcast semi-join
    * into the corpus scan). The rescore pass uses the posting-row
    * formulation — (doc, term, tf) rows word-count-shaped, the tiny
    * query-term set broadcast into them — because the expanded term
    * set is DATA (a DataFrame), not compile-time literals; per-term
    * contributions are 4dp-decimal-quantized before the
    * order-independent per-doc sum, exactly like [[bm25TopKStored]]
    * (and the oracle mirrors THIS formulation). No driver round-trip
    * anywhere: the expansion terms never leave the cluster. */
  def prfExpandTopK(s: org.apache.spark.sql.SparkSession,
                    docs: DataFrame, idCol: String, textCol: String,
                    terms: Seq[String], fbK: Int, expand: Int, k: Int,
                    minLen: Int = 4, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    import s.implicits._
    val ws = docs
      .withColumn("ws", filter(Dedup.words(col(textCol)), w => w =!= lit("")))
      .withColumn("dl", size(col("ws")).cast("double"))
    val pool = bm25TopK(docs, idCol, textCol, terms, fbK)
      .select(col(idCol).as("doc_id"))
    val fbTerms = ws.select(col(idCol).as("doc_id"), col("ws"))
      .join(broadcast(pool), "doc_id")
      .select(explode(col("ws")).as("term"))
      .where(!col("term").isin(terms: _*) && length(col("term")) >= minLen)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(expand)
      .select("term")
    val qterms = fbTerms.union(terms.toDF("term"))
    val stats = ws.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val post = ws
      .select(col(idCol).as("doc_id"), col("dl"), explode(col("ws")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val cand = post.join(broadcast(qterms), "term")
    val dfs = cand.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = cand.join(broadcast(dfs), "term").crossJoin(broadcast(stats))
      .withColumn("contrib", graft.core.D.dec(
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))))
    scored.groupBy("doc_id")
      .agg(graft.core.D.r4s(sum(col("contrib")).cast("double")).as("bm25"))
      .where(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Reciprocal-rank fusion of a lexical pool and a vector pool
    * (Cormack et al.: score = Σ 1/(rrfK + rank)); a document absent
    * from one list contributes 0 for it. Emits
    * (idCol, rank_b, rank_v, rrf) top-k by fused score. */
  def rrfFuse(lexPool: DataFrame, lexScore: String,
              vecPool: DataFrame, vecScore: String,
              idCol: String, rrfK: Int = 60, k: Int = 10): DataFrame = {
    val br = ranked(lexPool, idCol, lexScore, "rank_b")
    val vr = ranked(vecPool, idCol, vecScore, "rank_v")
    val kd = lit(rrfK.toDouble)
    br.join(vr, Seq(idCol), "full_outer")
      .select(col(idCol), col("rank_b"), col("rank_v"),
        graft.core.D.r4s(
          coalesce(lit(1.0) / (kd + col("rank_b")), lit(0.0)) +
          coalesce(lit(1.0) / (kd + col("rank_v")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }
}
