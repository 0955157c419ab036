package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** LLM-operator properties: MinHash/LSH guarantees, SimHash locality,
  * normalization, ANN vs brute-force, fingerprints, multimodal stub. */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"),   // near dup
    (4L, "completely different words about spark query engines at scale"),
    (5L, "another unrelated sentence mentioning shuffle partitions only")
  ).toDF("doc_id", "text")

  test("minhash: exact duplicates always share the full signature") {
    val sig = docs.select(col("doc_id"), Dedup.words(col("text")).as("w"))
      .withColumn("sh", Dedup.shingles("w", 3))
      .withColumn("bh", Dedup.baseHashes("sh"))
      .withColumn("sig", Dedup.minhashSignature("bh", 32))
      .select("doc_id", "sig").as[(Long, Seq[Long])].collect().toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(4L))
  }

  test("minhash-LSH: exact dups are found; verified Jaccard filters junk") {
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", k = 32, r = 4,
      shingleN = 3, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact duplicate pair must be caught")
    assert(!pairs.exists(p => p._2 == 4L || p._2 == 5L))
  }

  test("bm25: rare term dominates, absent-term docs score 0, plan is map+1-row-agg") {
    val corpus = Seq(
      (1L, "spark merge spark merge spark"),     // common terms only, short
      (2L, "dup spark padding padding padding padding padding padding"), // rare term
      (3L, "padding words only nothing relevant here at all"),
      (4L, "dup dup dup"),                       // rare term, high tf, tiny dl
      (5L, "spark padding padding padding padding padding padding padding")
    ).toDF("doc_id", "text")
    val hits = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq("spark", "merge", "dup"), 5)
      .as[(Long, Double)].collect()
    val rank = hits.map(_._1).toSeq
    assert(!rank.contains(3L), "doc sharing no query term must not be a hit")
    assert(hits.forall(_._2 > 0))
    // docs carrying the rare term ("dup": df 2/5) outrank common-term-only
    assert(rank.indexOf(4L) < rank.indexOf(5L))
    // scale shape: no wide shuffle — only the single-row stats aggregate
    // exchanges (plus nothing for TakeOrderedAndProject). k must be
    // SMALLER than the corpus here: a limit ≥ the child's maxRows is
    // removed by EliminateLimits, and with it TakeOrderedAndProject
    val p = Retrieval.bm25TopK(corpus, "doc_id", "text", Seq("spark"), 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"BM25 must not shuffle the corpus:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("stored text index: probe matches scan-side hits; postings scan partition-prunes") {
    val corpus = graft.core.Tables.documents(spark, sf)
    val path = java.nio.file.Files
      .createTempDirectory("graft_llmspec_text").resolve("text").toString
    Retrieval.buildTextIndex(spark, corpus, "doc_id", "text", path, "spec-v1")
    val terms = Seq("spark", "merge", "dup")
    val stored = Retrieval.bm25TopKStored(spark, path, terms, 10)
      .as[(Long, Double)].collect()
    val scan = Retrieval.bm25TopK(corpus, "doc_id", "text", terms, 10)
      .as[(Long, Double)].collect()
    // same hit set; scores agree to the quantization boundary (the
    // stored path sums 4dp-quantized per-term contributions)
    assert(stored.map(_._1).toSet == scan.map(_._1).toSet,
      s"stored=${stored.toSeq} scan=${scan.toSeq}")
    val scanById = scan.toMap
    stored.foreach { case (id, s0) =>
      assert(math.abs(s0 - scanById(id)) <= 2e-4, s"doc $id: $s0 vs ${scanById(id)}")
    }
    // the probe must reach only the query terms' hash-bucket partitions
    val p = Retrieval.bm25TopKStored(spark, path, terms, 10)
      .queryExecution.executedPlan.toString
    val pf = p.split("PartitionFilters:")
    assert(pf.length >= 2 && pf(1).takeWhile(_ != ']').contains("tb"),
      s"postings scan must partition-prune on the term bucket:\n$p")
    // rebuild with the same fingerprint is a no-op (the ensure pattern)
    val before = new java.io.File(s"$path/_meta").lastModified()
    Retrieval.ensureTextIndex(spark, corpus, "doc_id", "text", path, "spec-v1")
    assert(new java.io.File(s"$path/_meta").lastModified() == before)
  }

  test("batch BM25: one shared probe matches per-query stored probes exactly") {
    val corpus = graft.core.Tables.documents(spark, sf)
    val path = java.nio.file.Files
      .createTempDirectory("graft_llmspec_batch").resolve("text").toString
    Retrieval.buildTextIndex(spark, corpus, "doc_id", "text", path, "spec-v1")
    val batch = Seq(1 -> "spark", 1 -> "merge", 2 -> "dup", 2 -> "spark")
      .toDF("query_id", "term")
    val out = Retrieval.bm25TopKStoredBatch(spark, path, batch, k = 3)
      .as[(Int, Long, Long, Double)].collect()
    // each query's slice of the batch result ≡ its own single probe
    for ((qid, terms) <- Seq(1 -> Seq("spark", "merge"), 2 -> Seq("dup", "spark"))) {
      val single = Retrieval.bm25TopKStored(spark, path, terms, 3)
        .as[(Long, Double)].collect().toSeq
      val slice = out.filter(_._1 == qid).sortBy(_._2).map(r => (r._3, r._4)).toSeq
      assert(slice == single, s"query $qid: batch=$slice single=$single")
    }
  }

  test("hard negatives: never same-label, never self, ranked by cosine") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0), (2L, Array(0.9f, 0.1f, 0f, 0f), 0),
      (3L, Array(0.8f, 0.2f, 0f, 0f), 1), (4L, Array(0f, 1f, 0f, 0f), 1),
      (5L, Array(0f, 0f, 1f, 0f), 2)).toDF("vec_id", "embedding", "label")
    val q = vecs.where($"vec_id" === 1)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"label".as("q_label"))
    val out = Similarity.hardNegatives(vecs, q, 2)
      .as[(Long, Long, Long, Int, Double)].collect().toSeq
    // label-0 vectors (the query's own class, incl. itself) are excluded;
    // vec 3 (cos≈0.97) outranks vec 4 (0) and vec 5 (0)
    assert(out.map(_._3).toSet.intersect(Set(1L, 2L)).isEmpty)
    assert(out.map(r => (r._2, r._3)) == Seq((1L, 3L), (2L, 4L)))
    assert(out.head._5 > 0.9)
  }

  test("text index lifecycle: append ≡ rebuild, takedown immediate, compaction recomputes stats") {
    val corpus = graft.core.Tables.documents(spark, sf)
    val terms = Seq("spark", "merge", "dup")
    def probe(p: String) = Retrieval.bm25TopKStored(spark, p, terms, 10)
      .as[(Long, Double)].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_llmspec_tlc")
    // append ≡ rebuild: the batch's integer-exact stats combine with the
    // base's, per-term df derives at probe time — batch boundaries can't
    // change what a probe returns
    val grown = root.resolve("grown").toString
    Retrieval.buildTextIndex(spark,
      corpus.where(col("doc_id") % 10 =!= 7), "doc_id", "text", grown, "t")
    Retrieval.appendTextDelta(spark,
      corpus.where(col("doc_id") % 10 === 7), "doc_id", "text", grown)
    assert(Retrieval.textDeltaCount(spark, grown) == 1)
    val whole = root.resolve("whole").toString
    Retrieval.buildTextIndex(spark, corpus, "doc_id", "text", whole, "t")
    assert(probe(grown) == probe(whole),
      "an appended index must equal a whole-corpus rebuild")
    // takedown: the deleted doc vanishes from hits (and df) immediately,
    // before any compaction
    val hitsBefore = probe(whole).map(_._1).toSet
    assert(hitsBefore.nonEmpty)
    val top = probe(whole).head._1
    Retrieval.deleteFromTextIndex(spark, Seq(top).toDF("doc_id"), whole)
    val afterDel = probe(whole)
    assert(!afterDel.map(_._1).contains(top),
      "a takedown must be invisible to probes immediately")
    // the top-10 limit backfills: every surviving prior hit stays, and
    // the freed slot may admit the former rank-11 doc
    assert((hitsBefore - top).subsetOf(afterDel.map(_._1).toSet),
      "only the tombstoned doc may disappear")
    // compaction folds deltas, purges tombstoned postings physically,
    // and RECOMPUTES corpus stats — the folded index must equal a fresh
    // build over the surviving corpus exactly (scores included: the
    // pre-compaction probe still priced the deleted doc into N/avgdl)
    Retrieval.compactTextDeltas(spark, whole)
    assert(Retrieval.textDeltaCount(spark, whole) == 0)
    val fresh = root.resolve("fresh").toString
    Retrieval.buildTextIndex(spark,
      corpus.where(col("doc_id") =!= top), "doc_id", "text", fresh, "t")
    assert(probe(whole) == probe(fresh),
      "compaction must leave exactly the live-corpus rebuild")
  }

  test("filtered stored BM25: candidates narrow, term weights don't, filter pushes down") {
    val corpus = graft.core.Tables.documents(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("graft_llmspec_fbm")
      .resolve("text").toString
    Retrieval.buildTextIndex(spark, corpus, "doc_id", "text", path, "t")
    val terms = Seq("spark", "merge", "dup")
    val en = corpus.where(col("lang") === "en").select("doc_id")
    val filtered = Retrieval.bm25TopKStoredFiltered(spark, path, terms, en, 10)
    // semantics: the filtered top-10 IS the unfiltered ranking
    // restricted to qualifying docs — per-doc scores unchanged (df and
    // stats stay corpus-level), only non-qualifying docs drop out
    val enIds = en.as[Long].collect().toSet
    val unfiltered = Retrieval.bm25TopKStored(spark, path, terms, 100000)
      .as[(Long, Double)].collect().toSeq
    assert(filtered.as[(Long, Double)].collect().toSeq ==
      unfiltered.filter(h => enIds(h._1)).take(10),
      "filtered ranking must equal the unfiltered ranking restricted to the slice")
    // plan: the lang predicate reaches the documents scan, both semi
    // joins broadcast, and no exchange ever carries posting rows on a
    // non-aggregate path (the only hash exchange is the per-doc sum)
    val p = filtered.queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(lang,en)"),
      s"lang filter must push into the documents scan:\n$p")
    assert("BroadcastHashJoin.*LeftSemi".r.findAllIn(p).size == 2,
      s"both id semi-joins must broadcast:\n$p")
    // candidate-distinct, per-term df, per-doc sum — all candidate-sized
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"only candidate-sized aggregates may exchange:\n$p")
  }

  test("phrase search: stored positional probe ≡ scan recount, survives append, prunes buckets") {
    val corpus = graft.core.Tables.documents(spark, sf)
    val phrase = Seq("key", "agg")
    val scan = Retrieval.phraseTopK(corpus, "doc_id", "text", phrase, 10)
      .as[(Long, Long)].collect().toSeq
    assert(scan.nonEmpty && scan.forall(_._2 > 0))
    // hand-recount the top hit with plain Scala — pins the sequence+
    // filter formulation itself, independent of any engine
    val (topId, topPf) = scan.head
    val ws = corpus.where(col("doc_id") === topId)
      .select("text").as[String].head().toLowerCase.split(" ").filter(_.nonEmpty)
    assert((0 until ws.length - 1)
      .count(i => ws(i) == "key" && ws(i + 1) == "agg").toLong == topPf)
    // stored probe is BIT-equal to the scan side (pf is an exact
    // integer — no quantization boundary like BM25 scores)
    val root = java.nio.file.Files.createTempDirectory("graft_llmspec_phr")
    val path = root.resolve("text").toString
    Retrieval.buildTextIndex(spark, corpus, "doc_id", "text", path, "t")
    val stored = Retrieval.phraseTopKStored(spark, path, phrase, 10)
    assert(stored.as[(Long, Long)].collect().toSeq == scan)
    // positions ride the delta lifecycle: slice-build + append ≡ whole
    val grown = root.resolve("grown").toString
    Retrieval.buildTextIndex(spark,
      corpus.where(col("doc_id") % 10 =!= 7), "doc_id", "text", grown, "t")
    Retrieval.appendTextDelta(spark,
      corpus.where(col("doc_id") % 10 === 7), "doc_id", "text", grown)
    assert(Retrieval.phraseTopKStored(spark, grown, phrase, 10)
      .as[(Long, Long)].collect().toSeq == scan)
    // probe reads only the phrase terms' hash-bucket partitions
    val p = stored.queryExecution.executedPlan.toString
    val pf = p.split("PartitionFilters:")
    assert(pf.length >= 2 && pf(1).takeWhile(_ != ']').contains("tb"),
      s"phrase probe must partition-prune on the term bucket:\n$p")
  }

  test("MMR rerank: λ=1 degenerates to pure top-k, λ=0.5 diversifies, invariants hold") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val qv = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val topRel = Similarity.cosineTopK(emb, qv, 5)
      .as[(Long, Double)].collect().map(_._1).toSeq
    // λ=1: zero diversity penalty — the greedy trace IS relevance order
    val pure = Retrieval.mmrRerank(spark, emb, qv, 20, 5, lambda = 1.0)
      .as[(Long, Long)].collect().toSeq.map(_._2)
    assert(pure == topRel, s"λ=1 must equal top-k: $pure vs $topRel")
    // λ=0.5: penalty bites — selection diverges from pure relevance
    // (fixture-pinned: at λ=0.7 they coincide, which is why the
    // registration uses 0.5)
    val div = Retrieval.mmrRerank(spark, emb, qv, 20, 5, lambda = 0.5)
      .as[(Long, Long)].collect().toSeq
    assert(div.map(_._2) != topRel, "λ=0.5 must diversify on this fixture")
    // invariants: ranks 1..5, distinct picks, all from the pool, and
    // the first pick is always the nearest neighbor regardless of λ
    val pool = Similarity.cosineTopK(emb, qv, 20)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(div.map(_._1) == (1L to 5L))
    assert(div.map(_._2).distinct.size == 5)
    assert(div.map(_._2).forall(pool))
    assert(div.head._2 == topRel.head)
  }

  test("compacted registrations: fold ran, guard holds, semantics match") {
    // llm_bm25_compacted: delete-then-compact ≡ a fresh build over the
    // live slice (stats recomputed — the thing its oracle checks)
    val corpus = graft.core.Tables.documents(spark, sf)
    val bm = graft.SparkEntry.queries("llm_bm25_compacted")(spark, sf)
      .as[(Long, Double)].collect().toSeq
    val live = java.nio.file.Files.createTempDirectory("graft_llmspec_cmp")
      .resolve("live").toString
    Retrieval.buildTextIndex(spark,
      corpus.where(col("doc_id") % 11 =!= 5), "doc_id", "text", live, "t")
    assert(bm == Retrieval.bm25TopKStored(spark, live,
      Seq("spark", "merge", "dup"), 10).as[(Long, Double)].collect().toSeq,
      "compacted registration must equal a live-slice rebuild probe")
    // llm_sim_ivf_compacted: physical purge only — must equal the
    // tombstone view the deleted registration serves
    val iv = graft.SparkEntry.queries("llm_sim_ivf_compacted")(spark, sf).collect()
    val dl = graft.SparkEntry.queries("llm_sim_ivf_deleted")(spark, sf).collect()
    assert(iv.sameElements(dl),
      "post-fold ANN probe must equal the pre-fold tombstone view")
    // both ensure guards: the fold left a watermark and no visible
    // deltas, and a re-run reuses the artifact (no rebuild)
    def tmpIdx(sub: String) = java.nio.file.Paths
      .get(sys.props("java.io.tmpdir"), "graft_idx",
        sf.replaceAll("[^A-Za-z0-9._-]", "_"), sub).toString
    assert(Retrieval.textFoldedThru(spark, tmpIdx("text_cmp")) >= 0)
    assert(Retrieval.textDeltaCount(spark, tmpIdx("text_cmp")) == 0)
    assert(Similarity.ivfFoldedThru(spark, tmpIdx("ann_cmp")) >= 0)
    assert(Similarity.ivfDeltaCount(spark, tmpIdx("ann_cmp")) == 0)
    val meta = new java.io.File(s"${tmpIdx("text_cmp")}/_meta")
    val before = meta.lastModified()
    graft.SparkEntry.queries("llm_bm25_compacted")(spark, sf).collect()
    assert(meta.lastModified() == before,
      "a second run must reuse the compacted artifact, not rebuild")
  }

  test("layout version rides the fingerprint: a layout bump rebuilds with unchanged data") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_llmspec_lv").resolve("text").toString
    def fp(v: String) = s"$v|b=16|content-unchanged"
    Retrieval.ensureTextIndex(spark, docs, "doc_id", "text", path,
      fp(Retrieval.TextLayoutVersion))
    val before = new java.io.File(s"$path/_meta").lastModified()
    Retrieval.ensureTextIndex(spark, docs, "doc_id", "text", path,
      fp(Retrieval.TextLayoutVersion))
    assert(new java.io.File(s"$path/_meta").lastModified() == before,
      "same layout + same content must not rebuild")
    Retrieval.ensureTextIndex(spark, docs, "doc_id", "text", path,
      fp(Retrieval.TextLayoutVersion + ".next"))
    assert(graft.tsdb.Keysets.fingerprint(spark, path)
      .contains(fp(Retrieval.TextLayoutVersion + ".next")),
      "a layout-version bump with unchanged data must rebuild the artifact")
  }

  test("rrf fusion: both pools contribute, both-list docs outrank single-list peers") {
    val lex = Seq((10L, 5.0), (20L, 4.0), (30L, 3.0)).toDF("id", "s1")
    val vec = Seq((20L, 0.9), (40L, 0.8), (30L, 0.7)).toDF("id", "s2")
    val fused = Retrieval.rrfFuse(lex, "s1", vec, "s2", "id", 60, 10)
      .select("id", "rrf").as[(Long, Double)].collect()
    assert(fused.head._1 == 20L, "doc ranked in BOTH lists must fuse highest")
    assert(fused.map(_._1).toSet == Set(10L, 20L, 30L, 40L))
    // 20: rank 2 lex + rank 1 vec = 1/62 + 1/61; 30: 1/63 + 1/63
    val expect20 = math.round((1.0 / 62 + 1.0 / 61) * 10000.0) / 10000.0
    assert(math.abs(fused.head._2 - expect20) < 1e-9)
  }

  test("native md5 minhash equals the relational md5 formulation, lane by lane") {
    // the native expression must stay in bit-lockstep with the SQL shape
    // the DuckDB oracle evaluates — over the real fixture corpus, not
    // just the micro docs
    val fixture = graft.core.Tables.documents(spark, sf)
    for (src <- Seq(docs, fixture)) {
      val native = Dedup.minhashSigsPortable(src, "doc_id", "text", 32, 3)
        .orderBy("id").collect()
      val sql = Dedup.minhashSigsPortableSql(src, "doc_id", "text", 32, 3)
        .orderBy("id").collect()
      assert(native.length == sql.length && native.length > 0)
      native.zip(sql).foreach { case (a, b) => assert(a == b) }
    }
  }

  test("native md5 winnow equals the relational window-min formulation") {
    val native = graft.SparkEntry.queries("llm_fingerprint")(spark, sf).collect()
    val sql = LlmQueries.fingerprintMd5Sql(spark, sf).collect()
    assert(native.length == sql.length && native.length > 0)
    native.zip(sql).foreach { case (a, b) => assert(a == b) }
  }

  test("native md5 expressions match relational forms on multibyte/surrogate text") {
    // code-point-safe tokens incl. a supplementary-plane char (𝕏) and an
    // emoji — both are ONE code point but TWO UTF-16 units, which is
    // exactly where a chars-vs-code-points mismatch between the native
    // substring loop and SQL substr would surface
    val toks = Seq("a", "b", " ", "ä", "☃", "𝕏", "漢", "é", "🙂")
    val rnd = new scala.util.Random(42)
    val df = (0L until 150L).map { i =>
      (i, Seq.fill(rnd.nextInt(30))(toks(rnd.nextInt(toks.size))).mkString)
    }.toDF("doc_id", "text")
    // winnow (k=8, w=16): native vs relational window-min
    val nat = df.select(col("doc_id"),
        explode(org.apache.spark.sql.graftfn.Md5Winnow.of(col("text"), 8, 16)).as("mh"))
      .distinct().orderBy("doc_id", "mh").collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("j").rowsBetween(0, 15)
    val ng = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val rel = df.where(length(col("text")) >= 8)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(1, length(text) - 7)")).as("j"))
      .select(col("doc_id"), col("j"),
        expr("md5(cast(substr(text, j, 8) as binary))").as("h"))
      .withColumn("mh", min(col("h")).over(w))
      .withColumn("ng", count(lit(1)).over(ng))
      .where(col("j") <= col("ng") - 15)
      .select("doc_id", "mh").distinct().orderBy("doc_id", "mh").collect()
    assert(nat.length == rel.length && nat.nonEmpty)
    nat.zip(rel).foreach { case (a, b) => assert(a == b) }
    // minhash signatures: native lane evaluation vs relational min-agg
    val natSig = Dedup.minhashSigsPortable(df, "doc_id", "text", 32, 3)
      .orderBy("id").collect()
    val relSig = Dedup.minhashSigsPortableSql(df, "doc_id", "text", 32, 3)
      .orderBy("id").collect()
    assert(natSig.length == relSig.length && natSig.nonEmpty)
    natSig.zip(relSig).foreach { case (a, b) => assert(a == b) }
  }

  test("decontaminate: flags only train docs, never the eval slice, with positive overlap") {
    val out = graft.SparkEntry.queries("llm_decontaminate")(spark, sf).collect()
    assert(out.nonEmpty, "fixture corpus must produce contaminated docs")
    out.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 20 != 0, "eval docs must not be flagged")
      assert(r.getAs[Long]("n_shared") >= 1 && r.getAs[Long]("n_eval_docs") >= 1)
    }
  }

  test("decontaminate: broadcast under the threshold, shuffle fallback over it, same answer") {
    val train = Seq((1L, "aa"), (1L, "bb"), (2L, "cc"), (3L, "aa"))
      .toDF("doc_id", "s")
    val ev = Seq(("aa", 20L), ("cc", 40L), ("aa", 40L)).toDF("s", "eval_id")
    val small = Dedup.decontaminate(train, ev)                    // eval fits: broadcast
    val big = Dedup.decontaminate(train, ev, maxBroadcastRows = 1) // forced fallback
    assert(small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(!bigPlan.contains("BroadcastHashJoin") && bigPlan.contains("ShuffledHashJoin"))
    val expect = Set((1L, 1L, 2L), (2L, 1L, 1L), (3L, 1L, 2L))
    assert(small.as[(Long, Long, Long)].collect().toSet == expect)
    assert(big.as[(Long, Long, Long)].collect().toSet == expect)
  }

  test("dedup clusters: transitive chain collapses to min-id label; disjoint pairs stay apart") {
    // chain 1-2, 2-3 plus disjoint pair 7-9: closure must label {1,2,3}
    // as cluster 1 (size 3) even though (1,3) is never a pair
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a_id", "b_id")
    val out = Dedup.dedupClusters(pairs)
      .as[(Long, Long, Long)].collect().toList
    assert(out == List((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 2L), (9L, 7L, 2L)))
  }

  test("dedup clusters: empty pair set yields empty output, not a crash") {
    val pairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.dedupClusters(pairs).count() == 0L)
  }

  test("dedup clusters: label propagates over a long chain to one component") {
    // worst-case diameter: a path 0-1-...-9; fixpoint loop must not stop
    // early at any fixed round count
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val out = Dedup.dedupClusters(pairs).as[(Long, Long, Long)].collect()
    assert(out.length == 10 && out.forall { case (_, c, n) => c == 0L && n == 10L })
  }

  test("corpus curate: bounded by the gate-only count, nonempty, scores in range") {
    val dir = sf
    val curate = graft.SparkEntry.queries("llm_corpus_curate")(spark, dir)
      .collect()
    assert(curate.nonEmpty)
    val total = curate.map(_.getAs[Long]("n_docs")).sum
    // independent cross-check: llm_quality_score applies the same gate
    // but NO dedup, so its passing count is an upper bound
    val gateOnly = graft.SparkEntry.queries("llm_quality_score")(spark, dir)
      .where(col("n_words") >= 20 && col("quality") >= 0.25).count()
    assert(total > 0 && total <= gateOnly)
    val nDocs = graft.core.Tables.documents(spark, dir).count()
    assert(total < nDocs, "curation must drop something on the dup-dense fixture")
    assert(curate.forall { r =>
      val q = r.getAs[Double]("avg_quality"); q >= 0.25 && q <= 1.0
    })
  }

  test("repetition ratio: degenerate repetition scores ~1, varied text scores low") {
    val d = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),       // one bigram only
      (2L, "every single word here is used exactly once okay")
    ).toDF("doc_id", "text")
    val out = graft.llm.LlmQueries.queries("llm_repetition_ratio")(spark, sf)
    // run the same shape on the micro-frame via the public pieces
    val bg = d.select(col("doc_id"), Dedup.words(col("text")).as("w"))
      .select(col("doc_id"), explode(Dedup.shingles("w", 2)).as("bg"))
    val ratios = bg.groupBy("doc_id", "bg").count()
      .groupBy("doc_id").agg((max("count") / sum("count")).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(ratios(1L) == 1.0 && ratios(2L) < 0.2)
    assert(out.columns.contains("rep_ratio"))
  }

  test("unigram familiarity: common-word docs outscore rare-word docs") {
    val out = graft.SparkEntry.queries("llm_unigram_score")(spark, sf)
      .select("fam_ppm").as[Double].collect()
    assert(out.forall(p => p > 0.0), "every doc shares at least its own tokens")
    // ordering, not just positivity: a doc of repeated corpus-common
    // tokens must strictly outscore a doc of corpus-unique tokens
    val micro = Seq(
      (1L, "the the the the"),
      (2L, "axolotl bandicoot capybara dugong")
    ).toDF("doc_id", "text")
    val t = micro
      .select(col("doc_id"), explode(Dedup.words(col("text"))).as("term"))
      .where(col("term") =!= "")
    val cf = t.groupBy("term").agg(count(lit(1)).as("cf"))
    val total = cf.agg(sum(col("cf")).as("total"))
    val fam = t.join(cf, "term").crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum(col("cf")).as("sum_cf"),
        first(col("total")).as("tot"))
      .select(col("doc_id"),
        (col("sum_cf") * lit(1000000.0) / (col("n") * col("tot"))).as("fam"))
      .as[(Long, Double)].collect().toMap
    assert(fam(1L) > fam(2L),
      s"common-token doc must outscore unique-token doc: $fam")
  }

  test("jaccard: symmetric, 1.0 for identical sets, bounded") {
    val two = docs.where(col("doc_id").isin(1, 3))
      .select(array_distinct(Dedup.words(col("text"))).as("w"))
      .as[Seq[String]].collect()
    val j = Seq((two(0), two(1))).toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b")).as("j"),
        Dedup.jaccard(col("b"), col("a")).as("jr"))
      .as[(Double, Double)].head()
    assert(j._1 == j._2 && j._1 > 0.5 && j._1 < 1.0)
    val self = Seq((two(0), two(0))).toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b"))).as[Double].head()
    assert(self == 1.0)
  }

  test("simhash: identical texts collide; near-dups are close, unrelated far") {
    val sigs = docs.select(col("doc_id"), Dedup.words(col("text")).as("w"))
      .select(col("doc_id"), Dedup.simhash("w", 16).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
  }

  test("line segments: 4-word windows, ragged tail, order preserved") {
    val segs = Seq((1L, "a b c d e f g h i"), (2L, "x"), (3L, "a b c d"))
      .toDF("doc_id", "text")
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), Dedup.lineSegments("ws", 4).as("lines"))
      .as[(Long, Seq[String])].collect().toMap
    assert(segs(1L) == Seq("a b c d", "e f g h", "i"))
    assert(segs(2L) == Seq("x"))
    assert(segs(3L) == Seq("a b c d"))
  }

  test("line dedup: df counts every occurrence; apply removes df>2 lines in order") {
    // "p q r s" appears 3× corpus-wide (df=3 > 2, removed everywhere:
    // twice in doc 1, once in doc 2); every other line is unique
    val corpus = Seq(
      (1L, "p q r s p q r s u v w x"),
      (2L, "p q r s m n o t"),
      (3L, "a b c d e f g h")
    ).toDF("doc_id", "text")
    val lines = corpus
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(Dedup.lineSegments("ws", 4)).as(Seq("line_idx", "line")))
      .withColumn("h", md5(col("line")))
    val ldf = lines.groupBy("h").agg(count(lit(1)).as("df"))
    val lj = lines.join(ldf, "h")
    val dfMap = lj.select("line", "df").distinct()
      .as[(String, Long)].collect().toMap
    assert(dfMap("p q r s") == 3L && dfMap("u v w x") == 1L)
    val cleaned = lj.groupBy("doc_id")
      .agg(expr("""array_join(transform(
             array_sort(collect_list(
               CASE WHEN df <= 2 THEN struct(line_idx, line) END)),
             p -> p.line), ' ')""").as("clean"))
      .as[(Long, String)].collect().toMap
    assert(cleaned(1L) == "u v w x", "both df=3 copies removed, kept line survives")
    assert(cleaned(2L) == "m n o t")
    assert(cleaned(3L) == "a b c d e f g h", "unique-line doc untouched")
    // a doc that loses EVERY line cleans to "" (md5('') row), not a drop
    val allDup = Seq((1L, "z z z z"), (2L, "z z z z"), (3L, "z z z z"))
      .toDF("doc_id", "text")
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(Dedup.lineSegments("ws", 4)).as(Seq("line_idx", "line")))
      .withColumn("h", md5(col("line")))
    val ldf2 = allDup.groupBy("h").agg(count(lit(1)).as("df"))
    val gone = allDup.join(ldf2, "h").groupBy("doc_id")
      .agg(expr("""md5(array_join(transform(
             array_sort(collect_list(
               CASE WHEN df <= 2 THEN struct(line_idx, line) END)),
             p -> p.line), ' '))""").as("clean_md5"))
    assert(gone.count() == 3L)
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.emptyByteArray).map("%02x".format(_)).mkString
    assert(gone.select("clean_md5").as[String].collect().forall(_ == emptyMd5))
  }

  test("dedup exact is idempotent") {
    val once = docs.dropDuplicates("text")
    assert(once.count() == 4)
    assert(once.dropDuplicates("text").count() == once.count())
  }

  test("normalize: unit L2 norm within rounding tolerance") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val norms = emb.withColumn("nrm", Similarity.normExpr("embedding"))
      .select(Similarity.normalized("embedding", "nrm").as("unit"))
      .select(expr("aggregate(unit, 0.0D, (a, x) -> a + x * x)").as("l2"))
      .as[Double].collect()
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-3))
  }

  test("cosine top-k: self-similarity is 1 and ranks first") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val qv = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val top = Similarity.cosineTopK(emb, qv, 5).as[(Long, Double)].collect()
    assert(top.head._1 == 0L && top.head._2 == 1.0)
    assert(top.map(_._2).sliding(2).forall(p => p.head >= p.last), "descending")
  }

  test("ANN-LSH: query's own vector is always in its bucket and tops the result") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val qv = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val ann = Similarity.annTopKLsh(emb, qv, 5, planes = 4).as[(Long, Double)].collect()
    assert(ann.head._1 == 0L && ann.head._2 == 1.0)
    // every ANN sim must be ≤ the brute-force best (it searches a subset)
    val brute = Similarity.cosineTopK(emb, qv, 5).as[(Long, Double)].collect()
    assert(ann.map(_._2).max <= brute.map(_._2).max)
  }

  test("semdedup: keep-lowest-id invariant and drops are a strict subset") {
    val out = graft.SparkEntry.queries("llm_semdedup")(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(out.nonEmpty, "fixture embeddings must contain semantic near-dups")
    out.foreach { case (drop, kept, sim) =>
      assert(kept < drop, "the kept representative is always the lowest id")
      assert(sim >= 0.35 && sim <= 1.0001)
    }
    val total = graft.core.Tables.embeddings(spark, sf).count()
    assert(out.length < total, "semdedup must never drop the whole corpus")
    // representative integrity: no dropped doc may ever appear as a
    // kept_id (the greedy pairwise form violated this on transitive
    // chains — the label closure makes kept_ids survivors by
    // construction)
    val dropped = out.map(_._1).toSet
    assert(out.forall(r => !dropped.contains(r._2)),
      "kept_id must never reference a dropped doc")
  }

  test("semdedup closure: transitive chain keeps exactly one representative") {
    // A~B and B~C above τ with A!~C: the component {A,B,C} must drop
    // B and C, both pointing at A — the greedy pairwise form reported
    // kept_id = B for C (a dropped doc)
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9)).toDF("a_id", "b_id", "sim")
    val labels = Dedup.clusterLabels(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("clusterLabels: union-find fast path ≡ iterative min-label loop") {
    // r18 dispatch pin (the BehaviorSpec forced-budget precedent): the
    // single-task union-find and the at-scale iterative loop must agree
    // on a graph with chains, a cycle, disjoint components and reversed
    // edge orientation — the fixpoint is the min node id per component
    // regardless of path.
    val pairs = Seq(
      (7L, 2L), (2L, 9L), (9L, 4L),             // chain, min inside
      (11L, 12L), (12L, 13L), (13L, 11L),       // cycle
      (20L, 21L),                               // pair
      (31L, 30L)                                // reversed orientation
    ).toDF("a_id", "b_id")
    val fast = Dedup.unionFindLabels(pairs)
      .as[(Long, Long)].collect().toMap
    val iter = Dedup.minLabelLoop(pairs).as[(Long, Long)].collect().toMap
    assert(fast == iter, s"fast $fast != iterative $iter")
    assert(fast == Map(7L -> 2L, 2L -> 2L, 9L -> 2L, 4L -> 2L,
      11L -> 11L, 12L -> 11L, 13L -> 11L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
    // non-integral ids must not take the long-keyed union-find: its cast
    // fails on string ids under ANSI and merges fractional ids sharing
    // an integer part (1.5, 1.2) into one node
    val named = Seq(("g", "b"), ("b", "k"), ("x", "y")).toDF("a_id", "b_id")
    assert(Dedup.clusterLabels(named).as[(String, String)].collect().toMap ==
      Map("g" -> "b", "b" -> "b", "k" -> "b", "x" -> "x", "y" -> "x"))
    val frac = Seq((1.5, 2.5), (1.2, 3.0), (1.9, 1.7), (1.7, 1.6))
      .toDF("a_id", "b_id")
    assert(Dedup.clusterLabels(frac).as[(Double, Double)].collect().toMap ==
      Map(1.5 -> 1.5, 2.5 -> 1.5, 1.2 -> 1.2, 3.0 -> 1.2,
        1.9 -> 1.6, 1.7 -> 1.6, 1.6 -> 1.6))
  }

  test("content tag: order-invariant; same-count change invalidates the index") {
    def tag(df: org.apache.spark.sql.DataFrame) =
      LlmQueries.contentTag(df, s"llmspec-${System.nanoTime()}")
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "t")
    val perm = Seq((3L, "z"), (1L, "x"), (2L, "y")).toDF("id", "t")
    val changed = Seq((1L, "x"), (2L, "Y"), (3L, "z")).toDF("id", "t")
    assert(tag(a) == tag(perm), "row order must not change the tag")
    assert(tag(a.repartition(4)) == tag(a), "partitioning must not change the tag")
    assert(tag(a) != tag(changed), "a single-cell change must change the tag")
    // the count component covers the xor's even-multiplicity blind
    // spot: appending a duplicated row PAIR leaves the xor unchanged
    // (h ⊕ h = 0) but moves the count
    val dupPair = a.unionAll(Seq((4L, "w"), (4L, "w")).toDF("id", "t"))
    assert(tag(a) != tag(dupPair),
      "an even-multiplicity change must still change the tag")
    // memoization: the same key returns the cached tag without rescanning
    assert(LlmQueries.contentTag(a, "llmspec-memo") ==
      LlmQueries.contentTag(changed, "llmspec-memo"),
      "same cache key must serve the memo (fixtures are immutable per JVM)")
    // lifecycle: a regenerated fixture with the SAME row count must
    // invalidate a stored index (the r7 count()-pin served stale data)
    val dim = 4
    def emb(seed: Float) = (0L until 8L)
      .map(i => (i, Array.tabulate(dim)(d => seed + i + d)))
      .toDF("vec_id", "embedding")
    val e1 = emb(0.0f)
    val e2 = emb(0.5f) // same cardinality, every vector shifted
    val path = java.nio.file.Files
      .createTempDirectory("graft_fp_idx").resolve("ann").toString
    val p = Similarity.IndexParams(k = 2, iters = 1, pqM = 2, pqK = 2,
      pqIters = 1, dim = dim)
    def fp(df: org.apache.spark.sql.DataFrame) =
      p.fingerprint("t") +
        s"|${LlmQueries.contentTag(df, s"llmspec-fp-${System.nanoTime()}")}"
    Similarity.buildIvfIndex(spark, e1, path, fp(e1), p)
    assert(graft.tsdb.Keysets.fingerprint(spark, path).contains(fp(e1)))
    assert(!graft.tsdb.Keysets.fingerprint(spark, path).contains(fp(e2)),
      "same-count content change must trigger a rebuild")
  }

  test("drift metric tracks appended mass; drifted-index recall vs fresh rebuild") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val path = java.nio.file.Files
      .createTempDirectory("graft_drift_idx").resolve("ann").toString
    // train on ~70%, append the rest — ~43% of the base, past the 30%
    // retrain threshold by construction
    val base = emb.where(pmod(col("vec_id"), lit(10)) < 7)
    val delta = emb.where(pmod(col("vec_id"), lit(10)) >= 7)
    Similarity.buildIvfIndex(spark, base, path, "drift-base")
    assert(Similarity.deltaFraction(spark, path) == 0.0)
    assert(!Similarity.needsRetrain(spark, path))
    Similarity.appendIvfDelta(spark, delta, path)
    val frac = Similarity.deltaFraction(spark, path)
    val expected = delta.count().toDouble / base.count()
    assert(math.abs(frac - expected) < 1e-9,
      s"deltaFraction $frac must equal appended/base $expected")
    assert(Similarity.needsRetrain(spark, path),
      s"$frac appended mass must trip the ${Similarity.RetrainThreshold} trigger")
    // recall of the DRIFTED index (stale quantizer serving the full
    // corpus) against a fresh whole-corpus rebuild — what the retrain
    // trigger protects; measured value recorded in PERF.md r8
    val freshPath = java.nio.file.Files
      .createTempDirectory("graft_drift_fresh").resolve("ann").toString
    Similarity.buildIvfIndex(spark, emb, freshPath, "drift-fresh")
    val qs = emb.where(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val mean = Similarity.storedProbeRecall(spark, qs,
      referencePath = freshPath, candidatePath = path, k = 5, nprobe = 2)
    info(f"drifted-index recall@5 vs fresh rebuild at $frac%.2f drift: $mean%.3f")
    assert(mean >= 0.5,
      f"drifted recall collapsed to $mean%.3f — quantizer staleness worse than modeled")
    // appends are counted DIRECTLY, so a takedown cannot net against
    // them: deleting a trained vector leaves the signal exactly where
    // it was (churn-proof — a corpus that appends 30% and deletes 30%
    // still reads 30% untrained)
    Similarity.deleteFromIvfIndex(spark,
      emb.where(col("vec_id") === 1).select("vec_id"), path)
    assert(math.abs(Similarity.deltaFraction(spark, path) - expected) < 1e-9,
      "a takedown must not move the drift signal")
    // the critical property: drift SURVIVES compaction — folding
    // deltas into the base bounds file counts but does not retrain,
    // so a post-fold index must still read as needing retrain
    Similarity.compactIvfDeltas(spark, path)
    assert(math.abs(Similarity.deltaFraction(spark, path) - expected) < 1e-9,
      "compaction must not reset the drift signal (quantizer unchanged)")
    assert(Similarity.needsRetrain(spark, path))
    // ...and a REBUILD (the actual retrain) re-pins it to zero
    Similarity.buildIvfIndex(spark, Similarity.readLists(spark, path)
      .select("vec_id", "embedding", "label"), path, "drift-retrained")
    assert(Similarity.deltaFraction(spark, path) == 0.0)
  }

  test("retrainIvfIndex: probe ≡ fresh build on served corpus; drift resets; replay-skip and takedowns survive") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_retrain_")
    val path = root.resolve("ann").toString
    val base = emb.where(pmod(col("vec_id"), lit(3)) =!= 2)
    val arrivals = emb.where(pmod(col("vec_id"), lit(3)) === 2)
    Similarity.buildIvfIndex(spark, base, path, "retrain-base")
    // stream-shaped (txn-marked) append past the trigger, plus a
    // takedown of a TRAINED vector (7 % 3 == 1 → base member)
    assert(Similarity.appendIvfDelta(spark, arrivals, path,
      txn = Some(("st", 0L))))
    Similarity.deleteFromIvfIndex(spark,
      emb.where(col("vec_id") === 7).select("vec_id"), path)
    assert(Similarity.needsRetrain(spark, path))
    Similarity.retrainIvfIndex(spark, path, "retrained")
    // drift re-pins to zero, deltas are folded, the meta is the new tag
    assert(Similarity.deltaFraction(spark, path) == 0.0)
    assert(!Similarity.needsRetrain(spark, path))
    assert(Similarity.ivfDeltaCount(spark, path) == 0)
    assert(graft.tsdb.Keysets.fingerprint(spark, path).contains("retrained"))
    // the takedown became physical during the fold and must NOT be
    // resurrected by the rebuild
    assert(Similarity.readLists(spark, path)
      .where(col("vec_id") === 7).isEmpty,
      "retrain must not resurrect a tombstoned vector")
    assert(Similarity.readLists(spark, path).count() == emb.count() - 1)
    // order-insensitive deterministic Lloyd: the retrained artifact
    // serves EXACTLY what a fresh build over the same rows serves
    val freshPath = root.resolve("fresh").toString
    Similarity.buildIvfIndex(spark, emb.where(col("vec_id") =!= 7),
      freshPath, "fresh")
    val qs = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def probe(p: String) = Similarity.ivfTopKStored(spark, qs, p, 5, nprobe = 2)
      .collect().map(_.toString).toSeq
    assert(probe(path) == probe(freshPath),
      "retrained probe must equal a fresh build on the served corpus")
    // the replay guard SURVIVED the rebuild: the same (stream, batch)
    // lands nothing — without the carried _txn record a replay would
    // double-append the arrivals the retrain just folded in
    assert(!Similarity.appendIvfDelta(spark, arrivals, path,
      txn = Some(("st", 0L))),
      "replayed batch must skip after a retrain")
    assert(Similarity.readLists(spark, path).count() == emb.count() - 1)
    // a genuinely NEW batch (fresh ids — never reuse a deleted one)
    // still lands against the retrained index
    assert(Similarity.appendIvfDelta(spark,
      emb.where(col("vec_id") === 3)
        .withColumn("vec_id", col("vec_id") + 1000000L),
      path, txn = Some(("st", 1L))))
    assert(Similarity.readLists(spark, path).count() == emb.count())
  }

  test("IVF: deterministic centroids, total assignment, query found in its probe") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val c1 = Similarity.ivfCentroids(emb, 8, iters = 2)
    val c2 = Similarity.ivfCentroids(emb, 8, iters = 2)
    assert(c1.orderBy("centroid_id").collect().map(_.toString).toSeq ==
      c2.orderBy("centroid_id").collect().map(_.toString).toSeq,
      "centroids must be deterministic across runs")
    val assigned = Similarity.assignToCentroids(emb, c1)
    assert(assigned.count() == emb.count(), "every vector assigned exactly once")
    assert(assigned.select("centroid_id").distinct().count() <= 8)
    val qv = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val top = Similarity.ivfTopK(emb, qv, c1, 5, nprobe = 2).as[(Long, Double)].collect()
    assert(top.head._1 == 0L && top.head._2 == 1.0,
      "query vector's own cluster is always probed first")
    val brute = Similarity.cosineTopK(emb, qv, 5).as[(Long, Double)].collect()
    assert(top.map(_._2).max <= brute.map(_._2).max)
  }

  test("trainStride: quantizer trains on the sample, assignment stays total") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("stride_idx").toString
    Similarity.buildIvfIndex(spark, emb, s"$dir/ann", "stride-test",
      Similarity.IndexParams(k = 8, trainStride = 3))
    val lists = Similarity.readLists(spark, s"$dir/ann")
    // every vector is stored and assigned, not just the trained sample
    assert(lists.count() == emb.count(), "assignment must cover the full corpus")
    // the stored centroids equal Lloyd over EXACTLY the stride sample
    val sampled = emb.where(pmod(col("vec_id"), lit(3L)) === 0L)
    val expect = Similarity.ivfCentroids(sampled, 8, iters = 2)
      .orderBy("centroid_id").collect().map(_.toString).toSeq
    val stored = spark.read.parquet(s"$dir/ann/centroids")
      .orderBy("centroid_id").collect().map(_.toString).toSeq
    assert(stored == expect, "centroids must be the sample's Lloyd result")
    // stride is part of the fingerprint: same corpus tag, different
    // stride → a different artifact, never a silent reuse
    assert(Similarity.IndexParams(trainStride = 3).fingerprint("t") !=
      Similarity.IndexParams(trainStride = 1).fingerprint("t"))
    // the scaled registrations resolve stride 1 at fixture scale (the
    // formula: n/50000 clamped to [1, 250])
    assert(LlmQueries.scaledAnnStride(spark, sf) == 1)
  }

  test("PQ: codes are total and bounded; ADC ranks the query's own code first") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val books = Similarity.pqCodebooks(emb, m = 4, k = 8, iters = 1, dim = 64)
    val codes = Similarity.pqEncode(emb, books, 64)
    assert(codes.count() == emb.count(), "every vector gets a full code")
    (0 until 4).foreach { s =>
      val mx = codes.agg(max(col(s"code_$s")), min(col(s"code_$s")))
        .as[(Int, Int)].head()
      assert(mx._1 <= 7 && mx._2 >= 0, s"subspace $s codes must be in [0,8)")
    }
    val qv = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val pq = Similarity.pqTopK(emb, qv, books, 64, 10).as[(Long, Double)].collect()
    assert(pq.length == 10)
    // ADC scores are quantized, so exact self-top-1 is not guaranteed —
    // but the query's own reconstruction must be in its code's
    // equivalence class: every vector sharing vec 0's full code has
    // the SAME score, and that score must appear in the top-10 IF any
    // top-10 member shares the code. Weaker but always-true invariant:
    // scores are finite and descending.
    assert(pq.map(_._2).forall(s => !s.isNaN && !s.isInfinite))
    assert(pq.map(_._2).sliding(2).forall(p => p.head >= p.last),
      "scores must be non-increasing")
    // recall against brute force: quantized top-10 should overlap the
    // true top-10 on the clustered fixture (loose bound — PQ with 4
    // subspaces of 8 codes is a coarse sketch)
    val brute = Similarity.cosineTopK(emb, qv, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(pq.map(_._1).count(brute.contains) >= 3,
      s"PQ top-10 should find ≥3 of the true top-10, got ${pq.map(_._1).toSeq}")
  }

  test("batched IVF probe equals the single-query path for each query") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val cents = Similarity.ivfCentroids(emb, 8, iters = 2)
    val qs = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batch = Similarity.ivfTopKBatch(emb, qs, cents, 5, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    (0L until 3L).foreach { q =>
      val single = Similarity.ivfTopK(emb,
        emb.where(col("vec_id") === q).select(col("embedding").as("qv")),
        cents, 5, nprobe = 2).as[(Long, Double)].collect().toSeq
      assert(batch(q) == single,
        s"batched probe for query $q must equal the single-query path")
    }
  }

  test("fingerprints: deterministic, identical texts agree, prefix-stable") {
    val fp = docs.withColumn("grams", Text.gramHashes("text", 8))
      .select(col("doc_id"), Text.windowMins("grams", 4).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(4L))
    assert(fp(1L).nonEmpty)
  }

  test("native Dot4 expression equals the higher-order decimal formulation") {
    // The cross-check is only meaningful if the HOF side stays HOF: the
    // RewriteHofDot optimizer rule (registered session-wide by
    // GraftExtensions.register in other suites) would otherwise turn
    // this into Dot4-vs-Dot4.
    spark.conf.set(org.apache.spark.sql.graftfn.RewriteHofDot.ConfKey, "false")
    try {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val pair = emb.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(emb.where(col("vec_id") === 7).select(col("embedding").as("b")))
    val rows = pair.select(
      Similarity.dotExpr("a", "b").as("native"),
      Similarity.dotExprHof("a", "b").as("hof"))
      .as[(Double, Double)].collect()
    assert(rows.nonEmpty && rows.forall { case (n, h) => n == h })
    } finally {
      spark.conf.unset(org.apache.spark.sql.graftfn.RewriteHofDot.ConfKey)
    }
  }

  test("hll estimate within 10% of exact") {
    val ev = graft.core.Tables.events(spark, sf)
    val est = ev.agg(approx_count_distinct("user_id")).as[Long].head().toDouble
    val exact = ev.agg(countDistinct("user_id")).as[Long].head().toDouble
    assert(math.abs(est - exact) / exact < 0.1)
  }

  test("index delta append: probe sees the union; crashed delta swap recovers") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val path = java.nio.file.Files
      .createTempDirectory("graft_llmspec_idx").resolve("ann").toString
    val corpus = emb.where(col("vec_id") % 7 =!= 3)
    val batch = emb.where(col("vec_id") % 7 === 3)
    Similarity.buildIvfIndex(spark, corpus, path, "llmspec")
    val baseN = Similarity.readLists(spark, path).count()
    assert(baseN == corpus.count())
    Similarity.appendIvfDelta(spark, batch, path)
    assert(Similarity.ivfDeltaCount(spark, path) == 1)
    assert(Similarity.readLists(spark, path).count() == emb.count(),
      "probe corpus must be base + delta")
    // appended rows carry assignment + codes from the STORED quantizer
    val cols = Similarity.readLists(spark, path).columns.toSet
    assert(Set("nrm", "centroid_id", "code_0", "code_3").subsetOf(cols))
    // crash window: delta committed at .tmp (marker inside), dest gone —
    // the reader must repair and still see the full corpus
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val delta = new org.apache.hadoop.fs.Path(s"$path/delta_0000")
    assert(fs.rename(delta, new org.apache.hadoop.fs.Path(s"$path/delta_0000.tmp")))
    assert(Similarity.readLists(spark, path).count() == emb.count(),
      "reader must finish the interrupted delta swap")
    assert(fs.exists(delta), "recovery completes the rename")
    // a second append lands as the NEXT delta, never overwriting
    Similarity.appendIvfDelta(spark, batch.limit(5), path)
    assert(Similarity.ivfDeltaCount(spark, path) == 2)
    assert(Similarity.readLists(spark, path).count() == emb.count() + 5)
    // compaction folds the deltas into the base lists: same rows, same
    // probe, zero visible deltas, spent dirs gone
    val qs = emb.where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val preProbe = Similarity.ivfTopKStored(spark, qs, path, 5, nprobe = 2)
      .collect().map(_.toString).toSeq
    Similarity.compactIvfDeltas(spark, path)
    assert(Similarity.ivfDeltaCount(spark, path) == 0)
    assert(Similarity.readLists(spark, path).count() == emb.count() + 5,
      "compaction must not change the corpus")
    assert(Similarity.ivfTopKStored(spark, qs, path, 5, nprobe = 2)
      .collect().map(_.toString).toSeq == preProbe,
      "probe results must be identical across compaction")
    // a post-compaction append clears the folded watermark (a reused id
    // would be invisible to readers)
    Similarity.appendIvfDelta(spark, batch.limit(3), path)
    assert(Similarity.ivfDeltaCount(spark, path) == 1)
    assert(Similarity.readLists(spark, path).count() == emb.count() + 8)
    // compacting again is a no-op-safe fold of the single delta
    Similarity.compactIvfDeltas(spark, path)
    assert(Similarity.readLists(spark, path).count() == emb.count() + 8)
  }

  test("ivf takedown: tombstoned ids vanish from probes; compaction purges physically") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val path = java.nio.file.Files
      .createTempDirectory("graft_llmspec_del").resolve("ann").toString
    Similarity.buildIvfIndex(spark, emb, path, "llmspec-del")
    val doomed = emb.where(col("vec_id") % 5 === 2).select("vec_id")
    val nDoomed = doomed.count()
    Similarity.deleteFromIvfIndex(spark, doomed, path)
    assert(Similarity.ivfDeltaCount(spark, path) == 1,
      "a takedown is one atomic delta commit")
    assert(Similarity.readLists(spark, path).count() == emb.count() - nDoomed)
    val qs = emb.where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val doomedSet = doomed.collect().map(_.getLong(0)).toSet
    val pre = Similarity.ivfTopKStored(spark, qs, path, 5, nprobe = 2).collect()
    assert(pre.nonEmpty)
    assert(!pre.exists(r => doomedSet.contains(r.getAs[Long]("vec_id"))),
      "a deleted vector must never be returned by a probe")
    // deleting an already-deleted id is a harmless no-op delta
    Similarity.deleteFromIvfIndex(spark, doomed.limit(3), path)
    assert(Similarity.readLists(spark, path).count() == emb.count() - nDoomed)
    // compaction makes the deletes physical: no tomb column survives,
    // counts and probe results are unchanged
    Similarity.compactIvfDeltas(spark, path)
    assert(Similarity.ivfDeltaCount(spark, path) == 0)
    val base = Similarity.readLists(spark, path)
    assert(!base.columns.contains("tomb"), "compaction purges tombstones")
    assert(base.count() == emb.count() - nDoomed)
    assert(Similarity.ivfTopKStored(spark, qs, path, 5, nprobe = 2)
      .collect().map(_.toString).toSeq == pre.map(_.toString).toSeq,
      "probe results identical across the physical purge")
  }

  test("band index growth: base + delta equals a full rebuild; compaction preserves it") {
    val docs = graft.core.Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_band_idx")
    val grown = root.resolve("grown").toString
    val whole = root.resolve("whole").toString
    val corpusA = docs.where(col("doc_id") % 3 =!= 0)
    val corpusB = docs.where(col("doc_id") % 3 === 0)
    Dedup.buildBandIndex(spark, corpusA, "doc_id", "text", grown, "t")
    Dedup.appendBandDelta(spark, corpusB, "doc_id", "text", grown)
    Dedup.buildBandIndex(spark, docs, "doc_id", "text", whole, "t")
    def rows(p: String) = Dedup.readBandIndex(spark, p)
      .orderBy("id", "band", "sig").collect().map(_.toString).toSeq
    val grownRows = rows(grown)
    assert(grownRows == rows(whole),
      "band keys are per-doc independent: grown index must equal a rebuild")
    // fold the delta; content identical, zero visible deltas
    Dedup.compactBandDeltas(spark, grown)
    assert(Dedup.bandDeltaCount(spark, grown) == 0)
    assert(rows(grown) == grownRows, "compaction must not change the index")
    // takedown: tombstone a slice — its signatures vanish from reads
    // immediately, and compaction makes the delete physical
    val dead = docs.where(col("doc_id") % 7 === 1).select("doc_id")
    Dedup.deleteFromBandIndex(spark, dead, grown)
    val live = Dedup.readBandIndex(spark, grown)
    assert(live.join(dead.toDF("id"), Seq("id"), "left_semi").count() == 0,
      "a deleted doc's signatures must never be visible")
    val liveRows = rows(grown)
    assert(liveRows.nonEmpty && liveRows.size < grownRows.size)
    Dedup.compactBandDeltas(spark, grown)
    assert(!Dedup.readBandIndex(spark, grown).columns.contains("tomb"))
    assert(rows(grown) == liveRows, "physical purge preserves live content")
  }

  test("chunking: full token coverage, stride-sized overlap, windows capped at 64") {
    val docs = graft.core.Tables.documents(spark, sf)
    val chunks = LlmQueries.queries("llm_chunk_overlap")(spark, sf)
    val perDoc = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("n_toks").as("tok_sum"),
        max("n_toks").as("max_toks"))
    val joined = perDoc.join(
      docs.select(col("doc_id"),
        graft.llm.Text.nWords(col("text")).as("nw")), Seq("doc_id"))
      .select(col("doc_id"), col("n_chunks"), col("tok_sum"),
        col("max_toks"), col("nw")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (nChunks, tokSum, maxToks, nw) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(maxToks <= 64, s"doc ${r.getLong(0)}: window over 64")
      // starts at 0,48,96… so the chunk count is ceil(nw/48); windows
      // cover [start, start+64) ⊇ [start, start+48) — every token lands
      // in at least one chunk, and the summed lengths exceed nw by
      // exactly the double-covered overlap regions
      assert(nChunks == (nw + 47) / 48,
        s"doc ${r.getLong(0)}: $nChunks chunks for $nw tokens")
      assert(tokSum >= nw, s"doc ${r.getLong(0)}: tokens lost")
      val fullOverlaps = (0 until nChunks.toInt)
        .map(i => math.max(0L, math.min(48L * i + 64, nw) - 48L * (i + 1)))
        .map(o => math.max(0L, o)).sum
      assert(tokSum == nw + fullOverlaps,
        s"doc ${r.getLong(0)}: overlap accounting off")
    }
  }

  test("multimodal: mixed real decode emits one feature row per media row") {
    val feats = Multimodal.features(spark, sf, partitions = 4)
    val n = graft.core.Tables.documents(spark, sf).count()
    assert(feats.count() == n)
    // every genuine payload must actually decode — a false here means a
    // codec round-trip broke, not a poisoned fixture
    assert(feats.where(!col("decode_ok")).count() == 0)
    assert(feats.where(col("content_units") <= 0).count() == 0)
    assert(feats.select("format").distinct().as[String].collect().toSet == Set("png", "wav"))
    // deterministic across partitionings (features derive from decoded
    // content, which is synthesis-determined per id)
    val a = feats.orderBy("id").select("content_sum").as[Long].collect()
    val b = Multimodal.features(spark, sf, partitions = 2)
      .orderBy("id").select("content_sum").as[Long].collect()
    assert(a.toSeq == b.toSeq, "partitioning must not change features")
  }

  test("multimodal: real PNG decode — javax.imageio round-trip + corrupt bytes") {
    // local (driver-side) codec check: encode → decode recovers the dims,
    // and the payload is a genuine PNG (magic bytes)
    val png = Multimodal.encodePng(42L, 7, 5)
    assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte),
      "encodePng must emit a real PNG payload")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 7 && img.getHeight == 5)
    // distributed path: corrupt / truncated payloads must yield
    // decode_ok=false rows, never task failures
    val rows = Seq(
      Multimodal.PngRow(1L, png),
      Multimodal.PngRow(2L, png.take(10)),               // truncated header
      Multimodal.PngRow(3L, Array[Byte](1, 2, 3, 4)),    // not an image
      Multimodal.PngRow(4L, Array.emptyByteArray))       // empty payload
    val out = Multimodal.decodePngMeta(spark.createDataset(rows))
      .collect().map(m => m.id -> m).toMap
    assert(out(1L).decode_ok && out(1L).width == 7 && out(1L).height == 5)
    Seq(2L, 3L, 4L).foreach { id =>
      assert(!out(id).decode_ok && out(id).width == -1,
        s"payload $id must fail decode gracefully")
    }
  }

  test("multimodal: real WAV decode — javax.sound round-trip + corrupt bytes") {
    // local codec check: encode → decode recovers count/rate/sums, and
    // the payload is a genuine RIFF/WAVE container (magic bytes)
    val wav = Multimodal.encodeWav(42L, 100)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF" &&
      new String(wav.slice(8, 12), "US-ASCII") == "WAVE",
      "encodeWav must emit a real RIFF/WAVE payload")
    // expected sums straight from the synthesis formula
    val amps = (0 until 100).map(i => ((42L * 2654435761L + i * 31L) % 4096L) - 2048L)
    val rows = Seq(
      Multimodal.WavRow(1L, wav),
      Multimodal.WavRow(2L, wav.take(12)),               // truncated header
      Multimodal.WavRow(3L, Array[Byte](1, 2, 3, 4)),    // not audio
      Multimodal.WavRow(4L, Array.emptyByteArray))       // empty payload
    val out = Multimodal.decodeWavStats(spark.createDataset(rows))
      .collect().map(m => m.id -> m).toMap
    val ok = out(1L)
    assert(ok.decode_ok && ok.n_samples == 100L && ok.sample_rate == 8000 &&
      ok.channels == 1, s"decoded header fields wrong: $ok")
    assert(ok.sum_amp == amps.sum && ok.sum_abs == amps.map(math.abs).sum,
      "decoded PCM sums must equal the synthesis formula (lossless)")
    Seq(2L, 3L, 4L).foreach { id =>
      assert(!out(id).decode_ok && out(id).sample_rate == -1,
        s"payload $id must fail decode gracefully")
    }
  }

  test("multimodal: real animated-GIF decode — frame walk + corrupt bytes") {
    // local codec check: encode → decode recovers frame count, dims and
    // per-frame luminance, and the payload is a genuine GIF container
    val gif = Multimodal.encodeGif(42L, 4, 5, 3)
    assert(new String(gif.take(6), "US-ASCII") == "GIF89a",
      "encodeGif must emit a real GIF89a payload")
    val rows = Seq(
      Multimodal.GifRow(1L, gif),
      Multimodal.GifRow(2L, gif.take(8)),                // truncated header
      Multimodal.GifRow(3L, Array[Byte](1, 2, 3, 4)),    // not an image
      Multimodal.GifRow(4L, Array.emptyByteArray))       // empty payload
    val out = Multimodal.decodeGifFrames(spark.createDataset(rows))
      .collect().groupBy(_.id)
    val frames = out(1L).sortBy(_.frame_idx)
    assert(frames.length == 4 && frames.forall(f => f.decode_ok &&
      f.width == 5 && f.height == 3), s"frame walk wrong: ${frames.toSeq}")
    // per-frame luminance straight from the synthesis formula — frame
    // ORDER matters (a swapped pair would still pass a set compare)
    frames.foreach { fr =>
      val exp = (for (y <- 0 until 3; x <- 0 until 5)
        yield (42L * 2654435761L + fr.frame_idx * 97L + x * 31L + y * 17L) % 256L).sum
      assert(fr.sum_lum == exp, s"frame ${fr.frame_idx} luminance: $fr")
    }
    Seq(2L, 3L, 4L).foreach { id =>
      val bad = out(id)
      assert(bad.length == 1 && !bad.head.decode_ok && bad.head.width == -1,
        s"payload $id must fail decode gracefully, got ${bad.toSeq}")
    }
  }

  test("word PMI: count floor respected, PMI algebra exact, order total") {
    val rows = graft.SparkEntry.queries("llm_word_pmi")(spark, sf)
      .as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty && rows.length <= 100)
    assert(rows.forall(_._3 >= 5), "c_ab floor")
    // sorted by (pmi desc, w1, w2) — a total order, no ties left to luck
    val key = rows.map(r => (-r._4, r._1, r._2)).toSeq
    assert(key == key.sorted, "top-k order must be the declared total order")
    // recompute one row's PMI independently from raw token counts
    val (w1, w2, cab, pmi) = rows.head
    val toks = graft.core.Tables.documents(spark, sf)
      .select(explode(Dedup.words(col("text"))).as("w"))
      .where(col("w") =!= "").groupBy("w").count()
      .as[(String, Long)].collect().toMap
    val n = toks.values.sum
    val exp = math.log(cab.toDouble * n / (toks(w1).toDouble * toks(w2)))
    assert(math.abs(pmi - exp) < 1e-3, s"pmi=$pmi expected≈$exp")
  }

  test("count-min estimates are one-sided and exact counts are the true top-k") {
    val rows = graft.SparkEntry.queries("llm_cms_heavy")(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty && rows.size <= 20)
    // the CMS guarantee: estimate >= exact, overcount is the difference
    assert(rows.forall { case (_, exact, est, over) =>
      est >= exact && over == est - exact })
    // candidates are the true top-k by exact count
    val truth = graft.core.Tables.documents(spark, sf)
      .select(explode(Dedup.words(col("text"))).as("w"))
      .where(col("w") =!= "").groupBy("w").count()
      .as[(String, Long)].collect()
      .sortBy { case (w, c) => (-c, w) }.take(rows.size)
    assert(rows.map(r => (r._1, r._2)) == truth.toSeq)
  }

  test("bloom prefilter: dup implies maybe, false positives are the gap") {
    val rows = graft.SparkEntry.queries("llm_bloom_prefilter")(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty, "probe sources must exist")
    assert(rows.forall(_._1.length == 5), "probe side is src10..src19 only")
    rows.foreach { case (src, n, maybe, dup, fp) =>
      assert(dup <= maybe && maybe <= n, s"$src: dup<=maybe<=n violated")
      assert(fp == maybe - dup, s"$src: fp must be exactly maybe-dup " +
        "(an exact dup shares the digest, hence every bloom position)")
    }
    // filter totals cover the whole probe split
    val probeN = graft.core.Tables.documents(spark, sf)
      .where(length(col("source")) === 5).count()
    assert(rows.map(_._2).sum == probeN)
  }

  test("pixstats: decoded channel sums equal the synthesis formula") {
    val rows = graft.SparkEntry.queries("llm_multimodal_pixstats")(spark, sf)
      .as[(Long, Int, Int, Long, Long, Long, Long, Double, Boolean)]
      .collect().toSeq
    assert(rows.nonEmpty && rows.forall(_._9), "every synthesized PNG decodes")
    assert(rows.forall(r => r._2 >= 1 && r._2 <= 16 && r._3 >= 1 && r._3 <= 16))
    // recompute one row's sums straight from the pixel formula — if the
    // codec round-trip dropped or shifted a pixel this cannot match
    val r = rows.maxBy(_._4)
    var (sr, sg, sb) = (0L, 0L, 0L)
    for (y <- 0 until r._3; x <- 0 until r._2) {
      val rgb = (r._1 * 2654435761L + x * 31L + y * 17L) & 0xFFFFFF
      sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF; sb += rgb & 0xFF
    }
    assert((r._5, r._6, r._7) == ((sr, sg, sb)),
      s"decoded sums ${(r._5, r._6, r._7)} != formula ${(sr, sg, sb)}")
    assert(r._4 == r._2.toLong * r._3)
  }

  test("pref pairs: chosen is the group max, rejected the min, margin positive") {
    val pairs = graft.SparkEntry.queries("llm_pref_pairs")(spark, sf)
      .as[(String, Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(pairs.nonEmpty)
    pairs.foreach { case (lang, bkt, cid, rid, cq, rq, m) =>
      assert(cid != rid && cq > rq && m > 0, s"($lang,$bkt) pair invalid")
    }
    // cross-check against the shipped quality scores: chosen/rejected
    // must be the group's extreme scores under the same 4dp quantization
    val q = graft.SparkEntry.queries("llm_quality_score")(spark, sf)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    val meta = graft.core.Tables.documents(spark, sf)
      .selectExpr("doc_id", "lang", "CAST(n_chars DIV 200 AS BIGINT)")
      .as[(Long, String, Long)].collect()
      .groupBy(t => (t._2, t._3))
    pairs.foreach { case (lang, bkt, cid, rid, cq, rq, _) =>
      val qs = meta((lang, bkt)).map(t => q(t._1))
      assert(cq == qs.max && rq == qs.min, s"($lang,$bkt) not the extremes")
    }
  }

  test("lang confusion: cells partition the corpus, recalls sum to 1 per row") {
    val cells = graft.SparkEntry.queries("llm_lang_confusion")(spark, sf)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(cells.nonEmpty)
    val nDocs = graft.core.Tables.documents(spark, sf).count()
    assert(cells.map(_._3).sum == nDocs, "cells must partition the corpus")
    // per true_lang the recall shares sum to ~1 (4dp rounding slack)
    cells.groupBy(_._1).values.foreach { row =>
      assert(math.abs(row.map(_._4).sum - 1.0) < 1e-3 * row.size)
    }
    // the matrix must agree with the shipped per-doc predictions
    val pred = graft.SparkEntry.queries("llm_lang_id")(spark, sf)
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    val truth = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "lang").as[(Long, String)].collect()
    val expect = truth.groupBy(t => (t._2, pred(t._1)))
      .view.mapValues(_.length.toLong).toMap
    assert(cells.map(c => (c._1, c._2) -> c._3).toMap == expect)
  }

  test("dedup canonical: survivor is the cluster's best-quality member") {
    val rows = graft.SparkEntry.queries("llm_dedup_canonical")(spark, sf)
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, n, rem) =>
      assert(n >= 2 && rem == n - 1, "clusters have >=2 members by construction")
    }
    // cross-check against the cluster frame + quality scores
    val clusters = graft.SparkEntry.queries("llm_dedup_clusters")(spark, sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
      .groupBy(_._2)
    val q = graft.SparkEntry.queries("llm_quality_score")(spark, sf)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    assert(rows.size == clusters.size, "one survivor per cluster")
    rows.foreach { case (cid, canon, cq, n, _) =>
      val members = clusters(cid).map(_._1)
      assert(members.size.toLong == n)
      val best = members.map(d => (-q(d), d)).min._2
      assert(canon == best && cq == q(canon),
        s"cluster $cid: canonical $canon != best $best")
    }
  }

  test("jaccard histogram: buckets bounded, reverse cumsum consistent") {
    val rows = graft.SparkEntry.queries("llm_dedup_jaccard_hist")(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._1 >= 0 && r._1 <= 10))
    // n_kept_at_or_above must be the sum of n_pairs over buckets >= b
    rows.foreach { case (b, _, kept) =>
      assert(kept == rows.filter(_._1 >= b).map(_._2).sum, s"bucket $b cumsum")
    }
    // total pairs = the threshold-0 candidate set the pipeline verifies
    val all = Dedup.nearDupPairsPortable(
      graft.core.Tables.documents(spark, sf), "doc_id", "text",
      k = 32, r = 4, shingleN = 3, threshold = 0.0).count()
    assert(rows.map(_._2).sum == all)
  }

  test("priority sample: deterministic, per-source k, inclusion tracks weight") {
    val q = graft.SparkEntry.queries("llm_sample_priority")
    val a = q(spark, sf).as[(String, Long, Long, Long, Long)].collect().toSeq
    val b = q(spark, sf).as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(a == b, "sample must be a pure function of content ids")
    val bySrc = a.groupBy(_._1)
    assert(bySrc.values.forall(_.length <= 20))
    // priorities are the k smallest per source: every kept priority must
    // be <= every dropped one (recompute the full priority set)
    val all = graft.core.Tables.documents(spark, sf)
      .selectExpr("source",
        "CAST(conv(substr(md5(CAST(concat('ps:', CAST(doc_id AS STRING)) AS BINARY)), 1, 8), 16, 10) AS BIGINT) DIV size(split(text, ' ')) AS pri")
      .as[(String, Long)].collect().groupBy(_._1)
    bySrc.foreach { case (src, kept) =>
      val keptMax = kept.map(_._4).max
      val full = all(src).map(_._2).sorted
      val kth = full(math.min(19, full.length - 1))
      assert(keptMax <= kth, s"$src: kept a priority above the k-th smallest")
    }
  }

  test("token budget sample: greedy fill matches brute force") {
    val rows = graft.SparkEntry.queries("llm_token_budget_sample")(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(rows.nonEmpty && rows.map(_._1) == rows.map(_._1).sorted)
    def q4(x: Double) = math.round(x * 10000.0) / 10000.0
    val stop = Set("the", "a", "of", "and")
    val ds = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "lang", "text", "n_chars")
      .as[(Long, String, String, Long)].collect()
    val scored = ds.map { case (id, lang, text, nc) =>
      val words = text.split(" ", -1)
      val nw = words.length
      val stops = text.toLowerCase.split(" ", -1).count(stop)
      val quality = q4(math.min(1.0, nw.toDouble / 100.0) * 0.5 +
        stops.toDouble / nw * 0.5)
      (lang, id, math.ceil(nc / 4.0).toLong, quality)
    }
    scored.groupBy(_._1).foreach { case (lang, docs) =>
      val ordered = docs.sortBy(d => (-d._4, d._2))
      var cum = 0L
      val kept = ordered.takeWhile { d => cum += d._3; cum <= 50000L }
      val row = rows.find(_._1 == lang).get
      assert(row._2 == docs.length.toLong, s"$lang n_docs")
      assert(row._3 == kept.size.toLong, s"$lang n_kept")
      assert(row._4 == kept.map(_._3).sum, s"$lang kept_tokens")
      assert(math.abs(row._5 - kept.map(_._4).min) < 1e-9, s"$lang cut")
      // budget respected and maximal: one more doc would overflow it
      assert(kept.map(_._3).sum <= 50000L)
      if (kept.size < ordered.size)
        assert(kept.map(_._3).sum + ordered(kept.size)._3 > 50000L)
    }
  }

  test("assignNearest: at k=140 the kernel stays join-free and equals the reference") {
    // 140 centroids, the range the deleted broadcast arm served: the
    // kernel keeps assignment a join-free projection there and assigns
    // exactly as the least-over-(dist, id) literal reference form
    val emb = graft.core.Tables.embeddings(spark, sf)
    val cdf = emb.where(col("vec_id") < 140)
      .select(col("vec_id").cast("int").as("centroid_id"),
        col("embedding").as("cvec"))
    val cs = Similarity.collectCentroids(cdf)
    assert(cs.length == 140)
    val viaApi = Similarity.assignToCentroids(emb, cdf)
    val p = viaApi.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && p.contains("nearest_centroid"),
      s"k=140 must stay a join-free kernel projection:\n$p")
    val ref = emb.withColumn("centroid_id",
      graft.CentroidsSpec.nearestRef(col("embedding"), cs.toIndexedSeq))
    val a = viaApi.select("vec_id", "centroid_id").as[(Long, Int)]
      .collect().sortBy(_._1).toSeq
    val b = ref.select("vec_id", "centroid_id").as[(Long, Int)]
      .collect().sortBy(_._1).toSeq
    assert(a == b, "kernel and reference assignments must be identical")
    // every vector below 140 is its own centroid (self-distance 0 wins)
    assert(a.takeWhile(_._1 < 140).forall { case (v, c) => v == c })
  }

  test("two-level assignment: exact on separated clusters, routed at the ceiling") {
    // k = the two-level ceiling, centroids on an 8×8×8 lattice ×100
    // (well-separated); vectors sit EXACTLY at centroids, so the coarse
    // routing and the exhaustive argmin must agree and the fine pick is
    // the self-centroid at distance 0 — two-level ≡ exhaustive here
    val k = Similarity.TwoLevelKCeiling
    def coords(i: Int): Seq[Float] =
      Seq(i % 8, (i / 8) % 8, (i / 64) % 8, i / 512).map(d => d * 100.0f)
    val cs = (0 until k).map { i =>
      val v = coords(i)
      (i, v, v.map(x => x.toDouble * x.toDouble).sum)
    }.toArray
    val vecs = (0 until 2048).map(i => (i.toLong, coords(i % k)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.assignByKernel(vecs, cs)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().sorted.toSeq
    val two = Similarity.assignByTwoLevel(vecs, cs)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().sorted.toSeq
    assert(two == exact, "two-level diverged from exhaustive on separated clusters")
    assert(exact.size == 2048 && exact.map(_._1).distinct.size == 2048,
      "assignment must be total — one centroid per vector")
    // the dispatcher routes k >= ceiling through the two-level path
    val routed = Similarity.assignNearest(vecs, cs)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().sorted.toSeq
    assert(routed == two)
    // every super cell is non-empty and the routing map is total
    val (sups, c2s) = Similarity.superCentroids(cs)
    assert(c2s.size == k && sups.nonEmpty &&
      c2s.values.toSet == sups.map(_._1).toSet)
  }
}
