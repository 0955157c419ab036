package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §2.K).
  *
  * Scale design: every variant reduces to hash-partitioned groupBy/join on
  * a derived key — exact dedup groups on a content hash; MinHash-LSH
  * groups on band keys so only same-bucket candidates are ever paired
  * (never an all-pairs product); SimHash gives a constant-size signature
  * comparable by Hamming distance. All signatures are computed with
  * codegen'd Column expressions (xxhash64 + higher-order array functions);
  * no UDFs and no driver-side loops.
  */
object Dedup {

  /** Lower-cased whitespace tokens of a text column. */
  def words(text: Column): Column = split(lower(text), " ")

  /** w-shingles (word n-grams) as strings: shingle i = words[i..i+n).
    * `arr` is a SQL fragment (pass a materialized column name). */
  def shingles(arr: String, n: Int): Column =
    // size < n → NO shingles (matching graftfn.MinHashSig), not one
    // truncated shingle
    expr(s"""CASE WHEN size($arr) < $n THEN array()
             ELSE transform(sequence(0, size($arr) - $n), i -> concat_ws(' ', slice($arr, i + 1, $n)))
             END""")

  /** Deterministic line segmentation of flat text: consecutive `w`-word
    * windows, last window ragged (the fixture corpus carries no
    * newlines, so "line" is a documented convention — the CCNet/
    * RefinedWeb granularity between whole-doc hashes and 8-char
    * winnowed grams). `arr` is a SQL fragment naming a materialized
    * words-array column. Pure per-row column math: segmentation never
    * shuffles; only the line-df aggregate does. */
  def lineSegments(arr: String, w: Int): Column =
    expr(s"""transform(sequence(0, CAST(ceil(size($arr) / $w.0) AS INT) - 1),
             i -> array_join(slice($arr, i * $w + 1, $w), ' '))""")

  /** Base hashes: each shingle string hashed ONCE. The k-seed family is
    * then derived by re-hashing the 64-bit values ([[minhashSignature]]) —
    * hashing fixed-width longs is far cheaper than re-hashing every
    * string k times (~2.5× on the 5k-doc fixture). */
  def baseHashes(arr: String): Column =
    expr(s"transform($arr, s -> xxhash64(s))")

  /** MinHash signature over base hashes: for each of `k` fixed seeds, the
    * minimum of xxhash64(h, seed). One array column of k BIGINTs. */
  def minhashSignature(baseArr: String, k: Int): Column =
    expr(s"transform(sequence(0, ${k - 1}), j -> array_min(transform($baseArr, h -> xxhash64(h, j))))")

  /** LSH band keys: split the k-length signature into bands of `r` rows;
    * band key = hash of the band slice (+ band index). Rows sharing any
    * band key are near-dup candidates. */
  def bandKeys(arr: String, k: Int, r: Int): Column = {
    val bands = k / r
    expr(s"transform(sequence(0, ${bands - 1}), b -> xxhash64(concat_ws(',', slice($arr, b * $r + 1, $r)), b))")
  }

  /** SimHash over tokens: bit i of the signature is set iff the sum of
    * (+1/-1 for bit i of xxhash64(token)) over all tokens is positive.
    * `bits` ≤ 32. Computed as one aggregate HOF with an int-array
    * accumulator — single pass over the tokens. */
  def simhash(arr: String, bits: Int): Column = {
    require(bits >= 1 && bits <= 32,
      s"simhash bits must be in [1, 32] (got $bits): higher bits reach " +
        "the Long sign bit via shiftleft and corrupt the signature")
    val acc = s"aggregate($arr, transform(sequence(1, $bits), i -> 0L), " +
      s"(acc, w) -> zip_with(acc, transform(sequence(0, ${bits - 1}), " +
      s"i -> IF((shiftright(xxhash64(w), i) & 1L) = 1L, 1L, -1L)), (a, b) -> a + b))"
    expr(s"aggregate(zip_with($acc, sequence(0, ${bits - 1}), " +
      s"(s, i) -> IF(s > 0L, shiftleft(1L, cast(i as int)), 0L)), 0L, (a, b) -> a + b)")
  }

  /** Exact Jaccard similarity between two word-set columns (arrays). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    graft.core.D.r4s(inter / uni)
  }

  /** PORTABLE MinHash-LSH near-dup pairs: hash family = md5 over
    * "seed:shingle" strings, minimum taken LEXICOGRAPHICALLY over the
    * fixed-width hex digests (equivalent to numeric min), band signature =
    * seed-ordered concat of the band's minhashes. Every step is plain
    * relational algebra over a digest both engines implement bit-for-bit,
    * so the WHOLE pipeline — candidates included — hash-matches the
    * DuckDB oracle. ~32× more hash invocations than [[nearDupPairs]]
    * (which re-hashes 64-bit values with xxhash64); keep that one for
    * throughput, this one for verifiability.
    *
    * Same shuffle shape as [[nearDupPairs]]: the (id,seed) min-aggregate
    * and (band,sig) self-join distribute over buckets, never all-pairs. */
  /** The k-hash family packs FOUR lanes per digest: hash (4j+l) of
    * shingle s is the 8-hex-char slice l of md5("j:s") — an md5 hex
    * digest is exactly 32 chars = 4×8, so k=32 costs 8 digest calls per
    * shingle. (Mind the digest width: a slice past char 32 silently
    * yields '' — a constant lane — which makes that band's signature
    * collide for EVERY doc pair and degenerates the LSH to all-pairs.)
    * 32-bit lanes are ample for minhash: per-doc shingle sets are ~10³,
    * collision odds ~n²/2³² per lane, and any tie resolves identically
    * on both engines. Lexicographic min over the fixed-width hex slices
    * equals numeric min. */
  /** Signature stage of [[nearDupPairsPortable]], exposed so the scale
    * probe and plan tests exercise the exact pipeline (the lane layout
    * must not be re-implemented anywhere else — it has to stay in
    * lockstep with the DuckDB oracle). Emits (id, m0..m{k-1}). */
  def minhashSigsPortable(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 32, shingleN: Int = 3): DataFrame = {
    require(k % 4 == 0, s"k=$k must be divisible by 4 (lanes per digest)")
    val base = docs.select(col(idCol).as("id"), words(col(textCol)).as("w"))
      .where(size(col("w")) >= shingleN)
    // one compiled pass per document over the raw digest bytes — no
    // shingle explosion, no groupBy shuffle, no hex round-trips. The
    // values are bit-identical to [[minhashSigsPortableSql]] (asserted in
    // LlmSpec), which is the shape the DuckDB oracle runs.
    val sig = base.select(col("id"),
      org.apache.spark.sql.graftfn.Md5MinHashSig.of(col("w"), shingleN, k).as("mh"))
    sig.select(col("id") +:
      (0 until k).map(i => element_at(col("mh"), i + 1).as(s"m$i")): _*)
  }

  /** Pure-relational formulation of [[minhashSigsPortable]] — the exact
    * shape the DuckDB oracle evaluates; kept as the cross-check for the
    * native expression (LlmSpec asserts frame equality). */
  def minhashSigsPortableSql(docs: DataFrame, idCol: String, textCol: String,
                             k: Int = 32, shingleN: Int = 3): DataFrame = {
    require(k % 4 == 0, s"k=$k must be divisible by 4 (lanes per digest)")
    val base = docs.select(col(idCol).as("id"), words(col(textCol)).as("w"))
      .where(size(col("w")) >= shingleN)
    // one row per shingle; the k mins are aggregate COLUMNS (map-side
    // combinable, no row explosion, no (id,seed) shuffle)
    val sh = base.select(col("id"), explode(shingles("w", shingleN)).as("s"))
      .select(col("id") +: (0 until k / 4).map(j =>
        expr(s"md5(cast(concat('$j:', s) as binary))").as(s"h$j")): _*)
    // lanes are aggregated as BIGINTs, not hex strings: min(STRING) has
    // an immutable buffer, which silently downgrades the whole aggregate
    // to Sort+SortAggregate over every shingle row; min(BIGINT) keeps it
    // a HashAggregate. Numeric min == lexicographic min of the
    // fixed-width hex (band signatures hex them back — see caller).
    val mins = (0 until k).map { i =>
      min(expr(s"cast(conv(substr(h${i / 4}, ${(i % 4) * 8 + 1}, 8), 16, 10) as bigint)")).as(s"m$i")
    }
    sh.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** Stacked portable band keys (id, band, sig) — band signature =
    * concat of the band's r mins rendered back to the 8-hex-char lane
    * form (matching the oracle's string mins); the bands/r signatures
    * unpivot to rows with stack() for the bucket join. The ONE band-key
    * definition: the whole-corpus pairing AND the stored band index
    * ([[buildBandIndex]]) both come from here, so an index probe can
    * never disagree with a batch recomputation. */
  def bandSigsPortable(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 32, r: Int = 4, shingleN: Int = 3): DataFrame = {
    require(k % r == 0, s"k=$k must be divisible by r=$r")
    val mh = minhashSigsPortable(docs, idCol, textCol, k, shingleN)
    val bands = k / r
    val sigCols = (0 until bands).map { b =>
      concat((b * r until (b + 1) * r).map(i =>
        expr(s"lpad(lower(hex(m$i)), 8, '0')")): _*).as(s"sig$b")
    }
    mh.select(col("id") +: sigCols: _*)
      .selectExpr("id",
        s"stack($bands, ${(0 until bands).map(b => s"$b, sig$b").mkString(", ")}) AS (band, sig)")
  }

  def nearDupPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 32, r: Int = 4, shingleN: Int = 3,
                           threshold: Double = 0.5): DataFrame = {
    val stacked = bandSigsPortable(docs, idCol, textCol, k, r, shingleN)
    val bandsM = graft.core.Exec.materialize(stacked)
    val cand = bandsM.select(col("band"), col("sig"), col("id").as("a_id"))
      .join(bandsM.select(col("band"), col("sig"), col("id").as("b_id")), Seq("band", "sig"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val wsets = docs.select(col(idCol).as("id"),
      array_distinct(words(col(textCol))).as("ws"))
    cand
      .join(wsets.select(col("id").as("a_id"), col("ws").as("a_w")), "a_id")
      .join(wsets.select(col("id").as("b_id"), col("ws").as("b_w")), "b_id")
      .withColumn("jaccard", jaccard(col("a_w"), col("b_w")))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** PORTABLE SimHash: bit j of the signature is the sign of
    * Σ_tokens (±1 from bit j of the first 16 bits of md5(token)).
    * Tokens explode to rows and the 16 per-bit sums are one hash
    * aggregate (map-side combinable), so it scales like any groupBy —
    * and md5 makes it replicable in the DuckDB oracle, unlike the
    * xxhash64 HOF variant [[simhash]]. */
  /** Benchmark decontamination join: flag train docs sharing any shingle
    * with the eval set. `train` = (doc_id, s), `ev` = (s, eval_id).
    *
    * The eval side is broadcast in the normal case — benchmark suites
    * are thousands of docs against a 100 TB corpus — but that assumption
    * is CHECKED, not trusted: a bounded probe (limit N+1, so the scan
    * stops as soon as the threshold is exceeded, never a full count)
    * verifies the eval shingle count, and an oversized eval set falls
    * back to a shuffle hash join instead of OOMing the driver. */
  def decontaminate(train: DataFrame, ev: DataFrame,
                    maxBroadcastRows: Long = 4000000L): DataFrame =
    train.join(graft.core.Exec.gatedBroadcast(ev, ev, maxBroadcastRows), "s")
      .groupBy("doc_id")
      .agg(countDistinct(col("s")).as("n_shared"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy("doc_id")

  def simhashPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def nib(k: Int) = s"(instr('0123456789abcdef', substr(hx, $k, 1)) - 1)"
    val tok = docs
      .select(col(idCol).as("doc_id"), explode(words(col(textCol))).as("w"))
      .withColumn("hx", md5(col("w").cast("binary")))
      .withColumn("v",
        expr(s"((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + ${nib(4)}"))
    val sums = (0 until 16).map(j =>
      sum(expr(s"CASE WHEN (v DIV ${1 << j}) % 2 = 1 THEN 1 ELSE -1 END")).as(s"s_$j"))
    val sigExpr = (0 until 16)
      .map(j => s"CASE WHEN s_$j > 0 THEN ${1 << j} ELSE 0 END").mkString(" + ")
    tok.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), expr(s"CAST($sigExpr AS BIGINT)").as("sig"))
      .orderBy("doc_id")
  }

  /** MinHash-LSH near-duplicate candidate pairs, verified by exact
    * Jaccard. Pipeline: signature → explode band keys → self-join per
    * bucket (a.id < b.id) → dedup pairs → exact-verify ≥ threshold.
    * The join key is (band index, band hash), so the shuffle distributes
    * over buckets; bucket sizes are bounded by collision probability,
    * not corpus size. */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 32, r: Int = 4, shingleN: Int = 3,
                   threshold: Double = 0.7): DataFrame = {
    // Stage 1: (id, band) only — the band self-join must never shuttle
    // the word arrays (each doc appears in k/r bands; shipping payloads
    // here multiplies shuffle volume by the band count).
    val bands = docs.select(col(idCol).as("id"), words(col(textCol)).as("w"))
      .where(size(col("w")) >= shingleN)
      .withColumn("sig",
        org.apache.spark.sql.graftfn.MinHashSig.of(col("w"), shingleN, k))
      .select(col("id"), explode(bandKeys("sig", k, r)).as("band"))
    // materialize once (the self-join would otherwise recompute the
    // MinHash signatures — the dominant cost — per side); the materialize
    // cut is released by the ContextCleaner when the plan is dropped,
    // unlike a persist with no owner to unpersist it
    val bandsM = graft.core.Exec.materialize(bands)
    val cand = bandsM.select(col("band"), col("id").as("a_id"))
      .join(bandsM.select(col("band"), col("id").as("b_id")), Seq("band"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    // Stage 2: fetch the two word sets only for surviving candidates and
    // verify with exact Jaccard.
    val wsets = docs.select(col(idCol).as("id"),
      array_distinct(words(col(textCol))).as("ws"))
    cand
      .join(wsets.select(col("id").as("a_id"), col("ws").as("a_w")), "a_id")
      .join(wsets.select(col("id").as("b_id"), col("ws").as("b_w")), "b_id")
      .withColumn("jaccard", jaccard(col("a_w"), col("b_w")))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Connected components over a near-dup pair set: cluster id = the
    * minimum doc id reachable through the pair graph, which is how a
    * corpus-scale dedup actually retains documents (keep ONE
    * representative per cluster, not one per pair — pairwise output
    * alone over-deletes when A~B and B~C but A!~C).
    *
    * Min-label propagation to fixpoint: labels start as the node's own
    * id; each round takes the min of a node's label and its neighbors'
    * labels. Every round is one hash join (edges ⋈ labels on the node
    * id) plus one min-aggregate — both hash-partitioned on node id, no
    * driver-side data, lineage truncated per round with Exec.materialize
    * (the loop would otherwise stack O(rounds) join plans). Rounds are
    * bounded by the cluster diameter; near-dup clusters are shallow
    * (dups of a common source), so this converges in a handful of
    * rounds — for adversarially long chains the large-star/small-star
    * variant halves the bound, at the cost of two joins per round.
    *
    * Output: (doc_id, cluster_id, n_members) for every doc in ≥1 pair,
    * ordered by doc_id. Docs in no pair are singleton clusters and are
    * omitted (at corpus scale that is the overwhelming majority — a
    * dedup pass wants the clustered slice, not an identity mapping). */
  def dedupClusters(pairs: DataFrame): DataFrame = {
    val labels = clusterLabels(pairs)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "label")
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        col("n_members"))
      .orderBy("doc_id")
  }

  /** Fixpoint (node, label) frame of [[dedupClusters]] without the
    * size/order dressing — callers that only need the label mapping
    * (e.g. dropping non-representatives) skip the sizes aggregate and
    * join entirely. Measured dispatch between two arms that compute the
    * same labeling: [[unionFindLabels]] while the verified pair set
    * fits [[UnionFindEdgeBudget]], [[minLabelLoop]] past it. */
  def clusterLabels(pairs: DataFrame): DataFrame = {
    // materialize the pair pipeline BEFORE either arm — the loop
    // references p twice (forward + swapped), and an un-materialized
    // union would run the candidate-join/verify stages once per side;
    // the gate then reads a count off the checkpointed frame, no extra
    // scan of the corpus
    val p = graft.core.Exec.materialize(pairs.select(col("a_id"), col("b_id")))
    if (integralIds(p) && p.count() <= UnionFindEdgeBudget) unionFindLabels(p)
    else minLabelLoop(p)
  }

  /** Single-task union-find edge budget (edge count). The fixpoint is
    * iteration-free when the VERIFIED pair set — already a tiny
    * fraction of the corpus after blocking + similarity thresholds —
    * fits one task's memory: a 16-byte-per-edge stream into a
    * union-find map, so 8M edges is ~128 MB of task state plus the
    * node-sized parent map, the same working-set class as one
    * post-shuffle aggregation partition. Above it the SAME fixpoint
    * runs as the iterative min-label loop (the at-scale path). */
  private val UnionFindEdgeBudget = 8L * 1000 * 1000

  /** True iff both id columns are integral — the union-find keys nodes
    * by long, so string or fractional ids (a cast would fail or merge
    * distinct nodes) take the loop. A schema check, no Spark job. */
  private def integralIds(p: DataFrame): Boolean = {
    import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
    p.schema.fields.map(_.dataType)
      .forall(Set[DataType](ByteType, ShortType, IntegerType, LongType).contains)
  }

  /** The union-find arm of [[clusterLabels]] over an integral (a_id,
    * b_id) pair frame. r18 (guide §1.2 step 1 — remove unnecessary
    * passes): the iterative min-label loop pays ≥3 jobs per round
    * (join+agg, checkpoint, convergence sum) and runs diameter+1
    * rounds; at sf0.1 that was 5.6–8.2 s of an 8 s llm_semdedup and most
    * of graph_components, for graphs whose verified pair sets are a few
    * thousand rows. This computes the fixpoint in ONE job: coalesce(1)
    * over the pair blocks (narrow — no shuffle) into a single
    * union-find task emitting the exact same (node, min component id)
    * labeling. Deterministic: the label is the component's min node id
    * whatever the union order. */
  private[llm] def unionFindLabels(p: DataFrame): DataFrame = {
    import p.sparkSession.implicits._
    p.select(col("a_id").cast("long"), col("b_id").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        def find(x0: Long): Long = {
          var x = x0
          while (parent(x) != x) {
            parent(x) = parent(parent(x)) // path halving
            x = parent(x)
          }
          x
        }
        while (it.hasNext) {
          val (a, b) = it.next()
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          // union by min root: roots only decrease, so the final
          // root of every component is its min node id
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        parent.keys.toArray.iterator.map(n => (n, find(n)))
      }
      .toDF("node", "label")
  }

  /** The min-label loop arm of [[clusterLabels]] over a (a_id, b_id)
    * pair frame of any id type: label propagation to fixpoint, lineage
    * cut per round. */
  private[llm] def minLabelLoop(p: DataFrame): DataFrame = {
    val integral = integralIds(p)
    // undirected: propagate both ways (cheap lineage over checkpointed p)
    val edges = p.union(p.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    // init fused with the first propagation round: label₀(node) =
    // min(node, neighbors) — one aggregate instead of a distinct plus
    // a join round (every node appears as dst because edges are
    // direction-doubled); equivalent to one round from the identity
    // labeling, so the fixpoint is unchanged
    var labels = graft.core.Exec.materialize(edges
      .groupBy(col("dst").as("node"))
      .agg(min(least(col("src"), col("dst"))).as("label")))
    // convergence metric: labels only ever DECREASE, so for integral ids
    // the label sum is strictly monotone until fixpoint — one aggregate
    // per round instead of a join+count against the previous round
    // (decimal: a BIGINT sum over corpus-scale ids would wrap). Other id
    // types have no exact sum, so their rounds compare by anti join.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO) // empty input: sum is NULL
    // the fused init IS a completed round, so its sum seeds the
    // convergence compare: a diameter-1 graph (dup pairs around one
    // representative — the common near-dup shape) is detected done
    // after a single join round instead of two
    var prevSum = if (integral) labelSum(labels) else null
    var converged = false
    while (!converged) {
      val viaNbr = edges.join(labels, edges("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      val next = graft.core.Exec.materialize(
        labels.select("node", "label").union(viaNbr)
          .groupBy("node").agg(min("label").as("label")))
      if (integral) {
        val s = labelSum(next)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
      } else converged = next.join(labels, Seq("node", "label"), "left_anti").isEmpty
      labels = next
    }
    labels
  }

  // --------------------- stored band index (dedup-against-index)
  //
  // Whole-corpus dedup is a bootstrap operation; the steady-state
  // pipeline deduplicates each NEW ingest batch against the
  // ACCUMULATED corpus. Recomputing the corpus signatures per batch
  // would cost O(corpus) every time — the corpus's band keys are the
  // state worth persisting. The index is the stacked (id, band, sig)
  // frame of [[bandSigsPortable]], stored swap-managed (the Keysets
  // crash contract), so a crashed rebuild never corrupts the servable
  // index. Per batch the cost is O(batch) signature computation + one
  // bucket join against the index + Jaccard verification of the
  // candidates — corpus work only on the candidate fetch.

  /** On-disk layout version of the band-index artifact — leads every
    * ensure fingerprint so a layout refactor forces a rebuild instead
    * of silently serving an old-layout artifact to new probe code.
    * Bump rule: increment whenever the `bands/` layout or stored
    * schema changes. */
  val BandLayoutVersion = "bands-v2"

  /** Build (and atomically swap in) the corpus band index at `path`. */
  def buildBandIndex(s: org.apache.spark.sql.SparkSession, corpus: DataFrame,
                     idCol: String, textCol: String, path: String,
                     fingerprint: String, k: Int = 32, r: Int = 4,
                     shingleN: Int = 3): Unit =
    graft.tsdb.Keysets.swapBuiltDir(s, path) { tmp =>
      bandSigsPortable(corpus, idCol, textCol, k, r, shingleN)
        .write.parquet(s"$tmp/bands")
      graft.tsdb.Keysets.writeMarker(s, s"$tmp/_meta", fingerprint)
    }

  /** The stored band index = base table ∪ committed deltas (the Keysets
    * delta-dir lifecycle shared with the ANN index), minus tombstoned
    * doc ids — probes never see a deleted doc's signatures. */
  def readBandIndex(s: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.tsdb.Keysets.dropTombstoned(
      graft.tsdb.Keysets.readWithDeltas(s, path, "bands"), "id")

  /** Grow the stored band index by one corpus batch WITHOUT a rebuild:
    * O(batch) signature computation landed as an atomic delta dir —
    * band keys are per-doc independent, so base ∪ deltas is exactly
    * the index a full rebuild over the grown corpus would produce
    * (asserted in LlmSpec). With `txn = Some((streamId, batchId))` the
    * batch lands exactly once (the Delta Lake txn pattern of
    * [[graft.tsdb.Keysets.appendDelta]]); auto-allocated ids mean a
    * replayed batch can never overwrite a takedown tombstone or any
    * other writer's delta. Returns whether anything landed. */
  def appendBandDelta(s: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
                      idCol: String, textCol: String, path: String,
                      k: Int = 32, r: Int = 4, shingleN: Int = 3,
                      txn: Option[(String, Long)] = None): Boolean =
    graft.tsdb.Keysets.appendDelta(s, path, "bands", txn)(tmp =>
      bandSigsPortable(newDocs, idCol, textCol, k, r, shingleN).write.parquet(tmp))

  /** Tombstone-delete docs from the stored band index — the takedown
    * shape, mirroring [[graft.llm.Similarity.deleteFromIvfIndex]]: the
    * marker rows (id, tomb) land as one atomic delta (band/sig
    * null-fill on read and are never consulted), [[readBandIndex]]
    * hides the doc's signatures immediately, compaction purges them
    * physically. Doc ids must never be reused. */
  def deleteFromBandIndex(s: org.apache.spark.sql.SparkSession, ids: DataFrame,
                          path: String): Unit = {
    val doomed = ids.toDF("id").select(col("id"), lit(true).as("tomb"))
    if (doomed.isEmpty) return // an empty write would land a schema-less dir
    graft.tsdb.Keysets.appendDelta(s, path, "bands")(tmp => doomed.write.parquet(tmp))
  }

  /** Fold committed band deltas into the base table (bounded file
    * counts for the probe side); watermark contract in Keysets.
    * Tombstones are applied during the fold — deferred deletes become
    * physical here. */
  def compactBandDeltas(s: org.apache.spark.sql.SparkSession, path: String): Unit =
    graft.tsdb.Keysets.compactDeltas(s, path, "bands", "id") { (live, tmp) =>
      graft.tsdb.Keysets.writeTable(live, tmp)(_.write)
    }

  def bandDeltaCount(s: org.apache.spark.sql.SparkSession, path: String): Int =
    graft.tsdb.Keysets.deltaDirs(s, path, "bands").size

  /** Near-dup-check a NEW batch against the STORED corpus band index:
    * O(batch) signatures, bucket join on (band, sig), exact-Jaccard
    * verification of candidates against `allDocs` (the corpus store —
    * candidate ids only reach it through the verify joins). The batch
    * side is broadcast after a bounded count probe (batches are small
    * against a 100 TB corpus — but that is CHECKED, not trusted, same
    * pattern as [[decontaminate]]): the stored index never shuffles.
    * Emits (new_id, corpus_id, jaccard ≥ threshold). */
  def incrementalNearDups(s: org.apache.spark.sql.SparkSession, batch: DataFrame,
                          allDocs: DataFrame, path: String,
                          idCol: String = "doc_id", textCol: String = "text",
                          k: Int = 32, r: Int = 4, shingleN: Int = 3,
                          threshold: Double = 0.5,
                          maxBroadcastSigs: Long = 4000000L): DataFrame = {
    val idx = readBandIndex(s, path)
    val batchSigs = bandSigsPortable(batch, idCol, textCol, k, r, shingleN)
      .select(col("band"), col("sig"), col("id").as("new_id"))
    val cand = idx.select(col("band"), col("sig"), col("id").as("corpus_id"))
      .join(graft.core.Exec.gatedBroadcast(batchSigs, batchSigs, maxBroadcastSigs),
        Seq("band", "sig"))
      .select("corpus_id", "new_id").distinct()
    val wsets = allDocs.select(col(idCol).as("id"),
      array_distinct(words(col(textCol))).as("ws"))
    cand
      .join(wsets.select(col("id").as("corpus_id"), col("ws").as("a_w")), "corpus_id")
      .join(wsets.select(col("id").as("new_id"), col("ws").as("b_w")), "new_id")
      .withColumn("jaccard", jaccard(col("a_w"), col("b_w")))
      .where(col("jaccard") >= threshold)
      .select("new_id", "corpus_id", "jaccard")
      .orderBy("new_id", "corpus_id")
  }

  /** Asymmetric shingle-containment near-dup: for candidate pairs
    * sharing a RARE shingle, C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| — the
    * quote/excerpt detector Jaccard misses (a short doc embedded in a
    * long one has low Jaccard but high containment). Emits pairs whose
    * larger-side containment clears `threshold`, with both directions'
    * 4dp scores.
    *
    * Scale shape: candidates come ONLY from shingles with document
    * frequency ≤ `maxDf` (pair volume bounded by Σ df² over rare
    * shingles — the blocked-pair-generation rule every dedup operator
    * here follows; a ubiquitous boilerplate shingle generates no
    * pairs). The intersection recount then joins shingle postings
    * against the candidate-pair list, so only candidate docs'
    * postings move — never all-pairs, never the corpus text. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, maxDf: Int, threshold: Double): DataFrame = {
    // materialized once (r18): the shingle explode feeds SIX consumers
    // below (df cut, both sides of the candidate self-join, sizes, both
    // sides of the intersection join) — unmaterialized, the split +
    // shingle + explode chain re-ran per consumer (~6× the map work)
    val sh = graft.core.Exec.materialize(docs
      .withColumn("w", words(col(textCol)))
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(shingles("w", n))).as("s")))
    val rareS = sh.groupBy("s").agg(count(lit(1)).as("sdf"))
      .where(col("sdf") <= maxDf).select("s")
    val rare = sh.join(rareS, "s")
    val pairs = rare.as("a")
      .join(rare.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val inter = sh.as("x")
      .join(pairs, col("x.doc_id") === col("a_id"))
      .join(sh.as("y"),
        col("y.doc_id") === col("b_id") && col("y.s") === col("x.s"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("doc_id").as("a_id"), col("nsh").as("na")), "a_id")
      .join(sz.select(col("doc_id").as("b_id"), col("nsh").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("na"), col("nb"), col("inter"),
        graft.core.D.r4s(col("inter").cast("double") / col("na")).as("c_a"),
        graft.core.D.r4s(col("inter").cast("double") / col("nb")).as("c_b"))
      .where(greatest(col("c_a"), col("c_b")) >= threshold)
      .orderBy("a_id", "b_id")
  }
}
