package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.{Dot4, LloydMean, NearestCentroid}

/** Pins the two IVF/PQ build kernels to the Spark formulations they
  * replace, bit for bit, on the codegen and the interpreted paths:
  * `nearest_centroid` ≡ `least(struct(dist, id), …)` over literal
  * centroids, `lloyd_mean` ≡ posexplode → `sum(D.dec)/count` →
  * `array_sort` regroup, and the lockstep trainer ≡ one seed → assign →
  * mean chain per codebook. The reference forms live in the companion. */
class CentroidsSpec extends SparkSpec {
  import spark.implicits._
  import CentroidsSpec._

  /** Runs `body` under whole-stage codegen, then with codegen off
    * (every expression evaluated by `eval`). */
  private def bothModes(body: String => Unit): Unit = {
    body("codegen")
    val off = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = off.map { case (k, _) => k -> spark.conf.getOption(k) }
    off.foreach { case (k, v) => spark.conf.set(k, v) }
    try body("interpreted")
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def withSq(cs: Seq[(Int, Seq[Float])]): Seq[(Int, Seq[Float], Double)] =
    cs.map { case (id, v) => (id, v, Dot4.dot(v.toArray, v.toArray)) }

  /** Rows whose kernel id differs from the reference's, whole array and
    * `[off, off + len)` slices. */
  private def assignMismatches(df: DataFrame, cs: Seq[(Int, Seq[Float], Double)],
                               regions: Seq[(Int, Int)]): Seq[String] =
    regions.flatMap { case (off, len) =>
      val region = if (len < 0) col("embedding") else slice(col("embedding"), off + 1, len)
      df.select(col("vec_id"), NearestCentroid.of(col("embedding"), cs, off, len).as("got"),
          nearestRef(region, cs).as("want"))
        .where(!(col("got") <=> col("want"))).collect()
        .map(r => s"(off=$off,len=$len) vec ${r.get(0)}: kernel ${r.get(1)} ref ${r.get(2)}").toSeq
    }

  /** Random vectors with exact ties built in; at `scale` 0.02 the
    * products sit near the 4th decimal, so the per-element rounding
    * decides many argmins. */
  private def randomVecs(n: Int, dim: Int, seed: Int, scale: Double): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim) {
      rnd.nextInt(10) match {
        case 0 => (rnd.nextInt(5) - 2).toFloat // small integers: exact distance ties
        case 1 => if (rnd.nextBoolean()) -0.0f else 0.0f
        case _ => (rnd.nextGaussian() * scale).toFloat
      }
    })
  }

  test("nearest_centroid ≡ least over (dist, id) structs on random rows at k = 1, 8, 140") {
    Seq(0.2, 0.02).foreach { scale =>
      val vecs = randomVecs(400, 16, 11, scale)
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      Seq(1, 8, 140).foreach { k =>
        // ids out of order, centroids drawn from the rows (zero
        // distances, exact ties) and off them
        val cs = withSq(scala.util.Random.shuffle(
          (vecs.take(k / 2) ++ randomVecs(k - k / 2, 16, k, scale))
            .zipWithIndex.map { case (v, i) => (i * 3 + 7, v) }))
        bothModes { mode =>
          val bad = assignMismatches(df, cs, Seq((0, -1), (0, 4), (4, 4), (12, 4)))
          assert(bad.isEmpty, s"scale=$scale k=$k $mode: ${bad.take(5).mkString("; ")}")
        }
      }
    }
  }

  test("nearest_centroid ≡ least on ties, ±0.0, nulls, short slices, wrong lengths, ragged centroids") {
    val cs = withSq(Seq(
      9 -> Seq(1f, 0f, 0f, 0f), 2 -> Seq(-1f, 0f, 0f, 0f),
      5 -> Seq(1f, 0f, 0f, 0f), // duplicate of 9: every distance ties, 5 wins
      7 -> Seq(0f, 0f, 0f, 0f), 4 -> Seq(-0.0f, -0.0f, 0f, -0.0f),
      6 -> Seq(2f, 2f, Float.NaN, 0f), 8 -> Seq(3e38f, 0f, 0f, 0f)))
    val ragged = withSq(Seq(3 -> Seq(1f, 1f), 1 -> Seq(0f, 0f, 0f),
      8 -> Seq(1f, 0f, 0f, 0f), 6 -> Seq(0.5f, 0.5f, 0.5f, 0.5f, 0.5f)))
    def v(xs: Float*): Option[Seq[Option[Float]]] = Some(xs.map(Some(_)))
    def vn(xs: Option[Float]*): Option[Seq[Option[Float]]] = Some(xs)
    val rows = Seq(
      0L -> v(0f, 5f, 0f, 0f), // equidistant from ±x
      1L -> v(0f, 0f, 0f, 0f),
      2L -> v(-0.0f, -0.0f, -0.0f, -0.0f),
      3L -> v(1f, 0f, 0f, 0f),
      4L -> None, // null array
      5L -> v(1f, 0f, 0f), // wrong length for the whole form
      6L -> v(1f, 0f, 0f, 0f, 9f, 9f), // longer: slices run short
      7L -> v(1f, 0f, 0f, 0f, 9f, 9f, 9f, 9f, 1f),
      8L -> v(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f),
      9L -> vn(Some(1f), None, Some(0f), Some(0f)), // null element
      10L -> vn(Some(1f), Some(0f), Some(0f), Some(0f), None, Some(1f)),
      11L -> v(),
      12L -> v(Float.NaN, 0f, 0f, 0f),
      13L -> v(1e30f, -1e30f, 0f, 0f),
      14L -> v(1f, 1f),
      15L -> v(0.5f, 0.5f, 0.5f, 0.5f, 0.5f),
      16L -> v(2f, 2f, 1f, 0f),
      17L -> v(0.00005f, -0.00005f, 0.00015f, 0.03125f))
    val df = rows.toDF("vec_id", "embedding")
    val regions = Seq((0, -1), (0, 4), (2, 4), (4, 4), (0, 2), (6, 3), (20, 4))
    bothModes { mode =>
      Seq("flat" -> cs, "ragged" -> ragged, "single" -> cs.take(1)).foreach { case (name, c) =>
        val bad = assignMismatches(df, c, regions)
        assert(bad.isEmpty, s"$name $mode: ${bad.take(5).mkString("; ")}")
      }
    }
    // the pinned outcomes behind the equivalence
    def nearest(c: Seq[(Int, Seq[Float], Double)]): Map[Long, Int] =
      df.select(col("vec_id"), NearestCentroid.of(col("embedding"), c).as("c"))
        .as[(Long, Int)].collect().toMap
    val ties = cs.filter(c => Set(9, 2, 5, 7, 4)(c._1))
    assert(nearest(cs.filter(c => Set(9, 2, 5)(c._1)))(0L) == 2 && nearest(ties)(3L) == 5,
      "ties go to the lowest id")
    assert(nearest(ties)(1L) == 4 && nearest(ties)(2L) == 4, "±0.0 distances tie; the lowest id wins")
    assert(Seq(4L, 5L, 9L, 11L).forall(nearest(cs)(_) == 2), "all distances null: the lowest id")
    assert(nearest(ragged)(3L) == 1, "a null distance orders before a finite one")
  }

  test("lloyd_mean ≡ posexplode → sum(D.dec)/count → array_sort, whole and sliced") {
    val rnd = new scala.util.Random(5)
    def member(g: String, v: Seq[Option[Float]]) = (g, Option(v))
    val rows =
      // random groups
      (0 until 300).map(i => member(s"r${i % 7}",
        Seq.fill(6)(Some((rnd.nextGaussian() * 3).toFloat)))) ++
      // .5 ties at the 4th decimal (k/32 · 10⁴ ends in .5): the slow path
      Seq(member("tie", Seq(Some(0.03125f), Some(-0.09375f), Some(1.03125f))),
        member("tie", Seq(Some(5.15625f), Some(0.15625f), Some(-0.03125f))),
        member("tie", Seq(Some(0.00005f), Some(1.00005f), Some(-2.00015f)))) ++
      // past 2^51 scaled: the slow path without a tie
      Seq(member("wide", Seq(Some(3e11f), Some(-9e13f))),
        member("wide", Seq(Some(7.5e12f), Some(1e13f)))) ++
      // NaN / ±Inf: a null term, still counted
      Seq(member("nan", Seq(Some(Float.NaN), Some(1f), Some(Float.PositiveInfinity))),
        member("nan", Seq(Some(2f), Some(3f), Some(4f)))) ++
      // null elements, ragged lengths, an all-null position, a null array
      Seq(member("rag", Seq(Some(1f), None, None, Some(4f), Some(5f))),
        member("rag", Seq(Some(2f), None)),
        member("rag", Seq()),
        ("rag", None),
        member("rag", Seq(Some(3f), None, None, Some(6f), Some(7f), Some(8f), Some(9f)))) ++
      // a group with no position at all: no row on either side
      Seq(("void", None), member("void", Seq())) ++
      // unscaled sums past Long.MaxValue (9.2e14 at 4 decimals) that
      // still fit DECIMAL(28,4)
      Seq.fill(12)(member("big", Seq(Some(9e13f), Some(-9e13f), Some(1f))))
    val df = rows.toDF("g", "embedding")
    Seq((0, -1), (0, 3), (1, 3), (3, 2), (5, 4), (9, 2)).foreach { case (off, len) =>
      val region = if (len < 0) col("embedding") else slice(col("embedding"), off + 1, len)
      bothModes { mode =>
        val want = floatBits(meanRef(df.select(col("g"), region.as("embedding")), "g"))
        val got = floatBits(df.groupBy("g")
          .agg(LloydMean.of(col("embedding"), lit(off), lit(len)).as("cvec"))
          .where(col("cvec").isNotNull))
        assert(got == want, s"(off=$off,len=$len) $mode:\nkernel $got\nref    $want")
      }
    }
    assert(floatBits(meanRef(df, "g"))("big").head.exists(_ == java.lang.Float.floatToRawIntBits(9e13f)))
  }

  test("lockstep trainer ≡ separate per-codebook chains: IVF only, PQ only, both") {
    // the fixture plus a null embedding and a short one, which join the
    // lowest-id cluster and feed only the positions they have
    val emb = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val extra = Seq((900001L, Option.empty[Seq[Float]]), (900002L, Some(Seq.fill(10)(0.5f))))
      .toDF("vec_id", "embedding")
    val vecs = emb.unionByName(extra)
    val ivf = chainRef(vecs, 8, 2, 0, -1)
    assert(rowsOf(llm.Similarity.ivfCentroids(vecs, 8, 2)) == ivf, "IVF only")
    val pq = (0 until 4).map(s => chainRef(vecs, 8, 2, s * 16, 16))
    val books = llm.Similarity.pqCodebooksCollected(vecs, 4, 8, 2, 64)
    assert(books.map(b => b.map(c => (c._1, c._2.map(java.lang.Float.floatToRawIntBits))).toSeq) == pq,
      "PQ only")
    // both in one loop, IVF stopping before the PQ books do
    val p = llm.Similarity.IndexParams(k = 6, iters = 1, pqM = 2, pqK = 5, pqIters = 3)
    val dir = java.nio.file.Files.createTempDirectory("lockstep_idx").resolve("ann").toString
    llm.Similarity.buildIvfIndex(spark, vecs, dir, "lockstep", p)
    assert(rowsOf(spark.read.parquet(s"$dir/centroids")) == chainRef(vecs, 6, 1, 0, -1), "IVF in lockstep")
    (0 until 2).foreach { s =>
      assert(rowsOf(spark.read.parquet(s"$dir/codebooks").where(col("sub") === s)) ==
        chainRef(vecs, 5, 3, s * 32, 32), s"PQ subspace $s in lockstep")
    }
  }

  private def rowsOf(df: DataFrame): Seq[(Int, Seq[Int])] =
    df.select("centroid_id", "cvec").collect().map(r =>
      (r.getInt(0), r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits))).toSeq.sortBy(_._1)

  private def floatBits(df: DataFrame): Map[String, Seq[Option[Int]]] =
    df.collect().map(r => r.getString(0) -> r.getSeq[Any](1).map {
      case null => None
      case f: Float => Some(java.lang.Float.floatToRawIntBits(f))
    }).toMap
}

object CentroidsSpec {
  /** Reference nearest centroid: the `least` over (dist, id) structs
    * with the centroids as literals, the form the kernel replaced. */
  def nearestRef(region: Column, cs: Seq[(Int, Seq[Float], Double)]): Column = {
    val sq = Dot4.of(region, region)
    val dists = cs.map { case (cid, cvec, sqc) =>
      struct((sq + lit(sqc) - lit(2.0) * Dot4.of(region, typedLit(cvec))).as("dist"),
        lit(cid).as("cid"))
    }
    (if (dists.length == 1) dists.head else least(dists: _*)).getField("cid")
  }

  /** Reference Lloyd means of the `embedding` arrays per `g`: posexplode,
    * a per-(g, pos) decimal sum over the row count, regrouped in
    * position order. */
  def meanRef(df: DataFrame, g: String): DataFrame =
    df.select(col(g), posexplode(col("embedding")))
      .groupBy(g, "pos")
      .agg((sum(graft.core.D.dec(col("col").cast("double"))).cast("double")
        / count(lit(1))).as("mean"))
      .groupBy(g)
      .agg(expr("transform(array_sort(collect_list(struct(pos, mean))), s -> CAST(s.mean AS FLOAT))")
        .as("cvec"))

  /** Reference training of one codebook over the region
    * `[off, off + len)` (`len < 0`: whole): lowest-id seeds, then per
    * iteration a centroid collect, the literal assignment and the
    * posexplode mean. Returns (centroid_id, cvec float bits) by id. */
  def chainRef(vectors: DataFrame, k: Int, iters: Int, off: Int, len: Int): Seq[(Int, Seq[Int])] = {
    val region = vectors.select(col("vec_id"),
      (if (len < 0) col("embedding") else slice(col("embedding"), off + 1, len)).as("embedding"))
    var cents = region.orderBy("vec_id").limit(k)
      .agg(expr("sort_array(collect_list(struct(vec_id, embedding)))").as("s"))
      .select(posexplode(col("s")))
      .select(col("pos").cast("int").as("centroid_id"), col("col").getField("embedding").as("cvec"))
    for (_ <- 1 to iters) {
      val cs = cents.select(col("centroid_id"), col("cvec"), Dot4.of(col("cvec"), col("cvec")))
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1), r.getDouble(2))).sortBy(_._1).toSeq
      cents = meanRef(region.withColumn("centroid_id", nearestRef(col("embedding"), cs)),
        "centroid_id")
    }
    cents.collect().map(r =>
      (r.getInt(0), r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits))).toSeq.sortBy(_._1)
  }
}
