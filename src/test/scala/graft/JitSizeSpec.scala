package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** HotSpot does not JIT-compile a method of more than 8,000 bytecode
  * bytes (`-XX:-DontCompileHugeMethods` is off by default): such a
  * whole-stage method runs in the bytecode interpreter. The IVF
  * assignment and the PQ encoding must stay under that limit at any k,
  * which holds only while their centroids travel as data, not as an
  * expression tree. */
class JitSizeSpec extends SparkSpec {

  /** The largest method in any whole-stage-codegen class of `df`'s plan. */
  private def maxMethodBytes(df: DataFrame): Int = {
    val stages = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty, s"no whole-stage codegen in:\n${df.queryExecution.executedPlan}")
    stages.map(w => CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize).max
  }

  test("assignToCentroids and pqEncode stay under the 8,000-byte JIT limit at k = 8 and 140") {
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val emb = graft.core.Tables.embeddings(spark, sf)
      Seq(8, 140).foreach { k =>
        val firstK = emb.where(col("vec_id") < k)
        val cents = firstK.select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("cvec"))
        val books = (0 until 4).map(s => firstK.select(col("vec_id").cast("int").as("centroid_id"),
          slice(col("embedding"), s * 16 + 1, 16).as("cvec")))
        val assign = maxMethodBytes(llm.Similarity.assignToCentroids(emb, cents))
        assert(assign < 8000, s"assignToCentroids k=$k: $assign bytes")
        val encode = maxMethodBytes(llm.Similarity.pqEncode(emb, books, 64))
        assert(encode < 8000, s"pqEncode k=$k: $encode bytes")
      }
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
