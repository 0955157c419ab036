package org.apache.spark.sql.graftfn

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point exposing the native expressions to
  * SQL users:
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "org.apache.spark.sql.graftfn.GraftExtensions")
  *
  * then `SELECT dot4(a.embedding, b.embedding)`,
  * `SELECT minhash_sig(words, 3, 32)`. The DataFrame API
  * ([[Dot4.of]], [[MinHashSig.of]]) needs no registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteHofDot)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Every SQL function exposed, with its builder — the one list both
    * registration paths ([[GraftExtensions.apply]], [[register]])
    * install, so the two can never validate differently. */
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("dot4"),
      new ExpressionInfo(classOf[Dot4].getName, "dot4"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot4(arrayA, arrayB)")
        Dot4(children(0), children(1))
      }),
    (new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "minhash_sig(words, shingleN, k)")
        MinHashSig(children(0),
          intLit(children(1), "shingleN"), intLit(children(2), "k"))
      }))

  /** Register directly on a live session (for sessions built without the
    * config — e.g. the driver-owned Verify/Bench sessions). Same
    * validation as the extensions path. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(RewriteHofDot)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteHofDot
    }
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (id, _, build) =>
      reg.createOrReplaceTempFunction(id.funcName, build, "scala_udf")
    }
  }
}
