package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.plans.{ArrayDotProduct, RollingHash, TopBigramFraction, TopKPairs}

/** Installs graft's custom Catalyst expressions once per session,
  * callable from SQL text and `expr(...)`. Named by
  * `spark.sql.extensions` in [[graft.sources.Tables.sessionConfs]], so
  * every session built with those confs (and every session cloned from
  * one) has them. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}

object GraftExtensions {
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("rolling_hash", classOf[RollingHash], exprs => RollingHash(exprs.head)),
    ("array_dot", classOf[ArrayDotProduct],
      exprs => ArrayDotProduct(exprs(0), exprs(1))),
    ("top_bigram_frac", classOf[TopBigramFraction],
      exprs => TopBigramFraction(exprs.head)),
    ("top_k_pairs", classOf[TopKPairs], exprs => {
      require(exprs.length == 3,
        s"top_k_pairs(score, id, k) takes 3 arguments, got ${exprs.length}")
      val k = exprs(2) match {
        case Literal(v: Int, _) => v
        case Literal(v: Long, _) =>
          require(v == v.toInt, s"top_k_pairs k out of Int range: $v")
          v.toInt
        case Literal(v: Short, _) => v.toInt
        case Literal(v: Byte, _) => v.toInt
        case other => throw new IllegalArgumentException(
          s"top_k_pairs k must be an integral literal, got $other")
      }
      TopKPairs(exprs(0), exprs(1), k).toAggregateExpression()
    }))
}
