package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * Session extension registering the native vector functions for SQL use
 * (`SELECT vec_cosine(a.embedding, b.embedding) ...`). Install with
 * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
 * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "vec_cosine"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
  }
}
