package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{DotProduct, JaroWinkler, MsgPackToJson}

/** SparkSessionExtensions hook: registers graft's custom Catalyst
  * expressions for SQL use. Install with
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   // ...or spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * after which `SELECT dot_product(a, b)` works in spark.sql alongside the
  * Column API (graft.functions.VectorFunctions.dot_product).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2,
          s"dot_product expects exactly 2 arguments, got ${children.size}")
        DotProduct(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("msgpack_to_json"),
      new ExpressionInfo(classOf[MsgPackToJson].getName, "msgpack_to_json"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1,
          s"msgpack_to_json expects exactly 1 argument, got ${children.size}")
        MsgPackToJson(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2,
          s"jaro_winkler expects exactly 2 arguments, got ${children.size}")
        JaroWinkler(children(0), children(1))
      }))  }
}
