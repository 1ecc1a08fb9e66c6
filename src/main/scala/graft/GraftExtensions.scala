package graft

import graft.functions.{CosineSimilarity, DotProduct}
import graft.operators.DedupOps
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Library entry point for `spark.sql.extensions`: makes graft's custom
  * expressions first-class session functions for SQL text.
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * This is the only name-based path. The library's own queries build the
  * same expressions as typed Columns ([[graft.functions]]), so they need
  * no registered name and resolve in any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_from_set"),
      new ExpressionInfo(classOf[graft.functions.MinHashFromSet].getName, "minhash_from_set"),
      (children: Seq[Expression]) =>
        graft.functions.MinHashFromSet(children.head, DedupOps.hashParams, DedupOps.Prime)))
  }
}
