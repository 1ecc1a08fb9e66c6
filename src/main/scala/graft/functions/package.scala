package graft

import graft.operators.DedupOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** graft's native expressions as typed Columns. Each helper builds its
  * expression directly, so a query resolves in any session with no
  * function registered by name; [[graft.GraftExtensions]] is the name-based
  * path for SQL text.
  */
package object functions {

  /** [[CosineSimilarity]] of two float or double vectors. */
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** [[DotProduct]] of two numeric vectors (LONG when both are integral). */
  def dotProduct(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** [[MinHashFromSet]]: the full signature of an array<bigint> shingle set. */
  def minhashFromSet(s: Column): Column =
    column(MinHashFromSet(expression(s), DedupOps.hashParams, DedupOps.Prime))

  /** Spark's internal bloom-filter aggregate (the machinery behind its
    * runtime row-level filtering, absent from the public function
    * registry) over xxhash64 values; yields the serialized filter.
    */
  def bloomFilterAgg(hash: Column, estimatedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expression(hash), Literal(estimatedItems),
      Literal(numBits)).toAggregateExpression())

  /** Probe of a serialized bloom filter. The filter must be foldable (a
    * binary literal): the expression deserializes it once at setup, not
    * per row.
    */
  def mightContain(filter: Array[Byte], hash: Column): Column =
    column(BloomFilterMightContain(Literal(filter), expression(hash)))
}
