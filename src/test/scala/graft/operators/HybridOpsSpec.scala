package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fusion-math checks for the hybrid RRF query. The component retrievers
  * (BM25, cosine top-k) have their own brute-force specs; these pin the
  * FUSION — rank-only integer RRF over the two lists — by recomputing it
  * in Scala from the component outputs.
  */
class HybridOpsSpec extends SparkSpec {

  private def rrf(rank: Long): Long = if (rank > 0) 1000000000000L / (60 + rank) else 0L

  test("rrf fusion equals a Scala recompute from the two component lists") {
    val embIds = graft.model.Tables.embeddings(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val lex = TextOps.nsTextBm25(spark, sfDir).collect()
      .filter(r => embIds(r.getLong(0)))
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap // (q, doc) -> rnk
    val dense = graft.model.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val queries = dense.filter(_._1 % 50 == 0)
    val denseMap = queries.flatMap { case (q, qv) =>
      val scored = dense.filter(_._1 != q).map { case (id, v) =>
        val dot = qv.zip(v).map { case (a, b) => a.toDouble * b.toDouble }.sum
        val na = math.sqrt(qv.map(x => x.toDouble * x.toDouble).sum)
        val nb = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
        val cos = BigDecimal(dot / (na * nb))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, cos)
      }
      scored.sortBy { case (id, c) => (-c, id) }.take(10).zipWithIndex
        .map { case ((id, _), i) => (q, id) -> (i + 1).toLong }
    }.toMap
    val want = (lex.keySet ++ denseMap.keySet).groupBy(_._1).toSeq.flatMap {
      case (q, keys) =>
        val fused = keys.toSeq.map { k =>
          val (l, d) = (lex.getOrElse(k, 0L), denseMap.getOrElse(k, 0L))
          (k._2, rrf(l) + rrf(d), l, d)
        }
        fused.sortBy { case (doc, u, _, _) => (-u, doc) }.take(10).zipWithIndex
          .map { case ((doc, u, l, d), i) => Seq[Any](q, (i + 1).toLong, doc, u, l, d) }
    }.sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    val got = HybridOps.nsTextHybridRrf(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(got == want, s"rrf mismatch: got=${got.take(3)} want=${want.take(3)}")
    // The fusion genuinely mixes: some fused doc is lexical-only, some is
    // dense-only, and some appears in both lists.
    def col(i: Int) = got.map(_(i).asInstanceOf[Long])
    assert(got.exists(r => r(4) == 0L && r(5).asInstanceOf[Long] > 0L), "no dense-only doc")
    assert(got.exists(r => r(5) == 0L && r(4).asInstanceOf[Long] > 0L), "no lex-only doc")
    assert(got.exists(r => r(4).asInstanceOf[Long] > 0L && r(5).asInstanceOf[Long] > 0L),
      "no doc retrieved by both — fusion vacuous")
    // every fused query is on the shared cadence and embedded
    assert(col(0).forall(q => q % 50 == 0 && embIds(q)))
  }

  test("fusion adds no shuffle beyond the two retrievers' own plans") {
    // The fused lists are Q x 10 rows: the fusion join must be a
    // broadcast-side operation (SMJ of two tiny lists is acceptable too),
    // and there must be no cartesian product anywhere.
    val plans = collectAllPlans(
      HybridOps.nsTextHybridRrf(spark, sfDir).queryExecution.executedPlan)
    assert(!plans.exists(_.nodeName.contains("CartesianProduct")),
      plans.map(_.nodeName).distinct.toString)
    spark.sharedState.cacheManager.clearCache()
  }
}
