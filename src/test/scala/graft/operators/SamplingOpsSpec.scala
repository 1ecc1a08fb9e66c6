package graft.operators

import graft.SparkSpec
import graft.model.Tables

/** Sampling-family semantics checks (the oracle gate covers the
  * registered queries end-to-end; these pin the arithmetic
  * independently).
  */
class SamplingOpsSpec extends SparkSpec {

  test("dsir matches a brute-force hashed-ngram log-likelihood-ratio fold") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(docs.nonEmpty)
    val B = 128
    def bucket(g: String): Int =
      (g.foldLeft(0L)((acc, ch) => (acc * 31 + ch.toLong) % 1000000007L) % B).toInt
    def grams(t: String): Seq[String] = {
      val ws = t.toLowerCase.split(" ", -1).filter(_.nonEmpty).toSeq
      ws ++ ws.zip(ws.drop(1)).map { case (a, b) => s"$a $b" }
    }
    val byDoc = docs.map { case (id, t) => id -> grams(t).map(bucket) }
    val tgt = byDoc.filter(_._1 % 10 == 0).flatMap(_._2)
    val src = byDoc.filter(_._1 % 10 != 0).flatMap(_._2)
    def lpU(cnt: Long, total: Long): Long = {
      val pU = math.max((cnt + 1) * 1000000L / (total + B), 1L)
      BigDecimal(math.log(pU.toDouble / 1e6) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val tc = tgt.groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    val sc = src.groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    val llr = Array.tabulate(B)(b =>
      lpU(tc.getOrElse(b, 0L), tgt.size.toLong) - lpU(sc.getOrElse(b, 0L), src.size.toLong))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = byDoc.filter(_._2.nonEmpty).sortBy(_._1).map { case (id, bs) =>
      val u = bs.map(b => llr(b)).sum
      Seq[Any](id, bs.size.toLong, u, r6(u.toDouble / (bs.size * 1e6)), u > 0)
    }.toSeq
    val got = SamplingOps.nsCorpusDsir(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(got == want, s"dsir mismatch: got=${got.take(3)} want=${want.take(3)}")
    // The signal discriminates: both classes occur, and target docs score
    // higher on average than source docs (they ARE the target model).
    val kept = got.count(_(4) == true)
    assert(kept > 0 && kept < got.size, s"keep is degenerate: $kept/${got.size}")
    val (t, s) = got.partition(r => r(0).asInstanceOf[Long] % 10 == 0)
    def meanAvg(rs: Seq[Seq[Any]]) =
      rs.map(_(3).asInstanceOf[Double]).sum / rs.size
    assert(meanAvg(t) > meanAvg(s),
      "target documents do not score above source documents")
  }

  test("per-source cap keeps the top-cap docs per source by integer stopword density") {
    val stops = Set("the", "a", "of", "and", "is", "to", "in")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val scored = docs.flatMap { case (id, src, t) =>
      val ws = t.toLowerCase.split(" ", -1).filter(_.nonEmpty)
      if (ws.isEmpty) None
      else Some((id, src, ws.length.toLong,
        ws.count(stops) * 1000000L / ws.length))
    }
    val want = scored.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._4, r._1)).take(SamplingOps.SourceCap.toInt)
        .zipWithIndex.map { case ((id, src, nw, q), i) =>
          Seq[Any](id, src, nw, q, (i + 1).toLong)
        }
    }.sortBy(r => (r(1).asInstanceOf[String], r(4).asInstanceOf[Long]))
    val got = SamplingOps.nsCorpusSourceCap(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(got == want, s"source cap mismatch: got=${got.take(3)} want=${want.take(3)}")
    // The cap binds: at least one source had more docs than the cap.
    val perSource = docs.groupBy(_._2).map(_._2.size)
    assert(perSource.exists(_ > SamplingOps.SourceCap),
      "fixture never exceeds the cap — the gate is untested")
    assert(got.groupBy(_(1)).values.forall(_.size <= SamplingOps.SourceCap))
  }

  test("per-source cap plan: rank filter pushes map-side as WindowGroupLimit") {
    val plans = collectAllPlans(
      SamplingOps.nsCorpusSourceCap(spark, sfDir).queryExecution.executedPlan)
    assert(plans.exists(_.nodeName.contains("WindowGroupLimit")),
      s"no WindowGroupLimit in:\n${plans.map(_.nodeName).distinct}")
  }

  test("exact stratified sample: range pre-rank + offset merge equals the per-lang rank window") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val got = SamplingOps.nsCorpusSampleExact(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // The semantics stated as the single per-lang window the production
    // plan deliberately avoids (its parallelism ceiling is |langs|).
    val byLang = Window.partitionBy("lang")
    val want = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        SamplingOps.sampleKeyCol)
      .withColumn("sample_rank",
        row_number().over(byLang.orderBy("sample_key", "doc_id")).cast("long"))
      .withColumn("quota", ceil(count(lit(1)).over(byLang) * 0.2))
      .where(col("sample_rank") <= col("quota"))
      .select("doc_id", "lang", "source", "n_chars", "sample_key", "sample_rank")
      .orderBy("lang", "sample_rank")
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want,
      "range-offset stratified sample diverges from the window form")
  }
}
