package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The registry sweep: every registered query is built ONCE on sf0.001, in
  * a session where no graft function name is registered, and
  *  - runs without throwing (the smoke check; a constructor that throws is
  *    reported by name instead of killing the sweep opaquely);
  *  - resolves through typed Columns only: the six names are dropped from
  *    the session, and building the queries must register none of them;
  *  - if it emits a float, yields the same rows on two PERMUTED copies of
  *    the fixtures.
  *
  * Permutation invariance is the failure class the sf1 decade sweep caught
  * by luck of scale (op21/op30 summation order, the classifier's
  * logit-rounding midpoint): a 6dp-rounded DOUBLE aggregate over enough
  * rows is order-dependent in its last digit unless the plan quantizes to
  * integers first, and partition order is exactly what a cluster does not
  * guarantee. Each permuted copy hash-scatters every table's rows over a
  * different partition count and re-orders them within partitions; outputs
  * are compared as sorted row strings (ties in a non-total ORDER BY may
  * legally reorder, but every VALUE, including every rounded double, must
  * survive any input order).
  *
  * The float list is DERIVED, not hand-kept: every query whose output
  * schema carries a float/double anywhere (inside arrays/structs too),
  * minus the external-source scans (REST/GraphQL/JDBC: no parquet input
  * to permute, identified as the SourceSinkOps registry). Many
  * constructors are eager (cache().count(), BPE training, shard
  * publishes), so the schema probe and the base run share the one build.
  * An anchor set and a size floor keep a derivation bug from silently
  * shrinking coverage; the canary feeds the filter a throwaway registry.
  */
class SparkEntrySmokeSpec extends SparkSpec {

  private val graftNames = Seq("cosine_sim", "dot_product", "minhash_sig",
    "minhash_from_set", "bloom_filter_agg", "might_contain")

  /** One permuted copy: every table's rows hash-scattered (seeded) over a
    * partition count different from the session default, re-sorted
    * WITHIN partitions by the same hash — a deterministic but thoroughly
    * different physical row order.
    */
  private def permute(session: SparkSession, seed: Int, parts: Int): String = {
    val dst = graft.ops.ProcessTmp.dir(s"graft_perm$seed")
    graft.model.Tables.names.foreach { t =>
      val src = s"$sfDir/$t.parquet"
      if (new java.io.File(src).exists()) {
        val df = session.read.parquet(src)
        val h = xxhash64(lit(seed) +: df.columns.map(c => col(c).cast("string")): _*)
        df.withColumn("_h", h)
          .repartition(parts, col("_h"))
          .sortWithinPartitions("_h")
          .drop("_h")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
    }
    dst
  }

  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
    case a: ArrayType => hasFloat(a.elementType)
    case m: MapType => hasFloat(m.keyType) || hasFloat(m.valueType)
    case _ => false
  }

  /** The derivation FILTER: permuted = not an external-source scan, float
    * anywhere in the schema. The sweep applies it per query; [[floatGate]]
    * lifts it over an arbitrary registry for the canary.
    */
  private def floatGated(q: String, external: Set[String], schema: => StructType): Boolean =
    !external(q) && hasFloat(schema)

  private def floatGate(
      names: Seq[String],
      external: Set[String],
      schemaOf: String => StructType): Seq[String] =
    names.sorted.filter(q => floatGated(q, external, schemaOf(q)))

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  /** What the one registry walk saw; the three tests below each assert
    * their part of it, so each check keeps its own name and verdict.
    */
  private case class Sweep(
      visited: Set[String],
      failures: Map[String, String],
      derived: Seq[String],
      bad: Seq[String],
      registered: Seq[String])

  private lazy val sweep: Sweep = {
    val fresh = spark.newSession()
    // newSession() falls back to the SparkContext conf, which is not
    // SparkSpec's when another suite created the context: carry the
    // session confs over.
    spark.conf.getAll.foreach { case (k, v) => if (fresh.conf.isModifiable(k)) fresh.conf.set(k, v) }
    assert(fresh.conf.get("spark.sql.shuffle.partitions") ==
      spark.conf.get("spark.sql.shuffle.partitions"))
    // A JVM whose first session installed GraftExtensions carries the
    // names into every later session; drop them so only Columns resolve.
    graftNames.foreach(n => fresh.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))

    val external = graft.ops.SourceSinkOps.queries.keySet
    lazy val perms = Seq("permA" -> permute(fresh, 1, 7), "permB" -> permute(fresh, 2, 3))
    def rows(df: DataFrame): Seq[String] = {
      val r = df.collect().map(_.toString).toSeq.sorted
      Driver.clearState(fresh)
      r
    }
    val visited, derived, bad = scala.collection.mutable.ListBuffer[String]()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (q, fn) =>
      visited += q
      try {
        val df = fn(fresh, sfDir)
        if (!floatGated(q, external, df.schema)) df.count()
        else {
          derived += q
          val base = rows(df)
          assert(base.nonEmpty, s"$q returned no rows at sf0.001 — test is vacuous")
          val diffs = perms.collect { case (name, dir) if rows(fn(fresh, dir)) != base => name }
          if (diffs.nonEmpty) bad += s"$q (${diffs.mkString(",")})"
        }
      } catch {
        case e: Throwable =>
          failures(q) = Option(e.getMessage).getOrElse(e.toString).take(300)
      } finally Driver.clearState(fresh)
    }
    Sweep(visited.toSet, failures.toMap, derived.toList, bad.toList,
      graftNames.filter(fresh.catalog.functionExists))
  }

  private def report(failures: Map[String, String]): String =
    failures.toSeq.sortBy(_._1).map { case (q, m) => s"$q: $m" }
      .mkString("query constructors/runs threw:\n", "\n", "")

  test("all queries execute on sf0.001") {
    assert(sweep.visited == SparkEntry.queries.keySet,
      s"sweep skipped ${SparkEntry.queries.keySet -- sweep.visited}")
    assert(sweep.failures.isEmpty, report(sweep.failures))
  }

  test("float queries survive input permutation") {
    // Coverage floor: the round-11 hand list must stay a subset — a
    // derivation bug (schema probe failing, registry rename) fails here
    // instead of silently ungating queries.
    val anchors = Set(
      "op21_nested_join", "op30_multi_agg", "op38_cumulative_income",
      "pipe_user_income", "pipe_index_epoch_apr", "ops_salted_sum",
      "ns_text_classify_trained", "ns_text_bigram_lm", "ns_dedup_jaccard",
      "ns_session_agg")
    val missing = anchors -- sweep.derived.toSet
    assert(missing.isEmpty, s"derivation lost anchor queries: $missing")
    assert(sweep.derived.size >= 56,
      s"derived float-query list shrank below the r11 hand list: ${sweep.derived.size}")
    val thrown = sweep.failures.filter { case (q, _) => sweep.derived.contains(q) }
    assert(thrown.isEmpty, report(thrown))
    assert(sweep.bad.isEmpty,
      s"input-order-dependent output (distributed float hazard): ${sweep.bad}")
  }

  test("queries resolve with no function name registered") {
    // A query that still resolves a graft name through the registry
    // throws in the name-free session and is reported here.
    assert(sweep.failures.isEmpty, report(sweep.failures))
    assert(sweep.registered.isEmpty,
      s"building the queries registered ${sweep.registered.mkString(", ")}")
  }

  test("canary: a newly registered float query joins the gate; non-float and external ones do not") {
    val schemas = Map(
      "zz_canary_float" -> StructType(Seq(StructField("k", LongType),
        StructField("score", DoubleType))),
      "zz_canary_nested_float" -> StructType(Seq(StructField("k", LongType),
        StructField("v", ArrayType(StructType(Seq(
          StructField("w", FloatType))))))),
      "zz_canary_int" -> StructType(Seq(StructField("k", LongType))),
      "zz_canary_external" -> StructType(Seq(StructField("x", DoubleType))))
    val gated = floatGate(schemas.keys.toSeq, Set("zz_canary_external"), schemas)
    assert(gated == Seq("zz_canary_float", "zz_canary_nested_float"),
      s"derivation filter mis-gates a new query: $gated")
    // And the real registry goes through the SAME filter function: build
    // the real op30_multi_agg (float) and op31_distinct (not) constructors
    // and gate them by their schemas.
    val real = floatGate(Seq("op30_multi_agg", "op31_distinct"),
      graft.ops.SourceSinkOps.queries.keySet,
      q => SparkEntry.queries(q)(spark, sfDir).schema)
    Driver.clearState(spark)
    assert(real == Seq("op30_multi_agg"), s"real-registry filter drifted: $real")
  }
}
