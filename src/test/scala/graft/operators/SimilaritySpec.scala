package graft.operators

import graft.SparkSpec
import graft.functions.{cosineSim, dotProduct}
import org.apache.spark.sql.functions._

/** Cosine/dot expression correctness + LSH recall vs exact brute force. */
class SimilaritySpec extends SparkSpec {

  test("dot_product is bit-identical to the left-associated HOF fold (float x double)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val vecs = Seq.fill(200)((Array.fill(64)(rng.nextFloat() - 0.5f),
      Array.fill(64)(rng.nextDouble() - 0.5)))
    val df = vecs.toDF("a", "b")
      .withColumn("dp", dotProduct(col("a"), col("b")))
      .withColumn("hof", expr(
        "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * y), " +
          "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"))
    // EXACT equality — the LSH sign bits (and the DuckDB oracle) depend on
    // the accumulation order being preserved, not just the value being close.
    val rows = df.select("dp", "hof").collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"dot_product diverged from the HOF fold: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
  }

  test("dot_product on integral arrays is an exact LONG") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val vecs = Seq.fill(100)((Array.fill(64)(rng.nextInt(255).toLong - 127),
      Array.fill(64)(rng.nextInt(255).toLong - 127)))
    val got = vecs.toDF("a", "b")
      .withColumn("dp", dotProduct(col("a"), col("b")))
      .select("dp").collect().map(_.getLong(0))
    val want = vecs.map { case (x, y) =>
      x.zip(y).map { case (a, b) => a * b }.sum
    }
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("cosine_sim expression matches an independent scala computation") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vecs = Seq.fill(50)((Array.fill(16)(rng.nextFloat() - 0.5f),
      Array.fill(16)(rng.nextFloat() - 0.5f)))
    val df = vecs.toDF("a", "b")
      .withColumn("cos", cosineSim(col("a"), col("b")))
    val got = df.select("cos").collect().map(_.getDouble(0))
    val want = vecs.map { case (x, y) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- x.indices) {
        dot += x(i).toDouble * y(i); na += x(i).toDouble * x(i); nb += y(i).toDouble * y(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12) }
  }

  test("cosine_sim handles zero vectors and is 1.0 on identical vectors") {
    import spark.implicits._
    val df = Seq(
      (Array(0f, 0f), Array(1f, 2f)),
      (Array(3f, 4f), Array(3f, 4f))).toDF("a", "b")
      .withColumn("cos", cosineSim(col("a"), col("b")))
    val out = df.select("cos").collect().map(_.getDouble(0))
    assert(out(0) == 0.0)
    assert(math.abs(out(1) - 1.0) < 1e-12)
  }

  test("LSH top-k neighbors are a subset of candidates with valid ranks, decent recall") {
    val exact = SimilarityOps.nsSimBruteforceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = SimilarityOps.nsSimLshTopk(spark, sfDir).collect()
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(2))).toSet
    // ranks are 1..k per query
    val byQuery = lsh.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to rows.length))
    }
    val recall = exact.count(lshPairs.contains).toDouble / exact.size
    // 16 hyperplanes / 4 bands on near-uniform vectors: modest but
    // deterministic recall; the point is the bucketed plan shape.
    assert(recall >= 0.3, s"LSH recall@3 = $recall")
  }

  test("knn graph: agrees with lsh_topk on query vectors; mutual flag is self-consistent") {
    val graph = SimilarityOps.nsSimKnnGraph(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    // ranks contiguous from 1 per source
    graph.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._2).sorted.sameElements(1L to rows.length))
    }
    // the first-100 sources ranked <= 3 must be EXACTLY lsh_topk (same
    // buckets, same rerank, same tie-break)
    val lsh = SimilarityOps.nsSimLshTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val fromGraph = graph.collect {
      case (s, rk, n, c, _) if s < 100 && rk <= 3 => (s, rk, n, c)
    }.toSet
    assert(fromGraph == lsh,
      s"graph/lsh_topk disagree: onlyGraph=${(fromGraph -- lsh).take(3)} onlyLsh=${(lsh -- fromGraph).take(3)}")
    // mutual == the flipped edge exists in the list itself
    val edges = graph.map(g => (g._1, g._3)).toSet
    graph.foreach { case (s, _, n, _, m) =>
      assert(m == edges.contains((n, s)), s"mutual flag wrong for ($s,$n)")
    }
    assert(graph.exists(_._5) && graph.exists(!_._5), "mutual must split the graph")
  }

  test("bucketed near-dup pairs: subset of exact pairs with decent recall") {
    val exact = SimilarityOps.nsSimNeardupPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.nsSimNeardupLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Verified candidates can never invent a pair the exact query lacks —
    // both apply the same >= 0.35 cosine test.
    assert(lsh.subsetOf(exact), s"LSH emitted non-exact pairs: ${lsh -- exact}")
    val recall = exact.count(lsh.contains).toDouble / exact.size
    // Weakly-similar fixture vectors (cos ~0.35-0.4) are the LSH worst
    // case; on true near-dups (cos > 0.9) band agreement approaches 1.
    assert(recall >= 0.3, s"near-dup LSH recall = $recall")
  }

  test("IVF top-k probes 2/16 clusters with decent recall and valid ranks") {
    val exact = SimilarityOps.nsSimBruteforceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SimilarityOps.nsSimIvfTopk(spark, sfDir).collect()
    val ivfPairs = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    ivf.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to rows.length))
    }
    val recall = exact.count(ivfPairs.contains).toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall@3 = $recall")
  }

  test("multi-probe IVF: recall monotone in probes; IvfProbesHi meets the 0.75 floor as the tuner's minimal answer") {
    val emb = graft.model.Tables.embeddings(spark, sfDir)
    val cents = SimilarityOps.centLits(SimilarityOps.seedCentroids(emb))
    val (chosen, table) = SimilarityOps.probesForRecall(emb, cents, 0.75)
    info(s"probe/recall table: ${table.map { case (p, r) => f"$p->$r%.3f" }.mkString(", ")}")
    // more probes can only add candidates -> recall never decreases
    table.sliding(2).foreach { case Seq((p1, r1), (p2, r2)) =>
      assert(r2 >= r1, s"recall regressed $p1->$p2: $r1 -> $r2")
    }
    // probing every cluster IS brute force (same cosine, same tie-break)
    assert(table.last._1 == SimilarityOps.IvfClusters && table.last._2 == 1.0,
      s"all-clusters probe must be exact: ${table.last}")
    assert(chosen == SimilarityOps.IvfProbesHi,
      s"tuner picked $chosen but the registered constant is ${SimilarityOps.IvfProbesHi} — re-derive")
    // and the registered query itself clears the floor
    val truth = SimilarityOps.nsSimBruteforceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val mp = SimilarityOps.nsSimIvfMultiprobe(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = truth.count(mp.contains).toDouble / truth.size
    assert(recall >= 0.75, s"multi-probe recall@3 = $recall")
  }

  test("PQ top-k: valid ranks, 4-bit codes, decent ADC recall vs brute force") {
    val exact = SimilarityOps.nsSimBruteforceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = SimilarityOps.nsSimPqTopk(spark, sfDir).collect()
    pq.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to rows.length))
    }
    val pqPairs = pq.map(r => (r.getLong(0), r.getLong(2))).toSet
    // PQ queries are QuantQueries(50) < NumQueries(100): compare on overlap
    val exactQ = exact.filter(_._1 < 50)
    val recall = exactQ.count(pqPairs.contains).toDouble / exactQ.size
    // 32-bit codes on weakly-similar uniform vectors are ADC's worst case
    // (deterministic 0.173 on this fixture): the contract is the codebook
    // pipeline; the gate is recall far above the ~3/N random baseline.
    assert(recall >= 0.15, s"PQ ADC recall@3 = $recall")
  }

  test("PQ encoding is a pure projection — zero exchanges, codes in [0,16)") {
    import graft.model.Tables
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val emb = Tables.embeddings(spark, sfDir)
    val books = SimilarityOps.pqCodebooks(emb)
    def encode = emb.select(col("vec_id") +:
      (0 until 8).map(m => SimilarityOps.pqCodeCol(m, books).as(s"c$m")): _*)
    val exchanges = noAqeNodes(encode).filter(n =>
      n.isInstanceOf[ShuffleExchangeExec] || n.isInstanceOf[BroadcastExchangeExec])
    assert(exchanges.isEmpty,
      s"PQ encode is not exchange-free: ${exchanges.map(_.nodeName)}")
    val aqeExchanges = aqeFinalNodes(encode).filter(n =>
      n.isInstanceOf[ShuffleExchangeExec] || n.isInstanceOf[BroadcastExchangeExec])
    assert(aqeExchanges.isEmpty,
      s"PQ encode shuffles under AQE: ${aqeExchanges.map(_.nodeName)}")
    // every code is a valid 4-bit codebook index, and the seed vectors
    // encode to THEMSELVES (vec_id < 16 is its own nearest codebook entry)
    val rows = encode.collect()
    rows.foreach { r =>
      (1 to 8).foreach { i =>
        val c = r.getInt(i)
        assert(c >= 0 && c < 16, s"code $c out of range for vec ${r.getLong(0)}")
      }
    }
    rows.filter(_.getLong(0) < 16).foreach { r =>
      (1 to 8).foreach { i =>
        assert(r.getInt(i) == r.getLong(0).toInt,
          s"seed vec ${r.getLong(0)} did not encode to its own code in subspace ${i - 1}")
      }
    }
  }

  test("IVF+PQ: neighbors come from probed clusters, ADC scores match plain PQ") {
    import graft.model.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val cents = SimilarityOps.seedCentroids(emb)
    val lits = cents.map { case (cid, v) =>
      (cid, org.apache.spark.sql.functions.typedLit(v.toSeq))
    }.toSeq
    val ranked = emb.withColumn("_cr", SimilarityOps.centroidRanking(lits))
    val assign = ranked.select(col("vec_id"), col("_cr")(0)("cent_id").as("cluster"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probes = ranked.select(col("vec_id"),
      col("_cr")(0)("cent_id").as("p1"), col("_cr")(1)("cent_id").as("p2"))
      .collect().map(r => r.getLong(0) -> Set(r.getInt(1), r.getInt(2))).toMap
    val ivfpq = SimilarityOps.nsSimIvfPqTopk(spark, sfDir).collect()
    assert(ivfpq.nonEmpty)
    ivfpq.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to rows.length))
    }
    // every returned neighbor sits in one of its query's probed clusters
    ivfpq.foreach { r =>
      val (q, n) = (r.getLong(0), r.getLong(2))
      assert(probes(q).contains(assign(n)),
        s"neighbor $n (cluster ${assign(n)}) outside query $q's probes ${probes(q)}")
    }
    // ADC arithmetic is the same as plain PQ: any pair in both outputs
    // carries the identical approx score
    val pqScores = SimilarityOps.nsSimPqTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val shared = ivfpq.flatMap { r =>
      pqScores.get((r.getLong(0), r.getLong(2))).map(s => (r.getDouble(3), s))
    }
    assert(shared.nonEmpty, "no overlap between PQ and IVF+PQ top-k to cross-check")
    shared.foreach { case (a, b) => assert(a == b, s"ADC drift: $a vs $b") }
  }

  test("PQ training reduces quantization error vs seed codebooks") {
    import graft.model.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val seed = SimilarityOps.pqCodebooks(emb)
    val trained = SimilarityOps.trainPqBooks(emb)
    assert(trained.length == 8 && trained.forall(_.length == 16)
      && trained.flatten.forall(_.length == 8), "trained codebook shape broken")
    assert(trained.flatten.map(_.toSeq).toSeq != seed.flatten.map(_.toSeq).toSeq,
      "training left every codebook entry at its seed")
    // mean squared distance to the best codebook entry, brute force
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](1).toArray)
    def msd(books: Array[Array[Array[Double]]]): Double = {
      val total = for (v <- vecs.iterator; m <- (0 until 8).iterator) yield {
        val sub = v.slice(m * 8, (m + 1) * 8)
        books(m).map(c => sub.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum).min
      }
      total.sum / (vecs.length * 8)
    }
    val (before, after) = (msd(seed), msd(trained))
    assert(after < before, s"quantization error did not improve: $before -> $after")
  }

  test("k-means training tightens centroid assignment vs seed centroids") {
    import graft.model.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val before = SimilarityOps.assignmentQuality(emb, SimilarityOps.seedCentroids(emb))
    val trained = SimilarityOps.trainCentroids(emb, k = 16, iters = 3)
    assert(trained.length == 16)
    trained.foreach { case (_, v) => assert(v.length == 64) }
    val after = SimilarityOps.assignmentQuality(emb, trained)
    assert(after > before, s"inertia analog did not improve: $before -> $after")
  }

  test("pagerank: matches a brute-force integer power iteration over the collected edge list") {
    val edges = SimilarityOps.nsSimKnnGraph(spark, sfDir)
      .select("src_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = graft.model.Tables.embeddings(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0))
    val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val inEdges = edges.groupBy(_._2)
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      r = nodes.map { v =>
        val contrib = inEdges.getOrElse(v, Array.empty[(Long, Long)])
          .map { case (u, _) => r(u) / outDeg(u) }.sum
        v -> (150000L + 850000L * contrib / 1000000L)
      }.toMap
    }
    val got = SimilarityOps.nsSimPagerank(spark, sfDir).collect()
    assert(got.nonEmpty && got.length == nodes.length)
    got.foreach { row =>
      val (v, pr, od, id) =
        (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      assert(pr == r(v), s"vec $v: $pr != ${r(v)}")
      assert(od == outDeg.getOrElse(v, 0L))
      assert(id == inEdges.get(v).map(_.length.toLong).getOrElse(0L))
      // isolated nodes sit exactly at the (1-d) floor
      if (id == 0) assert(pr == 150000L)
    }
    // the signal is non-degenerate: connected nodes rise above the floor
    assert(got.count(_.getLong(1) > 150000L) > 0)
  }

  test("topic curation: sqrt-flattened quotas filled exactly, assignment matches brute force") {
    import graft.model.Tables
    val rows = SimilarityOps.nsCorpusTopics(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // per-topic kept count fills the quota exactly (quota <= n_topic by
    // the geometric-mean construction)
    val byTopic = rows.groupBy(_.getLong(1))
    byTopic.foreach { case (t, rs) =>
      val quota = rs.head.getLong(3)
      val n = rs.head.getLong(2)
      assert(quota <= n && rs.length == quota.toInt, s"topic $t: kept=${rs.length} quota=$quota n=$n")
      assert(rs.map(_.getLong(4)).sorted.toSeq == (1L to quota).toSeq, s"topic $t ranks")
    }
    // flattening: kept-share ratio between largest and smallest topic is
    // ~sqrt of the raw ratio (alpha = 1/2), strictly flatter than raw
    val ns = byTopic.values.map(_.head.getLong(2)).toSeq
    val quotas = byTopic.values.map(_.head.getLong(3)).toSeq
    assert(quotas.max.toDouble / quotas.min < ns.max.toDouble / ns.min || ns.max == ns.min)
    // assignment column matches a driver-side argmax over the same
    // trained centroids for a sample of vectors
    val emb = Tables.embeddings(spark, sfDir)
    val cents = SimilarityOps.trainCentroids(emb)
    val vecs = emb.where(col("vec_id") % 37 === 3)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      val want = cents.map { case (cid, cv) =>
        (BigDecimal(cos(v, cv)).setScale(4, BigDecimal.RoundingMode.HALF_UP), cid)
      }.maxBy { case (s, cid) => (s, -cid) }._2.toLong
      got.get(id).foreach(t => assert(t == want, s"vec $id: topic $t != $want"))
    }
  }

  test("IVF cluster assignment is a pure projection — zero exchanges") {
    import graft.model.Tables
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val emb = Tables.embeddings(spark, sfDir)
    val cents = SimilarityOps.seedCentroids(emb)
    val lits = cents.map { case (cid, v) =>
      (cid, org.apache.spark.sql.functions.typedLit(v.toSeq))
    }.toSeq
    // A FRESH frame per mode: queryExecution.executedPlan is a cached
    // lazy val, so passing one Dataset to both walks would make the
    // second pin re-traverse the first mode's plan — vacuously.
    def assign = emb.select(col("vec_id"),
      SimilarityOps.centroidRanking(lits)(0)("cent_id").as("cluster"))
    // SparkSpec.noAqeNodes: AQE's inputPlan is pre-EnsureRequirements
    // (no exchanges yet), so the pin runs against the AQE-off executed
    // plan, which carries the real exchange nodes if any stage needs one.
    val nodes = noAqeNodes(assign) // scan-visibility self-check is inside
    val exchanges = nodes.filter(n =>
      n.isInstanceOf[ShuffleExchangeExec] || n.isInstanceOf[BroadcastExchangeExec])
    assert(exchanges.isEmpty,
      s"assign stage is not exchange-free: ${exchanges.map(_.nodeName)}")
    // Same absence pin on the AQE FINAL executed plan — the mode the
    // bench actually runs (post-execution, all stages materialized).
    val aqeExchanges = aqeFinalNodes(assign).filter(n =>
      n.isInstanceOf[ShuffleExchangeExec] || n.isInstanceOf[BroadcastExchangeExec])
    assert(aqeExchanges.isEmpty,
      s"assign stage shuffles under AQE: ${aqeExchanges.map(_.nodeName)}")
    // and the assignment is total: every vector lands in a cluster
    assert(assign.where(col("cluster").isNull).count() == 0)
  }

  test("semdedup: exactly the same-cluster exact near-dup pairs, grouped; decent recall") {
    val lits = SimilarityOps.seedCentroids(
      graft.model.Tables.embeddings(spark, sfDir))
      .map { case (cid, v) => (cid, typedLit(v.toSeq)) }.toSeq
    val cluster = graft.model.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        SimilarityOps.centroidRanking(lits)(0)("cent_id").cast("long").as("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = SimilarityOps.nsSimNeardupPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // Expected = exact pairs restricted to co-clustered vectors, grouped
    // on the higher id with min-dup/max-cos/count — the declared prune.
    val sameCluster = exact.filter { case (a, b, _) => cluster(a) == cluster(b) }
    val expected = sameCluster.groupBy(_._2).map { case (b, ps) =>
      (b, cluster(b), ps.map(_._1).min, ps.map(_._3).max, ps.size.toLong)
    }.toSeq.sortBy(_._1)
    val got = SimilarityOps.nsSimSemdedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toSeq
    assert(expected.nonEmpty && got == expected,
      s"semdedup mismatch: got=${got.take(3)} want=${expected.take(3)}")
    // Recall vs the all-pairs baseline: fraction of exact near-dup PAIRS
    // captured in-cluster. Weakly-similar fixture vectors are the worst
    // case (cos barely over threshold ⇒ neighbors straddle centroids).
    val recall = sameCluster.length.toDouble / exact.length
    assert(recall >= 0.2, s"semdedup pair recall = $recall")
  }

  test("semdedup plan: within-cluster equi-join, never the all-pairs nested loop") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def build = SimilarityOps.nsSimSemdedup(spark, sfDir)
    val nodes = noAqeNodes(build)
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      nodes.map(_.nodeName).toString)
    assert(nodes.exists(_.nodeName.toLowerCase.contains("join")))
    assert(!aqeFinalNodes(build).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("knn graph bucket cap is transparent on the fixture and binding at 1") {
    // No fixture cell exceeds the cap (max measured occupancy 201 at
    // sf0.1), so capped == uncapped row for row.
    val capped = SimilarityOps.nsSimKnnGraph(spark, sfDir).collect().map(_.toSeq).toSeq
    val uncapped = SimilarityOps.knnGraphCapped(spark, sfDir, Int.MaxValue)
      .collect().map(_.toSeq).toSeq
    assert(capped.nonEmpty && capped == uncapped,
      "a non-binding bucket cap changed the graph")
    // cap=1 leaves one member per cell — no within-cell pair survives, so
    // the guard binds and the graph degenerates to empty, not an error.
    assert(SimilarityOps.knnGraphCapped(spark, sfDir, 1).isEmpty,
      "a binding cap should have emptied every bucket pairing")
  }

  test("diversity sample: per-node fold over the knn graph, lowest-id survivorship") {
    val edges = SimilarityOps.nsSimKnnGraph(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = edges.groupBy(_._1).map { case (id, es) =>
      val mutualNbrs = es.filter(_._4).map(_._2)
      val cosU = es.map(e => math.round(e._3 * 10000)).sum
      val minMutual = if (mutualNbrs.isEmpty) -1L else mutualNbrs.min
      Seq[Any](id, es.length.toLong, mutualNbrs.length.toLong, minMutual,
        r6(cosU.toDouble / (es.length * 10000.0)),
        mutualNbrs.length <= 1 || id < minMutual)
    }.toSet
    val got = SimilarityOps.nsSimDiversitySample(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(got == want, s"diversity mismatch: sizes ${got.size} vs ${want.size}")
    // The signal discriminates on the fixture: some dense-region node is
    // dropped, and every node it defers to (its mutual min) with a lower
    // id survives the rule's intent.
    val dropped = got.filter(r => r(5) == false)
    assert(dropped.nonEmpty, "no node was sampled out — threshold vacuous")
    assert(got.exists(r => r(5) == true && r(2).asInstanceOf[Long] > 1),
      "no dense-region representative survived — rule degenerated to degree filter")
  }
}
