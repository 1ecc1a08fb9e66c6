package graft.operators

import graft.SparkSpec
import graft.model.Tables

/** LSH dedup variants vs the exact-Jaccard truth on the sf0.001 fixtures
  * (which contain planted near-duplicates at jaccard >= 0.9 with a clean
  * separation gap — see SURVEY.md §7.4).
  */
class DedupSpec extends SparkSpec {

  private lazy val exactPairs: Set[(Long, Long)] =
    DedupOps.nsDedupJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact jaccard finds the planted near-dup pairs") {
    assert(exactPairs.nonEmpty)
  }

  test("minhash LSH recovers exactly the exact-jaccard pairs (verified candidates)") {
    val minhashPairs = DedupOps.nsDedupMinhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Verification filters candidates by true jaccard, so minhash ⊆ exact;
    // with >=0.9 planted similarity, 8 bands x 4 rows misses nothing.
    assert(minhashPairs == exactPairs)
  }

  test("simhash near-dup pairs cover the planted high-similarity pairs") {
    val simhashPairs = DedupOps.nsDedupSimhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // jaccard >= 0.9 implies near-identical token multisets -> hamming <= 3.
    val high = exactPairs // planted pairs are all >= 0.9 in the fixtures
    val recall = high.count(simhashPairs.contains).toDouble / high.size
    assert(recall >= 0.8, s"simhash recall $recall, pairs=${simhashPairs.size}")
  }

  test("set-derived signatures equal the groupBy-min signatures") {
    val docs = graft.model.Tables.documents(spark, sfDir)
    val viaSets = DedupOps.signaturesFromSets(DedupOps.shingleSetsOnePass(docs))
      .orderBy("doc_id").collect().map(_.toSeq)
    val viaGroupBy = DedupOps.minhashSignatures(DedupOps.shingles(docs))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(viaSets.length == viaGroupBy.length && viaSets.nonEmpty)
    viaSets.zip(viaGroupBy).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("randomized docs: one-pass sets/signatures match the two-pass forms; LSH pairs verify against exact jaccard") {
    import spark.implicits._
    val rnd = new scala.util.Random(7) // fixed seed — deterministic CI
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    def doc(): String = Seq.fill(3 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 40L).map(i => (i, doc()))
    // Plant near-dups: copies of some docs with one word appended.
    val dups = base.take(8).map { case (i, t) => (100L + i, t + " " + vocab(rnd.nextInt(vocab.size))) }
    val docs = (base ++ dups).toDF("doc_id", "text")

    val viaSets = DedupOps.signaturesFromSets(DedupOps.shingleSetsOnePass(docs))
      .orderBy("doc_id").collect().map(_.toSeq)
    val viaGroupBy = DedupOps.minhashSignatures(DedupOps.shingles(docs))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(viaSets.toSeq == viaGroupBy.toSeq)

    val sets = DedupOps.shingleSetsOnePass(docs)
    val lsh = DedupOps.minhashNearDupPairs(sets, DedupOps.signaturesFromSets(sets), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = DedupOps.jaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // Verified candidates are a subset of the exact pairs with IDENTICAL
    // jaccard values, and the planted >=0.9 near-dups are all recovered.
    assert(lsh.subsetOf(exact), s"${lsh -- exact}")
    val planted = exact.filter(_._3 >= 0.9)
    assert(planted.nonEmpty && planted.subsetOf(lsh))
  }

  test("native minhash_from_set: one evaluation per row, equal to the declarative projection") {
    // Earlier tests leave signature frames cached; a CacheManager match
    // would swap an InMemoryRelation into this plan and break the node
    // count below. Inspect the genuinely fresh plan.
    spark.sharedState.cacheManager.clearCache()
    val docs = graft.model.Tables.documents(spark, sfDir)
    val sig = DedupOps.signaturesFromSets(DedupOps.shingleSetsOnePass(docs))
    // CollapseProject must NOT clone the expression into its 32 consumers
    // — that would re-walk the shingle set 32 times per row.
    val n = sig.queryExecution.optimizedPlan.map(p =>
      p.expressions.map(_.collect {
        case m: graft.functions.MinHashFromSet => m
      }.size).sum).sum
    assert(n == 1, s"expected a single minhash_from_set evaluation, found $n\n" +
      sig.queryExecution.optimizedPlan.treeString)
    val a = sig.orderBy("doc_id").collect().map(_.toSeq)
    val b = DedupOps.signaturesFromSetsDeclarative(DedupOps.shingleSetsOnePass(docs))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("minhash_from_set matches array_min∘transform on nulls and empty arrays") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[Option[Long]](Some(7L), None, Some(99L))), // null element skipped
      (2L, Seq[Option[Long]](None)), // all-null -> null mins
      (3L, Seq.empty[Option[Long]]) // empty -> null mins
    ).toDF("id", "shs")
    val (a0, b0) = DedupOps.hashParams.head
    val native = df.select($"id", graft.functions.minhashFromSet($"shs")(0).as("h0"))
      .orderBy("id").collect().map(r => (r.getLong(0), Option(r.get(1))))
    val declarative = df.selectExpr("id",
      s"array_min(transform(shs, x -> pmod((x & 4294967295) * ${a0}L + ${b0}L, ${DedupOps.Prime}L))) AS h0")
      .orderBy("id").collect().map(r => (r.getLong(0), Option(r.get(1))))
    assert(native.toSeq == declarative.toSeq)
    assert(native(1)._2.isEmpty && native(2)._2.isEmpty && native(0)._2.nonEmpty)
  }

  test("randomized arrays: native and declarative signature projections agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(13) // fixed seed — deterministic CI
    // Null elements, empty arrays, and raw 60-bit fingerprints (the mask
    // path) — everything a session-registered function may be fed.
    val rows = (0L until 60L).map { i =>
      val n = rnd.nextInt(12)
      (i, Seq.fill(n)(
        if (rnd.nextInt(10) == 0) None
        else Some(rnd.nextLong() & 0xfffffffffffffffL)))
    }
    val sets = rows.toDF("doc_id", "shs")
    val native = DedupOps.signaturesFromSets(sets)
      .orderBy("doc_id").collect().map(_.toSeq)
    val declarative = DedupOps.signaturesFromSetsDeclarative(sets)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(native.length == 60 && native.toSeq == declarative.toSeq)
  }

  test("survivorship edges have no shingle-equality self-join (exact baseline does)") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def hasShingleSelfJoin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.exists(
        _.condition.exists(_.exists {
          case EqualTo(a: AttributeReference, b: AttributeReference) =>
            a.name == "sh" && b.name == "sh"
          case _ => false
        }))
    val docs = graft.model.Tables.documents(spark, sfDir)
    // Detector sanity: the exact query's declared contract IS the shingle
    // co-occurrence self-join — it must trip the detector...
    assert(hasShingleSelfJoin(DedupOps.jaccardPairs(docs, 0.5)))
    // ...and the survivorship edge generator must not: its joins key on
    // band values and bare doc ids only (hot-shingle safe at 100 TB).
    val sets = DedupOps.shingleSetsOnePass(docs)
    assert(!hasShingleSelfJoin(
      DedupOps.minhashNearDupPairs(sets, DedupOps.signaturesFromSets(sets), 0.5)))
  }

  test("decontamination: probe side broadcasts; overlap matches a per-doc recompute") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val df = DedupOps.nsDecontaminate(spark, sfDir)
    // the shingle-overlap join must be the broadcast hash join (probe set
    // is tiny vs the corpus); a sort-merge there would mean the corpus
    // shuffled on the shingle key — the shape that dies at 100 TB. The
    // pin runs in BOTH modes: AQE-off executed plan and the AQE final
    // plan the bench actually runs.
    for ((nodes, mode) <- Seq((noAqeNodes(df), "aqe-off"),
      (aqeFinalNodes(DedupOps.nsDecontaminate(spark, sfDir)), "aqe-final"))) {
      assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"[$mode] no broadcast join in decontamination plan:\n${nodes.map(_.nodeName)}")
      assert(!nodes.exists {
        case j: SortMergeJoinExec =>
          j.leftKeys.exists(_.references.exists(r =>
            r.name == "sh" || r.name == "shingle"))
        case _ => false
      }, s"[$mode] corpus shingles were shuffled for the probe join")
    }
    // semantic check vs an independent scala recompute on the raw text
    val docs = graft.model.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ").toSeq).toMap
    def sh(ws: Seq[String]): Set[String] =
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    val bench = docs.collect { case (id, ws) if id % 50 == 0 => sh(ws) }
      .foldLeft(Set.empty[String])(_ ++ _)
    val want = docs.collect {
      case (id, ws) if id % 50 != 0 && (sh(ws) & bench).nonEmpty =>
        id -> (sh(ws) & bench).size.toLong
    }.toMap
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"overlap mismatch: ${(got.toSet diff want.toSet).take(3)}")
  }

  test("bloom decontamination equals the exact scan; prefilter is map-side, confirm join is sort-merge") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val exact = DedupOps.nsDecontaminate(spark, sfDir).collect().map(_.toSeq)
    val bloomDf = DedupOps.nsDecontaminateBloom(spark, sfDir)
    val bloom = bloomDf.collect().map(_.toSeq)
    // Confirmation join removes bloom false positives -> row-for-row equal.
    assert(bloom.nonEmpty && bloom.toSeq == exact.toSeq)
    val nodes = noAqeNodes(DedupOps.nsDecontaminateBloom(spark, sfDir))
    // The bloom probe must run as a scan-side Filter (before any exchange),
    // and the confirmation join must be the sort-merge this variant exists
    // for (the beyond-broadcast regime), keyed on the shingle fingerprint.
    assert(nodes.map(_.toString).exists(s =>
      s.startsWith("Filter") && s.contains("might_contain")),
      s"bloom prefilter not a plan Filter:\n${nodes.map(_.nodeName)}")
    assert(nodes.exists {
      case j: SortMergeJoinExec =>
        j.leftKeys.exists(_.references.exists(_.name == "sh"))
      case _ => false
    }, s"confirm join is not sort-merge on sh:\n${nodes.map(_.nodeName)}")
  }

  test("source matrix: cells match a brute-force fold over the pair list") {
    val pairs = DedupOps.nsDedupMinhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val srcOf = graft.model.Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = pairs.groupBy { case (a, b, _) => (srcOf(a), srcOf(b)) }
      .map { case (k, ps) =>
        val n = ps.length.toLong
        val sumU = ps.map(p => math.round(p._3 * 1e6)).sum
        k -> (n, (sumU * 2 + n) / (2 * n))
      }
    val got = DedupOps.nsDedupSourceMatrix(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.nonEmpty && got == want,
      s"matrix mismatch: got=${got.toSeq.sorted.take(3)} want=${want.toSeq.sorted.take(3)}")
    assert(got.values.map(_._1).sum == pairs.length)
    got.values.foreach { case (_, j) => assert(j >= 500000L && j <= 1000000L) }
  }

  test("leakage-free split: every doc assigned, components atomic, no near-dup pair straddles splits") {
    val rows = DedupOps.nsCorpusSplit(spark, sfDir).collect()
    val docs = graft.model.Tables.documents(spark, sfDir).count()
    assert(rows.length == docs)
    val split = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    // components are atomic: one split per component label
    rows.groupBy(_.getLong(1)).foreach { case (c, rs) =>
      assert(rs.map(_.getString(2)).distinct.length == 1, s"component $c split")
    }
    // the actual leak check: exact near-dup pairs co-assign
    exactPairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"near-dup pair ($a,$b) straddles splits")
    }
    // all three splits are populated with roughly 80/10/10 mass
    val frac = rows.groupBy(_.getString(2)).map { case (s, rs) =>
      s -> rs.length.toDouble / rows.length
    }
    assert(frac.keySet == Set("train", "validation", "test"), s"$frac")
    assert(frac("train") > 0.6 && frac("validation") < 0.25 && frac("test") < 0.25, s"$frac")
  }

  test("exact dedup keeps one survivor per fingerprint") {
    val out = DedupOps.nsDedupExact(spark, sfDir).collect()
    assert(out.map(_.getString(0)).distinct.length == out.length)
    assert(out.map(_.getLong(2)).forall(_ >= 1))
  }

  test("components on random graphs match brute-force reachability (both paths)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 24
      val edgeSeq = Seq.fill(20)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2).distinct
      // Brute-force: BFS closure, component = min reachable id.
      val adj = collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
      edgeSeq.foreach { case (a, b) => adj(a) += b; adj(b) += a }
      def minReach(s: Long): Long = {
        val seen = collection.mutable.Set(s)
        val stack = collection.mutable.Stack(s)
        while (stack.nonEmpty) adj(stack.pop()).foreach { x =>
          if (seen.add(x)) stack.push(x)
        }
        seen.min
      }
      val expected = (0L until n).map(x => (x, minReach(x)))
        .groupBy(_._2).toSeq
        .map { case (comp, ms) => (comp, ms.size.toLong, ms.map(_._1).min) }
        .sortBy(_._1)
      val nodes = (0L until n).toDF("doc_id")
      val pairs = edgeSeq.toDF("doc_a", "doc_b")
      for (threshold <- Seq(1000000L, 2L)) {
        val got = DedupOps.componentsFromEdges(nodes, pairs, driverMaxEdges = threshold)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(got == expected, s"threshold=$threshold: $got != $expected")
      }
    }
  }

  test("distributed contraction path equals the driver union-find path") {
    import spark.implicits._
    // Chain 1-2-...-8 (diameter 7), a triangle {20,21,22}, and singletons.
    val pairs = ((1L to 7L).map(i => (i, i + 1)) ++
      Seq((21L, 20L), (21L, 22L), (20L, 22L))).toDF("doc_a", "doc_b")
    val nodes = ((1L to 8L) ++ (20L to 22L) ++ Seq(40L, 41L)).toDF("doc_id")
    def run(threshold: Long) =
      DedupOps.componentsFromEdges(nodes, pairs, driverMaxEdges = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = Seq((1L, 8L, 1L), (20L, 3L, 20L), (40L, 1L, 40L), (41L, 1L, 41L))
    assert(run(1000000) == expected) // pure driver path
    assert(run(1) == expected) // forces O(log diameter) contraction rounds
    assert(run(4) == expected) // mixed: contract once, then driver finish
  }

  test("repeated-span pairs match a brute-force window-hash fold (planted blocks + boilerplate cap)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val k = DedupOps.SpanK
    def rndText(n: Int): String = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    // 70 docs (> SpanDfCap = 64) open with the same 120-char boilerplate
    // prefix — its 71 fully-interior spans must be cap-dropped; 16 docs
    // embed a shared 150-char block (101 common windows, well over the
    // 20-span threshold).
    val boiler = rndText(120)
    val shared = rndText(150)
    val docs = (0L until 80L).map { i =>
      val body = rndText(30 + rnd.nextInt(120))
      val withShared = if (i % 10 < 2) shared + body else body
      (i, if (i < 70) boiler + withShared else withShared)
    }
    val got = DedupOps.spanPairs(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    // Independent O(n·k) refold of the same polynomial per window.
    def windowHashes(t: String): Set[Long] = {
      val cs = t.codePoints.toArray
      (0 to cs.length - k).map { i =>
        cs.slice(i, i + k).foldLeft(0L)((acc, c) => (acc * TextOps.RollBase + c) % TextOps.RollMod)
      }.toSet
    }
    val sets = docs.map { case (id, t) => id -> windowHashes(t) }.toMap
    val df = sets.values.toSeq.flatten.groupBy(identity).view.mapValues(_.size).toMap
    assert(df.values.max > DedupOps.SpanDfCap) // the cap genuinely bites
    val kept = sets.view.mapValues(_.filter(h => df(h) <= DedupOps.SpanDfCap)).toMap
    val ids = docs.map(_._1)
    val expected = (for {
      a <- ids; b <- ids if a < b
      n = kept(a).intersect(kept(b)).size if n >= DedupOps.SpanThreshold
    } yield (a, b, n.toLong)).sortBy(p => (p._1, p._2))
    assert(expected.nonEmpty && got == expected)
  }

  test("span pipeline: no join anywhere, span extraction computed once (both AQE modes)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def build = DedupOps.nsDedupSpans(spark, sfDir)
    val off = noAqeNodes(build)
    assert(!off.exists(_.nodeName.toLowerCase.contains("join")),
      off.map(_.nodeName).toString)
    // Scan spread (round-15: the O(n)-per-doc span hashing must not
    // serialize on a one-row-group scan's task count) + span hash +
    // pair key + presentation sort — nothing else shuffles.
    assert(off.count(_.isInstanceOf[ShuffleExchangeExec]) == 4,
      off.map(_.nodeName).toString)
    assert(off.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      .exists(_.toString.contains("RoundRobinPartitioning")),
      "spread exchange (round-robin) missing below the span hasher")
    assert(off.count(_.getClass.getSimpleName.startsWith("MapPartitions")) == 1)
    val fin = aqeFinalNodes(build)
    assert(!fin.exists(_.nodeName.toLowerCase.contains("join")))
    assert(fin.count(_.getClass.getSimpleName.startsWith("MapPartitions")) == 1)
  }

  test("line dedup matches a brute-force boilerplate fold") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(docs.nonEmpty)
    val lw = 3; val thresh = 3
    val lines = docs.flatMap { case (id, t) =>
      t.split(" ", -1).grouped(lw).zipWithIndex
        .map { case (ws, i) => (id, i.toLong, ws.mkString(" ")) }
    }
    val dcnt = lines.groupBy(_._3).map { case (l, ls) => l -> ls.map(_._1).distinct.size }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = lines.groupBy(_._1).map { case (id, ls) =>
      val kept = ls.sortBy(_._2).filter(l => dcnt(l._3) < thresh)
      Seq[Any](id, ls.size.toLong, (ls.size - kept.size).toLong,
        kept.map(_._3.split(" ", -1).length.toLong).sum,
        md5hex(kept.map(_._3).mkString(" ")))
    }.toSeq.sortBy(_.head.asInstanceOf[Long])
    val got = DedupOps.nsDedupLines(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(got == want, s"line-dedup mismatch: got=${got.take(2)} want=${want.take(2)}")
    // boilerplate actually fires somewhere in the fixture
    assert(got.exists(_(2).asInstanceOf[Long] > 0L))
  }

  test("fuzzy decontamination equals the exact cross-split jaccard truth") {
    // Ground truth from the exact all-pairs jaccard (threshold 0.5),
    // restricted to pairs that straddle the %50 eval split, aggregated
    // per TRAIN doc — the LSH+verify path must reproduce it exactly
    // (planted similarity >= 0.9 means banding misses nothing).
    val exact = DedupOps.nsDedupJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cross = exact.flatMap { case (a, b, j) =>
      (a % 50 == 0, b % 50 == 0) match {
        case (true, false) => Some(b -> j)
        case (false, true) => Some(a -> j)
        case _ => None
      }
    }
    val want = cross.groupBy(_._1).toSeq.map { case (id, ms) =>
      Seq[Any](id, ms.size.toLong, ms.map(_._2).max, true)
    }.sortBy(_.head.asInstanceOf[Long])
    val got = DedupOps.nsDecontaminateFuzzy(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(got == want, s"fuzzy-decon mismatch: got=${got.take(3)} want=${want.take(3)}")
    assert(got.nonEmpty, "no cross-split contamination in the fixture — vacuous")
    // every flagged doc is a TRAIN doc
    assert(got.forall(_(0).asInstanceOf[Long] % 50 != 0))
  }

  test("URL canonicalizer: handcrafted messy forms normalize as the crawl pipeline expects") {
    import spark.implicits._
    val cases = Seq(
      // scheme + host case, default https port, fragment
      ("HTTPS://Example.ORG:443/a/b#frag", "https://example.org/a/b"),
      // http default port, trailing slash
      ("http://h.com:80/p/", "http://h.com/p"),
      // non-default port survives
      ("https://h.com:8443/p", "https://h.com:8443/p"),
      // empty path reads as root; root slash is kept
      ("https://h.com", "https://h.com/"),
      ("https://h.com/?b=2&a=1", "https://h.com/?a=1&b=2"),
      // param sort + multiple utm params dropped; all-utm query vanishes
      ("https://h.com/p?utm_campaign=c&z=9&utm_source=s&a=1", "https://h.com/p?a=1&z=9"),
      ("https://h.com/p?utm_source=s&utm_medium=m", "https://h.com/p"),
      // fragment after query; empty params from && collapse
      ("https://h.com/p?b=2&&a=1#x?y=3", "https://h.com/p?a=1&b=2"),
      // scheme-less and protocol-relative inputs fall back to the RAW
      // url (distinct keys — no false merge onto "://")
      ("//cdn.example.org/lib.js", "//cdn.example.org/lib.js"),
      ("www.example.org/page", "www.example.org/page"),
      ("not a url at all", "not a url at all"))
    val got = cases.map(_._1).toDF("url")
      .select(DedupOps.canonicalUrl(org.apache.spark.sql.functions.col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    cases.zip(got).foreach { case ((in, want), g) =>
      assert(g == want, s"canonicalUrl($in) = $g, want $want")
    }
  }
}
