package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions.sqDist
import graft.operators.{Dedup, IvfIndex}

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")

  /** Spark jobs one saved-index probe may run (job budget test below):
    * 24 measured, plus 2 for AQE's run-to-run variation. */
  private val ProbeJobBudget = 26

  test("exactByKey keeps exactly one row per key group (smallest id)") {
    val out = Dedup.exactByKey(docs, Seq("lang", "source"), "doc_id")
    val keys = out.select("lang", "source").distinct().count()
    assert(out.count() == keys)
    // winner rule: every kept doc_id is the min of its group
    val mins = docs.groupBy("lang", "source")
      .agg(min("doc_id").as("doc_id"))
    assert(out.select("doc_id").except(mins.select("doc_id")).count() == 0)
  }

  test("minhash LSH candidates contain every pair with Jaccard >= 0.8") {
    val trueDups = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, minJaccard = 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text",
        k = 8, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trueDups.nonEmpty, "fixture should contain planted near-dups")
    assert(trueDups.subsetOf(cands),
      s"missed: ${trueDups -- cands}") // J>=0.8 ⇒ band hit w.p. ≈1-(1-J⁴)⁴ > 0.97
  }

  test("ngram Jaccard agrees with an independent in-memory computation") {
    val local = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    def sh(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(got.nonEmpty)
    got.foreach { case ((a, b), j) =>
      val sa = sh(local(a)); val sb = sh(local(b))
      val expect = (sa intersect sb).size.toDouble / (sa union sb).size
      assert(math.abs(j - expect) < 1e-6, s"pair ($a,$b): $j vs $expect")
    }
  }

  test("simhash is deterministic and within bit range") {
    val s1 = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val s2 = Dedup.simhash(docs.repartition(6), "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s1 == s2)
    assert(s1.values.forall(v => v >= 0 && v < (1 << 16)))
  }

  test("near-dup docs have closer simhashes than random pairs (sanity)") {
    val sims = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val dups = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    val dupMean = dups.map { case (a, b) => ham(sims(a), sims(b)) }.sum
      .toDouble / dups.length
    assert(dupMean <= 4.0, s"near-dup mean hamming = $dupMean")
  }

  test("shingle df cap: a universal hot shingle is dropped, not exploded") {
    import spark.implicits._
    // 40 docs all sharing the boilerplate prefix "all rights reserved to";
    // only docs 0 and 1 share anything else. Uncapped, the hot shingles
    // alone produce 40² pair rows; capped, they carry no signal.
    val docs40 = (0 until 40).map { i =>
      val tail = if (i <= 1) "identical trailing content here"
                 else s"unique tail $i alpha beta gamma"
      (i.toLong, s"all rights reserved to $tail")
    }.toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(docs40, "doc_id", "text",
      n = 3, minJaccard = 0.5, maxShingleDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // Only (0,1) survives: their informative (non-boilerplate) shingle sets
    // are identical → df-capped Jaccard = 1.0. The boilerplate-only pairs
    // (e.g. (2,3)) must NOT appear even though uncapped their Jaccard over
    // shared boilerplate shingles would be > 0.
    assert(capped.toSeq == Seq((0L, 1L, 1.0)))
    // And the cap is a provable no-op when no shingle exceeds it.
    val a = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().toSet
    val b = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
      maxShingleDf = Int.MaxValue).collect().toSet
    assert(a == b)
  }

  test("prefixJaccardPairs equals the shared-shingle exact join at " +
      "several thresholds") {
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val viaPrefix = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        n = 3, minJaccard = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaShared = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, minJaccard = t, maxShingleDf = Int.MaxValue).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(viaShared.nonEmpty, s"fixture has pairs at t=$t")
      assert(viaPrefix == viaShared, s"t=$t: prefix filtering lost or " +
        s"invented pairs: ${viaPrefix.diff(viaShared)} / ${viaShared.diff(viaPrefix)}")
    }
  }

  test("prefix filtering: a universal boilerplate shingle generates no " +
      "candidate explosion yet stays in the exact measure") {
    import spark.implicits._
    // Same 40-doc boilerplate corpus as the df-cap test — but here the
    // hot shingles are KEPT in the measure (exact semantics): the
    // boilerplate-only pairs have genuine small Jaccard > 0, and the
    // rarity-ordered prefix must still find every pair above threshold.
    val docs40 = (0 until 40).map { i =>
      val tail = if (i <= 1) "identical trailing content here"
                 else s"unique tail $i alpha beta gamma"
      (i.toLong, s"all rights reserved to $tail")
    }.toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(docs40, "doc_id", "text",
      n = 3, minJaccard = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // docs 0/1 are fully identical → J = 1.0; boilerplate-only pairs
    // (i, j >= 2) share 5 of their 8 shingles each → J = 5/11 ≈ 0.45 < 0.5
    assert(got == Seq((0L, 1L, 1.0)))
    val loose = Dedup.prefixJaccardPairs(docs40, "doc_id", "text",
      n = 3, minJaccard = 0.2).count()
    // at t=0.2 every boilerplate-only pair qualifies (C(38,2) = 703) plus
    // (0,1); the cross pairs (0|1, j>=2) share only 2 of 12 → 1/6 < 0.2
    assert(loose == 704L)
  }

  test("prefixJaccard candidate stream is EXACTLY additive over " +
      "alphabet-disjoint sub-corpora — the per-node-regime bound") {
    // The ×100 q133 overshoot is single-box spill, not a scaling
    // defect: this pins WHY. Cross-alphabet shingles never collide and
    // the global (df, hash) order restricted to one sub-corpus equals
    // its stand-alone order, so the pre-verification candidate stream
    // of a union is the SUM of the parts — per-copy candidate volume
    // is constant, hence a real executor's share at fixed per-node
    // data stays in the measured linear regime regardless of corpus
    // size. Asserted exactly, not approximately.
    import spark.implicits._
    def corpus(shift: Int, idBase: Long) = {
      val words = Seq("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
      (0 until 12).map { i =>
        val doc = (words.drop(i % 3) ++ words.take(4 + (i % 4)))
          .mkString(" ")
        (idBase + i, doc.map(c =>
          if (c >= 'a' && c <= 'h') (c + shift).toChar else c))
      }
    }
    val parts = Seq(corpus(0, 0L), corpus(8, 100L), corpus(16, 200L))
    val alone = parts.map { p =>
      Dedup.prefixJaccardCandidates(p.toDF("doc_id", "text"),
        "doc_id", "text", n = 3, minJaccard = 0.5).count()
    }
    assert(alone.forall(_ > 0L), s"each copy must produce candidates: $alone")
    val union = Dedup.prefixJaccardCandidates(
      parts.flatten.toDF("doc_id", "text"),
      "doc_id", "text", n = 3, minJaccard = 0.5).count()
    assert(union == alone.sum,
      s"candidate stream must be exactly additive: $union vs $alone")
  }

  test("prefixJaccardPairs: the candidate join sizes its own exchange " +
      "from the match-block estimate; defaults leave fixture plans " +
      "unsized") {
    // The r12 occupancy-sized-exchange contract (the q133 ×100 spill
    // fix): with a forced 1-row/partition estimate the prefix-prefix
    // join must carry explicit shingle repartitions on BOTH sides at
    // one width wider than the session's, and with the default
    // estimate a fixture-sized corpus must plan NO explicit
    // numbered shingle repartition (oracle plans unchanged). Results
    // identical either way.
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    def numberedShingleRepartitions(
        df: org.apache.spark.sql.DataFrame): Seq[Int] = {
      df.count()
      val seen = scala.collection.mutable.Set.empty[Int]
      val found = scala.collection.mutable.ArrayBuffer.empty[Int]
      def walk(p: SparkPlan): Unit = {
        if (!seen.add(System.identityHashCode(p))) return
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case im: InMemoryTableScanExec => walk(im.relation.cachedPlan)
          case _: ReusedExchangeExec => ()
          case e: ShuffleExchangeExec =>
            // REPARTITION_BY_NUM = the sized exchange (explicit width);
            // the corpus spine's repartition(col) is REPARTITION_BY_COL
            // and must not count.
            if (e.shuffleOrigin.toString == "REPARTITION_BY_NUM" &&
                e.outputPartitioning.toString.contains("shingle"))
              found += e.outputPartitioning.numPartitions
            e.children.foreach(walk)
          case other => other.children.foreach(walk)
        }
        p.subqueries.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      found.toSeq
    }
    val docs40 = (0 until 40).map { i =>
      val tail = if (i <= 1) "identical trailing content here"
                 else s"unique tail $i alpha beta gamma"
      (i.toLong, s"all rights reserved to $tail")
    }.toDF("doc_id", "text")
    val sizedOut = Dedup.prefixJaccardPairs(docs40, "doc_id", "text",
      n = 3, minJaccard = 0.2, candRowsPerPartition = 1L)
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val widths = numberedShingleRepartitions(sizedOut)
    assert(widths.size == 2 && widths.distinct.size == 1 &&
      widths.head > session,
      s"expected both join sides sized wider than $session: $widths")
    val defaultOut = Dedup.prefixJaccardPairs(docs40, "doc_id", "text",
      n = 3, minJaccard = 0.2)
    assert(numberedShingleRepartitions(defaultOut).isEmpty,
      "fixture-scale estimate must leave the session plan untouched")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(sizedOut.collect().map(key).toSet ==
      defaultOut.collect().map(key).toSet)
    assert(defaultOut.count() == 704L)
  }

  test("editDistancePairs: pigeonhole candidates lose nothing vs brute " +
      "force; insert/delete shifts are caught") {
    import spark.implicits._
    // hand-planted: 0↔1 substitution (d=1); 0↔2 deletion and 0↔3
    // insertion shift every later segment (d=2 on the padded keys: the
    // indel plus one pad adjustment — exactly the shifted-window case
    // the ±maxDist enumeration exists for); 4 unrelated; 5↔0 two
    // substitutions (d=2); 6↔0 three substitutions (excluded)
    val base = "the quick brown fox jumps over"
    val rows = Seq(
      0L -> base,
      1L -> "the quick crown fox jumps over",
      2L -> "the quick bown fox jumps over",
      3L -> "the quick xbrown fox jumps over",
      4L -> "completely different text here now",
      5L -> "the quick crown fax jumps over",
      6L -> "thX quick crown fax jumps over").toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(rows, "doc_id", "text",
        maxDist = 2, keyLen = 32).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // brute force over the same padded keys
    val keys = rows.collect().map(r => r.getLong(0) ->
      (r.getString(1).take(32).padTo(32, ' '))).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- keys.keys; b <- keys.keys if a < b
      d = lev(keys(a), keys(b)) if d <= 2
    } yield (a, b) -> d.toLong).toMap
    assert(got == want, s"got $got want $want")
    assert(got.contains((0L, 2L)) && got.contains((0L, 3L)),
      "shifted (insert/delete) matches must survive the segment windows")
    assert(!got.keySet.exists { case (a, b) => a == 6L || b == 6L } ||
      got.get((0L, 6L)).isEmpty)
    // and on the fixture: exactly the oracle-checked q134 contract
    val fx = Dedup.editDistancePairs(docs, "doc_id", "text", 2, 32)
    assert(fx.count() > 0)
  }

  test("editDistancePairs hot-prefix refinement: brute-force parity when " +
      "a segment bucket saturates") {
    import spark.implicits._
    // adversarial corpus: EVERY doc shares the boilerplate first segment
    // ("Subject: Re" — chars 1-10 of the 32-char key are identical), so
    // with maxSegBucket=8 the (0, gram) bucket saturates and the
    // complement sub-join must find every pair the cold join would have.
    // Tails: clusters of near-identical endings (true pairs, d<=2 via
    // substitutions AND an indel shift) + unique tails (no pairs).
    val boiler = "Subject: Re "
    val rows = ((0 until 40).map { i =>
      val grp = i % 8
      val tail = s"order ${('a' + grp).toChar}${i / 8} item"
      (i.toLong, boiler + tail)
    } ++ Seq(
      100L -> (boiler + "order a0 itXm"), // sub vs id 0's tail
      101L -> (boiler + "ordr a0 item"),  // deletion shift vs id 0
      102L -> (boiler + "zzzz unique tail"))).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(rows, "doc_id", "text",
        maxDist = 2, keyLen = 32, maxSegBucket = 8).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val keys = rows.collect().map(r => r.getLong(0) ->
      r.getString(1).take(32).padTo(32, ' ')).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- keys.keys; b <- keys.keys if a < b
      d = lev(keys(a), keys(b)) if d <= 2
    } yield (a, b) -> d.toLong).toMap
    assert(want.nonEmpty, "fixture must plant hot-bucket pairs")
    assert(want.contains((0L, 100L)) && want.contains((0L, 101L)))
    assert(got == want)
    // cap high enough that nothing saturates → identical answer through
    // the pure cold plan (the refinement changes cost, never results)
    val cold = Dedup.editDistancePairs(rows, "doc_id", "text",
        maxDist = 2, keyLen = 32, maxSegBucket = 100000).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(cold == want)
  }

  test("snapshotDiff: added/removed/changed/unchanged partition the " +
      "id space") {
    import spark.implicits._
    val v1 = Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("id", "text")
    val v2 = Seq(2L -> "b", 3L -> "c2", 4L -> "d").toDF("id", "text")
    val got = Dedup.snapshotDiff(v1, v2, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("weightedJaccardPairs: rare-shingle weighting demotes " +
      "boilerplate-only pairs below plain Jaccard") {
    import spark.implicits._
    // boilerplate corpus from the df-cap test: plain Jaccard gives
    // boilerplate-only pairs 5/11 ≈ 0.4545; weighted, the shared mass
    // is the (hot, low-weight) boilerplate while each doc's unique tail
    // carries high weight → weighted sim must drop well below plain
    val docs40 = (0 until 40).map { i =>
      val tail = if (i <= 1) "identical trailing content here"
                 else s"unique tail $i alpha beta gamma"
      (i.toLong, s"all rights reserved to $tail")
    }.toDF("doc_id", "text")
    val w = Dedup.weightedJaccardPairs(docs40, "doc_id", "text",
        n = 3, minSim = 0.0001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(w((0L, 1L)) == 1.0) // identical docs stay 1.0 under any weights
    val boiler = w((2L, 3L))
    assert(boiler < 0.25, s"boilerplate pair weighted sim = $boiler " +
      "(plain Jaccard would be 0.4545)")
    // determinism + threshold behavior on the real fixture
    val a = Dedup.weightedJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .collect().toSet
    val b = Dedup.weightedJaccardPairs(docs.repartition(7), "doc_id",
      "text", 3, 0.3).collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("minhash bucket cap: degenerate identical corpus yields no m² blowup") {
    import spark.implicits._
    // 30 identical docs: every band bucket has all 30 docs. With the cap
    // below 30, all buckets are dropped → zero candidates (exact dedup is
    // the right tool for identical docs, not LSH pairing).
    val same = (0 until 30).map(i => (i.toLong, "the same exact document text"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(same, "doc_id", "text",
      k = 8, rowsPerBand = 2, maxBucketSize = 10)
    assert(capped.count() == 0)
    // No-op on the fixture: default cap changes nothing.
    val a = Dedup.minhashCandidates(docs, "doc_id", "text", 8, 2).collect().toSet
    val b = Dedup.minhashCandidates(docs, "doc_id", "text", 8, 2,
      maxBucketSize = Int.MaxValue).collect().toSet
    assert(a == b)
  }

  test("IVF-blocked near-dup equals brute force — lossless blocking proof") {
    val e = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = pairs {
      val l = e.select(col("vec_id").as("a"), col("embedding").as("va"))
      val r = e.select(col("vec_id").as("b"), col("embedding").as("vb"))
      l.join(r, col("a") < col("b"))
        .withColumn("dist", round(sqDist(col("va"), col("vb")), 6))
        .filter(col("dist") <= 1.5)
        .select(col("a"), col("b"), col("dist"))
    }
    assert(brute.nonEmpty, "fixture should contain near-dup embeddings")
    // the guarantee must hold for ANY quantizer quality: coarse and fine
    for (nlist <- Seq(2, 8, 32, IvfIndex.AutoNlist)) {
      val cents = IvfIndex.fitCentroids(e, "embedding", "vec_id", nlist)
      val got = pairs(Dedup.embeddingNearDupByIvf(
        e, "vec_id", "embedding", cents, maxSqDist = 1.5))
      assert(got == brute, s"nlist=$nlist: blocked result != brute force")
    }
  }

  test("cosine near-dup equals brute force — lossless blocking proof") {
    val e = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    import graft.functions.VectorFunctions.cosine
    val brute = {
      val l = e.select(col("vec_id").as("a"), col("embedding").as("va"))
      val r = e.select(col("vec_id").as("b"), col("embedding").as("vb"))
      l.join(r, col("a") < col("b"))
        .withColumn("cosine", round(cosine(col("va"), col("vb")), 6))
        .filter(col("cosine") >= 0.25)
        .select(col("a"), col("b"), col("cosine"))
        .collect().map(r2 => (r2.getLong(0), r2.getLong(1), r2.getDouble(2)))
        .toSet
    }
    assert(brute.nonEmpty, "fixture should contain cosine-similar pairs")
    for (nlist <- Seq(2, 8, 32, IvfIndex.AutoNlist)) {
      val got = Dedup.embeddingNearDupCosine(e, "vec_id", "embedding",
          nlist, minCosine = 0.25)
        .collect().map(r2 => (r2.getLong(0), r2.getLong(1), r2.getDouble(2)))
        .toSet
      assert(got == brute, s"nlist=$nlist: blocked cosine != brute force")
    }
  }

  test("IVF blocking PRUNES on clustered embeddings while staying lossless") {
    // The operator's reason to exist (VERDICT r3 ask #1): on a clustered
    // corpus, slack multi-assignment must examine FAR fewer candidate
    // pairs than all-pairs — and still return exactly the brute-force
    // answer. Uses the same derived clustered fixture as q51.
    val e = SparkEntry.clusteredEmbeddings(spark, SparkTestSession.sf0001)
      .persist()
    val n = e.count()
    val cents = IvfIndex.fitCentroids(e, "cvec", "vec_id", nlist = 64)
    // Candidate pairs the ASYMMETRIC blocked join examines (home side ×
    // expanded side per list) — the honest join-input cost, before any
    // distance math.
    val expanded = IvfIndex.assignMultiHomed(e, "cvec", cents,
      slack = 2.0 * math.sqrt(2.0 + 1e-6)).persist()
    val l = expanded.filter(col("is_home"))
      .select(col("list_id"), col("vec_id").as("a"))
    val r = expanded.select(col("list_id"), col("vec_id").as("b"))
    val candidates = l.join(r, Seq("list_id"))
      .filter(col("a") < col("b")).count()
    val allPairs = n * (n - 1) / 2
    assert(candidates < allPairs / 4,
      s"blocking should prune: $candidates candidates vs $allPairs all-pairs")
    // Losslessness on this input: blocked result == brute force.
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r2 => (r2.getLong(0), r2.getLong(1))).toSet
    val brute = pairs {
      val bl = e.select(col("vec_id").as("a"), col("cvec").as("va"))
      val br = e.select(col("vec_id").as("b"), col("cvec").as("vb"))
      bl.join(br, col("a") < col("b"))
        .withColumn("dist", round(sqDist(col("va"), col("vb")), 6))
        .filter(col("dist") <= 2.0)
        .select(col("a"), col("b"))
    }
    val got = pairs(Dedup.embeddingNearDupByIvf(
      e, "vec_id", "cvec", cents, maxSqDist = 2.0))
    assert(got == brute && got.nonEmpty)
    info(s"pruning ratio: $candidates / $allPairs = " +
      f"${candidates.toDouble / allPairs}%.3f")
    expanded.unpersist(); e.unpersist()
  }

  test("autoNlist bounds candidate-pair growth as density rises (r7 ask #3)") {
    // The 100×-scale risk the verdict flagged: at a PINNED nlist, packing
    // 4× the rows into the same space grows within-list candidate pairs
    // ~16× (quadratic in density). autoNlist keeps rows-per-list constant
    // (nlist ∝ n), so candidates grow ~linearly. Fixture: n points spread
    // evenly over a fixed [0, 1000] segment (intrinsic dim 1, embedded in
    // dim 4) with threshold sqrt(1) ≪ segment — the regime where blocking
    // discriminates and the sizing rule is load-bearing.
    import spark.implicits._
    def fixture(n: Int) = (1 to n).map { i =>
      (i.toLong, Seq(i * 1000.0 / n, 0.0, 0.0, 0.0))
    }.toDF("vec_id", "vec")
    def candidates(df: org.apache.spark.sql.DataFrame, nlist: Int): Long = {
      // the asymmetric join's per-list cost: |home| × |expanded|
      val cents = IvfIndex.fitCentroids(df, "vec", "vec_id", nlist)
      val x = IvfIndex.assignMultiHomed(df, "vec", cents, slack = 2.0)
        .groupBy("list_id")
        .agg(sum(when(col("is_home"), 1L).otherwise(0L)).as("h"),
          count(lit(1)).as("p"))
        .collect().map(r => r.getLong(1) * r.getLong(2)).sum
      x
    }
    val small = fixture(1000).persist()
    val big = fixture(4000).persist()
    val autoRatio = candidates(big, IvfIndex.AutoNlist).toDouble /
      candidates(small, IvfIndex.AutoNlist)
    val pinnedRatio = candidates(big, 8).toDouble / candidates(small, 8)
    info(f"auto ratio at 4x density: $autoRatio%.1f; pinned: $pinnedRatio%.1f")
    assert(autoRatio < 8.0,
      f"auto-nlist candidates should grow ~linearly, got $autoRatio%.1f")
    // pinned lands between linear and the ideal 16× (hash-stride centroids
    // aren't perfectly even); the load-bearing claim is comparative
    assert(pinnedRatio > 1.8 * autoRatio,
      f"pinned nlist should grow superlinearly vs auto: $pinnedRatio%.1f " +
        f"vs $autoRatio%.1f")
    // sizing rule sanity: constant rows-per-list target, hard cap
    assert(IvfIndex.autoNlist(1000) == 32 &&
      IvfIndex.autoNlist(4000) == 125)
    assert(IvfIndex.autoNlist(100000000L) == 4096)
    small.unpersist(); big.unpersist()
  }

  test("dedupChunks: first corpus occurrence wins, docs reassemble in order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2-token chunks; "b1 b2" is shared boilerplate at a chunk boundary in
    // docs 1, 2 and 3; doc 3 is ONLY boilerplate; doc 1 also repeats a
    // chunk internally ("a1 a2" twice)
    val docs = Seq(
      (1L, "a1 a2 b1 b2 a1 a2"),
      (2L, "b1 b2 c1 c2"),
      (3L, "b1 b2")).toDF("doc_id", "text")
    val got = operators.Dedup.dedupChunks(docs, "doc_id", "text", 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)))).toList
    assert(got === List(
      (1L, 3L, 2L, Some("a1 a2 b1 b2")), // internal repeat dropped, order kept
      (2L, 2L, 1L, Some("c1 c2")),       // boilerplate chunk lost to doc 1
      (3L, 1L, 0L, None)))               // fully-boilerplate doc → null
  }

  test("dedupChunks: tail chunks shorter than the window still dedup") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x1 x2 x3 tail"),  // chunks: "x1 x2 x3", "tail"
      (2L, "tail")).toDF("doc_id", "text")
    val got = operators.Dedup.dedupChunks(docs, "doc_id", "text", 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2),
        Option(r.getString(3)))).toList
    assert(got === List((1L, 2L, Some("x1 x2 x3 tail")), (2L, 0L, None)))
  }

  test("simhashNearDupPairs: banded pairs == naive all-pairs at radius 2") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val got = operators.Dedup.simhashNearDupPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sig = operators.Dedup.simhash(docs, "doc_id", "text")
    val naive = sig.select(col("doc_id").as("a"), col("simhash").as("sa"))
      .join(sig.select(col("doc_id").as("b"), col("simhash").as("sb")),
        col("a") < col("b"))
      .withColumn("h", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("h") <= 2)
      .select(col("a"), col("b"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === naive && got.nonEmpty)
  }

  test("simhash 64-bit: low bits frozen, deterministic, full width used") {
    val s16 = Dedup.simhash(docs, "doc_id", "text", nBits = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val s64a = Dedup.simhash(docs, "doc_id", "text", nBits = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val s64b = Dedup.simhash(docs.repartition(6), "doc_id", "text", nBits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s64a == s64b)
    // widening only ADDS bits: the historical 16-bit signature is the
    // low half-word of the 64-bit one (frozen q21/q71 oracle contract)
    assert(s64a.forall { case (id, v) => (v & 0xFFFFL) == s16(id) })
    // the upper digest's bits actually participate (some signature has a
    // bit set above 31 — vacuously true signatures would mean the second
    // md5 never fed the vote)
    assert(s64a.values.exists(v => (v >>> 32) != 0L))
  }

  test("simhashNearDupPairs at 64 bits: pigeonhole banding lossless vs naive") {
    import org.apache.spark.sql.functions._
    val got = operators.Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        nBits = 64, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sig = operators.Dedup.simhash(docs, "doc_id", "text", nBits = 64)
    val naive = sig.select(col("doc_id").as("a"), col("simhash").as("sa"))
      .join(sig.select(col("doc_id").as("b"), col("simhash").as("sb")),
        col("a") < col("b"))
      .withColumn("h", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("h") <= 3)
      .select(col("a"), col("b"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === naive && got.nonEmpty)
    // and the radius really is discriminative at full width: the admitted
    // set is a strict subset of the permissive 16-bit radius-2 pairs
    val got16 = operators.Dedup.simhashNearDupPairs(docs, "doc_id", "text")
      .select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size < got16.size)
  }

  test("minhashAgainst: fresh docs match ref near-dups, ref-internal dups ignored") {
    import spark.implicits._
    val base = "spark shuffles data across executors during wide " +
      "transformations and the optimizer prunes columns at the scan"
    val fresh = Seq(
      (1L, base + " extra"),             // near-dup of ref 101/102
      (2L, "a completely different sentence about gardening and soil")
    ).toDF("doc_id", "text")
    val ref = Seq(
      (101L, base),                      // near-dup of fresh 1 AND of 102
      (102L, base + " indeed"),          // ref-internal near-dup of 101
      (103L, "unrelated reference text about astronomy and telescopes ok")
    ).toDF("doc_id", "text")
    val got = operators.Dedup.minhashAgainst(fresh, ref, "doc_id", "text",
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // only fresh doc 1 matches, against both near-identical ref docs;
    // the 101↔102 ref-internal pair must NOT surface
    assert(got === List((1L, 2L)))
  }

  test("minhashAgainstIndex: saved ref index (build + append) answers " +
       "the recompute path exactly; probes prune to buckets (plan audit)") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val fresh = docs.filter(col("doc_id") % 5 =!= 0)
    val ref = docs.filter(col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lsh_idx").toString + "/idx"
    try {
      operators.Dedup.buildRefIndex(ref.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", dir, nBuckets = 8)
      operators.Dedup.appendRefIndex(ref.filter(col("doc_id") % 10 =!= 0),
        "text", dir)
      val viaIndex = operators.Dedup.minhashAgainstIndex(fresh, dir, "text")
      val physical = viaIndex.queryExecution.executedPlan.toString
      // both saved relations must be read through partition pruning —
      // the band buckets the batch names, the shingle buckets the
      // candidates name
      assert(physical.contains(operators.Dedup.LshBandBucketCol) &&
        physical.contains(operators.Dedup.LshRidBucketCol) &&
        physical.contains("PartitionFilters"), physical)
      val got = viaIndex
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toList
      val want = operators.Dedup.minhashAgainst(fresh, ref, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toList
      assert(got === want && want.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir).getParentFile)
    }
  }

  /** Word-n-gram shingle set of `text`, split exactly as
    * Dedup.shingles splits (single spaces, no normalization). */
  private def shingleSet(text: String, n: Int = 3): Set[String] = {
    val toks = text.split(" ", -1)
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Exact Jaccard rounded as the verification tail rounds it. */
  private def exactJaccard(a: Set[String], b: Set[String]): Double = {
    val c = (a intersect b).size
    if (c == 0) 0.0
    else BigDecimal(c.toDouble / (a.size + b.size - c))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("minhashAgainst / minhashAgainstIndex verification is exact: " +
       "every returned max_jaccard equals the driver-side word-3-gram " +
       "Jaccard of the doc's best reference match, and doubled saved " +
       "shingle rows change nothing") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 400).map(i => s"w$i")
    def words(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val bases = Vector.fill(12)(words(40))
    // ref: the bases, a ref-internal variant of three of them, and
    // unrelated docs; fresh: one- to three-word edits of each base and
    // unrelated docs
    def edit(ws: Vector[String], k: Int) =
      (0 until k).foldLeft(ws)((acc, i) =>
        acc.updated((i * 13 + 5) % acc.size, s"x${rnd.nextInt(1000)}"))
    val refRows = bases.zipWithIndex.map { case (b, i) =>
        (100L + i, b.mkString(" ")) } ++
      (0 until 3).map(i => (200L + i, edit(bases(i), 2).mkString(" "))) ++
      (0 until 10).map(i => (300L + i, words(40).mkString(" ")))
    val freshRows = bases.zipWithIndex.map { case (b, i) =>
        (1L + i, edit(b, 1 + i % 3).mkString(" ")) } ++
      (0 until 8).map(i => (50L + i, words(30).mkString(" ")))
    val ref = refRows.toDF("doc_id", "text")
    val fresh = freshRows.toDF("doc_id", "text")
    val refSets = refRows.map { case (id, t) => id -> shingleSet(t) }
    val minJ = 0.5
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toList
    def checkExact(got: List[(Long, Long, Double)]): Unit = {
      assert(got.nonEmpty)
      got.foreach { case (id, nDups, maxJ) =>
        val f = shingleSet(freshRows.find(_._1 == id).get._2)
        val js = refSets.map { case (_, r) => exactJaccard(f, r) }
        assert(maxJ === js.max, s"doc $id")
        assert(maxJ >= minJ, s"doc $id")
        assert(nDups >= 1 && nDups <= js.count(_ >= minJ), s"doc $id")
      }
    }
    val recompute = rows(operators.Dedup.minhashAgainst(fresh, ref,
      "doc_id", "text", minJaccard = minJ))
    checkExact(recompute)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lsh_exact").toString + "/idx"
    try {
      operators.Dedup.buildRefIndex(ref, "doc_id", "text", dir,
        nBuckets = 4)
      val viaIndex = rows(operators.Dedup.minhashAgainstIndex(fresh, dir,
        "text", minJaccard = minJ))
      checkExact(viaIndex)
      assert(viaIndex === recompute)
      // the crawl's crash window: one matched reference doc's shingle
      // rows appended a second time
      val twice = 100L
      val shDir = s"$dir/${operators.Dedup.LshShinglesDir}"
      val dup = spark.createDataFrame(
        spark.read.parquet(shDir)
          .filter(col("__rid") === twice).collectAsList(),
        spark.read.parquet(shDir).schema)
      val before = dup.count()
      assert(before > 0)
      dup.write.mode("append")
        .partitionBy(operators.Dedup.LshRidBucketCol).parquet(shDir)
      assert(spark.read.parquet(shDir).filter(col("__rid") === twice)
        .count() === 2 * before)
      assert(rows(operators.Dedup.minhashAgainstIndex(fresh, dir, "text",
        minJaccard = minJ)) === viaIndex)
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir).getParentFile)
    }
  }

  test("minhashAgainstIndex job budget: bucket dirs listed on the " +
       "driver, no listing job, bounded job count per probe") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val nBuckets = 64
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lsh_budget").toString + "/idx"
    val jobs =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      // (tasks, call site): a job's result stage is named after the
      // user-code frame that started it
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add((js.stageInfos.map(_.numTasks).sum,
          js.stageInfos.maxBy(_.stageId).name))
    }
    try {
      operators.Dedup.buildRefIndex(docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", dir, nBuckets = nBuckets)
      val fresh = docs.filter(col("doc_id") % 5 =!= 0)
      // a cold probe whatever ran before: earlier probes of this same
      // `fresh` plan outside a cache scope leave its shingle and band
      // relations cached, and a warm probe skips their jobs (measured:
      // 24 jobs cold, 21 warm). The scope frees this probe's own caches.
      spark.catalog.clearCache()
      org.apache.spark.graft.ObsBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val got = try operators.CacheScope.scoped {
        val n = operators.Dedup.minhashAgainstIndex(fresh, dir, "text")
          .collect().length
        org.apache.spark.graft.ObsBus.drain(spark.sparkContext)
        n
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(got > 0)
      val seen = jobs.toArray(Array.empty[(Int, String)]).toSeq
      // a distributed listing job runs one task per bucket directory
      // under the reader's `parquet at` call site; the reader's schema
      // inference is the only other job there, one task
      val listings = seen.filter { case (tasks, site) =>
        tasks > 1 && site.startsWith("parquet at") }
      assert(listings.isEmpty, seen.mkString("\n"))
      info(s"probe jobs: ${seen.size}")
      assert(seen.size <= ProbeJobBudget, seen.mkString("\n"))
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir).getParentFile)
    }
  }

  test("dupStats: HLL estimate within 5% of exact, one pass") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val doubled = docs.union(docs) // force a known dup rate of >= 0.5
    val row = operators.Dedup.dupStats(doubled, Seq("doc_id")).head()
    val exact = docs.select(col("doc_id")).distinct().count().toDouble
    assert(row.getLong(0) == 2 * docs.count())
    assert(math.abs(row.getLong(1) - exact) / exact <= 0.05)
    assert(row.getDouble(2) >= 0.45 && row.getDouble(2) <= 0.55)
  }

  test("duplicateSpans: hand-built fixture — coverage, counts, scrub") {
    import spark.implicits._
    // doc 1 and 2 share the 4-token span "a b c d"; doc 3 repeats its own
    // span twice (within-doc duplication); doc 4 is clean; doc 5 shorter
    // than the window
    val fx = Seq(
      (1L, "x a b c d y"),
      (2L, "p q a b c d"),
      (3L, "m n o r m n o r"),
      (4L, "u v w z zz zzz"),
      (5L, "s t")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(fx, "doc_id", "text",
        windowTokens = 4, minDf = 2)
      .orderBy("doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // doc 1: windows at pos 2 ("a b c d") duplicated -> covers pos 2-5
    assert(out(1L) == ((6L, 1L, 4L, "x y")))
    assert(out(2L) == ((6L, 1L, 4L, "p q")))
    // doc 3: "m n o r" appears at pos 1 and 5 (plus rolling windows
    // "n o r m", "o r m n", "r m n o" each appear once) -> 2 dup
    // windows covering pos 1-4 and 5-8 = all 8 tokens
    assert(out(3L) == ((8L, 2L, 8L, "")))
    assert(out(4L) == ((6L, 0L, 0L, "u v w z zz zzz")))
    assert(out(5L) == ((2L, 0L, 0L, "s t")))
  }

  test("canonicalPick: best score wins its cluster, singletons keep themselves") {
    import spark.implicits._
    val fx = Seq(
      (1L, 10L), (2L, 50L), (3L, 50L), // one cluster: 2 wins (max score, min id tie)
      (4L, 5L)).toDF("doc_id", "score") // singleton
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = Dedup.canonicalPick(fx, "doc_id", col("score"), pairs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 1L, 3L, 0L), (2L, 1L, 3L, 1L), (3L, 1L, 3L, 0L),
      (4L, 4L, 1L, 1L)))
  }

  test("semanticDedup: within-cluster near-identicals pruned, larger id loses") {
    import spark.implicits._
    // blob A near (1,0): ids 0,2,4 — 2 and 4 nearly parallel to 0;
    // blob B near (0,1): ids 1,3 — 3 nearly parallel to 1.
    // seeds = ids 0 and 1, one per blob; cosine >= 0.99 prunes within.
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (2L, Seq(0.999, 0.01)), (4L, Seq(0.998, 0.02)),
      (1L, Seq(0.0, 1.0)), (3L, Seq(0.01, 0.999)))
      .toDF("id", "vec")
    val out = Dedup.semanticDedup(vecs, "id", "vec", k = 2, iters = 1,
        minCosine = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // lowest id of each near-identical group survives; others pruned
    assert(out(0L)._2 == 1L && out(1L)._2 == 1L)
    assert(out(2L)._2 == 0L && out(4L)._2 == 0L && out(3L)._2 == 0L)
    // cluster-scoped by construction: blobs landed in different clusters
    assert(out(0L)._1 != out(1L)._1)
  }

  test("duplicateSpans: minDf above the max multiplicity marks nothing") {
    import spark.implicits._
    val fx = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(fx, "doc_id", "text",
      windowTokens = 3, minDf = 3)
    assert(out.agg(sum("n_dup_windows")).head().getLong(0) == 0L)
    // and at minDf=2 every window of both docs is covered
    val all = Dedup.duplicateSpans(fx, "doc_id", "text",
      windowTokens = 3, minDf = 2)
    assert(all.select("dup_tokens").collect().forall(_.getLong(0) == 5L))
  }

  test("containment catches whole-quote subset pairs Jaccard misses") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
      n = 3, minContainment = 0.9).collect()
    assert(cont.length == 1 && cont.head.getDouble(2) == 1.0)
    // every one of the short doc's shingles is in the long doc, but the
    // union is filler-dominated: Jaccard can't reach a dedup threshold
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, minJaccard = 0.5).isEmpty)
  }

  test("sourceOverlapMatrix: hand-planted cross-source dups roll up to " +
    "unordered source cells; diagonal = within-source duplication") {
    import spark.implicits._
    // s1: d1/d2 identical (J=1.0); s2: d3 shares 3 of 5 union shingles
    // with both (J=0.6); s2: d4 unrelated
    val docs = Seq(
      (1L, "a b c d e f", "s1"), (2L, "a b c d e f", "s1"),
      (3L, "a b c d e g", "s2"), (4L, "x y z w q r", "s2"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlapMatrix(docs, "doc_id", "text", "source")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // (d1,d2) -> (s1,s1); (d1,d3),(d2,d3) -> (s1,s2) regardless of
    // which side's source sorts first
    assert(got == Map(("s1", "s1") -> ((1L, 1.0)),
      ("s1", "s2") -> ((2L, 0.6))), s"got $got")
  }

  test("updateComponents == from-scratch CC, including a batch that " +
    "MERGES two previously separate components") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc_at_rest")
      .toString + "/assign"
    // batch 1: {1,2} and {10,11} as two components
    val first = Seq((1L, 2L), (10L, 11L)).toDF("a", "b")
    Dedup.saveComponents(first, dir)
    val saved = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(saved == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    // batch 2 bridges them (2-10) and adds a fresh component {20,21}
    val second = Seq((2L, 10L), (20L, 21L)).toDF("a", "b")
    val merged = Dedup.updateComponents(spark, dir, second)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.connectedComponents(first.union(second))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == scratch)
    assert(merged == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L))
  }

  test("containment >= jaccard: same-threshold pairs are a superset") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, minJaccard = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val c = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
        n = 3, minContainment = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(j.subsetOf(c))
  }

  test("hammingPairs: uncapped (maxBandBucket=0) equals naive all-pairs") {
    import spark.implicits._
    // 60 items, signatures engineered for collisions: i % 8 gives dense
    // low-bit neighborhoods within hamming 2 of each other
    val sig = (0L until 60L).map(i => (i, (i % 8) | ((i % 3) << 8)))
      .toDF("id", "sig")
    val got = Dedup.hammingPairs(sig, "id", "sig", nBits = 16,
        maxHamming = 2, maxBandBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val local = (0L until 60L).map(i => i -> ((i % 8) | ((i % 3) << 8))).toMap
    val naive = (for {
      a <- 0L until 60L; b <- (a + 1) until 60L
      h = java.lang.Long.bitCount(local(a) ^ local(b))
      if h <= 2
    } yield (a, b, h.toLong)).toSet
    assert(got === naive && got.nonEmpty)
  }

  test("hammingPairs cap: saturated buckets dropped, pair growth <= linear " +
      "at 10x density") {
    import spark.implicits._
    // Hot boilerplate group (all-identical signature) + a sparse tail of
    // mostly-unique signatures — the corpus shape that made 32-bit
    // simhash a scale-killer. With the cap on, the hot group's n²/2
    // pairs never materialize and total output grows ~linearly with n.
    // hot half: one identical signature (the saturating bucket); tail:
    // exact duplicate PAIRS with pairwise-distant group signatures, so
    // the true near-dup output is exactly n/4 pairs — linear by design
    def corpus(n: Long) = (0L until n).map { i =>
      if (i < n / 2) (i, 7L)    // saturating group
      else (i, (i / 2) << 5)    // duplicate pairs (2m, 2m+1)
    }.toDF("id", "sig")
    def pairsWithCap(n: Long): Long =
      Dedup.hammingPairs(corpus(n), "id", "sig", nBits = 16,
        maxHamming = 0, maxBandBucket = 40).count()
    val small = pairsWithCap(200)
    val big = pairsWithCap(2000)
    // uncapped at n=200 the hot group ALONE yields 100*99/2 = 4950 pairs
    val uncapped = Dedup.hammingPairs(corpus(200), "id", "sig", nBits = 16,
      maxHamming = 0, maxBandBucket = 0).count()
    assert(uncapped >= 4950, s"fixture must saturate without the cap: $uncapped")
    assert(small < 4950, s"cap must drop the saturated group: $small")
    assert(big <= 10 * math.max(small, 1) + 100,
      s"capped growth must be ~linear: $small -> $big")
  }

  test("simhashNearDupPairs cap is a no-op at fixture scale (shares the " +
      "frozen oracle) and binding caps only shrink the result") {
    val uncapped = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        maxBandBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = Dedup.simhashNearDupPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(default === uncapped) // fixture buckets all under the 1000 default
    val tight = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        maxBandBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(uncapped))
  }

  test("index write geometry: every partitioned write emits at most ONE " +
      "file per touched bucket dir (the r13 rolling-ingest contract)") {
    // the file population of an at-rest index must grow by at most
    // #touched-buckets per write, not tasks x buckets — otherwise a
    // rolling ingest's probes pay an O(appends x tasks) listing (the
    // mechanism behind the measured 9 -> 38 docs/s crawl fix)
    def filesPerDir(root: String): Map[String, Int] = {
      val d = new java.io.File(root)
      d.listFiles().filter(_.isDirectory).map(sub =>
        sub.getName -> sub.listFiles().count(_.getName.endsWith(".parquet"))
      ).toMap
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_geom").toString
    // LSH index: build + one append, many docs so every bucket is hit
    // from many upstream tasks
    val many = docs.repartition(16)
    Dedup.buildRefIndex(many, "doc_id", "text", s"$tmp/lsh", nBuckets = 8)
    val afterBuild = filesPerDir(s"$tmp/lsh/${Dedup.LshBandsDir}")
    assert(afterBuild.nonEmpty && afterBuild.values.max <= 1,
      s"build wrote >1 file in a bucket dir: $afterBuild")
    Dedup.appendRefIndex(many.limit(200), "text", s"$tmp/lsh")
    val afterAppend = filesPerDir(s"$tmp/lsh/${Dedup.LshBandsDir}")
    assert(afterAppend.values.max <= 2,
      s"append wrote >1 new file in a bucket dir: $afterAppend")
    // postings index: same contract on build + append
    operators.TextSearch.buildIndex(many, "doc_id", "text",
      s"$tmp/text", nBuckets = 8)
    val tb = filesPerDir(s"$tmp/text")
      .filter(_._1.startsWith(operators.TextSearch.BucketCol + "="))
    assert(tb.nonEmpty && tb.values.max <= 1, s"text build: $tb")
    operators.TextSearch.appendIndex(
      many.limit(200).withColumn("doc_id", col("doc_id") + 1000000L),
      "text", s"$tmp/text")
    val ta = filesPerDir(s"$tmp/text")
      .filter(_._1.startsWith(operators.TextSearch.BucketCol + "="))
    assert(ta.values.max <= 2, s"text append: $ta")
  }

  test("fsckRefIndex: fresh build all-green (bands = nBands x docs); " +
      "orphan tombstone reported; a lost band file flips bands_complete " +
      "while the commit-order check stays green") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_fsck_lsh")
      .toString + "/idx"
    val n = docs.count()
    Dedup.buildRefIndex(docs, "doc_id", "text", tmp, k = 8,
      rowsPerBand = 2, shingleN = 3, nBuckets = 8)
    def report(): Map[String, (Boolean, Long)] =
      Dedup.fsckRefIndex(spark, tmp).collect()
        .map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    val fresh = report()
    assert(fresh.values.forall(_._1), fresh)
    assert(fresh("rows_nonempty") == (true, 4L * n))
    assert(fresh("bands_complete") == (true, 4L))
    assert(fresh("shingles_present") == (true, n))
    assert(fresh("unbanded_shingle_docs") == (true, 0L))
    assert(fresh("write_eras") == (true, 1L))
    // tombstone for a doc that never existed: counted, still legal
    Dedup.deleteFromRefIndex(spark, tmp, Seq(99999999L).toDF("doc_id"))
    assert(report()("orphan_tombstones") == (true, 1L))
    // lose one band-bucket file (a partially-shipped copy, a bad
    // restore): docs whose rows lived there now miss band indices —
    // the presence-contract check must flag the WHOLE index as
    // incomplete, while their shingles (other relation) stay present
    val bandsRoot = new java.io.File(s"$tmp/${Dedup.LshBandsDir}")
    val victim = bandsRoot.listFiles().filter(_.isDirectory).head
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val broken = report()
    assert(!broken("bands_complete")._1)
    assert(broken("shingles_present")._1)
    assert(broken("band_bucket_consistent")._1)
  }

  test("compactRefIndex: probe bit-identical across compaction, one " +
      "file per bucket after, crash-window duplicate rows dropped") {
    def filesPerDir(root: String): Map[String, Int] = {
      val d = new java.io.File(root)
      d.listFiles().filter(_.isDirectory).map(sub =>
        sub.getName -> sub.listFiles().count(_.getName.endsWith(".parquet"))
      ).toMap
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_lshc").toString
    val idx = s"$tmp/idx"
    val ref = docs.filter(col("doc_id") % 5 === 0)
    val fresh = docs.filter(col("doc_id") % 5 =!= 0)
    Dedup.buildRefIndex(ref.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", idx, nBuckets = 8)
    Dedup.appendRefIndex(ref.filter(col("doc_id") % 10 =!= 0), "text", idx)
    // simulate BOTH crash windows the probe tolerates at read time:
    // doubled shingle rows (shingles committed, bands not, replay
    // re-appended both) and duplicate PARTIAL band rows (partial bands
    // job commit followed by a whole re-append)
    val shPath = s"$idx/${Dedup.LshShinglesDir}"
    val bPath = s"$idx/${Dedup.LshBandsDir}"
    // localCheckpoint materializes the dup rows BEFORE the append, so
    // the write never scans the directory it is appending to
    spark.read.parquet(shPath).filter(col("__rid") % 7 === 0)
      .localCheckpoint()
      .write.mode("append").partitionBy(Dedup.LshRidBucketCol)
      .parquet(shPath)
    spark.read.parquet(bPath)
      .filter(col("__rid") % 7 === 0 && col("band_idx") < 2)
      .localCheckpoint()
      .write.mode("append").partitionBy(Dedup.LshBandBucketCol)
      .parquet(bPath)
    def probe() = Dedup.minhashAgainstIndex(fresh, idx, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toList
    val before = probe()
    Dedup.compactRefIndex(spark, idx)
    val after = probe()
    assert(after === before && after.nonEmpty,
      "compaction changed probe answers")
    // and both equal the from-scratch recompute (absolute anchor, not
    // just before/after relative)
    val want = Dedup.minhashAgainst(fresh, ref, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toList
    assert(after === want)
    // physical contract: ONE file per bucket directory in both
    // relations (build=1 + append=1 + dup-append made it 2-3 before)
    val shFiles = filesPerDir(shPath)
    val bFiles = filesPerDir(bPath)
    assert(shFiles.nonEmpty && shFiles.values.max <= 1, s"shingles: $shFiles")
    assert(bFiles.nonEmpty && bFiles.values.max <= 1, s"bands: $bFiles")
    // the duplicate rows are physically gone, not just probe-masked
    Seq(shPath, bPath).foreach { pth =>
      val df = spark.read.parquet(pth)
      assert(df.count() == df.distinct().count(),
        s"$pth still holds duplicate rows after compact")
    }
    // staging directories cleaned up
    val leftover = new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.endsWith(".compacting"))
    assert(leftover.isEmpty, s"staging left behind: ${leftover.toList}")
  }

  test("deleteFromRefIndex: tombstoned docs answer as a rebuild on the " +
      "survivors; compact applies the tombstones physically") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsht").toString
    val idx = s"$tmp/idx"
    val ref = docs.filter(col("doc_id") % 5 === 0)
    val fresh = docs.filter(col("doc_id") % 5 =!= 0)
    Dedup.buildRefIndex(ref, "doc_id", "text", idx, nBuckets = 8)
    Dedup.deleteFromRefIndex(spark, idx,
      ref.filter(col("doc_id") % 10 === 0).select(col("doc_id")))
    def probe() = Dedup.minhashAgainstIndex(fresh, idx, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toList
    // the contract: delete-at-rest ≡ rebuild on the survivors
    val survivors = ref.filter(col("doc_id") % 10 =!= 0)
    val want = Dedup.minhashAgainst(fresh, survivors, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toList
    val afterDelete = probe()
    assert(afterDelete === want && want.nonEmpty)
    // and strictly fewer matches than the undeleted index would give
    // (the fixture plants near-dups across the %10 boundary)
    val allRef = Dedup.minhashAgainst(fresh, ref, "doc_id", "text")
      .agg(sum(col("n_ref_dups"))).head().getLong(0)
    assert(afterDelete.map(_._2).sum < allRef,
      "deleting half the ref slice should lose some matches")
    // compact pays the tombstone debt physically: dir gone, rows gone,
    // probe identical
    Dedup.compactRefIndex(spark, idx)
    assert(!new java.io.File(s"$idx/${Dedup.LshTombstoneDir}").exists(),
      "tombstone dir should disappear on compact")
    val deadRows = spark.read.parquet(s"$idx/${Dedup.LshBandsDir}")
      .filter(col("__rid") % 10 === 0).count()
    assert(deadRows == 0, s"tombstoned band rows survived compact: $deadRows")
    assert(probe() === want, "probe changed across compact")
  }
}
