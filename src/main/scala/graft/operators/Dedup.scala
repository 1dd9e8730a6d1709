package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.sqDist

/** Near-duplicate detection operators for LLM-data pipelines (north-star
  * surface, SURVEY.md §2B): exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-distance near-dup.
  *
  * Scale design: every operator is BLOCKED — candidate pairs come from an
  * equi-join on a blocking key (band hash, shared shingle, label/cluster),
  * never from a cross join. At 100 TB the shuffle is on the blocking key;
  * skew in hot keys is handled by AQE skew-join splitting.
  */
object Dedup {

  /** Exact dedup on a key set: keep the smallest id per duplicate group.
    * One hash-shuffle on the keys — the only correct-and-cheap exact dedup
    * at scale (dropDuplicates is the same plan without the winner rule). */
  def exactByKey(df: DataFrame, keys: Seq[String], idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Frequency capping: keep at most `maxCopies` rows per key group
    * (smallest ids win) — the softer dedup used when duplicate frequency
    * is itself signal (keep 2 copies of a popular page, not 40k). Same
    * one-shuffle shape as exactByKey; exactByKey == capByKey(…, 1). */
  def capByKey(df: DataFrame, keys: Seq[String], idCol: String,
               maxCopies: Int): DataFrame = {
    require(maxCopies >= 1, "maxCopies >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxCopies).drop("__rn")
  }

  /** One-pass duplication stats for a 100 TB corpus triage: exact row
    * count + HLL distinct estimate (relativeSD-tunable) → estimated dup
    * rate, without the exact-distinct shuffle. The decision input for
    * "is near-dedup worth running on this source". */
  def dupStats(df: DataFrame, keys: Seq[String],
               relativeSD: Double = 0.02): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      approx_count_distinct(concat_ws("\u0000", keys.map(col): _*),
        relativeSD).as("n_distinct_est"))
      .withColumn("dup_rate_est",
        round(lit(1.0) - col("n_distinct_est") / col("n_rows"), 6))

  /** Word n-gram shingles per document: (id, shingle) rows, WITH duplicate
    * occurrences (callers that need set semantics deduplicate — min-style
    * aggregations like MinHash don't need to, saving a shuffle).
    * Documents with fewer than n tokens yield no shingles.
    *
    * The token array is materialized in its own projection first: inlining
    * `split(text)` into the transform lambda would re-evaluate the regex
    * split for every element_at call (O(shingles × text-length) redundant
    * work — measured 3-4× the whole operator's runtime). CollapseProject
    * keeps the alias because split is non-cheap and multiply-referenced. */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 3, repartitionById: Boolean = true): DataFrame = {
    val toks = col("__toks")
    // element_at is 1-based; sequence(1, size-n+1) enumerates shingle starts.
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))
    val narrow = docs.select(col(idCol), col(textCol))
    // Shingling is CPU-bound per row; spread rows across all cores even
    // when the input is one small parquet row group (compute parallelism
    // must not be coupled to input file layout). At 100 TB the scan is
    // already wide and this shuffle of the narrow (id, text) projection
    // is noise next to the explode it feeds. Callers that immediately
    // re-partition the exploded output by another key (the Jaccard path
    // partitions by shingle hash) pass false and skip this exchange:
    // it also keeps minhashSignatures' groupBy(id) exchange-free.
    // EXPLICIT width: AQE prices this exchange by its compressed (id,
    // text) bytes and would coalesce it to 1-3 tasks at fixture scale —
    // serializing the split+explode+hash CPU that runs on top of it
    // (measured: 2.6 s single-task md5 stage in an index build). The
    // pinned width tracks the session's data-sized knob (sessionWidth).
    val spread = if (repartitionById)
      narrow.repartition(sessionWidth(docs.sparkSession), col(idCol))
    else narrow
    spread
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .filter(size(toks) >= n) // sequence(1,0) would count DOWN in Spark
      .select(col(idCol), explode(grams).as("shingle"))
  }

  /** Exact n-gram Jaccard similarity join: pairs (a, b), a < b, with
    * |shingles(a) ∩ shingles(b)| / |union| >= minJaccard.
    * Blocking = the shingle equi-join itself: only documents sharing at
    * least one shingle are ever paired. Word-3-grams are selective enough
    * that non-duplicates rarely collide (unlike char-3-grams, which would
    * pair everything through common trigrams). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minJaccard: Double = 0.5,
                        maxShingleDf: Int = 1000): DataFrame = {
    require(maxShingleDf >= 2,
      "maxShingleDf >= 2: a shingle held by one document can never pair")
    // Shuffle/join on a 64-bit shingle hash instead of the string: ~10×
    // smaller exchange and cheaper equi-join probes. Distinct-shingle
    // semantics are preserved (xxhash64 collisions: ~(n_shingles)²/2⁶⁴,
    // negligible and deterministic). The (id, hash) relation is persisted:
    // it feeds both sides of the self-join and the sizes aggregate, and
    // would otherwise be recomputed (explode + distinct) three times. At
    // 100 TB this intermediate is written to scratch storage instead; its
    // size is O(total distinct shingles). Set sizes are attached AFTER the
    // pair aggregation via a doc-count-sized join, so the wide self-join
    // carries only (id, hash) and no window shuffle is needed. The sizes
    // and hot-shingle joins carry NO broadcast hint: the sizes table is
    // one row per DOCUMENT and the hot list up to |corpus|/maxShingleDf
    // rows — neither is metadata-sized at billions of docs, and a forced
    // broadcast there is a driver-OOM/8 GB-limit failure, not a slowdown.
    // AQE broadcasts them whenever their runtime size actually fits
    // (verified at bench scale) and falls back to a shuffle join when it
    // doesn't — the only behavior that survives a 1000× scale-up.
    // One exchange serves three operators: hash-partitioning by shingle
    // satisfies the distinct's clustering requirement AND both probe sides
    // of the self-join (persisted plans keep their outputPartitioning), so
    // after this repartition the distinct and the join are exchange-free.
    shinglePairCounts(docs, idCol, textCol, n, maxShingleDf)
      .withColumn("jaccard",
        round(col("c") / (col("na") + col("nb") - col("c")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Shared core of the exact n-gram pair measures: blocked self-join pair
    * intersection counts with both set sizes attached — (a, b, c, na, nb),
    * a < b. All the scale machinery documented on ngramJaccardPairs lives
    * here; the public faces differ only in the scalar they derive. */
  private def shinglePairCounts(docs: DataFrame, idCol: String,
                                textCol: String, n: Int,
                                maxShingleDf: Int): DataFrame = {
    val all = CacheScope.register(
      shingles(docs, idCol, textCol, n, repartitionById = false)
        .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
        .repartition(col("shingle"))
        .distinct() // set semantics, on cheap (id, long) rows
        .persist())
    // Document-frequency cap — the scale guard for this operator. A shingle
    // shared by m documents emits m² pair rows from the self-join; at corpus
    // scale boilerplate n-grams ("all rights reserved") have m in the
    // millions → one reducer gets 10¹² rows. Shingles with df > maxShingleDf
    // carry ~zero Jaccard signal (they discriminate nothing), so they are
    // dropped from BOTH the intersection and the set sizes: the measure
    // becomes the exact Jaccard over informative shingles. The anti-join
    // on the hot list is shingle-keyed, so it rides the same partitioning
    // as the joins below (AQE broadcasts it when small — see the hint
    // note above). The groupBy is exchange-free: `all` is already
    // hash-partitioned by shingle. The default is a no-op below 1000
    // documents sharing a shingle (and thus provably a no-op on
    // validation fixtures smaller than that).
    val hot = all.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxShingleDf).select(col("shingle"))
    val sh = all.join(hot, Seq("shingle"), "left_anti")
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(idCol).as("a"), col("shingle"))
    val b = sh.select(col(idCol).as("b"), col("shingle"))
    a.join(b, Seq("shingle")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.select(col(idCol).as("a"), col("n_sh").as("na")), Seq("a"))
      .join(sizes.select(col(idCol).as("b"), col("n_sh").as("nb")), Seq("b"))
  }

  /** n-gram CONTAINMENT pairs — the asymmetric twin of ngramJaccardPairs
    * for subset duplication: C = |A∩B| / min(|A|, |B|), i.e. the fraction
    * of the SMALLER document's shingles the pair shares. A short document
    * quoted whole inside a long one has near-1 containment but tiny
    * Jaccard (the union is dominated by the long side) — the
    * quote-expansion / boilerplate-wrapper duplicates a symmetric measure
    * structurally cannot catch (Broder's resemblance-vs-containment
    * distinction).
    *
    * Identical plan physics to ngramJaccardPairs (same shingle-hash
    * blocking, df cap, one exchange serving distinct + both join sides —
    * see that scaladoc); only the final scalar differs. */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, minContainment: Double = 0.8,
                            maxShingleDf: Int = 1000): DataFrame = {
    require(maxShingleDf >= 2,
      "maxShingleDf >= 2: a shingle held by one document can never pair")
    shinglePairCounts(docs, idCol, textCol, n, maxShingleDf)
      .withColumn("containment",
        round(col("c") / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= minContainment)
      .select(col("a"), col("b"), col("containment"))
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (the AllPairs /
    * PPJoin family — Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06):
    * the same result set as [[ngramJaccardPairs]] with `maxShingleDf`
    * disabled, but candidates come from a rarest-shingle prefix join
    * instead of every shared shingle. This is the EXACT scale path when
    * the df-cap approximation is unacceptable: no shingle is dropped
    * from the measure, yet boilerplate n-grams shared by millions of
    * documents never generate candidates because they sort to the END of
    * the frequency order and fall outside every prefix.
    *
    * Order shingles by global rarity (df asc, hash asc — any consistent
    * total order preserves exactness; rarity order minimizes candidates).
    * A document with s shingles keeps a prefix of its
    * `s - ceil(t*s) + 1` rarest. Losslessness: let w be the globally
    * smallest element of A∩B under the order. If w were outside A's
    * prefix, A∩B would fit inside A's suffix of `ceil(t*|A|) - 1 < t*|A|`
    * elements — but J >= t forces `|A∩B| >= t*|A|`. Contradiction; so w
    * lies in BOTH prefixes and the prefix-prefix equi-join finds every
    * qualifying pair. A length filter (`min >= t*max`, implied by
    * J >= t) prunes candidates before verification.
    *
    * Plan: the df table is a shingle-keyed aggregate riding the same
    * hash partitioning as the distinct; prefixes come from one
    * groupBy(doc) (per-doc sort is document-sized, never a global sort —
    * the global ORDER is (df, hash) compared lexicographically, so no
    * dense-rank shuffle exists); candidates from one prefix-prefix
    * equi-join, thinned in-stream by the PPJoin positional filter
    * (Xiao et al. WWW'08 — see the inline proof at the join) before
    * any exchange; verification joins only candidate docs' full shingle
    * sets. Same caveat as the hashed Jaccard path: a 64-bit hash
    * collision could merge two shingles (negligible, deterministic). */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, minJaccard: Double = 0.5,
                         candRowsPerPartition: Long = 0L): DataFrame = {
    val (all, cands) = prefixJaccardCore(docs, idCol, textCol, n,
      minJaccard, candRowsPerPartition)
    // Verify: exact intersection count over the candidates' full sets.
    val c = cands
      .join(all.select(col(idCol).as("a"), col("shingle")), Seq("a"))
      .join(all.select(col(idCol).as("b"), col("shingle")),
        Seq("b", "shingle"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("c"))
    c.withColumn("jaccard",
        round(col("c") / (col("na") + col("nb") - col("c")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** The pre-verification candidate relation of [[prefixJaccardPairs]]
    * — the stream whose volume decides the operator's scale posture.
    * Exposed for the candidate-LINEARITY spec: on disjoint corpus
    * growth (k alphabet-disjoint copies) the positional filter keeps
    * this stream exactly k-linear, which is the per-node-regime bound
    * the 100 TB argument rests on. */
  private[graft] def prefixJaccardCandidates(docs: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      minJaccard: Double = 0.5): DataFrame =
    prefixJaccardCore(docs, idCol, textCol, n, minJaccard, 0L)._2

  private def prefixJaccardCore(docs: DataFrame, idCol: String,
                                textCol: String, n: Int,
                                minJaccard: Double,
                                candRowsPerPartition: Long)
      : (DataFrame, DataFrame) = {
    require(minJaccard > 0 && minJaccard <= 1, "minJaccard in (0, 1]")
    val all = CacheScope.register(
      shingles(docs, idCol, textCol, n, repartitionById = false)
        .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
        .repartition(col("shingle"))
        .distinct()
        .persist())
    // Global rarity per shingle — exchange-free on `all`'s partitioning.
    val dfTab = all.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    // Per-doc shingles in global (df, hash) order; prefix slice. The
    // collect_list is document-sized (shingle count of one doc) — the
    // same per-row bound every chunking operator here relies on.
    val ordered = all.join(dfTab, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__df"), col("shingle"))))
        .as("__sorted"))
      .select(col(idCol),
        size(col("__sorted")).as("__n"),
        col("__sorted"))
    val prefixLen = (size(col("__sorted"))
      - ceil(lit(minJaccard) * size(col("__sorted"))).cast("int") + 1)
    val prefix = CacheScope.register(ordered
      .select(col(idCol), col("__n"),
        posexplode(slice(col("__sorted"), lit(1), prefixLen)))
      .select(col(idCol), col("__n"), col("pos").as("__i"),
        col("col.shingle").as("shingle"))
      .persist())
    // Candidate pairs: shared prefix shingle + length filter + the
    // PPJoin POSITIONAL filter. A match at 0-based sorted-array
    // position i in A and j in B bounds the true overlap: every common
    // shingle other than this one is strictly LATER in the global
    // (df, hash) order in both documents, so c <= 1 + min(na-i-1,
    // nb-j-1). J >= t forces c >= t(na+nb)/(1+t); a matching row whose
    // positional bound can't reach that is dead weight. Lossless: a
    // qualifying pair's globally-smallest common shingle w* lies in
    // both prefixes (the prefix proof above) and AT w* the bound holds
    // (all c-1 other common shingles are later than w* in both), so at
    // least that row survives into the DISTINCT. This is what keeps
    // the candidate stream disk-bounded at scale: boilerplate shingles
    // sit at the END of prefixes (rarity order), where na-i-1 is small
    // and the bound kills their df^2 match block before the exchange —
    // measured at x100: the unfiltered join spilled past a 66 GB disk,
    // the filtered one completes. The 1e-6 slack keeps the double
    // rounding of t/(1+t) from ever discarding a boundary candidate
    // (sizes ~1e5 max, so the slack admits no integer below the bound).
    // DISTINCT before verification — a pair can collide on several
    // prefix shingles and must be verified once.
    // OPT-IN SIZED EXCHANGE (candRowsPerPartition > 0): the join's
    // per-task candidate block is the match-block sum of its task's
    // shingles (Σ c·(c−1)/2 over prefix occurrences c), quadratic in
    // shingle popularity while the session's initial width is sized
    // for linear scan bytes — and AQE can only coalesce DOWN. The
    // estimate prices that sum per shingle and repartitions both join
    // sides to the derived width (no extra exchange: the join reuses
    // the repartition; the DISTINCT's map-side partial aggregate stays
    // inside the sized join tasks). OFF BY DEFAULT, measured reason:
    // unlike the IVF path (whose occupancy stats ride an aggregate it
    // must run anyway), this estimate is a full pre-scan of the
    // prefix relation — it serializes the cache fill that otherwise
    // pipelines into the join's own map stage, and at ×100 the stats
    // action cost 1.6× the whole query (355 s vs 219 s) while the
    // same-window width sweep put the session width at the optimum
    // anyway (64: 225 s, 256: 366 s session-wide). The 100 TB posture
    // is the per-node-regime argument instead, pinned by the
    // candidate-linearity spec (DedupSpec): the positional filter
    // keeps the candidate stream LINEAR in disjoint corpus growth, so
    // a real executor's share at fixed per-node data stays in the
    // measured linear regime — the ×100 single-box overshoot is spill
    // past one box's memory, not a scaling defect of the plan.
    val candEst =
      if (candRowsPerPartition <= 0L) 0L
      else prefix.groupBy(col("shingle"))
        .agg(count(lit(1)).as("__c"))
        .agg(coalesce(sum(col("__c") * (col("__c") - 1L)), lit(0L)))
        .head().getLong(0) / 2L
    val w = candidateWidth(docs.sparkSession, candEst,
      candRowsPerPartition, tag = "prefix-jaccard")
    def sized(df: DataFrame): DataFrame =
      w.map(df.repartition(_, col("shingle"))).getOrElse(df)
    val cands = sized(prefix.select(col(idCol).as("a"),
        col("__n").as("na"), col("__i").as("__ia"), col("shingle")))
      .join(sized(prefix.select(col(idCol).as("b"), col("__n").as("nb"),
        col("__i").as("__ib"), col("shingle"))), Seq("shingle"))
      .filter(col("a") < col("b"))
      .filter(least(col("na"), col("nb"))
        >= lit(minJaccard) * greatest(col("na"), col("nb")))
      .filter((lit(1.0) + least(col("na") - col("__ia") - 1,
        col("nb") - col("__ib") - 1)) * lit(1.0 + minJaccard)
        >= lit(minJaccard) * (col("na") + col("nb")) - lit(1e-6))
      .select(col("a"), col("b"), col("na"), col("nb"))
      .distinct()
    (all, cands)
  }

  /** Rarity-WEIGHTED Jaccard similarity join: pairs scored by
    * Σ_shared w(s) / (W_a + W_b − Σ_shared w(s)) with w(s) a fixed-point
    * inverse-document-frequency weight — shared rare shingles count for
    * far more than shared boilerplate, the standard fix for plain
    * Jaccard's blindness to shingle informativeness (the idf-weighted
    * set-similarity family; weighted minhash approximates exactly this
    * measure at scale).
    *
    * Engine-portable weighting: w = floor(N·1000 / df) as a LONG
    * (N = documents with ≥1 shingle) — the idf family's 1/df core
    * WITHOUT a transcendental: ln is not guaranteed identically rounded
    * across engines, but integer-valued floor division provably is
    * (operands exact in doubles, quotient's fractional part ≥ 1/df
    * bounds it away from the floor boundary). Integer weight SUMS are
    * then exact, the final ratio is one double division rounded to 6 —
    * the same determinism contract as every integer-sum score here.
    *
    * Plan physics identical to [[ngramJaccardPairs]] (same one-exchange
    * shingle spine, df cap for the m² guard); the df table is computed
    * once and serves both the cap and the weights. */
  def weightedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, minSim: Double = 0.3,
                           maxShingleDf: Int = 1000): DataFrame = {
    require(maxShingleDf >= 2,
      "maxShingleDf >= 2: a shingle held by one document can never pair")
    val all = CacheScope.register(
      shingles(docs, idCol, textCol, n, repartitionById = false)
        .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
        .repartition(col("shingle"))
        .distinct()
        .persist())
    val dfTab = all.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val nDocs = all.select(col(idCol)).distinct().count()
    // fixed-point inverse-df weight; the df cap drops hot shingles from
    // BOTH the weights and the sizes (the ngramJaccardPairs contract)
    val keep = dfTab.filter(col("__df") <= maxShingleDf)
      .withColumn("__w",
        floor(lit(nDocs * 1000.0) / col("__df")).cast("long"))
      .select(col("shingle"), col("__w"))
    val sh = CacheScope.register(
      all.join(keep, Seq("shingle")).persist())
    val sizes = sh.groupBy(col(idCol)).agg(sum(col("__w")).as("__tw"))
    val a = sh.select(col(idCol).as("a"), col("shingle"), col("__w"))
    val b = sh.select(col(idCol).as("b"), col("shingle"))
    a.join(b, Seq("shingle")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("__w")).as("__s"))
      .join(sizes.select(col(idCol).as("a"), col("__tw").as("__wa")),
        Seq("a"))
      .join(sizes.select(col(idCol).as("b"), col("__tw").as("__wb")),
        Seq("b"))
      .withColumn("wjaccard", round(
        col("__s") / (col("__wa") + col("__wb") - col("__s")), 6))
      .filter(col("wjaccard") >= minSim)
      .select(col("a"), col("b"), col("wjaccard"))
  }

  /** Edit-distance (Levenshtein <= maxDist) self-join on a fixed-width
    * key prefix — the fuzzy-matching face of dedup, for titles / URLs /
    * short fields where token-set measures are too coarse (one-character
    * typos keep Jaccard near 1 only for long docs; a 12-char field with
    * one edit drops below any useful shingle threshold).
    *
    * Candidates come from the PassJoin-style segment pigeonhole (Li,
    * Deng, Feng — SIGMOD'11 family): the key (first `keyLen` chars,
    * space-padded so every string has identical length) is cut into
    * maxDist+1 contiguous segments; an edit script of <= maxDist
    * operations must leave SOME segment untouched, and that segment
    * appears verbatim in the partner at a start offset shifted by at
    * most maxDist (the net insert/delete drift of the preceding edits).
    * So: side A emits each of its k+1 exact segments; side B emits every
    * substring of the same length whose start lies within ±maxDist of
    * that segment's home position; the (segment-index, gram) equi-join
    * is a provably lossless candidate generator, and builtin
    * `levenshtein` verifies candidates exactly. Fixed-width keys make
    * the segment grid global — no per-length index families.
    *
    * Scale: per string O(maxDist²) window grams — linear blowup, one
    * equi-join, no all-pairs anywhere; 10+-char segments are selective.
    *
    * HOT-PREFIX REFINEMENT: real corpora have boilerplate prefixes
    * ("Subject: Re: ", page templates — at sf10, 3% of documents
    * sharing one 10-char segment put 267M pairs through one bucket's
    * join), where candidates are m² but TRUE matches usually are not —
    * an exact method need not pay the quadratic join. Buckets over
    * `maxSegBucket` A-rows re-apply the SAME pigeonhole one level down:
    * every member of bucket (i, g) contains g verbatim, and for any
    * true pair found via an edit script preserving segment i, the
    * script maps prefix→prefix and suffix→suffix with total cost ≤
    * maxDist — so the COMPLEMENTS (key with the matched region removed;
    * all of identical length, the windows are fixed-width) are
    * themselves within maxDist, and the segment lemma applies to them
    * verbatim. Side A emits its complement's maxDist+1 sub-segments,
    * side B a ±maxDist drift window per sub-segment, the hot join keys
    * on (seg, gram, subseg, subgram), and a pair whose guaranteed
    * bucket is hot surfaces through the sub-join (cold buckets are
    * untouched — at fixture scale no bucket is hot and the plan is
    * unchanged). Lossless by the same lemma at both levels;
    * verification is unchanged. DedupSpec pins brute-force parity on a
    * forced-hot-prefix corpus. */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDist: Int = 2, keyLen: Int = 32,
                        maxSegBucket: Int = 1024): DataFrame = {
    require(maxDist >= 1, "maxDist >= 1 (use exactByKey for 0)")
    require(keyLen >= 2 * (maxDist + 1),
      "keyLen too small for maxDist+1 non-trivial segments")
    require(maxSegBucket >= 2, "maxSegBucket >= 2")
    val keyed = CacheScope.register(docs
      .select(col(idCol),
        rpad(substring(col(textCol), 1, keyLen), keyLen, " ").as("__key"))
      .persist())
    // Segment grid: maxDist+1 near-equal cuts of [0, keyLen).
    val nSeg = maxDist + 1
    val bounds = (0 until nSeg).map { i =>
      val s0 = i * keyLen / nSeg
      (i, s0, (i + 1) * keyLen / nSeg - s0) // (segIdx, start0, len)
    }
    val segs = bounds.map { case (i, s0, l) =>
      keyed.select(col(idCol).as("a"), lit(i).as("__seg"),
        substring(col("__key"), s0 + 1, l).as("__gram"))
    }.reduce(_ union _)
    val wins = bounds.flatMap { case (i, s0, l) =>
      (-maxDist to maxDist).flatMap { d =>
        val st = s0 + d
        if (st < 0 || st + l > keyLen) None
        else Some(keyed.select(col(idCol).as("b"), lit(i).as("__seg"),
          substring(col("__key"), st + 1, l).as("__gram")))
      }
    }.reduce(_ union _).distinct() // shifts can coincide on repeated text
    // Saturated (seg, gram) buckets — metadata-sized (ONLY over-cap
    // keys), broadcast to both sides. Empty at fixture scale: the one
    // added job is this count's scan of the A-side emission.
    val hotKeys = CacheScope.register(segs
      .groupBy(col("__seg"), col("__gram"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxSegBucket)
      .select(col("__seg"), col("__gram"))
      .persist())
    val anyHot = hotKeys.limit(1).count() > 0
    val coldCands = (if (anyHot)
        segs.join(broadcast(hotKeys), Seq("__seg", "__gram"), "left_anti")
      else segs)
      .join(wins, Seq("__seg", "__gram"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
    val cands = (if (anyHot)
        coldCands.unionByName(hotCandsEdit(keyed, idCol, hotKeys, bounds,
          maxDist, keyLen))
      else coldCands)
      .distinct()
    cands
      .join(keyed.select(col(idCol).as("a"), col("__key").as("__ka")),
        Seq("a"))
      .join(keyed.select(col(idCol).as("b"), col("__key").as("__kb")),
        Seq("b"))
      .withColumn("dist", levenshtein(col("__ka"), col("__kb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
  }

  /** The hot-bucket arm of [[editDistancePairs]]: candidates for pairs
    * whose guaranteed segment match falls in a saturated (seg, gram)
    * bucket, via the segment pigeonhole applied to the COMPLEMENT (the
    * key with the matched window removed — fixed-length, so the sub-grid
    * is global per segment). Side A emits its complement's maxDist+1
    * sub-segments (exploded map-side AFTER the broadcast semi-join on
    * the hot keys, so cold rows never fan out); side B emits a ±maxDist
    * drift window per sub-segment of each window position's complement.
    * Join key: (seg, gram, subseg, subgram) — the hot gram stays IN the
    * key, so sub-buckets only subdivide their parent. If the sub-bucket
    * is still saturated the join is honestly quadratic — that corpus
    * shares both the segment AND a complement sub-segment, where true
    * pairs are dense; one refinement level multiplies selectivity by
    * the sub-gram's ~|Σ|^7 and needs no recursion in practice. */
  private def hotCandsEdit(keyed: DataFrame, idCol: String,
                           hotKeys: DataFrame,
                           bounds: Seq[(Int, Int, Int)],
                           maxDist: Int, keyLen: Int): DataFrame = {
    val nSeg = maxDist + 1
    def comp(st: Int, l: Int): Column = concat(
      substring(col("__key"), 1, st),
      substring(col("__key"), st + l + 1, keyLen - st - l))
    def subBounds(cl: Int) = (0 until nSeg).map { j =>
      val t0 = j * cl / nSeg
      (j, t0, (j + 1) * cl / nSeg - t0)
    }
    def project(side: String, subs: Column)(base: DataFrame): DataFrame =
      base.select(col(side), col("__seg"), col("__gram"),
          explode(subs).as("__s"))
        .select(col(side), col("__seg"), col("__gram"),
          col("__s.__sub").as("__sub"),
          col("__s.__subgram").as("__subgram"))
    val aSide = bounds.map { case (i, s0, l) =>
      val cl = keyLen - l
      val subs = array(subBounds(cl).map { case (j, t0, tl) =>
        struct(lit(j).as("__sub"),
          substring(col("__comp"), t0 + 1, tl).as("__subgram"))
      }: _*)
      project("a", subs)(keyed
        .select(col(idCol).as("a"), lit(i).as("__seg"),
          substring(col("__key"), s0 + 1, l).as("__gram"),
          comp(s0, l).as("__comp"))
        .join(broadcast(hotKeys), Seq("__seg", "__gram"), "left_semi"))
    }.reduce(_ unionByName _)
    val bSide = bounds.flatMap { case (i, s0, l) =>
      val cl = keyLen - l
      (-maxDist to maxDist).flatMap { d =>
        val st = s0 + d
        if (st < 0 || st + l > keyLen) None
        else Some {
          val subs = array(subBounds(cl).flatMap { case (j, t0, tl) =>
            (-maxDist to maxDist).flatMap { e =>
              val u0 = t0 + e
              if (u0 < 0 || u0 + tl > cl) None
              else Some(struct(lit(j).as("__sub"),
                substring(col("__comp"), u0 + 1, tl).as("__subgram")))
            }
          }: _*)
          project("b", subs)(keyed
            .select(col(idCol).as("b"), lit(i).as("__seg"),
              substring(col("__key"), st + 1, l).as("__gram"),
              comp(st, l).as("__comp"))
            .join(broadcast(hotKeys), Seq("__seg", "__gram"), "left_semi"))
        }
      }
    }.reduce(_ unionByName _).distinct() // windows can coincide
    aSide.join(bSide, Seq("__seg", "__gram", "__sub", "__subgram"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
  }

  /** Two-snapshot corpus diff by content fingerprint: one row per doc id
    * present in either version, status ∈ {added, removed, changed,
    * unchanged}. The dataset-versioning primitive — what changed between
    * two crawls / two pipeline runs — as one full-outer join on the id
    * with scan-speed md5 fingerprints; co-partitioned snapshots at rest
    * diff with zero shuffle. */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val a = v1.select(col(idCol), md5(col(textCol)).as("__f1"))
    val b = v2.select(col(idCol), md5(col(textCol)).as("__f2"))
    a.join(b, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__f1").isNull, "added")
          .when(col("__f2").isNull, "removed")
          .when(col("__f1") === col("__f2"), "unchanged")
          .otherwise("changed"))
      .select(col(idCol), col("status"))
  }

  /** Cross-source duplication matrix: the verified near-dup pair
    * relation aggregated up to (source_a, source_b) — "which sources
    * copy from each other", the licensing-provenance / crawl-overlap
    * report that decides which source to drop when corpora overlap.
    * Pair sources are normalized unordered (least, greatest) so A→B
    * and B→A land in one cell; within-source duplication is the
    * diagonal. max_jaccard rides along (max is merge-order-independent
    * over the exact-ratio doubles); n_pairs is the signal.
    *
    * Scale: the pair relation is output-sized (q19's df-capped blocked
    * plan does the heavy lifting); the two provenance lookups join the
    * pairs on id against the narrow (id, source) projection — AQE
    * broadcasts the pair side when it fits, and the final matrix is
    * |sources|²-bounded. */
  def sourceOverlapMatrix(docs: DataFrame, idCol: String, textCol: String,
                          sourceCol: String, n: Int = 3,
                          minJaccard: Double = 0.5,
                          maxShingleDf: Int = 1000): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, n, minJaccard,
      maxShingleDf)
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("__ia"), col(sourceCol).as("__sa")),
        col("a") === col("__ia"))
      .join(src.select(col(idCol).as("__ib"), col(sourceCol).as("__sb")),
        col("b") === col("__ib"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"),
        col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** MinHash signature columns mh0..mh{k-1}: per document, the minimum over
    * word n-gram shingles of a keyed md5 prefix. Hash family =
    * md5(shingle + "#" + i) — deterministic, engine-portable (md5 is
    * identical everywhere), and a fixed-width lowercase-hex prefix so
    * lexicographic MIN == numeric MIN. Shingles (not unigrams) because the
    * Jaccard being estimated must be the shingle-set Jaccard: unigram
    * vocabularies overlap heavily between any two same-language documents.
    * One groupBy(doc) with k min-aggregates — single shuffle. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, shingleN: Int = 3): DataFrame =
    minhashSignaturesFromShingles(
      shingles(docs, idCol, textCol, shingleN), idCol, k)

  /** [[minhashSignatures]] from an already-exploded (id, shingle)
    * relation — the seam that lets one shingling pass feed BOTH the
    * signature build and the distinct-hashed-shingle relation when a
    * caller needs both (the saved-index verbs, the probe): the
    * split+explode scan is the shared upstream cost, the md5 min-agg
    * and the xxhash64 distinct are the cheap divergent tails. */
  private[graft] def minhashSignaturesFromShingles(sh: DataFrame,
                                                   idCol: String,
                                                   k: Int): DataFrame = {
    // 4 independent-enough 32-bit hashes per md5 call (8 hex chars each
    // from the 32-char digest) — quarters the hashing work per shingle.
    val digests = (0 until (k + 3) / 4).map { d =>
      md5(concat(col("shingle"), lit(s"#$d"))).as(s"__h$d")
    }
    val hashed = sh.select(col(idCol) +: digests: _*)
    val aggs = (0 until k).map { i =>
      min(substring(col(s"__h${i / 4}"), (i % 4) * 8 + 1, 8)).as(s"mh$i")
    }
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band columns over a minhashSignatures output: (k/rowsPerBand)
    * (band_idx, band_val) structs — the ONE definition both the
    * self-join (minhashCandidates) and cross-corpus (minhashAgainst)
    * blockers band with, so their collision semantics cannot drift. */
  private def lshBands(idCol: String, k: Int, rowsPerBand: Int)
      : (DataFrame => DataFrame) = { sig =>
    val nBands = k / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band_idx"), concat(parts: _*).as("band_val"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_val"))
  }

  /** MinHash-LSH candidate pairs: band the k-hash signature into
    * (k / rowsPerBand) bands; documents agreeing on ANY band are candidates.
    * The band equi-join is the blocking step: cost is O(collisions), never
    * O(n²). Returns distinct (a, b), a < b. Verify candidates with
    * ngramJaccardPairs (or any exact measure) downstream. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, rowsPerBand: Int = 2,
                        shingleN: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    require(maxBucketSize >= 2, "maxBucketSize >= 2: a 1-doc bucket never pairs")
    val sig = minhashSignatures(docs, idCol, textCol, k, shingleN)
    // Persisted: both sides of the self-join read it — without this the
    // whole shingle → md5 → min-agg pipeline executes twice. The banded
    // relation is nBands rows per DOCUMENT (not per shingle), orders of
    // magnitude smaller than the corpus; at 100 TB it goes to scratch
    // storage instead of memory, same plan shape.
    val banded = CacheScope.register(
      lshBands(idCol, k, rowsPerBand)(sig).persist())
    // Bucket-size cap, same scale guard as ngramJaccardPairs' df cap: a
    // band bucket of m documents yields m² candidate rows. Giant buckets
    // come from degenerate signatures (empty/near-empty documents all
    // minimizing to the same hash) and from true mega-duplicate groups —
    // for the latter, exact dedup upstream is the right tool; LSH pairing
    // inside a million-doc bucket is never. The hot-bucket anti-join has
    // NO broadcast hint: the list is usually tiny but its size is
    // data-dependent (it can reach |corpus|·nBands/maxBucketSize rows on
    // a pathological corpus), so AQE picks broadcast-vs-shuffle from the
    // runtime size instead of a hint that fails at the tail. Default cap
    // is a no-op below 1000 docs per bucket.
    val hot = banded.groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("__m")).filter(col("__m") > maxBucketSize)
      .select(col("band_idx"), col("band_val"))
    val kept = banded.join(hot, Seq("band_idx", "band_val"), "left_anti")
    val l = kept.select(col(idCol).as("a"), col("band_idx"), col("band_val"))
    val r = kept.select(col(idCol).as("b"), col("band_idx"), col("band_val"))
    l.join(r, Seq("band_idx", "band_val"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Cross-corpus near-dedup: which FRESH documents near-duplicate any
    * REFERENCE document — the incremental-crawl question ("what of this
    * batch do we already have?"), asked before fresh data joins a 100 TB
    * corpus. Same MinHash-LSH blocking + exact-Jaccard verification as
    * the self-join pair (minhashCandidates → ngramJaccardPairs), but the
    * band join is fresh × ref instead of a self-join, so cost is
    * O(cross-side collisions) and the reference's own internal
    * duplicates are never paired or verified.
    *
    * Scale design: signatures are per-document (each side computed
    * independently, one groupBy each); the band equi-join is the only
    * cross-corpus contact; verification shingles are semi-joined down to
    * candidate documents and folded into one hash set per document
    * (64-bit hashed on the wire, same negligible-collision argument as
    * decontaminate), and each candidate pair intersects its two sets,
    * so non-candidate shingle collisions cost nothing. For a
    * rolling pipeline the ref-side banded relation is a natural
    * artifact to persist between batches (write it once, join every new
    * batch against it) — it is nBands rows per document, not per
    * shingle.
    *
    * @return one row per matched fresh doc: (idCol, n_ref_dups,
    *         max_jaccard) — fresh docs with no match at minJaccard are
    *         absent (anti-join the result against the batch to keep).
    */
  def minhashAgainst(fresh: DataFrame, ref: DataFrame, idCol: String,
                     textCol: String, k: Int = 8, rowsPerBand: Int = 2,
                     shingleN: Int = 3, minJaccard: Double = 0.5,
                     maxBucketSize: Int = 1000): DataFrame = {
    require(maxBucketSize >= 2, "maxBucketSize >= 2: a 1-doc bucket never pairs")
    def banded(docs: DataFrame, out: String): DataFrame =
      lshBands(idCol, k, rowsPerBand)(
        minhashSignatures(docs, idCol, textCol, k, shingleN))
        .withColumnRenamed(idCol, out)
    // Persisted (same reason as minhashCandidates' banded relation):
    // each side is read TWICE — by the hot-bucket count union and as a
    // join probe — and would otherwise re-run its whole shingle → md5 →
    // min-agg signature pipeline per read.
    val bf = CacheScope.register(banded(fresh, "__fid").persist())
    val br = CacheScope.register(banded(ref, "__rid").persist())
    val cands = crossBandCandidates(bf, br, maxBucketSize)
    def candShingles(docs: DataFrame, out: String): DataFrame =
      shingles(docs, idCol, textCol, shingleN, repartitionById = false)
        .select(col(idCol).as(out), xxhash64(col("shingle")).as("__sh"))
        .join(cands.select(col(out)).distinct(), Seq(out), "left_semi")
    crossVerifyTail(cands, candShingles(fresh, "__fid"),
      candShingles(ref, "__rid"), idCol, minJaccard)
  }

  /** The cross-corpus band join: fresh bands × ref bands → distinct
    * (__fid, __rid) candidates, with the combined-membership hot-bucket
    * cap. ONE definition under both the recompute path (minhashAgainst)
    * and the saved-index path (minhashAgainstIndex), so their collision
    * semantics cannot drift.
    *
    * The cap guard (same degenerate-signature story as
    * minhashCandidates, adapted to the cross product): a bucket emits
    * |fresh∩bucket|·|ref∩bucket| candidate rows, so the cap is on the
    * COMBINED membership — both sides must drop the same buckets or the
    * join goes asymmetric. Membership is counted over DISTINCT (side,
    * doc) pairs, not raw rows, so the duplicate band rows the crawl's
    * partial-commit window deliberately tolerates cannot push a
    * borderline bucket over the cap — the threshold decision is
    * set-semantic and therefore crash/replay-invariant (ADVICE r13).
    * On duplicate-free inputs the distinct count equals the row count,
    * so clean-run behavior is unchanged. Default no-op below 1000
    * combined docs per bucket; q68's oracle carries no cap, so the
    * declared-scale hash match also certifies the cap never fired
    * there. */
  private def crossBandCandidates(bf: DataFrame, br: DataFrame,
                                  maxBucketSize: Int): DataFrame = {
    val hot = bf.select(col("band_idx"), col("band_val"),
        col("__fid").as("__doc"), lit(0).as("__side"))
      .unionByName(br.select(col("band_idx"), col("band_val"),
        col("__rid").as("__doc"), lit(1).as("__side")))
      .groupBy(col("band_idx"), col("band_val"))
      .agg(countDistinct(col("__side"), col("__doc")).as("__m"))
      .filter(col("__m") > maxBucketSize)
      .select(col("band_idx"), col("band_val"))
    CacheScope.register(
      bf.join(hot, Seq("band_idx", "band_val"), "left_anti")
        .join(br.join(hot, Seq("band_idx", "band_val"), "left_anti"),
          Seq("band_idx", "band_val"))
        .select(col("__fid"), col("__rid")).distinct().persist())
  }

  /** The exact-Jaccard verification tail shared by minhashAgainst and
    * minhashAgainstIndex: candidate pairs and hashed-shingle relations
    * in, (idCol, n_ref_dups, max_jaccard) out. Expects shF as (__fid,
    * __sh) and shR as (__rid, __sh), already semi-joined to the
    * candidate documents. Each doc's hashes fold into one set, so a
    * repeated (id, hash) row counts once — the crawl's crash window can
    * leave a doc's saved shingle rows doubled (see [[crawlStep]]).
    *
    * Per candidate pair: c = |F ∩ R|, jaccard = c / (|F| + |R| − c),
    * pairs sharing no hash dropped. Scale trade: the work is candidate
    * pairs × per-doc set sizes — every candidate pair intersects its two
    * sets — where a shingle equi-join pays the collisions of EVERY doc
    * pair that shares a shingle, candidate or not, and a hot
    * boilerplate shingle fans out to all pairs of its docs. LSH bounds
    * the candidate pairs; a set is one row per doc on the wire. */
  private def crossVerifyTail(cands: DataFrame, shF: DataFrame,
                              shR: DataFrame, idCol: String,
                              minJaccard: Double): DataFrame = {
    val setsF = shF.groupBy(col("__fid")).agg(collect_set(col("__sh")).as("__f"))
    val setsR = shR.groupBy(col("__rid")).agg(collect_set(col("__sh")).as("__r"))
    cands.join(setsF, "__fid").join(setsR, "__rid")
      .select(col("__fid"), col("__rid"),
        size(array_intersect(col("__f"), col("__r"))).cast("long").as("__c"),
        size(col("__f")).cast("long").as("__nf"),
        size(col("__r")).cast("long").as("__nr"))
      .filter(col("__c") > 0)
      .withColumn("__j",
        round(col("__c") / (col("__nf") + col("__nr") - col("__c")), 6))
      .filter(col("__j") >= minJaccard)
      .groupBy(col("__fid"))
      .agg(count(lit(1)).as("n_ref_dups"), max(col("__j")).as("max_jaccard"))
      .select(col("__fid").as(idCol), col("n_ref_dups"), col("max_jaccard"))
  }

  // ===========================================================================
  // Saved LSH reference index — the standing-corpus side of cross-corpus
  // near-dedup at rest. A rolling crawl asks "what of this batch do we
  // already have?" against the SAME 100 TB reference every day;
  // recomputing the reference's signatures and shingles per batch is the
  // lexical equivalent of re-tokenizing the corpus per BM25 query. The
  // index stores the two ref-side relations the probe needs — banded
  // signatures and hashed verification shingles — each partitioned by a
  // hash bucket of its probe key, so a batch reads only the buckets its
  // own bands/candidates name (the bm25Indexed literal-IN pattern).
  // ===========================================================================

  /** Sidecar for a saved LSH reference index: the signature geometry the
    * probe must reproduce byte-for-byte (k, rowsPerBand, shingleN) and
    * the bucket counts. Same pattern as TextSearch.TextIndexMeta. */
  case class LshIndexMeta(version: Int, idCol: String, k: Int,
                          rowsPerBand: Int, shingleN: Int, nBuckets: Int)

  object LshIndexMeta {
    val FileName = "_graft_lsh_meta.json"
    private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

    def write(spark: org.apache.spark.sql.SparkSession, indexPath: String,
              meta: LshIndexMeta): Unit = {
      val p = new org.apache.hadoop.fs.Path(indexPath, FileName)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(org.json4s.jackson.Serialization.write(meta)
        .getBytes("UTF-8"))
      finally out.close()
    }

    def read(spark: org.apache.spark.sql.SparkSession,
             indexPath: String): Option[LshIndexMeta] = {
      val p = new org.apache.hadoop.fs.Path(indexPath, FileName)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
          in.readFully(bytes)
          Some(org.json4s.jackson.Serialization
            .read[LshIndexMeta](new String(bytes, "UTF-8")))
        } finally in.close()
      }
    }
  }

  /** The two relation subdirectories of a saved LSH reference index and
    * their partition columns. Bands partition by a hash bucket of
    * band_val (the probe's join key); shingles by a hash bucket of the
    * doc id (the probe's candidate semi-join key). */
  val LshBandsDir = "bands"
  val LshShinglesDir = "shingles"
  val LshBandBucketCol = "__bb"
  val LshRidBucketCol = "__rb"
  val LshTombstoneDir = "tombstones"

  /** Materialize the reference side of [[minhashAgainst]] at `path`:
    * banded MinHash signatures (nBands rows per doc) under `bands/`,
    * partitioned by a band-value hash bucket, and distinct 64-bit hashed
    * verification shingles under `shingles/`, partitioned by a doc-id
    * hash bucket, plus the geometry sidecar. One signature pipeline +
    * one shingle scan — the same work ONE minhashAgainst call spends on
    * the ref side, paid once instead of per batch. */
  def buildRefIndex(ref: DataFrame, idCol: String, textCol: String,
                    path: String, k: Int = 8, rowsPerBand: Int = 2,
                    shingleN: Int = 3, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, "nBuckets >= 1")
    val spark = ref.sparkSession
    writeRefRelations(ref, idCol, textCol, path, k, rowsPerBand, shingleN,
      nBuckets, org.apache.spark.sql.SaveMode.Overwrite)
    LshIndexMeta.write(spark, path,
      LshIndexMeta(1, idCol, k, rowsPerBand, shingleN, nBuckets))
  }

  /** Incrementally ingest new reference documents into a saved LSH
    * index: their bands and shingles land as new files under the
    * existing bucket directories, computed with the SIDECAR's frozen
    * geometry — nothing recombines, nothing is rewritten (the index
    * stores per-doc relations, not corpus aggregates, so append is
    * trivially exact). Caller contract: ids must be new (append-only
    * ingest; exact dedup upstream). */
  def appendRefIndex(newRef: DataFrame, textCol: String,
                     path: String): Unit = {
    val spark = newRef.sparkSession
    val meta = LshIndexMeta.read(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no ${LshIndexMeta.FileName} under $path — not an LSH index"))
    // single-writer guard on BOTH relations: an append racing a
    // compact's swap would land band/shingle files the swap deletes
    assertLshNoActiveCompact(spark, path, "appendRefIndex")
    writeRefRelations(newRef, meta.idCol, textCol, path, meta.k,
      meta.rowsPerBand, meta.shingleN, meta.nBuckets,
      org.apache.spark.sql.SaveMode.Append)
    // post-commit half of the single-writer guard: a compact that
    // STARTED while either relation's write was in flight is detected
    // here — loud failure instead of silently swept band/shingle files
    assertLshNoCompactStartedDuring(spark, path, "appendRefIndex")
  }

  private def writeRefRelations(ref: DataFrame, idCol: String,
                                textCol: String, path: String, k: Int,
                                rowsPerBand: Int, shingleN: Int,
                                nBuckets: Int,
                                mode: org.apache.spark.sql.SaveMode): Unit = {
    // repartition by the partitionBy column before every partitioned
    // write: each bucket's rows land in exactly ONE task, so a write
    // emits exactly one file per touched bucket — at ANY batch size
    // (tasks still parallelize ACROSS buckets for a big ingest).
    // Without it, every writer task emits a file for every bucket it
    // holds rows for: tasks × buckets tiny files PER APPEND. Measured
    // (r13, StreamBench sf0.1): the 8-batch rolling crawl ended at
    // 10,530 band + 16,407 shingle files for ~20k rows, and the
    // per-batch relisting of that population — growing with every
    // append — was the real fixed cost bounding the loop at ~10
    // docs/s. This is the at-rest ingest geometry fix; compact stays
    // the long-run file-count answer.
    //
    // Write-parallelism coupling: one-task-per-bucket makes nBuckets
    // the BULK-BUILD parallelism knob as well as the probe-pruning
    // knob — size it to the corpus (the Run serve discipline:
    // nBuckets ≈ nDocs/3125, so per-bucket volume is constant and
    // build parallelism grows with data). maxRecordsPerFile is the
    // safety net for a mis-sized knob: a hot bucket degrades to a few
    // bounded files instead of one giant one.
    // ONE shingling pass feeds both relations (the crawlStep fusion,
    // applied to the at-rest verbs): bands need the md5 min-agg over
    // the exploded shingles, the shingle relation needs their distinct
    // xxhash64 — computing each from its own shingles() call paid the
    // scan + split + explode twice per verb. Persisted because the two
    // writes below both read it; fully consumed (both writes are
    // actions), so it is unpersisted here, not left to a caller scope.
    val sh = CacheScope.register(
      shingles(ref, idCol, textCol, shingleN).persist())
    val bands = lshBands(idCol, k, rowsPerBand)(
        minhashSignaturesFromShingles(sh, idCol, k))
      .withColumnRenamed(idCol, "__rid")
      .withColumn(LshBandBucketCol,
        pmod(xxhash64(col("band_val")), lit(nBuckets)).cast("int"))
      .repartition(col(LshBandBucketCol))
    val shRel = sh
      .select(col(idCol).as("__rid"), xxhash64(col("shingle")).as("__sh"))
      .distinct()
      .withColumn(LshRidBucketCol,
        pmod(xxhash64(col("__rid")), lit(nBuckets)).cast("int"))
      .repartition(col(LshRidBucketCol))
    try {
      // The two writes land in DIFFERENT directories and share no state
      // beyond the cached shingle relation — submit them concurrently
      // (guide §2.6: actions are only sequential because driver code
      // calls them sequentially) so the second write's tasks back-fill
      // the first's tail instead of waiting for it.
      concurrently(
        () => bands.write.mode(mode)
          .option("maxRecordsPerFile", WriteGeometry.MaxFileRows)
          .partitionBy(LshBandBucketCol)
          .parquet(s"$path/$LshBandsDir"),
        () => shRel.write.mode(mode)
          .option("maxRecordsPerFile", WriteGeometry.MaxFileRows)
          .partitionBy(LshRidBucketCol)
          .parquet(s"$path/$LshShinglesDir"))
    } finally sh.unpersist(blocking = false)
  }

  /** Run two independent driver actions on concurrent threads and wait
    * for both (guide §2.6 overlap — see [[Par]]). */
  private def concurrently(a: () => Unit, b: () => Unit): Unit = {
    Par.all(a, b); ()
  }

  /** [[minhashAgainst]] served from a SAVED reference index: same
    * contract, same result, but the reference corpus is never touched —
    * the batch's own bands name the band buckets to read (literal IN →
    * partition pruning), and the band join's candidates name the shingle
    * buckets for verification the same way. Per-batch ref-side I/O is
    * O(colliding buckets), not O(corpus): the annSearch-probes-lists
    * shape, for near-dedup.
    *
    * Exactness vs the recompute path: band values and shingle hashes
    * are engine-deterministic functions of the text, buckets partition
    * them losslessly, and every band value the batch lacks can produce
    * neither a collision nor a cap decision that affects one — so
    * pruned-probe results equal full-recompute results (spec-pinned,
    * and q80 shares q68's oracle). */
  def minhashAgainstIndex(fresh: DataFrame, indexPath: String,
                          textCol: String, minJaccard: Double = 0.5,
                          maxBucketSize: Int = 1000): DataFrame = {
    val spark = fresh.sparkSession
    val meta = LshIndexMeta.read(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"no ${LshIndexMeta.FileName} under $indexPath — not an LSH index"))
    val idCol = meta.idCol
    // one shingling pass for both batch-side relations (the crawlStep
    // fusion / writeRefRelations seam): the banded signatures and the
    // verification shingles diverge only after the shared
    // scan + split + explode
    val sh = CacheScope.register(
      shingles(fresh, idCol, textCol, meta.shingleN).persist())
    val bf = CacheScope.register(
      lshBands(idCol, meta.k, meta.rowsPerBand)(
        minhashSignaturesFromShingles(sh, idCol, meta.k))
        .withColumnRenamed(idCol, "__fid").persist())
    val shB = sh
      .select(col(idCol).as("__fid"), xxhash64(col("shingle")).as("__sh"))
    probeIndexCore(spark, meta, indexPath, bf, shB, minJaccard,
      maxBucketSize)
  }

  /** The probe core shared by [[minhashAgainstIndex]] and [[crawlStep]]:
    * given the batch's BANDED relation (persisted by the caller — it is
    * read by the bucket collect, the hot-cap union and the band join)
    * and its hashed-shingle relation, prune the saved index to
    * the named buckets and run the band join + exact verification. */
  private def probeIndexCore(spark: SparkSession, meta: LshIndexMeta,
                             indexPath: String, bf: DataFrame,
                             shB: DataFrame, minJaccard: Double,
                             maxBucketSize: Int,
                             excludeRefIds: Option[DataFrame] = None,
                             prunedBands: Option[DataFrame] = None)
      : DataFrame = {
    require(maxBucketSize >= 2, "maxBucketSize >= 2: a 1-doc bucket never pairs")
    val idCol = meta.idCol
    // the batch's pruned bands relation — callers that need it for more
    // than the screen (crawlStep's presence check) compute it once via
    // [[prunedBandsOf]] and pass it in, so the bucket collect and the
    // directory listing happen once per micro-batch
    val brAll = prunedBands.getOrElse(
      prunedBandsOf(spark, meta, indexPath, bf))
    // excludeRefIds (a 1-column `__rid` frame): indexed copies of the
    // probing batch's OWN docs are not duplicates — crawlStep passes the
    // batch's id set so an at-least-once replay, whose appends already
    // committed, screens against exactly the reference set the original
    // run saw (ADVICE r12: without this, every replayed doc self-matched
    // at jaccard 1.0, kept went empty, and the batch_id overwrite
    // replaced good output with an empty directory). The anti-join sits
    // on the reference side BEFORE the band join, so the bucket-cap
    // counts in crossBandCandidates are replay-invariant too, not just
    // the candidate pairs. In a non-replay run crawl ids are fresh and
    // the anti-join removes nothing.
    // broadcast explicitly: the exclusion set is one batch's ids by
    // contract, and this runs inside foreachBatch where AQE (and its
    // runtime broadcast conversion) is disabled — without the hint a
    // static-stats misestimate would shuffle the whole pruned bands
    // relation for a per-batch id filter
    val br = excludeRefIds.fold(brAll)(ex =>
      brAll.join(broadcast(ex.select(col("__rid")).distinct()),
        Seq("__rid"), "left_anti"))
    val cands = crossBandCandidates(bf, br, maxBucketSize)
    // candidate ref docs' shingle buckets name the shingles/ partitions
    // to verify in. No distinct here for the crash window's doubled
    // shingle rows: crossVerifyTail folds each doc's hashes into a set.
    val shR = spark.read.parquet(s"$indexPath/$LshShinglesDir")
      .filter(col(LshRidBucketCol).isin(
        bucketsOf(cands, "__rid", meta.nBuckets): _*))
      .drop(LshRidBucketCol)
      .join(cands.select(col("__rid")).distinct(), Seq("__rid"), "left_semi")
    val shF = shB
      .join(cands.select(col("__fid")).distinct(), Seq("__fid"), "left_semi")
    crossVerifyTail(cands, shF, shR, idCol, minJaccard)
  }

  /** The saved bands relation pruned to the batch's band buckets — the
    * bucket numbers of the (tiny) banded batch relation name the ONLY
    * partitions of bands/ a collision can live in. One bucket collect +
    * one directory listing; share the returned frame across consumers. */
  private def prunedBandsOf(spark: SparkSession, meta: LshIndexMeta,
                            indexPath: String, bf: DataFrame): DataFrame =
    lshLiveOnly(spark, indexPath,
      spark.read.parquet(s"$indexPath/$LshBandsDir")
        .filter(col(LshBandBucketCol).isin(
          bucketsOf(bf, "band_val", meta.nBuckets): _*))
        .drop(LshBandBucketCol))

  /** The distinct hash buckets of `key` over `df`, ascending, for a
    * literal-IN partition filter: each partition folds its rows into a
    * set and the driver unions them — one map-side job, no distinct
    * shuffle. At most nBuckets values, so the collect is metadata-sized
    * at any scale. */
  private def bucketsOf(df: DataFrame, key: String, nBuckets: Int): Seq[Int] =
    df.select(pmod(xxhash64(col(key)), lit(nBuckets)).cast("int"))
      .rdd.aggregate(Set.empty[Int])((s, r) => s + r.getInt(0), _ ++ _)
      .toSeq.sorted

  /** Tombstone anti-join for the saved LSH layout — a no-op when no
    * delete has ever run. Sits at the ONE chokepoint every consumer of
    * the saved bands relation reads through ([[prunedBandsOf]]), and
    * BELOW the hot-bucket cap and the band join, so deleted docs
    * vanish from collision candidates, cap membership, AND the crawl
    * presence check — the probe equals an index rebuilt on the
    * survivors exactly (q163 carries a survivors-only oracle). The
    * verification shingle relation needs no filter of its own: its
    * rows are semi-joined to the band join's candidates, which cannot
    * name a tombstoned doc. */
  private def lshLiveOnly(spark: SparkSession, indexPath: String,
                          bands: DataFrame): DataFrame = {
    val t = new org.apache.hadoop.fs.Path(indexPath, LshTombstoneDir)
    val fs = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(t)) bands
    else bands.join(spark.read.parquet(t.toString), Seq("__rid"),
      "left_anti")
  }

  /** Tombstone-delete reference documents from a saved LSH index — the
    * third lifecycle verb (build / append / delete / compact), same
    * contract as TextSearch.deleteFromIndex and VectorIndex.deleteSaved:
    * an id relation lands under `tombstones/`, no partition file is
    * rewritten, and every probe anti-joins it below the candidate and
    * cap logic, so results equal a rebuild on the survivors (q163).
    * The crawl's takedown path: a doc removed from the standing corpus
    * stops shadowing future near-duplicates immediately.
    *
    * Caller contract (shared with the append verbs): ids are never
    * reused — a tombstoned id re-appended later stays masked until
    * [[compactRefIndex]] purges both its rows and its tombstone, after
    * which the id may be ingested fresh. */
  def deleteFromRefIndex(spark: SparkSession, indexPath: String,
                         ids: DataFrame): Unit = {
    LshIndexMeta.read(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"no ${LshIndexMeta.FileName} under $indexPath — not an LSH index"))
    require(ids.columns.length == 1, "pass a single-column id relation")
    // single-writer guard: the compact's swap drops the tombstone dir
    // last — a takedown racing it silently resurrects the deleted docs
    assertLshNoActiveCompact(spark, indexPath, "deleteFromRefIndex")
    // sidecar untouched: the LSH meta stores signature geometry only,
    // no corpus aggregates (unlike the postings index's N/avgdl)
    ids.select(col(ids.columns.head).as("__rid")).distinct()
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$indexPath/$LshTombstoneDir")
    // post-commit half of the single-writer guard (see appendRefIndex)
    assertLshNoCompactStartedDuring(spark, indexPath,
      "deleteFromRefIndex")
  }

  /** Batch ids FULLY present in the saved index: ids whose visible
    * DISTINCT band_idx count reaches the per-doc band count (every doc
    * with ≥1 shingle has exactly nBands = k/rowsPerBand band rows, one
    * per band_idx). Counting distinct band indices — rather than raw
    * rows or any-row existence — closes the partial-job-commit window
    * exactly: a doc is "present" iff EVERY band index is visible, so a
    * crash that left only some band files visible re-appends the doc
    * whole (its rows for the committed subset are then duplicated —
    * set-semantic candidates are unaffected, the hot-bucket cap is
    * set-semantic too — instead of the alternative, a doc PERMANENTLY
    * missing bands and silently invisible to future collisions on
    * them). Raw row count would NOT close it (ADVICE r13): prior
    * duplicate rows can mask a missing band — a partial bands commit (2
    * of 4 band files visible) followed by a partially-committed
    * re-append (3 of 4 new files visible) shows 5 rows ≥ 4 with
    * band_idx 3 still absent forever. The semi-join runs on the
    * pruned bands relation the screen already reads (an indexed copy of
    * a batch doc has the batch doc's own band values, so all its rows
    * live in the batch's band buckets); empty on a clean run. */
  private[graft] def alreadyIndexedIds(prunedBands: DataFrame,
                                       batchIds: DataFrame,
                                       nBands: Int): DataFrame =
    prunedBands
      .select(col("__rid"), col("band_idx"))
      .join(broadcast(batchIds.select(col("__rid")).distinct()),
        Seq("__rid"), "left_semi")
      .groupBy(col("__rid"))
      .agg(countDistinct(col("band_idx")).as("__nb"))
      .filter(col("__nb") >= nBands)
      .select(col("__rid"))

  /** One ROLLING-CRAWL micro-batch step — the foreachBatch body of the
    * streaming sink, fused: screen `batch` against the saved index,
    * hand the kept rows to `writeKept` (the sink's at-least-once
    * overwrite point), then append the kept docs' bands and shingles to
    * the index — FROM THE RELATIONS THE SCREEN ALREADY COMPUTED. The
    * unfused loop (minhashAgainstIndex + write + appendRefIndex) paid
    * the signature pipeline twice and the shingle pipeline twice per
    * batch — md5 over k×shingles re-run from raw text for the append —
    * plus a second sidecar read; at 560-doc batches those fixed
    * recomputes dominated the measured ~12 docs/s. Here the batch's
    * banded signatures and distinct hashed shingles are persisted once;
    * verification semi-joins them, and both partitioned appends are
    * cached-relation scans. Append layout and geometry are byte-
    * compatible with [[appendRefIndex]] (same rename, same bucket
    * expression, same partitionBy), so probe answers are identical —
    * batch-parity is spec-pinned in StreamingSpec.
    *
    * Replay safety (at-least-once sinks): the screen EXCLUDES reference
    * rows whose id is in the batch itself, so a replayed batch — whose
    * appends may already have committed before the checkpoint did —
    * screens against exactly the reference set the original run saw and
    * recomputes the identical `kept` (the batch_id-scoped overwrite is
    * then a true idempotent rewrite). The appends are idempotent too:
    * kept docs already present in the index (detected from the pruned
    * bands relation — [[alreadyIndexedIds]]) are NOT re-appended, so a
    * replay leaves the index byte-identical instead of doubling the
    * kept docs' rows. Duplicate rows would NOT be benign for later
    * batches: the exact-Jaccard verification reads the index shingle
    * relation, so doubled rows would inflate shingle counts (a
    * once-replayed index would then wrongly drop borderline docs — the
    * r13 review finding; the hot-bucket cap is set-semantic and immune
    * since r14). Crash windows, precisely: shingles append FIRST, bands
    * second, presence detected from bands (written last), so a crash
    * between the two appends means the replay re-appends BOTH — the
    * bands land once (they never committed), the shingles land twice;
    * that doubled-shingles state is made harmless by the verification
    * folding each doc's shingle hashes into a set. Presence is a per-doc
    * DISTINCT band_idx COUNT (>= nBands), not any-row existence or raw
    * rows, so even a partial bands job commit re-appends the doc whole
    * (duplicate band rows for the committed subset — harmless:
    * candidates and the hot-bucket cap are both set-semantic) rather
    * than leaving a doc permanently missing bands and invisible to
    * future collisions on them.
    *
    * Cache lifecycle: the whole step runs in a [[CacheScope.scoped]]
    * block — every intermediate persisted here or in the shared probe
    * core is released when the step returns or throws. Sound because the
    * step materializes all its effects internally (writeKept + both
    * appends); nothing lazy escapes. (ADVICE r12: the foreachBatch
    * thread opens no pipeline scope, so a rolling crawl leaked two-plus
    * cached relations per micro-batch.) */
  def crawlStep(batch: DataFrame, indexPath: String, textCol: String,
                minJaccard: Double = 0.5, maxBucketSize: Int = 1000)
               (writeKept: DataFrame => Unit): Unit = CacheScope.scoped {
    val spark = batch.sparkSession
    val meta = LshIndexMeta.read(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"no ${LshIndexMeta.FileName} under $indexPath — not an LSH index"))
    val idCol = meta.idCol
    // one shingling pass for both batch relations (the
    // writeRefRelations / minhashAgainstIndex seam)
    val sh = CacheScope.register(
      shingles(batch, idCol, textCol, meta.shingleN).persist())
    val bf = CacheScope.register(
      lshBands(idCol, meta.k, meta.rowsPerBand)(
        minhashSignaturesFromShingles(sh, idCol, meta.k))
        .withColumnRenamed(idCol, "__fid").persist())
    val shB = CacheScope.register(sh
        .select(col(idCol).as("__fid"), xxhash64(col("shingle")).as("__sh"))
        .distinct().persist())
    // one bucket collect + one bands/ listing per batch, shared by the
    // screen and the presence check (r13 review: the first cut listed
    // and collected twice on the streaming hot path)
    val brAll = prunedBandsOf(spark, meta, indexPath, bf)
    val matched = probeIndexCore(spark, meta, indexPath, bf, shB,
      minJaccard, maxBucketSize,
      excludeRefIds = Some(batch.select(col(idCol).as("__rid"))),
      prunedBands = Some(brAll))
      .select(col(idCol))
    val kept = CacheScope.register(
      batch.join(matched, Seq(idCol), "left_anti").persist())
    writeKept(kept)
    // idempotent ingest: only kept docs NOT already fully in the index
    // are appended (presence counted from the pruned bands relation —
    // empty on a clean run, exactly the committed docs on a replay)
    val appendIds = CacheScope.register(
      kept.select(col(idCol).as("__rid"))
        .join(alreadyIndexedIds(brAll, kept.select(col(idCol).as("__rid")),
          meta.k / meta.rowsPerBand), Seq("__rid"), "left_anti")
        .withColumnRenamed("__rid", "__fid")
        .persist())
    // same one-file-per-touched-bucket geometry as writeRefRelations
    // (repartition on the partitionBy column): a rolling crawl appends
    // every batch, so without it the index's file population grows by
    // tasks × buckets per batch and the NEXT batch's probes pay the
    // relisting — the measured ~10 docs/s wall (r13, BASELINE.md).
    // Shingles BEFORE bands: presence is detected from bands, so the
    // bands append is the commit point of the pair (see scaladoc).
    shB.join(appendIds, Seq("__fid"), "left_semi")
      .withColumnRenamed("__fid", "__rid")
      .withColumn(LshRidBucketCol,
        pmod(xxhash64(col("__rid")), lit(meta.nBuckets)).cast("int"))
      .repartition(col(LshRidBucketCol))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .option("maxRecordsPerFile", WriteGeometry.MaxFileRows)
      .partitionBy(LshRidBucketCol)
      .parquet(s"$indexPath/$LshShinglesDir")
    bf.join(appendIds, Seq("__fid"), "left_semi")
      .withColumnRenamed("__fid", "__rid")
      .withColumn(LshBandBucketCol,
        pmod(xxhash64(col("band_val")), lit(meta.nBuckets)).cast("int"))
      .repartition(col(LshBandBucketCol))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .option("maxRecordsPerFile", WriteGeometry.MaxFileRows)
      .partitionBy(LshBandBucketCol)
      .parquet(s"$indexPath/$LshBandsDir")
  }

  /** Physically compact a SAVED LSH reference index in place — the
    * lifecycle verb the rolling-crawl layout was missing (build /
    * append / crawl-ingest / compact; postings and vector layouts had
    * all four, r13 VERDICT). The write-geometry rule bounds each
    * append at ONE file per touched bucket, but a crawl appends every
    * batch: a year-long deployment at nBuckets = 64 still accretes
    * O(64 · batches) files, and every later probe's directory listing
    * pays that population — compact is the long-run file-count floor
    * the r13 record named without shipping. Each relation is rewritten
    * to what [[buildRefIndex]] over the current SURVIVOR corpus would
    * have produced physically: tombstoned docs' rows dropped and the
    * tombstone directory removed (the [[deleteFromRefIndex]] debt paid,
    * re-licensing deleted ids for fresh ingest — q164 probes the full
    * build/append/delete/compact lifecycle against a survivors-only
    * oracle); rows DEDUPLICATED — the doubled shingle rows
    * of the shingles-committed/bands-not crash window and the
    * duplicate band rows of a partial bands job commit, tolerated at
    * probe time by set-semantic candidates, the per-doc shingle sets
    * of the verification and the set-semantic hot-bucket cap, are paid
    * off for good — and each bucket's files merged into one writer
    * task's output (`repartition` on the bucket column, the same
    * one-task-per-bucket geometry as the build). Probe answers are
    * bit-identical before and after (q162 shares q80's oracle; the
    * crash-window dedup is additionally spec-pinned on an index with
    * hand-doubled rows). Crash-RECOVERABLE the same way as
    * TextSearch.compactIndex / VectorIndex.compactSaved via the
    * CompactSwap protocol: each relation stages into a sibling
    * `.compacting` directory, writes a `_compact_staged` commit marker
    * before the first destructive step, and a re-run after a crash at
    * any point RESUMES that relation's swap from the marker instead of
    * deleting the staging (which mid-swap may hold the only copy of
    * some buckets). The tombstone dir outlives both relation swaps and
    * drops only at the end. The sidecar never changes: compaction
    * touches file geometry, not the signature contract. */
  /** FSCK — physical integrity audit of a saved LSH index (the
    * VectorIndex.fsckSaved contract for this layout), auditing exactly
    * the invariants the crawl ingest leans on. One row per check,
    * `(chk, ok, detail)`:
    *
    *   - `meta_parses` (detail: nBuckets; missing sidecar
    *     short-circuits to this single failing row);
    *   - `no_compact_residue` — no `_compact_staged` marker or
    *     `.compacting` staging dir under either relation (a crashed
    *     mid-swap compact; repair = run compactRefIndex, it resumes);
    *   - `bands_readable` / `shingles_readable` — emitted (failing)
    *     only when a relation dir is missing or unreadable — the
    *     partial-copy case — short-circuiting the data checks below;
    *   - `rows_nonempty` — band rows (nBands per doc, plus tolerated
    *     crash-window duplicates);
    *   - `bands_complete` — every LIVE doc (tombstones applied) has all
    *     nBands DISTINCT band indices, none out of domain: the
    *     presence-check contract (a doc missing a band is silently
    *     invisible to collisions on it — the r13 ADVICE failure mode,
    *     here checked over the whole index, not just a batch);
    *   - `shingles_present` — every live banded doc has verification
    *     shingles: the shingles-then-bands commit-order invariant
    *     (detail: live doc count). A banded doc with no shingles
    *     Jaccard-verifies as 0 against everything — false negatives;
    *   - `unbanded_shingle_docs` — the reverse direction: shingled docs
    *     with NO band row (detail: count; ok stays true). Nonzero is
    *     either the legal crash residue of the commit order (replay
    *     repairs it — the presence check re-appends such docs whole)
    *     or band loss in a build-only index; bands_complete alone
    *     cannot see a doc whose band rows ALL vanished;
    *   - `band_bucket_consistent` / `shingle_bucket_consistent` — every
    *     stored bucket equals the sidecar-geometry hash of its own row
    *     (a mis-bucketed append is invisible to the pruned probe);
    *   - `orphan_tombstones` — tombstones naming absent docs (legal
    *     idempotent-delete residue; reported);
    *   - `write_eras` — the write-geometry ledger across both relations
    *     (WriteGeometry.writeEras: files per bucket beyond the
    *     row-cap-implied floor; 1 after build/compact at any scale,
    *     +1 per append era — the compaction-due signal). */
  def fsckRefIndex(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, Long)]
    LshIndexMeta.read(spark, indexPath) match {
      case None =>
        out += (("meta_parses", false, 0L))
      case Some(meta) =>
        val nBands = meta.k / meta.rowsPerBand
        out += (("meta_parses", true, meta.nBuckets.toLong))
        val fs = new org.apache.hadoop.fs.Path(indexPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val tPath = new org.apache.hadoop.fs.Path(
          s"$indexPath/$LshTombstoneDir")
        // staged-compaction residue across BOTH relations: a marker or
        // `.compacting` dir means a compact crashed mid-swap — repair =
        // run compactRefIndex (it resumes), never a hand-delete
        val res = CompactSwap.residue(fs,
            new org.apache.hadoop.fs.Path(s"$indexPath/$LshBandsDir")) +
          CompactSwap.residue(fs,
            new org.apache.hadoop.fs.Path(s"$indexPath/$LshShinglesDir"))
        out += (("no_compact_residue", res == 0L, res))
        // the partial-copy scenario fsck targets can take a whole
        // relation dir with it — diagnose that as a failing check row
        // (short-circuiting like a missing sidecar), don't crash the
        // audit verb on the very corruption it exists to report
        def readRel(dir: String, chk: String)
            : Option[org.apache.spark.sql.DataFrame] =
          try Some(spark.read.parquet(s"$indexPath/$dir"))
          catch {
            case _: org.apache.spark.sql.AnalysisException =>
              out += ((chk, false, 0L)); None
          }
        val bandsOpt = readRel(LshBandsDir, "bands_readable")
        val shinglesOpt = readRel(LshShinglesDir, "shingles_readable")
        if (bandsOpt.isEmpty || shinglesOpt.isEmpty)
          return out.toSeq.toDF("chk", "ok", "detail").orderBy("chk")
        val bands = bandsOpt.get
        val shingleRel = shinglesOpt.get
        val shingleIds = shingleRel.select(col("__rid")).distinct()
        val liveBands = if (!fs.exists(tPath)) bands
          else bands.join(spark.read.parquet(tPath.toString),
            Seq("__rid"), "left_anti")
        // ONE pass per relation for the row/bucket checks: per-bucket
        // count + bucket-rehash mismatch come out of a single grouped
        // aggregate each (the same scan previously paid once per
        // check), and the independent audit chains below overlap on
        // driver threads (guide §1.5/§2.4 consolidation + §2.6
        // overlap; values identical check by check).
        def bucketAudit(rel: DataFrame, bucketCol: String,
                        rehash: Column): (Long, Long, Map[String, Long]) = {
          val rows = rel.groupBy(col(bucketCol))
            .agg(count(lit(1)).as("__n"),
              sum(when(col(bucketCol) =!= rehash, 1L).otherwise(0L))
                .as("__mis"))
            .collect()
          (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum,
            rows.map(r => r.get(0).toString -> r.getLong(1)).toMap)
        }
        // three actions read the per-doc aggregate — persist it once
        // instead of re-aggregating the bands relation per action
        val perDoc = CacheScope.register(liveBands
          .groupBy(col("__rid"))
          .agg(countDistinct(col("band_idx")).as("__nb"),
            max(col("band_idx")).as("__mx"))
          .persist())
        val liveDocs = perDoc.select(col("__rid"))
        val liveShingleIds = if (!fs.exists(tPath)) shingleIds
          else shingleIds.join(spark.read.parquet(tPath.toString),
            Seq("__rid"), "left_anti")
        val Seq(bandSide, shingleSide, docSide, orphanSide) = Par.all[Any](
          () => bucketAudit(bands, LshBandBucketCol,
            pmod(xxhash64(col("band_val")), lit(meta.nBuckets)).cast("int")),
          () => bucketAudit(shingleRel, LshRidBucketCol,
            pmod(xxhash64(col("__rid")), lit(meta.nBuckets)).cast("int")),
          () => {
            val pd = perDoc.agg(count(lit(1)).as("__docs"),
              coalesce(sum(when(col("__nb") =!= nBands ||
                  col("__mx") >= nBands, 1L).otherwise(0L)), lit(0L))
                .as("__bad")).head()
            val unshingled = liveDocs
              .join(shingleIds, Seq("__rid"), "left_anti").count()
            val unbanded = liveShingleIds
              .join(liveDocs, Seq("__rid"), "left_anti").count()
            (pd.getLong(0), pd.getLong(1), unshingled, unbanded)
          },
          () => if (!fs.exists(tPath)) 0L
            else spark.read.parquet(tPath.toString)
              .join(bands.select(col("__rid")).distinct(),
                Seq("__rid"), "left_anti").count())
        val (nBandRows, bandMis, bandRows) =
          bandSide.asInstanceOf[(Long, Long, Map[String, Long])]
        val (shRowsTotal, shMis, shRows) =
          shingleSide.asInstanceOf[(Long, Long, Map[String, Long])]
        val _ = shRowsTotal
        val (nLiveDocs, bad, unshingled, unbanded) =
          docSide.asInstanceOf[(Long, Long, Long, Long)]
        val orphans = orphanSide.asInstanceOf[Long]
        out += (("rows_nonempty", nBandRows > 0, nBandRows))
        out += (("bands_complete", bad == 0L, nBands.toLong))
        out += (("shingles_present", unshingled == 0L, nLiveDocs))
        // the reverse direction: shingled docs with NO band row at all.
        // Nonzero is either the legal crash residue of the
        // shingles-then-bands commit order (a replayed ingest repairs
        // it: the presence check treats such docs as absent and
        // re-appends them whole) or band loss in a build-only index
        // (repair = re-append those docs). ok stays true — the count is
        // the signal; bands_complete alone cannot see a doc whose band
        // rows ALL vanished, because it derives its doc set from the
        // bands relation itself.
        out += (("unbanded_shingle_docs", true, unbanded))
        out += (("band_bucket_consistent", bandMis == 0L,
          meta.nBuckets.toLong))
        out += (("shingle_bucket_consistent", shMis == 0L,
          meta.nBuckets.toLong))
        out += (("orphan_tombstones", true, orphans))
        val eras = math.max(
          WriteGeometry.writeEras(fs, new org.apache.hadoop.fs.Path(
            s"$indexPath/$LshBandsDir"), LshBandBucketCol, bandRows),
          WriteGeometry.writeEras(fs, new org.apache.hadoop.fs.Path(
            s"$indexPath/$LshShinglesDir"), LshRidBucketCol, shRows))
        out += (("write_eras", eras >= 1, eras.toLong))
        perDoc.unpersist()
    }
    out.toSeq.toDF("chk", "ok", "detail").orderBy("chk")
  }

  /** The LSH face of CompactSwap.assertNoActiveCompact: the layout
    * holds TWO swapped relations (bands, shingles), so the additive
    * verbs check both roots before writing either. */
  private def assertLshNoActiveCompact(spark: SparkSession,
                                       indexPath: String,
                                       verb: String): Unit = {
    val bands = new org.apache.hadoop.fs.Path(s"$indexPath/$LshBandsDir")
    val fs = bands.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CompactSwap.assertNoActiveCompact(fs, bands, verb)
    CompactSwap.assertNoActiveCompact(fs,
      new org.apache.hadoop.fs.Path(s"$indexPath/$LshShinglesDir"), verb)
  }

  /** The LSH face of CompactSwap.assertNoCompactStartedDuring: the
    * additive verbs re-check BOTH relation roots after their writes
    * commit. */
  private def assertLshNoCompactStartedDuring(spark: SparkSession,
                                              indexPath: String,
                                              verb: String): Unit = {
    val bands = new org.apache.hadoop.fs.Path(s"$indexPath/$LshBandsDir")
    val fs = bands.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CompactSwap.assertNoCompactStartedDuring(fs, bands, verb)
    CompactSwap.assertNoCompactStartedDuring(fs,
      new org.apache.hadoop.fs.Path(s"$indexPath/$LshShinglesDir"), verb)
  }

  def compactRefIndex(spark: SparkSession, indexPath: String): Unit = {
    LshIndexMeta.read(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"no ${LshIndexMeta.FileName} under $indexPath — not an LSH index"))
    def compactRelation(dir: String, bucketCol: String): Unit = {
      val root = new org.apache.hadoop.fs.Path(s"$indexPath/$dir")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a prior compact that crashed mid-swap left its commit marker:
      // finish that swap first (never delete its staging blindly).
      // The index-level tombstone dir is NOT passed as an extra delete
      // here — it must survive until BOTH relations are survivor-only,
      // so it is dropped once, below, after both swaps complete.
      CompactSwap.resumeIfStaged(fs, root, bucketCol + "=", Nil)
      // tombstoned docs leave BOTH relations for good here (bands feed
      // candidates, shingles feed verification — the delete verb masks
      // them at probe time, compact pays the debt physically)
      val live = lshLiveOnly(spark, indexPath,
        spark.read.parquet(root.toString))
        .distinct() // crash-window duplicate rows leave the layout here
      CompactSwap.compactRelation(live, fs, root, bucketCol, Nil)
    }
    // the two relations are independent (separate roots, separate
    // staging/marker files; both only READ the shared tombstone dir,
    // deleted strictly after both swaps) — overlap their read + stage +
    // swap jobs (guide §2.6)
    concurrently(
      () => compactRelation(LshBandsDir, LshBandBucketCol),
      () => compactRelation(LshShinglesDir, LshRidBucketCol))
    // both relations are survivor-only now; the tombstones are applied
    // and disappear (same end state as TextSearch.compactIndex)
    val tPath = new org.apache.hadoop.fs.Path(indexPath, LshTombstoneDir)
    tPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(tPath, true)
  }

  /** Per-document SimHash (nBits <= 64): bit j comes from the sign of the
    * sum over distinct tokens of ±1, where a token votes +1 on bit j iff
    * the hex char backing that bit has odd ASCII code. Bits 0-31 read the
    * 32 hex chars of md5(tok); bits 32-63 read md5(tok || '#1') — the
    * same digest-salting convention as minhashSignatures, so one extra
    * md5 per distinct token buys the full production signature width
    * (Manku 2007 web dedup uses 64). Engine-portable (md5 + ascii +
    * arithmetic only) and one groupBy with nBits sums; bits 0-15 are
    * bit-identical to the historical 16-bit construction, so existing
    * 16-bit signatures and oracles are unchanged. The sign bit (j = 63)
    * is assembled by bitwise OR, not addition, so the BIGINT simply goes
    * negative — no overflow under ANSI arithmetic. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              nBits: Int = 16): DataFrame = {
    require(nBits >= 1 && nBits <= 64,
      "one hex char per bit: two md5 digests back at most 64 bits")
    val toks = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .distinct()
      .withColumn("h", md5(col("tok")))
    val withH1 =
      if (nBits <= 32) toks
      else toks.withColumn("h1", md5(concat(col("tok"), lit("#1"))))
    val votes = (0 until nBits).map { j =>
      val ch =
        if (j < 32) substring(col("h"), j + 1, 1)
        else substring(col("h1"), j - 31, 1)
      sum(ascii(ch) % 2 * 2 - 1).as(s"v$j")
    }
    val agg = withH1.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val hash = (0 until nBits).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    agg.select(col(idCol), hash.cast("long").as("simhash"))
  }

  /** SimHash near-dup pairs within a Hamming radius: all (a, b), a < b,
    * whose nBits SimHash signatures differ in at most `maxHamming` bit
    * positions — the web-scale near-dup formulation (Manku/Jain/Sarma
    * 2007, "Detecting Near-Duplicates for Web Crawling"): one 8-byte
    * signature per document, radius-bounded instead of
    * similarity-thresholded.
    *
    * Scale design: the signature is banded into maxHamming+1 bit groups
    * — by pigeonhole, any pair within the radius agrees EXACTLY on at
    * least one whole band, so the banded equi-join is a lossless
    * blocking key (same argument family as the IVF slack expansion) and
    * the exact `bit_count(a xor b) <= r` filter only ever sees
    * band-collision candidates, never the n² cross product. One groupBy
    * for signatures, one self-equi-join on (band_idx, band_val); the
    * signature relation (8 bytes/doc) is persisted across its three
    * consumers.
    *
    * Selectivity note: at 16 bits radius 2 is permissive — a homogeneous
    * corpus yields dense pair sets (the declared 16-bit fixture emits
    * ~n²/500); that width exists for compatibility with the frozen q21
    * oracle. Production web-dedup runs nBits = 64 (Manku 2007), which
    * simhash now produces directly — at that width random pairs sit at
    * expected hamming 32 and only true near-dups fall inside small radii,
    * so the band join's candidate set is output-sized. The banding/verify
    * shape is width-independent.
    *
    * Saturated-band guard (`maxBandBucket`): at narrow widths the bands
    * are only a few bits wide, so a homogeneous corpus SATURATES band
    * buckets (most of the corpus agreeing on one 5-bit value) and the
    * candidate set grows ~n²/2^width — the one plan in the engine that
    * was unbounded at scale. A saturated bucket is the SimHash analog of
    * LSH's degenerate-signature bucket: its members agree on a handful of
    * boilerplate bits, not on content, so dropping it is the same recall
    * trade minhashCandidates' maxBucketSize already makes (and at
    * production widths — 64 bits — the cap never fires: buckets are
    * output-sized there). Default 1000, the LSH default.
    *
    * @note BEHAVIOR CHANGE (round 9): maxBandBucket defaults to 1000
    *       where this operator was previously uncapped — pairs whose
    *       every agreeing band is saturated are no longer emitted at
    *       scale (a deliberate recall trade for a bounded plan; no-op
    *       at fixture scale, q71's oracle proves it). Callers that need
    *       the exact uncapped semantics pass maxBandBucket = 0. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          nBits: Int = 16,
                          maxHamming: Int = 2,
                          maxBandBucket: Int = 1000): DataFrame = {
    val sig = CacheScope.register(
      simhash(docs, idCol, textCol, nBits).persist())
    hammingPairs(sig, idCol, "simhash", nBits, maxHamming, maxBandBucket)
  }

  /** Hamming-radius pairs over ANY precomputed n-bit signature column —
    * the banded join simhashNearDupPairs runs, factored out so other
    * fingerprint families (perceptual image hashes, audio fingerprints)
    * reuse the identical pigeonhole blocking + exact verify + saturated-
    * bucket guard. See simhashNearDupPairs for the losslessness argument
    * (pigeonhole over maxHamming+1 bands) and the maxBandBucket recall
    * trade (0 disables the cap — exact mode for bounded inputs).
    *
    * @param sig one row per item: (idCol, sigCol) with sigCol a LONG
    *            whose low nBits hold the signature */
  def hammingPairs(sig: DataFrame, idCol: String, sigCol: String,
                   nBits: Int, maxHamming: Int,
                   maxBandBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < nBits, "0 <= maxHamming < nBits")
    require(maxBandBucket == 0 || maxBandBucket >= 2,
      "maxBandBucket: 0 (uncapped) or >= 2 (a 1-item bucket never pairs)")
    val bands = maxHamming + 1
    val widths = (0 until bands)
      .map(b => nBits / bands + (if (b < nBits % bands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val bandCols = (0 until bands).map { b =>
      // width 64 (maxHamming = 0 on a full-width signature): 1L << 64
      // wraps to 1, so the mask is written as -1L (all bits) explicitly
      val mask = if (widths(b) >= 64) -1L else (1L << widths(b)) - 1
      struct(lit(b).as("band_idx"),
        shiftrightunsigned(col(sigCol), offsets(b))
          .bitwiseAND(lit(mask)).as("band_val"))
    }
    val allBanded = sig.select(col(idCol),
        explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_val"))
    // Saturated-bucket anti-join (the minhashCandidates shape): no
    // broadcast hint — the hot list is usually tiny but data-dependent,
    // AQE decides from runtime sizes.
    val banded =
      if (maxBandBucket == 0) allBanded
      else {
        val hot = allBanded.groupBy(col("band_idx"), col("band_val"))
          .agg(count(lit(1)).as("__m")).filter(col("__m") > maxBandBucket)
          .select(col("band_idx"), col("band_val"))
        allBanded.join(hot, Seq("band_idx", "band_val"), "left_anti")
      }
    val cand = banded.select(col(idCol).as("a"), col("band_idx"),
        col("band_val"))
      .join(banded.select(col(idCol).as("b"), col("band_idx"),
        col("band_val")), Seq("band_idx", "band_val"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cand
      .join(sig.select(col(idCol).as("a"), col(sigCol).as("__sa")), "a")
      .join(sig.select(col(idCol).as("b"), col(sigCol).as("__sb")), "b")
      .withColumn("hamming",
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Connected components over an undirected pair table (a, b): returns
    * (id, rep) where rep is the smallest id reachable from id — the
    * component representative. Min-label propagation WITH pointer jumping:
    * each round every node takes the min of its own label and its
    * neighbors' labels (one hop), then chases its label's label (rep :=
    * rep(rep), halving chain depth, applied from round 3 — see inline
    * note) — so convergence is O(log diameter) rounds, not O(diameter);
    * a 1000-hop template chain converges in ~12. Each round is one
    * equi-join + one groupBy over the self-looped edge list (plus the
    * jump's self-join from round 3); the driver sees only a scalar
    * convergence sum; labels are checkpointed each round so lineage
    * stays flat.
    *
    * @param checkpointDir None (default): per-round labels use
    *        localCheckpoint — blocks live on executors, lineage-flat but
    *        NOT executor-loss-safe. For a multi-hour 100 TB corpus job,
    *        pass Some(dir) on reliable storage (HDFS/object store): each
    *        round's labels are written to parquet under
    *        dir/cc-<uuid>/round_N and read back, so the lineage cut
    *        replays from files after executor loss ([[Iterate]]: one
    *        tiny eager write job per round; the session checkpoint dir
    *        is never touched). The round files outlive the call; the
    *        caller deletes dir once the result is consumed. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
                          bCol: String = "b",
                          checkpointDir: Option[String] = None): DataFrame = {
    val iterate = Iterate("cc", checkpointDir)
    // The pair input is often an expensive join/aggregate (q47 feeds the
    // full n-gram Jaccard pipeline in here). It is read twice by the
    // symmetrization union — persist the directed edges so the input plan
    // executes ONCE, not once per union branch.
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .persist()
    val sym = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    // Labels are localCheckpoint'ed (flat lineage across rounds) AND
    // persisted: the cache gives the NEXT round's static planner accurate
    // materialized sizes, so the labels side of each join is chosen
    // broadcast-vs-shuffle from real stats — broadcast on a fixture,
    // shuffle on a corpus — with no scale-unsafe hint and without paying
    // an AQE stage round-trip per join per round.
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("rep", col("id")).transform(iterate.cut).persist()
    // Self-loops folded into the edge list ONCE: with (x, x) present for
    // every node, the per-round "min over neighbors' reps" aggregate
    // already includes the node's own rep — the hop is a single
    // join + groupBy instead of join + groupBy + self left-join.
    val symLoop = sym
      .union(labels.select(col("id").as("src"), col("id").as("dst")))
      .persist()
    // Convergence via the label-sum invariant: per-node reps are monotone
    // non-increasing and strictly decrease somewhere until fixpoint, so
    // sum(rep) is strictly decreasing while unconverged — one aggregate
    // per round instead of a join-diff. (Sums of ids fit a long only for
    // modest graphs; sum DECIMAL is exact at any size.)
    // sum over zero rows is SQL null — map it to 0 so an empty pair
    // table converges immediately instead of NPE-ing on compareTo.
    // Local checkpoints are LAZY: the repSum aggregate right after each
    // checkpoint is the action that materializes it, so each round runs
    // ONE job carrying both the label update and the convergence check
    // (an eager checkpoint + separate aggregate was two jobs per round —
    // round count dominates wall time at fixture scale). The reliable
    // path pays that second (tiny parquet write) job for durability.
    def repSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("rep").cast("decimal(38,0)"))).head()
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    // No pre-loop sum action: the identity labels' sum is only needed as
    // a compare point, and round 1 strictly decreases it on any pair
    // graph with a < b edges (every component has a non-min node) — so
    // start from None and let round 1's own aggregate be the first
    // materialization. Degenerate inputs (empty pair table) just spend
    // one confirming round instead.
    var prevSum: Option[java.math.BigDecimal] = None
    var rounds = 0
    while (rounds < 50) {
      rounds += 1
      // Hop: min over the closed neighborhood (self-loops in symLoop
      // supply the self term), one join + one groupBy. Not checkpointed:
      // the jump reads it twice, but recomputing this small join twice
      // inside one job is cheaper than an extra materialization action
      // per round (round count is the wall-clock driver at fixture
      // scale).
      val hopped = symLoop
        .join(labels.select(col("id").as("dst"), col("rep").as("__nr")),
          Seq("dst"))
        .groupBy(col("src")).agg(min(col("__nr")).as("rep"))
        .select(col("src").as("id"), col("rep"))
      // Pointer jump: rep := rep(rep) (reps are node ids, so the
      // self-join always resolves; left+coalesce guards the root case).
      // Applied only from round 3: near-dup graphs are dense clusters
      // that hop-converge in 1-2 rounds, where the jump's two extra
      // joins are pure per-round latency — while a deep-chain graph
      // still gets O(log diameter) asymptotics, two rounds late. The
      // hop alone is a correct fixpoint operator (stability under
      // "min of self and neighbors" forces rep constant per component,
      // and the min-id node pins that constant to the component min),
      // so skipping the jump never changes the converged answer.
      val jumped =
        if (rounds < 3) hopped
        else hopped.as("h")
          .join(hopped.select(col("id").as("__rid"), col("rep").as("__rrep")),
            col("h.rep") === col("__rid"), "left")
          .select(col("h.id").as("id"),
            coalesce(col("__rrep"), col("h.rep")).as("rep"))
      val next = iterate.cut(jumped).persist()
      val prev = labels
      labels = next
      val s = repSum(labels) // materializes checkpoint + cache in one job
      prev.unpersist() // round caches don't accumulate
      graft.Obs.event("cc", "round" -> rounds, "sum" -> s)
      if (prevSum.exists(_.compareTo(s) == 0)) {
        symLoop.unpersist(); sym.unpersist(); edges.unpersist()
        // SQL-cache hygiene: the converged labels are already
        // materialized as checkpoint blocks/files (repSum was the
        // action), so dropping the cache entry keeps reads fast while
        // leaving nothing in the session cache once the caller's frame
        // is garbage-collected.
        labels.unpersist()
        return labels
      }
      prevSum = Some(s)
    }
    symLoop.unpersist(); sym.unpersist(); edges.unpersist()
    throw new IllegalStateException(
      "connectedComponents: no convergence in 50 rounds")
  }

  /** Component assignment AT REST — the dedup graph's append lifecycle.
    * `saveComponents` persists the (id, rep) assignment;
    * `updateComponents` folds NEWLY verified pairs into it by running
    * connected components over assignment-rows-as-edges ∪ new pairs.
    * Each saved row joins a node to its representative, so the saved
    * relation connects exactly the components the original pair set
    * did — the merged result is IDENTICAL to a from-scratch CC over
    * every pair ever seen (q155 shares q47's oracle on the full pair
    * set), while the expensive pair verification runs only on the new
    * batch. This is how a standing corpus absorbs a daily crawl: the
    * assignment is corpus-sized, the daily join is batch-sized, and
    * historical pair relations never need re-materializing.
    * updateComponents returns the new assignment; callers persist it
    * back with saveComponents' write (new snapshot, not in-place). */
  def saveComponents(pairs: DataFrame, path: String,
                     aCol: String = "a", bCol: String = "b"): Unit =
    connectedComponents(pairs, aCol, bCol)
      .write.mode("overwrite").parquet(path)

  def updateComponents(spark: org.apache.spark.sql.SparkSession,
                       path: String, newPairs: DataFrame,
                       aCol: String = "a", bCol: String = "b"): DataFrame = {
    val saved = spark.read.parquet(path)
      .select(col("id").as(aCol), col("rep").as(bCol))
    connectedComponents(
      saved.union(newPairs.select(col(aCol), col(bCol))), aCol, bCol)
  }

  /** FSCK of an at-rest component assignment (the FsckCore contract):
    *
    *   - `ids_unique` — the assignment is a FUNCTION (one rep per id;
    *     a duplicate id means two snapshots were appended into one dir
    *     instead of replacing — the new-snapshot-not-in-place
    *     contract);
    *   - `reps_canonical` — pointer-jumping converged: every rep that
    *     itself appears as an id maps to itself (an unflattened chain
    *     makes updateComponents' assignment-rows-as-edges merge
    *     under-connect);
    *   - `reps_min` — the representative convention (rep ≤ id), which
    *     downstream canonical-pick relies on for determinism.
    *
    * Details are 0: the assignment is derived data, so there is no
    * base-free recompute to predict counts with — the ok flags ARE the
    * audit. */
  def fsckComponents(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FsckCore.Check]
    FsckCore.readRelation(spark, path, "readable") match {
      case Left(c) => out += c
      case Right(raw) =>
        out += (("readable", true, 1L))
        val a = raw.agg(count(lit(1)), countDistinct(col("id")),
          sum(when(col("rep") > col("id"), 1L).otherwise(0L))).head()
        val n = a.getLong(0)
        out += (("rows_nonempty", n > 0, 0L))
        if (n > 0) {
          out += (("ids_unique", n == a.getLong(1), 0L))
          out += (("reps_min", a.getLong(2) == 0L, 0L))
          val unflattened = raw.select(col("rep").as("id")).distinct()
            .join(raw.filter(col("rep") =!= col("id")), Seq("id"),
              "left_semi").count()
          out += (("reps_canonical", unflattened == 0L, 0L))
        }
    }
    FsckCore.toDf(spark, out.toSeq)
  }

  /** Embedding near-duplicate pairs within a blocking column (cluster id,
    * LSH bucket, label): pairs with squared L2 <= maxSqDist. The block
    * equi-join bounds cost to O(sum of block² sizes); at 100 TB blocks come
    * from a coarse quantizer (GridIndex / IVF), not a full cross join. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            blockCol: String, maxSqDist: Double): DataFrame = {
    val l = df.select(col(blockCol).as("__blk"), col(idCol).as("a"),
      col(vecCol).as("__va"))
    val r = df.select(col(blockCol).as("__blk"), col(idCol).as("b"),
      col(vecCol).as("__vb"))
    l.join(r, Seq("__blk"))
      .filter(col("a") < col("b"))
      .withColumn("dist", round(sqDist(col("__va"), col("__vb")), 6))
      .filter(col("dist") <= maxSqDist)
      .select(col("a"), col("b"), col("dist"))
  }

  /** Embedding near-duplicate pairs with NO caller-supplied blocking
    * column: blocks come from the IVF coarse quantizer via the
    * ASYMMETRIC home×probe join (IvfIndex.assignMultiHomed: each vector
    * sits in its nearest list once, and probes every list within
    * 2·sqrt(maxSqDist) of its nearest), which PROVABLY co-locates every
    * pair within the threshold — each qualifying pair surfaces in the
    * smaller id's home list — so the result is exactly the brute-force
    * all-pairs answer, at blocked-join cost that is INDEPENDENT of
    * nlist overshooting the data's cluster structure. This is the
    * composition the 100 TB pipeline runs on a real corpus (no label
    * column): fit centroids once (metadata), assign map-side, one
    * equi-join on list_id.
    *
    * Pruning effectiveness is a property of the DATA, not the algorithm:
    * blocks only discriminate when sqrt(maxSqDist) is small next to the
    * spread of vector-to-centroid distances (true for near-dup thresholds
    * over clustered real-world embeddings). On unclustered high-dim noise
    * where all pairwise distances concentrate (curse of dimensionality),
    * every vector expands into every list and the call honestly degrades
    * to a verified all-pairs join — still exact, never silently lossy.
    * If the threshold is not << the distance scale, the blocked join is
    * the wrong tool; use capByKey/LSH on content instead. */
  def embeddingNearDupByIvf(df: DataFrame, idCol: String, vecCol: String,
                            centroids: IvfIndex.Centroids,
                            maxSqDist: Double,
                            maxListRows: Long = 256L,
                            minRefineCandidates: Long = 4000000L): DataFrame = {
    // Zero centroids = zero vectors were available to fit them (empty
    // input): the correct answer is zero pairs — assignMulti's empty
    // literal array would fail analysis instead.
    if (centroids.isEmpty)
      return df.limit(0).select(col(idCol).as("a"), col(idCol).as("b"),
        lit(0.0).as("dist"))
    // Persisted like the other dedup intermediates: both join sides read
    // it (home filter + probe), and the nlist×dim distance evaluations
    // per row shouldn't run twice. At 100 TB this goes to scratch
    // storage; same plan shape.
    // Slack budget: the pair filter below keeps round(d², 6) <=
    // maxSqDist, which admits true d² up to maxSqDist + 5e-7, so the
    // effective radius is r = sqrt(maxSqDist + 1e-6); the ASYMMETRIC
    // home×probe join (see assignMultiHomed) needs 2r on the probe side.
    val slack = 2.0 * math.sqrt(maxSqDist + 1e-6)
    val expanded = CacheScope.register(IvfIndex.assignMultiHomed(df,
      vecCol, centroids, slack).persist())
    pairsFromListsRefined(expanded, idCol, vecCol, vecCol, "dist",
      (a, b) => sqDist(a, b), _ <= maxSqDist, slack,
      maxListRows = maxListRows,
      minRefineCandidates = minRefineCandidates)
  }

  /** Shared tail of the IVF-blocked near-dup variants: the ASYMMETRIC
    * blocked self-join — home-only rows (is_home, each vector exactly
    * once) against the full slack-expanded relation, on list_id. Pair
    * (u, v) with u < v surfaces exactly once, in u's home list, because
    * the callers budget DOUBLE slack on the expansion (the
    * assignMultiHomed proof); cost is Σ_list |home|·|probe| — immune to
    * nlist overshooting the data's cluster count, where the old
    * symmetric expanded² join ground q51 to 638 s at sf1. The
    * slack/rounding boundary reasoning lives in the CALLERS; this is
    * just the join mechanics, kept in one place so a boundary fix can't
    * drift between the L2 and cosine variants. */
  /** [[pairsFromLists]] with RECURSIVE LOSSLESS REFINEMENT of saturated
    * lists — the engine's answer to the autoNlist clamp meeting a 100×
    * corpus. Past the clamp (4096 lists: centroids ride plans as
    * literals, so nlist cannot follow n forever), per-list occupancy
    * grows linearly with n and the blocked join's Σ|home|·|probe| turns
    * quadratic — measured 29.8× per 10× data on q52 at sf10. This is
    * the reference's node-overflow subdivision
    * (/root/reference/include/pktree.hpp:587-635 — a node whose bucket
    * overflows subdivides) re-expressed as joins:
    *
    * Lists at or under `maxListRows` rows take the base join untouched
    * — at fixture scales NOTHING here fires and the plan is byte-
    * identical to before. A saturated list L is re-blocked by its OWN
    * rows: sub-centroids are a deterministic hash-stride pick of L's
    * HOME rows (one per ~`subTarget` rows, capped at `subKMax` — the
    * same sampling rule as fitCentroids, computed as column arithmetic,
    * no driver loop and no per-list fit); every row of L is assigned a
    * sub-home (argmin by (d, sub_id) — deterministic ties) plus
    * sub-memberships within the SAME `slack` the level-1 expansion
    * used, via one equi-join on list_id + one (list_id, row) argmin
    * aggregate. Blocks become (L, sub) — keyed by xxhash64 of the pair;
    * a hash collision only MERGES two blocks (more candidates, never
    * fewer) so it cannot lose a pair — and the construction recurses on
    * depth until blocks are under the cap.
    *
    * Losslessness composes level by level: for a qualifying pair (u, v)
    * with u's home list L, the level-1 proof (assignMultiHomed: slack =
    * 2r) puts v among L's rows; within L both u and v are measured
    * against the SAME sub-centroid set, so the identical triangle-
    * inequality argument — d(v, c_sub(u)) ≤ d*_v + 2r — puts v in u's
    * sub-block. A list whose stride pick comes up empty (hash luck on a
    * tiny home set) falls back to the base join for that list, lossless
    * either way. Each qualifying pair still surfaces exactly once (u's
    * home chain is unique), so the cold/hot union needs no dedup.
    *
    * PROGRESS GUARD: a saturated block recurses only if the previous
    * level cut its occupancy AT LEAST IN HALF (geometric shrinkage).
    * A genuinely separable block shrinks by ~subk per level, so halving
    * is a near-free bar for it — but a dense clique (diameter within
    * the slack: every row lands in every sub-list) shrinks barely or
    * not at all, and under the earlier shrank-at-all guard a
    * 300→290→280 clique recursed every level, multiplying membership
    * rows ×subk each time while discriminating nothing (the r11
    * q51/q52 regression: 1.6 s → 9.9 s at sf0.1 — masked in r10
    * because the official bench crashed before measuring it). Such
    * blocks route to the base join, which is optimal for them: their
    * TRUE output is quadratic anyway.
    *
    * TWO knobs decide when the machinery engages, because two different
    * things go wrong at two different scales:
    *   - `maxListRows` (per list) bounds PER-TASK memory: the base join
    *     hash-partitions by list_id, so one saturated list is one
    *     task's quadratic candidate set (a 3.5k-row orphan-flooded list
    *     at sf1 put ~12M pairs through a single distinct hash table ×32
    *     concurrent tasks → executor OOM). 256 keeps the worst task at
    *     ~65k candidates.
    *   - `minRefineCandidates` (total, Σ home·occ over saturated lists)
    *     bounds WHEN refinement is worth its ~4 s of fixed machinery
    *     (multi-join, eager checkpoint, extra scheduler rounds): the
    *     fixture-scale clustered oracles have a few 300-row lists
    *     (~0.6M total candidates — the base join costs milliseconds),
    *     and paying the machinery there was the r11 q51/q52 regression.
    *     Below the gate the base join runs even for over-cap lists —
    *     bounded by the gate itself, so the per-task set stays small.
    *
    * Scale: each level costs ≤ `subKMax`× the saturated rows through
    * one join (the honest price of a k-ary quantizer tree level) and
    * multiplies per-list capacity by ~`subKMax`; depth 3 over the 4096
    * coarse lists covers ~256·256³ ≈ 4e9 rows per list before the
    * base join sees a saturated block again. */
  private[operators] def pairsFromListsRefined(
      expanded: DataFrame, idCol: String, vecCol: String,
      blockVecCol: String, scoreName: String,
      score: (Column, Column) => Column, keep: Column => Column,
      slack: Double, maxListRows: Long = 256L,
      minRefineCandidates: Long = 4000000L, subTarget: Int = 32,
      subKMax: Int = 256, depth: Int = 3,
      candRowsPerPartition: Long = 65536L): DataFrame = {
    if (depth <= 0)
      return pairsFromLists(expanded, idCol, vecCol, scoreName, score, keep)
    // __pocc rides only on recursive calls: the parent block's row count,
    // the progress guard below compares against it
    val hasPocc = expanded.columns.contains("__pocc")
    val baseCols = Seq(idCol, vecCol, blockVecCol).distinct ++
      Seq("list_id", "is_home")
    val cols = baseCols ++ (if (hasPocc) Seq("__pocc") else Nil)
    val rows = expanded.select(cols.map(col): _*)
    // one row per list (≤ nlist at level 1, ≤ saturated sub-blocks
    // below) — metadata-sized; persisted because the saturation check,
    // the broadcast join, and the stride arithmetic all read it
    val occ = CacheScope.register(rows.groupBy(col("list_id")).agg(
      count(lit(1)).as("__occ"),
      sum(col("is_home").cast("long")).as("__occh"),
      (if (hasPocc) first(col("__pocc")) else lit(Long.MaxValue))
        .as("__parent")).persist())
    // PROGRESS GUARD (geometric — scaladoc above): refine a saturated
    // block only if the previous level at least HALVED it. Separable
    // blocks shrink ~×subk per level and clear the bar for free; dense
    // cliques shrink marginally and route to the base join after at
    // most one paid level. (__parent = Long.MaxValue at level 1; the
    // doubling cannot overflow for any real occupancy.)
    //
    // HOME-PAYOFF RULE: refinement of list i costs ~occ_i×subk_i rows
    // through the sub-assignment explode, while the base join costs
    // home_i×occ_i candidates — so refinement pays only when home_i ≫
    // subk_i. A slack-flooded list (rows whose own nearest centroid is
    // FAR probe a large fraction of all lists — the sf1 cosine fixture
    // put 70× membership multiplication through this path) has
    // home_i ≪ occ_i: its base join is a thin home-slice per task
    // (~72k candidates at sf1) while one refinement level explodes
    // ~100M rows. Such lists route cold; margin 2× keeps borderline
    // lists off the machinery too.
    // deterministic per-list sub-quantizer sizing (also used below):
    // subk = ceil(occ/subTarget) capped at subKMax
    val subk = least(ceil(col("__occ") / subTarget), lit(subKMax))
      .cast("long")
    val refinable = col("__occ") > maxListRows &&
      col("__occ") * 2 <= col("__parent") &&
      col("__occh") >= subk * 2
    // Short-circuit on TOTAL candidate work (Σ home·occ over refinable
    // lists): below the gate the base join IS the right plan, and the
    // refinement machinery must not appear in it (fixture-scale runs —
    // and every oracle query — take this arm; the only added cost is
    // this one metadata-sized action over the caller-persisted
    // expansion). The same action also sums the NON-refinable lists'
    // candidate work — that is exactly the base join's input volume,
    // and it sizes the base join's exchange (candidateWidth above)
    // whichever arm runs.
    val spark = expanded.sparkSession
    val works = occ.agg(
      coalesce(sum(when(refinable, col("__occh") * col("__occ"))),
        lit(0L)),
      coalesce(sum(when(!refinable, col("__occh") * col("__occ"))),
        lit(0L))).head()
    val hotWork = works.getLong(0)
    val coldWork = works.getLong(1)
    if (hotWork < math.max(minRefineCandidates, 1L))
      return pairsFromLists(expanded.select(baseCols.map(col): _*),
        idCol, vecCol, scoreName, score, keep,
        width = candidateWidth(spark, hotWork + coldWork,
          candRowsPerPartition, tag = "lists-all"))
    val flagged = rows.drop("__pocc").join(broadcast(occ), Seq("list_id"))
    val hot = flagged.filter(refinable)
    // deterministic per-list sub-quantizer: every (occh/subk)-th home
    // row by id hash
    val stride = greatest(floor(col("__occh") / subk), lit(1L)).cast("long")
    val subq = hot.filter(col("is_home") &&
        pmod(xxhash64(col(idCol)), stride) === 0)
      .select(col("list_id"), col(idCol).as("__subid"),
        col(blockVecCol).as("__subv"))
    val withSub = subq.select(col("list_id")).distinct()
    // cold branch = everything not refinable (under-cap lists, saturated-
    // but-not-shrinking cliques) plus hot lists whose stride pick came up
    // empty (rare; lossless either way)
    val coldRows = flagged.filter(!refinable)
      .unionByName(hot.join(withSub, Seq("list_id"), "left_anti"))
      .select(baseCols.map(col): _*)
    val coldPairs = pairsFromLists(coldRows, idCol, vecCol, scoreName,
      score, keep,
      width = candidateWidth(spark, coldWork, candRowsPerPartition,
        tag = "lists-cold"))
    val exploded = hot.join(withSub, Seq("list_id"), "left_semi")
      .join(subq, Seq("list_id"))
      .withColumn("__d", sqDist(col(blockVecCol), col("__subv")))
      .drop("__subv")
    val best = exploded.groupBy(col("list_id"), col(idCol))
      .agg(min(struct(col("__d"), col("__subid"))).as("__h"))
    // Lineage CUT, not just a cache: every recursion level's plan would
    // otherwise embed ~6 references to the parent's full tree (occ,
    // flagged, subq, exploded, best all re-state `rows`) — exponential
    // plan size in depth; Catalyst re-analysis dominated wall time and
    // explainString alone could OOM (the prepareTraining lesson). The
    // checkpoint truncates to a leaf; the next level's occupancy count
    // and both base-join sides read the materialized blocks.
    val mem2 = CacheScope.registerCheckpoint(
      exploded.join(best, Seq("list_id", idCol))
      .filter(sqrt(col("__d")) <= sqrt(col("__h.__d")) + slack)
      .withColumn("is_home",
        col("is_home") && col("__subid") === col("__h.__subid"))
      .withColumn("__pocc", col("__occ")) // parent size, progress guard
      .withColumn("list_id", xxhash64(col("list_id"), col("__subid")))
      .select((baseCols :+ "__pocc").map(col): _*)
      .localCheckpoint(true))
    // Named args: after minRefineCandidates entered the signature, the
    // old positional call silently widened subTarget into it (machinery
    // engaged at ~32 candidates, sub-fan-out collapsed to 2 then 1, and
    // depth never decremented) — invisible to result equality because
    // refinement is lossless.
    val hotPairs = pairsFromListsRefined(mem2, idCol, vecCol, blockVecCol,
      scoreName, score, keep, slack, maxListRows = maxListRows,
      minRefineCandidates = minRefineCandidates, subTarget = subTarget,
      subKMax = subKMax, depth = depth - 1,
      candRowsPerPartition = candRowsPerPartition)
    coldPairs.unionByName(hotPairs)
  }

  /** Exchange width for a candidate stream of `estRows` rows. The
    * session's initial width is sized for SCANS (bytes of parquet),
    * but a similarity join's candidate stream can be orders of
    * magnitude larger than its inputs, and AQE can only coalesce an
    * exchange DOWN from the initial width, never split an oversized
    * uniform exchange UP — so an under-provisioned candidate exchange
    * spills per task (measured at ×100: q133's candidate stream at
    * 32-wide spilled past a 66 GB disk; q52's same-window sweep put
    * its optimum at 256-wide vs the shipped session 64). Clamps:
    * None when the estimate does not beat the session's own initial
    * width — the candidate stream then inherits the session plan
    * unchanged (AQE may still coalesce a tiny stream BELOW cores, so
    * fixture-scale oracle plans are byte-identical to the unsized
    * ones); capped at `maxWidth` (per-round scheduler floor — the
    * 2×cores suite clamp exists because width costs real time on
    * metadata-sized exchanges; 1024 bounds the one deliberately-wide
    * join). */
  private[operators] def candidateWidth(spark: SparkSession,
                                        estRows: Long,
                                        rowsPerPartition: Long,
                                        maxWidth: Int = 1024,
                                        tag: String = "cand"): Option[Int] = {
    val session = sessionWidth(spark)
    val sized = if (estRows <= 0L) 0L
      else (estRows + rowsPerPartition - 1L) / rowsPerPartition
    val w = math.min(maxWidth.toLong, sized)
    if (w > session) {
      // observability: the width decision is invisible in .explain once
      // AQE renumbers stages — surface it where a deployment can see it
      graft.Obs.event("width", "tag" -> tag, "est" -> estRows,
        "width" -> w, "session" -> session)
      Some(w.toInt)
    } else None
  }

  /** DATA-SIZED width for an iterative loop's cached relation. The
    * cached relation's partition count sets the width of every
    * per-round join/partial-aggregate stage downstream of it (those
    * stages scan the cache; AQE cannot re-split a cached relation), so
    * the width must track the DATA, not a fixed knob: the session's
    * full width over-tasks a fixture-sized graph (measured +20% per
    * graph query at sf0.1 — the ~250 ms-per-action scheduler/codegen
    * floor times 3-5 stages per round), while AQE's bytes-coalesced
    * width (1-3 partitions) serializes the per-round join CPU at ×10
    * scale (measured: PageRank 35.4 → 28.9 s, PPR 29.4 → 21.8 s at
    * sf1b from pinning width alone). Static optimizer stats of the
    * input (scan-derived, no extra job) at ~4 MB per partition,
    * clamped to [1, sessionWidth] — the Tables.withBenchShuffle sizing
    * rule applied per relation. */
  private[operators] def dataWidth(df: DataFrame): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = BigInt(sessionWidth(df.sparkSession))
    (bytes / (4L << 20)).min(cap).max(1).toInt
  }

  /** The session's configured full exchange width — the width the
    * session operator (bench, a cluster deployment) sized for its data
    * and core count. Used as an EXPLICIT partition count on the
    * CPU-bound exchanges (shingling, hashing, signature builds): AQE's
    * partition coalescing prices an exchange by its compressed BYTES,
    * and the narrow (id, text) or (id, hash64) relations these stages
    * shuffle are tiny next to the per-row CPU behind them — measured at
    * sf0.1, the whole split+explode+md5 pipeline of an index build ran
    * in ONE coalesced task (2.6 s serial on a 32-core box) because its
    * input exchange compressed below the 1 MB coalesce floor. A keyed
    * `repartition(col)` is coalescible; `repartition(width, col)` is
    * pinned. Scale-safe by construction: the value tracks exactly the
    * knobs the session already sizes from data (initialPartitionNum
    * when AQE is on, shuffle.partitions otherwise — the candidateWidth
    * contract, ADVICE r12), so at ×100 it grows with the input instead
    * of freezing at a local core count. */
  private[operators] def sessionWidth(spark: SparkSession): Int = {
    val conf = spark.conf
    // initialPartitionNum only *means* anything when AQE is on (it is
    // the coalesce ceiling AQE shrinks from); with AQE off the real
    // exchange width is shuffle.partitions, and comparing against a
    // stale/higher initialPartitionNum would wrongly suppress a needed
    // repartition (ADVICE r12). Unset adaptive.enabled = Spark's
    // default, which is on.
    val aqeOn = conf.getOption("spark.sql.adaptive.enabled")
      .forall(_.equalsIgnoreCase("true"))
    (if (aqeOn)
        conf.getOption(
          "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      else None)
      .orElse(conf.getOption("spark.sql.shuffle.partitions"))
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .getOrElse(spark.sparkContext.defaultParallelism)
  }

  /** `width` sizes the candidate join's own exchange from the
    * caller's occupancy stats (Σ home·occ over the lists routed
    * here): both sides are hash-partitioned on list_id at that width,
    * so the join itself adds no exchange and its per-task candidate
    * block is bounded by the estimate, not by the session's
    * scan-sized initial width. None = inherit the session plan
    * (callers with no stats — the depth-0 leaf — and estimates the
    * session width already covers). */
  private def pairsFromLists(expanded: DataFrame, idCol: String,
                             vecCol: String, scoreName: String,
                             score: (Column, Column) => Column,
                             keep: Column => Column,
                             width: Option[Int] = None): DataFrame = {
    def sized(df: DataFrame): DataFrame =
      width.map(w => df.repartition(w, col("list_id"))).getOrElse(df)
    val l = sized(expanded.filter(col("is_home"))
      .select(col("list_id"), col(idCol).as("a"), col(vecCol).as("__va")))
    val r = sized(expanded.select(col("list_id"), col(idCol).as("b"),
      col(vecCol).as("__vb")))
    l.join(r, Seq("list_id"))
      .filter(col("a") < col("b"))
      .withColumn(scoreName, round(score(col("__va"), col("__vb")), 6))
      .filter(keep(col(scoreName)))
      .select(col("a"), col("b"), col(scoreName))
      .distinct()
  }

  /** COSINE near-duplicate pairs with no blocking column — the standard
    * embedding-similarity form: pairs with round(cosine, 6) >= minCosine.
    * Candidates come from the same provably lossless IVF blocking as
    * embeddingNearDupByIvf, run on L2-NORMALIZED copies: on unit vectors
    * ||a−b||² = 2(1−cos), so any pair passing the rounded acceptance
    * (cos >= minCosine − 5e-7) has normalized sqDist <= 2(1−minCosine)
    * + 1e-6 — covered by the slack, no qualifying pair can be missed.
    * The exact filter evaluates cosine on the ORIGINAL vectors (identical
    * formula to the oracle), so output values don't depend on the
    * normalization trick. minCosine must be positive: a zero vector has
    * cosine 0 with everything and can never qualify, which is what makes
    * the normalize-zero-passthrough safe here. */
  def embeddingNearDupCosine(df: DataFrame, idCol: String, vecCol: String,
                             nlist: Int, minCosine: Double,
                             maxListRows: Long = 256L,
                             minRefineCandidates: Long = 4000000L): DataFrame = {
    require(minCosine > 0 && minCosine <= 1, "minCosine in (0, 1]")
    // 2e-6: 1e-6 covers the rounded acceptance (cos >= minCosine - 5e-7
    // ⇒ normalized d² <= 2(1-minCosine) + 1e-6) and the second 1e-6 is
    // float headroom — blocking measures L2 on COMPUTED unit vectors
    // (norm 1 ± ulps) while the filter measures cosine on originals, so
    // the budget must not be consumed exactly at the boundary.
    val maxSq = 2.0 * (1.0 - minCosine) + 2e-6
    val n = df.select(col(idCol), col(vecCol),
      VectorFunctions.normalize(col(vecCol)).as("__nv"))
    // refineIters = 1: on the unit sphere the 2r membership slack is
    // LARGE relative to typical direction separations, so a row whose
    // raw-sample centroid coverage missed its direction (d_home ~ √2)
    // probes a huge fraction of all lists — measured 70× membership
    // multiplication at sf1 on the clustered fixture. One Lloyd pass
    // over the fit sample moves centroids onto the actual direction
    // means (d_home → ~0 for everyone) and collapsed the expansion
    // 1.4M → 33k rows for ~1.4 s of driver fit. Blocking is lossless
    // for ANY centroid set, so results are bit-identical.
    val cents = IvfIndex.fitCentroids(n, "__nv", idCol, nlist,
      refineIters = 1)
    // empty input fits zero centroids; the correct answer is zero pairs
    // (assignMulti's empty literal array would fail analysis instead)
    if (cents.isEmpty)
      return df.limit(0).select(col(idCol).as("a"), col(idCol).as("b"),
        lit(0.0).as("cosine"))
    // asymmetric home×probe join: 2× the symmetric slack (see
    // assignMultiHomed's losslessness proof)
    val slack = 2.0 * math.sqrt(maxSq)
    val expanded = CacheScope.register(IvfIndex.assignMultiHomed(n, "__nv",
      cents, slack).persist())
    pairsFromListsRefined(expanded, idCol, vecCol, "__nv", "cosine",
      (a, b) => VectorFunctions.cosine(a, b), _ >= minCosine, slack,
      maxListRows = maxListRows,
      minRefineCandidates = minRefineCandidates)
  }

  /** Chunk-level (paragraph) corpus dedup, CCNet-style (Wenzek et al.
    * 2020): documents split into non-overlapping token windows, each
    * chunk kept only at its FIRST corpus occurrence (smallest (id,
    * chunk_idx)), documents reassembled from their surviving chunks.
    * Catches the boilerplate document-level dedup can't see — headers,
    * navigation, license blocks repeated across otherwise-distinct pages.
    *
    * Scale design: chunking is the map-side TextAnalysis.chunk fan-out;
    * the winner rule is one groupBy(chunk key) with a min-struct
    * aggregate (combiner-friendly, no window over the corpus-wide chunk
    * relation) followed by an equi-join back — AQE broadcasts it when
    * the duplicate-chunk relation is small, shuffles otherwise. The
    * reassembly groupBy is keyed by doc id, skew-free by construction.
    * Exactly two shuffle keys end-to-end (chunk hash, doc id); the
    * 128-bit chunk hash stands in for chunk text on the shuffle wire.
    * The per-doc chunk total is closed-form (ceil(n_tokens / window)),
    * so it is projected map-side off the raw docs — no third shuffle
    * and no second pass over the exploded chunk relation.
    *
    * @return one row per input doc: (idCol, n_chunks, n_kept, new_text)
    *         — new_text null when every chunk was someone else's
    *         (a fully-boilerplate doc, the natural drop signal)
    */
  def dedupChunks(docs: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int): DataFrame = {
    val chunks = TextAnalysis.chunk(
        docs.select(col(idCol), col(textCol)), textCol,
        chunkTokens, overlap = 0)
      .select(col(idCol), col("chunk_idx"), col("chunk_text"),
        md5(col("chunk_text")).as("__h"))

    val winners = chunks.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("__w"))

    val kept = chunks.join(winners, "__h")
      .filter(col(s"__w.$idCol") === col(idCol) &&
        col("__w.chunk_idx") === col("chunk_idx"))

    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("chunk_idx"),
          col("chunk_text")))),
        c => c("chunk_text")), " ").as("new_text"))

    // chunk() emits ceil(n_tokens / chunkTokens) windows (>= 1: a short
    // doc still yields its single tail chunk), so the total needs no
    // aggregation over the exploded relation
    docs.select(col(idCol),
        greatest(ceil(size(split(col(textCol), " ")) /
          lit(chunkTokens.toDouble)), lit(1L)).cast("long").as("n_chunks"))
      .join(rebuilt, Seq(idCol), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
  }

  /** Duplicated-span analysis: the distributed re-expression of exact
    * substring deduplication (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — there a suffix array over the
    * concatenated corpus; a suffix array is inherently sequential, so at
    * 100 TB the equivalent signal is computed from SLIDING TOKEN WINDOWS
    * instead). A w-token window is *duplicated* when its text occurs at
    * least `minDf` times corpus-wide, counting every occurrence —
    * including repeats inside one document (Lee et al.'s within-doc case).
    * Every token covered by any duplicated window is boilerplate; the
    * operator reports per-doc coverage and rewrites the doc with ALL
    * covered tokens removed (the CCNet-flavored boilerplate scrub — the
    * keep-one-occurrence variant is [[dedupChunks]], whose chunk winner
    * rule preserves exactly one copy).
    *
    * Scale shape: duplication is decided by ONE count shuffle keyed on the
    * 64-bit window hash (the string never rides the wire); the verdict
    * returns to the (id, pos) window relation by a semi-join on that same
    * hash. Covered positions explode each duplicated window to its w token
    * indices — ≤ w × dup-windows rows, linear in corpus size (for w >> 16
    * a per-doc interval-union sweep — sort spans, running max end — cuts
    * the constant to the number of merged spans). The rewrite is a
    * corpus-token-sized anti-join plus one groupBy(id): the same O(tokens)
    * a tokenization pass already costs. No stage is quadratic.
    *
    * @param windowTokens span granularity w (Lee et al. use 50 BPE tokens;
    *                     8 words is the word-level equivalent)
    * @param minDf        occurrences (not distinct docs) before a window
    *                     counts as duplicated
    * @return one row per input doc:
    *         (idCol, n_tokens, n_dup_windows, dup_tokens, scrubbed) —
    *         `scrubbed` is "" when every token was covered
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     windowTokens: Int = 8, minDf: Int = 2): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be >= 1")
    require(minDf >= 2, "minDf >= 2: a unique span is never duplicated")
    val w = windowTokens
    val toksCol = col("__toks")
    // token array materialized once per row (same rationale as shingles:
    // inlining split into the transform lambda re-runs the regex per
    // element_at — measured 3-4x the operator)
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .withColumn("n_tokens", size(toksCol).cast("long"))

    val grams = transform(
      sequence(lit(1), size(toksCol) - (w - 1)),
      i => struct(i.cast("long").as("pos"),
        xxhash64(concat_ws(" ",
          (0 until w).map(o => element_at(toksCol, i + o)): _*)).as("gh")))
    val wins = toks.filter(size(toksCol) >= w)
      .select(col(idCol), explode(grams).as("__w"))
      .select(col(idCol), col("__w.pos").as("pos"), col("__w.gh").as("gh"))

    val dupHashes = wins.groupBy(col("gh"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") >= minDf)
      .select(col("gh"))
    // persisted: duplication-sized (dup windows only — small in a clean
    // corpus), and both per-doc stats and the coverage explode read it;
    // without the cache each consumer rebuilds the corpus-window
    // relation AND its count shuffle (measured 16 scans of the raw
    // text in the uncached plan)
    val dupWins = CacheScope.register(
      wins.join(dupHashes, Seq("gh"), "leftsemi").persist())

    val nDup = dupWins.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_windows"))
    // persisted for the same reason: read by the count and the rewrite's
    // anti-join; ≤ w × dup-windows rows
    val covered = CacheScope.register(dupWins
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("p"))
      .distinct().persist())
    val covCount = covered.groupBy(col(idCol))
      .agg(count(lit(1)).as("dup_tokens"))

    val tokPos = toks
      .select(col(idCol), posexplode(toksCol).as(Seq("__p0", "tok")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("p"), col("tok"))
    val scrubbed = tokPos.join(covered, Seq(idCol, "p"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("p"), col("tok")))),
        s => s("tok")), " ").as("scrubbed"))

    toks.select(col(idCol), col("n_tokens"))
      .join(nDup, Seq(idCol), "left")
      .join(covCount, Seq(idCol), "left")
      .join(scrubbed, Seq(idCol), "left")
      .withColumn("n_dup_windows", coalesce(col("n_dup_windows"), lit(0L)))
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("scrubbed", coalesce(col("scrubbed"), lit("")))
  }

  /** Quality-aware canonical selection: collapse each near-duplicate
    * cluster to its single BEST member instead of the smallest id. Min-id
    * winner rules (exactByKey, dedupChunks) are arbitrary — when a
    * cluster holds a clean original and a mangled scrape, curation wants
    * the highest-quality copy kept. Components come from
    * [[connectedComponents]] over the verified pair graph; docs in no
    * pair are their own singleton component.
    *
    * Winner rule: maximum `scoreCol`, ties to the smallest id — computed
    * as ONE min-struct aggregate per component ((-score, id) lexicographic),
    * which is combiner-friendly and immune to giant-component skew, where
    * a row_number window over the component would funnel a 100M-member
    * boilerplate cluster through one task.
    *
    * @param scoreCol numeric quality score (higher = better), e.g.
    *                 character count or a [[TextAnalysis.qualityFeatures]]
    *                 signal
    * @return one row per input doc:
    *         (idCol, rep, score, n_members, keep ∈ {0,1})
    */
  def canonicalPick(docs: DataFrame, idCol: String, scoreCol: Column,
                    pairs: DataFrame, aCol: String = "a", bCol: String = "b",
                    checkpointDir: Option[String] = None): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol, checkpointDir)
      .withColumnRenamed("id", idCol)
    val scored = docs.select(col(idCol), scoreCol.cast("double").as("score"))
      .join(comps, Seq(idCol), "left")
      .withColumn("rep", coalesce(col("rep"), col(idCol)))
    val winners = scored.groupBy(col("rep")).agg(
      min(struct((-col("score")).as("ns"), col(idCol).as("wid"))).as("__w"),
      count(lit(1)).as("n_members"))
      .select(col("rep"), col("__w.wid").as("__wid"), col("n_members"))
    scored.join(winners, Seq("rep"))
      .select(col(idCol), col("rep"), col("score"), col("n_members"),
        (col(idCol) === col("__wid")).cast("long").as("keep"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embeddings
    * with k-means, then prune near-identical members WITHIN each
    * cluster — semantically-duplicate pairs (paraphrases, re-crawls,
    * translations with shared embedding geometry) that no lexical
    * fingerprint catches. Cluster-scoped pairing is the published
    * algorithm's scale contract: pairs never cross clusters, so k
    * controls the quadratic tail (cluster ≈ n/k rows; the join is per-
    * cluster). This is deliberately NOT [[embeddingNearDupCosine]]'s
    * lossless slack-blocking — that operator finds EVERY pair above
    * threshold; SemDeDup trades cluster-boundary pairs for a k-fold
    * smaller candidate set, the accepted trade at corpus scale.
    *
    * Winner rule: within a pair above `minCosine` (cosine rounded to
    * `roundTo`, the cross-engine contract), the larger id loses —
    * survivors are local minima of the per-cluster pair graph, matching
    * CorpusPipeline's per-edge removal semantics.
    *
    * @return one row per input: (idCol, cluster, keep ∈ {0,1})
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, minCosine: Double,
                    roundTo: Int = 6): DataFrame = {
    val (asg0, _) = Clustering.kmeans(df, idCol, vecCol, k, iters, roundTo)
    // read three times (both pair sides + the output spine)
    val asg = CacheScope.register(asg0.persist())
    val vecs = df.select(col(idCol),
      VectorFunctions.toDouble(col(vecCol)).as("__v"))
    val withVec = asg.select(col(idCol), col("cluster"))
      .join(vecs, Seq(idCol))
    val l = withVec.select(col("cluster"), col(idCol).as("__a"),
      col("__v").as("__va"))
    val r = withVec.select(col("cluster"), col(idCol).as("__b"),
      col("__v").as("__vb"))
    val losers = l.join(r, "cluster").filter(col("__a") < col("__b"))
      .filter(round(VectorFunctions.cosine(col("__va"), col("__vb")),
        roundTo) >= minCosine)
      .select(col("__b").as(idCol)).distinct()
    asg.select(col(idCol), col("cluster"))
      .join(losers.withColumn("__lose", lit(1L)), Seq(idCol), "left")
      .withColumn("keep", when(col("__lose").isNull, 1L).otherwise(0L))
      .drop("__lose")
  }
}
