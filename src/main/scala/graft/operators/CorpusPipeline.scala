package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-corpus preparation pipeline — the composition
  * the individual north-star operators exist for: quality-filter, exact
  * dedup, near-dup removal, deterministic split. One call takes a raw
  * document table to a training-ready corpus.
  *
  * Every stage is a narrow-or-single-shuffle DataFrame transform from
  * this package; nothing collects to the driver, so the same call runs
  * unchanged from 500 rows to 100 TB. Stage order is deliberate:
  * cheap scan-speed filters first (quality), then the one-shuffle exact
  * dedup, and the pairwise near-dup machinery only on the survivors.
  */
object CorpusPipeline {

  /** @param maxPunctRatio  drop mostly-punctuation rows (boilerplate)
    * @param minTokens      drop near-empty rows
    * @param minhashK       MinHash signature width for near-dup blocking
    * @param minJaccard     near-dup verification threshold (exact n-gram
    *                       Jaccard over MinHash candidates)
    * @param collapseComponents near-dup removal granularity. false (the
    *                       default): per-edge — a row is dropped iff it has
    *                       a verified near-dup with a smaller id, so a
    *                       component can keep several local-minimum
    *                       survivors (e.g. edges 1~3 and 2~3 keep both 1
    *                       and 2: they are not near-dups of each other).
    *                       true: each connected component of the verified
    *                       pair graph collapses to its min-id
    *                       representative — the aggressive variant large
    *                       pipelines use when template chains should count
    *                       as one document.
    */
  def prepare(docs: DataFrame, idCol: String, textCol: String,
              minTokens: Int = 5, maxPunctRatio: Double = 0.3,
              minhashK: Int = 8, minJaccard: Double = 0.5,
              collapseComponents: Boolean = false): DataFrame = {
    // Same cache lifecycle as prepareWithEmbeddings (scaladoc there): the
    // corpus comes back persisted and materialized, the operator-internal
    // intermediates (CacheScope) are unpersisted, the caller owns the
    // corpus's unpersist().
    //
    // Fault-tolerance contract (ADVICE r17): dedupStages cuts lineage
    // with localCheckpoint, so after scoped.release() the returned
    // persisted corpus can no longer be RECOMPUTED on cached-block loss
    // — an executor death invalidates it and the caller re-runs
    // prepare(). Accepted deliberately: the alternative (keeping the
    // full dedup lineage alive) made Catalyst re-analysis dominate wall
    // time (the r17 dedupStages finding), and a lost executor
    // mid-pipeline already forfeits the checkpoint blocks the lineage
    // would replay from.
    val (corpus, scoped) = CacheScope.collect {
      Sampling.trainValTest(
        dedupStages(docs, idCol, textCol, minTokens, maxPunctRatio,
          minhashK, minJaccard, collapseComponents), idCol).persist()
    }
    corpus.count()
    scoped.release()
    corpus
  }

  /** prepare() plus a SEMANTIC near-dup stage: after the text-level
    * dedup, documents whose embeddings are near-identical in cosine
    * (paraphrases, translations re-ingested, templated rewrites — pairs
    * lexical measures cannot catch) are reduced to their min-id
    * representative via the IVF-blocked cosine join
    * (Dedup.embeddingNearDupCosine — lossless blocking, never O(n²)).
    * Embeddings are joined by id AFTER the text stages so the expensive
    * vector machinery only ever sees surviving rows; rows with no
    * embedding pass through unexamined (they can't be semantically
    * deduped, dropping them would be data loss).
    *
    * Cache lifecycle: the intermediates this call persists (the text-dedup
    * chain, the survivor-embedding join) are materialized, consumed, and
    * UNPERSISTED before returning — the returned corpus is itself cached
    * and already computed (the eager pass doubles as its materialization),
    * and the caller owns its `unpersist()` (or writes it out and
    * unpersists) when done. A completed call leaves no intermediate
    * entries in the session cache. */
  def prepareWithEmbeddings(docs: DataFrame, idCol: String, textCol: String,
                            embeddings: DataFrame, embIdCol: String,
                            embCol: String, nlist: Int = 64,
                            minCosine: Double = 0.97,
                            minTokens: Int = 5, maxPunctRatio: Double = 0.3,
                            minhashK: Int = 8, minJaccard: Double = 0.5,
                            collapseComponents: Boolean = false): DataFrame = {
    val (corpus, scoped) = CacheScope.collect {
      // Persisted: the text-dedup chain (quality -> window dedup ->
      // MinHash -> Jaccard) is read by the survivors join, the final
      // anti-join, AND the semantic stage's driver actions (centroid
      // count/sample) — unpersisted it would recompute 4-5 times. Same
      // convention as every multiply-read dedup intermediate. NOTE
      // (ADVICE r17): dedupStages itself ALSO cuts lineage at its
      // exact-dedup stage (localCheckpoint), so like prepare() this
      // method's returned corpus is not recomputable after
      // scoped.release() drops those blocks — see prepare()'s
      // fault-tolerance note; the zero-cached-blocks contract below
      // refers to SQL-cache entries, which this method still honors.
      val deduped = CacheScope.register(
        dedupStages(docs, idCol, textCol, minTokens, maxPunctRatio,
          minhashK, minJaccard, collapseComponents).persist())
      val emb = embeddings.select(col(embIdCol).as(idCol), col(embCol))
      // vectors attach to surviving rows only (inner join = also the
      // "has an embedding" gate for the semantic stage)
      val survivors = CacheScope.register(
        deduped.select(col(idCol)).join(emb, Seq(idCol)).persist())
      val pairs = Dedup.embeddingNearDupCosine(survivors, idCol, embCol,
        nlist, minCosine)
      val losers =
        if (collapseComponents)
          Dedup.connectedComponents(pairs)
            .filter(col("rep") =!= col("id")).select(col("id").as(idCol))
        else pairs.select(col("b").as(idCol)).distinct()
      Sampling.trainValTest(
        deduped.join(losers, Seq(idCol), "left_anti"), idCol).persist()
    }
    // One eager pass over cached inputs materializes the result, which
    // then no longer needs the intermediates: unpersist everything the
    // scope captured (including the operator-internal caches) rather
    // than leaking input-sized entries into a long-lived session.
    corpus.count()
    scoped.release()
    corpus
  }

  /** The FULL modern training-data pipeline — every curation stage this
    * package implements, composed in production order:
    *
    *   1. Gopher repetition gate (dup-word / top-bigram fractions) —
    *      catches degenerate text the length/punct heuristics pass;
    *   2. quality gate → exact dedup → (optional) chunk-level dedup →
    *      LSH+Jaccard near-dup removal (the prepare() core);
    *   3. benchmark decontamination: drop survivors sharing any word
    *      n-gram with the held-out eval set (Bloom-prefiltered);
    *   4. corpus mixing to a target source-weight recipe;
    *   5. deterministic train/val/test split;
    *   6. sequence packing of the TRAIN slice into token-budget bins
    *      (val/test rows keep null bin columns — they are not batched).
    *
    * Stage order is the cheap-first / pairwise-last discipline of
    * prepare(), with decontamination after dedup (fewer docs to shingle)
    * and mixing after decontamination (the recipe should re-weight what
    * will actually be trained on). Same cache lifecycle as prepare():
    * result comes back persisted + materialized, intermediates
    * unpersisted, caller owns the result's unpersist().
    *
    * @param evalDocs      held-out eval/bench documents (same id/text
    *                      columns); None skips decontamination
    * @param sourceWeights mixing recipe; empty skips mixing
    * @param chunkDedupTokens Some(window) inserts CCNet-style chunk
    *                      dedup (Dedup.dedupChunks) between the exact
    *                      and near-dup stages — there because it
    *                      REWRITES the text (cross-document boilerplate
    *                      chunks keep their first corpus occurrence
    *                      only), and the near-dup shingles, the
    *                      decontamination n-grams, and the packing token
    *                      counts must all see the rewritten text. Docs
    *                      that lose every chunk drop out. None (default)
    *                      skips the stage.
    * @param spanScrubTokens Some(window) inserts Lee-et-al duplicated-
    *                      span removal (Dedup.duplicateSpans) right
    *                      after the chunk stage: every token covered by
    *                      a window still duplicated corpus-wide is
    *                      deleted from EVERY copy (the chunk stage keeps
    *                      first occurrences; this one removes residual
    *                      boilerplate outright). Same placement logic —
    *                      all later stages see the scrubbed text; docs
    *                      scrubbed to nothing drop out. None (default)
    *                      skips the stage.
    * @return input columns + split + (shard, bin, offset_in_bin,
    *         n_tokens — train rows only, null elsewhere)
    */
  def prepareTraining(docs: DataFrame, idCol: String, textCol: String,
                      evalDocs: Option[DataFrame] = None,
                      sourceWeights: Map[String, Double] = Map.empty,
                      srcCol: String = "source",
                      packBudget: Long = 2048, packShards: Int = 32,
                      maxDupWordFrac: Double = 0.5,
                      maxTopBigramFrac: Double = 0.5,
                      decontamNgram: Int = 8,
                      chunkDedupTokens: Option[Int] = None,
                      spanScrubTokens: Option[Int] = None,
                      embeddings: Option[DataFrame] = None,
                      embVecCol: String = "embedding",
                      semanticK: Int = 4, semanticIters: Int = 2,
                      semanticMinCosine: Double = 0.3,
                      semanticAutoKFloor: Long = 10000L,
                      minTokens: Int = 5, maxPunctRatio: Double = 0.3,
                      minhashK: Int = 8, minJaccard: Double = 0.5,
                      collapseComponents: Boolean = false): DataFrame = {
    val (out, scoped) = CacheScope.collect {
      // The scan-speed quality predicate runs BEFORE the repetition
      // gate's corpus-wide bigram shuffle, so quality-rejected rows
      // never enter that shuffle. Both gates are per-document
      // predicates on the same text, so they commute: dedupStages
      // re-applies the quality filter to the survivors as its own
      // stage 1 (an idempotent no-op here) and the final relation is
      // identical either way.
      val prefiltered = TextAnalysis.qualityFeatures(docs, textCol)
        .filter(col("n_tokens") >= minTokens &&
          col("punct_ratio") <= maxPunctRatio)
        .select(docs.columns.toIndexedSeq.map(col): _*)
      val repFlagged = TextAnalysis
        .repetitionSignals(prefiltered, idCol, textCol)
        .filter(col("dup_word_frac") > maxDupWordFrac ||
          col("top_bigram_frac") > maxTopBigramFrac)
        .select(col(idCol))
      // Persisted: unlike prepare(), whose dedupStages input is a raw
      // scan, this input carries the repetition gate's bigram groupBy in
      // its lineage — and dedupStages reads its input from several
      // downstream actions (signature build, shingle semi-join, final
      // anti-join).
      val gated = CacheScope.register(
        prefiltered.join(repFlagged, Seq(idCol), "left_anti").persist())
      // Lineage CUT, not just a cache: the four stages after dedup each
      // run their own driver actions (eval-shingle count, Bloom build,
      // mix counts, the final materialization), and EVERY action
      // re-analyzes its full logical plan — with the dedup chain
      // (windows over explodes over self-joins) inline, Catalyst
      // re-analysis dominated wall time (measured 48 s → 13 s at sf0.1
      // for the whole pipeline). localCheckpoint truncates the plan to
      // a leaf; executor-loss trade-off is the same one
      // connectedComponents' default rounds make, and the blocks are
      // reclaimed by the ContextCleaner once the call returns.
      val deduped = CacheScope.registerCheckpoint(
        dedupStages(gated, idCol, textCol, minTokens,
          maxPunctRatio, minhashK, minJaccard, collapseComponents,
          chunkDedupTokens, spanScrubTokens)
        .localCheckpoint(true))
      val clean = evalDocs match {
        case Some(ev) =>
          val tainted = CacheScope.registerCheckpoint(
            TextAnalysis.decontaminate(deduped, ev, idCol,
              textCol, n = decontamNgram).select(col(idCol))
            .localCheckpoint(true))
          deduped.join(tainted, Seq(idCol), "left_anti")
        case None => deduped
      }
      // Optional SemDeDup stage (q93's operator composed in): the
      // SURVIVORS' embeddings cluster (k-means seeds = first k
      // surviving ids, so the fixed point is a function of the
      // pipeline state, not the raw table) and within-cluster cosine
      // near-dups drop, larger id losing. Runs after decontamination —
      // semantic redundancy is judged on the corpus that will actually
      // mix/split — and before mixing, so source budgets see the
      // thinned counts. Embeddings must be keyed by idCol.
      val semClean = embeddings match {
        case Some(emb) =>
          val survEmb = CacheScope.register(emb
            .join(clean.select(col(idCol)), Seq(idCol), "left_semi")
            .persist())
          // SemDeDup's k must GROW with the corpus (the paper's own
          // contract: cluster count ∝ n keeps within-cluster pair joins
          // bounded — a fixed k=4 at sf10 meant 4 blocks of ~112k rows
          // and a 2.5e10-cosine join, the q51 fixed-nlist defect one
          // level up). k = √n balances the n·k assignment scan against
          // the n²/k pair join (both n^1.5); below the floor the
          // caller's k is used verbatim, so small-corpus runs — and the
          // sf0.01 oracle's k=4 fixed point — are untouched. The count
          // is one bounded scalar action on an already-persisted
          // relation (the q62 nEval precedent).
          val nSurv = survEmb.count()
          val semK =
            if (nSurv <= semanticAutoKFloor) semanticK
            else math.max(semanticK,
              math.ceil(math.sqrt(nSurv.toDouble)).toInt)
          val losers = CacheScope.registerCheckpoint(
            Dedup.semanticDedup(survEmb, idCol, embVecCol,
              semK, semanticIters, semanticMinCosine)
            .filter(col("keep") === 0L).select(col(idCol))
            .localCheckpoint(true))
          clean.join(losers, Seq(idCol), "left_anti")
        case None => clean
      }
      val mixed =
        if (sourceWeights.isEmpty) semClean
        else Sampling.mixBySource(semClean, srcCol, idCol, sourceWeights)
          .drop("keep_frac")
      val splitDf = CacheScope.register(
        Sampling.trainValTest(mixed, idCol).persist())
      val packed = Sampling.packSequences(
          splitDf.filter(col("split") === "train"), idCol,
          size(split(col(textCol), " ")), packBudget, packShards)
        .select(col(idCol), col("shard"), col("bin"),
          col("offset_in_bin"), col("n_tokens"))
      splitDf.join(packed, Seq(idCol), "left").persist()
    }
    out.count()
    scoped.release()
    out
  }

  private def dedupStages(docs: DataFrame, idCol: String, textCol: String,
                          minTokens: Int, maxPunctRatio: Double,
                          minhashK: Int, minJaccard: Double,
                          collapseComponents: Boolean,
                          chunkDedupTokens: Option[Int] = None,
                          spanScrubTokens: Option[Int] = None): DataFrame = {
    // 1. quality gate — scan-speed, no shuffle
    val quality = TextAnalysis.qualityFeatures(docs, textCol)
      .filter(col("n_tokens") >= minTokens &&
        col("punct_ratio") <= maxPunctRatio)
      .select(docs.columns.toIndexedSeq.map(col): _*)

    // 2. exact dedup on the canonical fingerprint — one shuffle.
    //    Lineage CUT here (lazy — no extra job, the signature build's
    //    own action materializes it): the exact-dedup output is consumed
    //    by THREE downstream subtrees (the MinHash signature build, the
    //    candidate semi-join's shingle pass, the final anti-join), each
    //    of which would otherwise inline — and re-analyze on every
    //    Dataset call while the chain is being BUILT — the full
    //    quality+window plan, and re-execute it at runtime. Measured on
    //    q73 (Run profile): 4.3 s of driver dead-time before the first
    //    pipeline job, main thread in resolveOperatorsDownWithPruning —
    //    construction-time analysis over the inlined tower. Same
    //    executor-loss trade-off as the chunk/span cuts below.
    val exact = CacheScope.registerCheckpoint(Dedup.exactByKey(
      quality.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
      Seq("__fp"), idCol).drop("__fp").localCheckpoint(eager = false))

    // 2b. optional chunk-level dedup — BEFORE near-dup because it
    //     rewrites the text the shingles will see (boilerplate chunks
    //     surviving into the MinHash signatures would manufacture
    //     near-dup pairs out of pages that share only navigation).
    //     Lineage CUT when on, not just a cache: the rewrite chain
    //     (chunk groupBy + winner join + reassembly) feeds the signature
    //     build, the candidate semi-join, the Jaccard verification, and
    //     the final anti-join — four consumers each re-ANALYZING the
    //     inlined chain (persist caches data, not the plan; the
    //     prepareTraining re-analysis lesson, measured q77 23.3 → ~12 s
    //     at sf0.1). Only prepareTraining can turn this stage on, and it
    //     already accepts localCheckpoint's executor-loss trade-off.
    val chunked = chunkDedupTokens match {
      case Some(w) =>
        val cd = Dedup.dedupChunks(exact, idCol, textCol, w)
        CacheScope.registerCheckpoint(exact
          .join(cd.filter(col("n_kept") > 0)
            .select(col(idCol), col("new_text")), Seq(idCol))
          .withColumn(textCol, col("new_text")).drop("new_text")
          .localCheckpoint(true))
      case None => exact
    }

    // 2c. optional duplicated-span scrub — after the chunk stage (both
    //     rewrite text: chunks keep FIRST occurrences, the span scrub
    //     deletes EVERY copy of a window still duplicated corpus-wide),
    //     before near-dup for the same reason the chunk stage is:
    //     shingles, decontamination 8-grams, and packing token counts
    //     must see the scrubbed text. Docs scrubbed to nothing drop.
    //     Same lineage-cut rationale as 2b (the scrub chain feeds four
    //     downstream consumers).
    val corpus = spanScrubTokens match {
      case Some(w) =>
        val ds = Dedup.duplicateSpans(chunked, idCol, textCol, w)
        CacheScope.registerCheckpoint(chunked
          .join(ds.filter(length(col("scrubbed")) > 0)
            .select(col(idCol), col("scrubbed")), Seq(idCol))
          .withColumn(textCol, col("scrubbed")).drop("scrubbed")
          .localCheckpoint(true))
      case None => chunked
    }

    // 3. near-dup removal: MinHash-LSH candidates, verified by exact
    //    n-gram Jaccard (pairs only among candidates — never O(n²)).
    //    Default removal is PER-EDGE: drop a row iff it is the larger side
    //    of some verified pair — survivors are the local minima of the
    //    pair graph, so documents that aren't near-dups of each other can
    //    both survive even inside one component. collapseComponents=true
    //    keeps exactly one (min-id) representative per component instead.
    val cands = Dedup.minhashCandidates(corpus, idCol, textCol, k = minhashK)
    val verified = Dedup.ngramJaccardPairs(
        corpus.join(
          cands.select(col("a").as(idCol))
            .union(cands.select(col("b").as(idCol))).distinct(),
          Seq(idCol), "left_semi"),
        idCol, textCol, n = 3, minJaccard = minJaccard)
    val losers =
      if (collapseComponents)
        Dedup.connectedComponents(verified)
          .filter(col("rep") =!= col("id")).select(col("id").as(idCol))
      else verified.select(col("b").as(idCol)).distinct()
    // callers add the deterministic split (scan-speed, no shuffle)
    corpus.join(losers, Seq(idCol), "left_anti")
  }
}
