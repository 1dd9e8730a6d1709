package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Keyword (lexical) search over a document corpus: BM25 scoring and
  * reciprocal-rank fusion of lexical + vector shortlists — the retrieval
  * pair every RAG / data-curation stack runs next to the ANN index. The
  * reference is vector-only (include/pktree.hpp:948-973 kNN is its whole
  * query surface); lexical scoring is part of the declared LLM-pipeline
  * extension surface, built the same Spark-first way: postings are a
  * DataFrame, scoring is builtin expressions, ranking is a top-k.
  *
  * Scale design: the postings relation (doc × query-term term
  * frequencies) is built by explode → filter-to-query-terms → groupBy.
  * The filter lands BEFORE the aggregation, so the shuffle carries only
  * rows for the handful of query terms — O(matching postings), not
  * O(corpus tokens); everything upstream of it is one codegen'd map
  * stage. Document frequencies reduce from that same filtered relation
  * (bytes), and the two corpus scalars (N, avgdl) come from one
  * scan-level aggregate broadcast back as a 1-row cross join. No UDFs,
  * no driver-side loops; the final top-k is the same orderBy-limit the
  * kNN family uses.
  */
object TextSearch {

  /** Robertson/Sparck-Jones BM25 idf with the +1 floor (as in Lucene):
    * ln(1 + (N - df + 0.5)/(df + 0.5)) — always positive, so a term
    * present in most docs dilutes rather than flips the score. */
  private def idf(n: Column, df: Column): Column =
    log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))

  /** BM25 scores for one bag-of-words query over the corpus: the top-k
    * (id, score) rows, score descending, id ascending on ties. Tokens
    * are lowercased whitespace splits — the corpus convention shared by
    * the dedup/quality family (Dedup.shingles).
    *
    * @param k1 term-frequency saturation (Robertson's 1.2 default)
    * @param b  length normalization strength (0.75 default)
    * @param roundTo decimals the returned score is rounded to BEFORE the
    *                top-k cut (same contract as Search.cosineTopK): the
    *                groupBy-sum's addend order differs between engines,
    *                so a raw-double cut could pick different boundary
    *                SETS when two docs tie at rounded precision
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75, roundTo: Int = 6,
           allowed: Option[DataFrame] = None): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val terms = queryTerms.map(_.toLowerCase).distinct

    val toks = docs.select(col(idCol), split(lower(col(textCol)), " ")
      .as("__toks"))

    // one scan-level reduce for the corpus constants; joined back as a
    // single broadcast row (BroadcastNestedLoopJoin of 1 row — free)
    val stats = toks.agg(count(lit(1)).as("__n"),
      avg(size(col("__toks"))).as("__avgdl"))

    // persisted: both the per-doc contributions and the document
    // frequencies read it — without this the corpus-wide explode/filter
    // pipeline (a full scan) executes twice. The relation itself is
    // O(matching postings), tiny on the wire.
    val postings = CacheScope.register(toks
      .select(col(idCol), size(col("__toks")).as("__dl"),
        explode(col("__toks")).as("__term"))
      .filter(col("__term").isin(terms: _*)) // before the groupBy shuffle
      .groupBy(col(idCol), col("__dl"), col("__term"))
      .agg(count(lit(1)).cast("double").as("__tf"))
      .persist())

    scoreTopK(postings.crossJoin(stats), idCol, k, k1, b, roundTo, allowed)
  }

  /** The shared BM25 scoring tail: a query-term postings relation with
    * (idCol, __dl, __term, __tf, __n, __avgdl) columns → the rounded,
    * tie-broken top-k. Document frequencies reduce from the postings
    * themselves (one row per (doc, term) ⇒ count = df), so the scan path
    * and the saved-index path score through the ONE formula and cannot
    * drift apart. */
  private def scoreTopK(postings: DataFrame, idCol: String, k: Int,
                        k1: Double, b: Double, roundTo: Int,
                        allowed: Option[DataFrame] = None): DataFrame = {
    val dfreq = postings.groupBy(col("__term"))
      .agg(count(lit(1)).cast("double").as("__df"))

    // Lucene filter semantics: the predicate restricts which docs can be
    // RETURNED, never the scoring statistics — df above (and __n/__avgdl
    // in the inputs) stay corpus-wide, so a doc's score is identical
    // with and without a filter. The semi-join sits on the postings
    // side (one row per (doc, term)), before the contribution join.
    val eligible = allowed match {
      case Some(a) => postings.join(
        a.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      case None => postings
    }

    val contrib = eligible.join(dfreq, "__term")
      .withColumn("__score",
        idf(col("__n"), col("__df")) * col("__tf") * (lit(k1) + 1.0) /
          (col("__tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("__dl") / col("__avgdl"))))

    contrib.groupBy(col(idCol))
      .agg(sum(col("__score")).as("__raw"))
      .select(col(idCol), round(col("__raw"), roundTo).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  // ===========================================================================
  // Saved inverted index — the lexical counterpart of VectorIndex.save's
  // partitioned layouts. A standing 100 TB corpus cannot re-tokenize itself
  // on every query; the postings live at rest, partitioned by term hash
  // bucket, and a query reads only its terms' buckets.
  // ===========================================================================

  /** The postings partition column in saved index layouts. Hash buckets,
    * not raw terms: partitionBy(term) at web scale would mint one
    * directory per vocabulary entry (millions); a fixed bucket count
    * keeps the layout listable while still letting a query prune to
    * terms/nBuckets of the files. Inside a bucket the term predicate
    * pushes to parquet row groups. */
  val BucketCol = "__bucket"

  /** Sidecar metadata for a saved postings index: the two corpus scalars
    * every BM25 evaluation needs (total docs, average doc length) and the
    * bucket-hash geometry the probe must reproduce. Same pattern as
    * IndexMeta: an underscore-named JSON file inside the index directory,
    * written via the Hadoop FileSystem API (local/HDFS/object store).
    *
    * `sumDl` (total token count) is what makes [[appendIndex]] exact:
    * avgdl cannot be recombined from two averages without float drift,
    * but the integer token sum can — (sumDl1 + sumDl2) / (n1 + n2) is
    * bit-identical to the scan path's `avg` as long as the sum stays
    * below 2^53 (double-exact integer range; Spark's avg accumulates
    * integer inputs exactly there too). Option: sidecars written before
    * incremental append existed parse unchanged (None = rebuild to
    * enable append). */
  case class TextIndexMeta(version: Int, idCol: String, nDocs: Long,
                           avgdl: Double, nBuckets: Int,
                           sumDl: Option[Long] = None)

  object TextIndexMeta {
    val FileName = "_graft_text_meta.json"

    /** The STAGED sidecar a `compactIndex(dedupIds)` writes inside the
      * marker-protected sequence (between stage and marker): the
      * recomputed scalars land on disk BEFORE the first destructive
      * step, so a crash at any later point — including between the
      * swap's last rename and the sidecar refresh, the window the r16
      * ADVICE flagged — leaves the repair completable by re-running
      * the compact verb (its entry promotes an orphan staged sidecar
      * over the stale one). Counted as compaction residue by the
      * single-writer guards and fsck until promoted. */
    val StagedFileName = "_graft_text_meta.staged.json"
    private implicit val formats: Formats = DefaultFormats

    private def writeAt(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                        meta: TextIndexMeta): Unit = {
      val out = fs.create(p, true)
      try out.write(Serialization.write(meta).getBytes("UTF-8"))
      finally out.close()
    }

    private def readAt(fs: org.apache.hadoop.fs.FileSystem,
                       p: Path): Option[TextIndexMeta] = {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
          in.readFully(bytes)
          Some(Serialization.read[TextIndexMeta](new String(bytes, "UTF-8")))
        } finally in.close()
      }
    }

    def write(spark: SparkSession, indexPath: String,
              meta: TextIndexMeta): Unit = {
      val p = new Path(indexPath, FileName)
      writeAt(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
        meta)
    }

    def read(spark: SparkSession, indexPath: String): Option[TextIndexMeta] = {
      val p = new Path(indexPath, FileName)
      readAt(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }

    def stagedPath(indexPath: String): Path =
      new Path(indexPath, StagedFileName)

    def writeStaged(fs: org.apache.hadoop.fs.FileSystem, indexPath: String,
                    meta: TextIndexMeta): Unit =
      writeAt(fs, stagedPath(indexPath), meta)

    /** Promote an orphan staged sidecar over the live one: copy-then-
      * delete (never delete-then-rename — the live sidecar must exist
      * at every crash point), so re-running after any crash converges.
      * No-op when no staged sidecar exists. */
    def promoteStaged(fs: org.apache.hadoop.fs.FileSystem,
                      indexPath: String): Unit = {
      val sp = stagedPath(indexPath)
      readAt(fs, sp).foreach { m =>
        writeAt(fs, new Path(indexPath, FileName), m)
        fs.delete(sp, false)
      }
    }
  }

  /** Materialize the full inverted index at `path`: one row per
    * (doc, term) with the term frequency and doc length —
    * (idCol, __dl, __term, __tf), partitioned by the term's hash bucket
    * — plus the TextIndexMeta sidecar. One corpus scan, one groupBy
    * shuffle on (doc, term) — this is the whole build; no driver-side
    * state beyond the two sidecar scalars. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, "nBuckets >= 1")
    val spark = docs.sparkSession
    val toks = docs.select(col(idCol), split(lower(col(textCol)), " ")
      .as("__toks"))
    // count + exact integer token sum (not avg): sum/count reproduces
    // avg bit-for-bit below 2^53, and the SUM recombines exactly across
    // incremental appends where two averages could not
    val stats = toks.agg(count(lit(1)).as("n"),
      sum(size(col("__toks"))).as("sumdl")).head()
    require(stats.getLong(0) > 0, "cannot index an empty corpus")
    val (n, sumDl) = (stats.getLong(0), stats.getLong(1))
    toks.select(col(idCol), size(col("__toks")).as("__dl"),
        explode(col("__toks")).as("__term"))
      .groupBy(col(idCol), col("__dl"), col("__term"))
      .agg(count(lit(1)).cast("double").as("__tf"))
      .withColumn(BucketCol,
        pmod(xxhash64(col("__term")), lit(nBuckets)).cast("int"))
      // one writer task per bucket -> one file per bucket per write
      // (same geometry rule as compactIndex; without it the postings
      // agg's task layout sprays tasks x buckets tiny files and every
      // probe pays the listing — the r13 crawl-loop lesson). This also
      // makes nBuckets the BUILD parallelism knob: size it to the
      // corpus (nDocs/3125 in Run serve) so per-bucket volume stays
      // constant; maxRecordsPerFile bounds a mis-sized hot bucket.
      .repartition(col(BucketCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", WriteGeometry.MaxFileRows)
      .partitionBy(BucketCol).parquet(path)
    TextIndexMeta.write(spark, path,
      TextIndexMeta(1, idCol, n, sumDl.toDouble / n, nBuckets, Some(sumDl)))
  }

  /** Incrementally ingest new documents into a SAVED postings index —
    * the rolling-crawl face of [[buildIndex]]: a standing 100 TB corpus
    * gains a day's crawl without re-tokenizing itself. The new docs'
    * postings rows are built exactly like the full build (one scan of
    * the NEW docs only), bucketed with the SIDECAR's hash geometry, and
    * appended as new files under the existing bucket directories; the
    * sidecar's corpus scalars recombine exactly (integer token sums).
    * Document frequencies need no maintenance at all — [[bm25Indexed]]
    * reduces df from the probed postings themselves, so appended rows
    * are counted the moment they land.
    *
    * After append, `bm25Indexed` answers EXACTLY what a scan-path
    * [[bm25]] over the unioned corpus answers (spec-pinned). Caller
    * contract: doc ids must be new — re-appending an existing id would
    * double its postings (same contract as any append-only ingest; run
    * exact dedup upstream). */
  def appendIndex(docs: DataFrame, textCol: String, indexPath: String): Unit = {
    val spark = docs.sparkSession
    val meta = TextIndexMeta.read(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"no ${TextIndexMeta.FileName} under $indexPath — not a text index"))
    val sumDl0 = meta.sumDl.getOrElse(throw new IllegalArgumentException(
      "index sidecar predates incremental append (no exact token sum) — " +
        "rebuild with buildIndex to enable appendIndex"))
    // single-writer guard: an append racing a compact's swap would land
    // bucket files the swap then deletes (CompactSwap contract)
    locally {
      val root = new Path(indexPath)
      CompactSwap.assertNoActiveCompact(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration),
        root, "appendIndex",
        Seq(TextIndexMeta.stagedPath(indexPath)))
    }
    val toks = docs.select(col(meta.idCol), split(lower(col(textCol)), " ")
      .as("__toks"))
    val stats = toks.agg(count(lit(1)).as("n"),
      sum(size(col("__toks"))).as("sumdl")).head()
    val n2 = stats.getLong(0)
    if (n2 > 0) {
      val sumDl2 = stats.getLong(1)
      // column order matched to the existing files (partition column
      // excluded) so every file in the layout carries one schema shape
      toks.select(col(meta.idCol), size(col("__toks")).as("__dl"),
          explode(col("__toks")).as("__term"))
        .groupBy(col(meta.idCol), col("__dl"), col("__term"))
        .agg(count(lit(1)).cast("double").as("__tf"))
        .withColumn(BucketCol,
          pmod(xxhash64(col("__term")), lit(meta.nBuckets)).cast("int"))
        // rolling appends multiply file count: one file per touched
        // bucket per append, not tasks x buckets (r13 geometry rule)
        .repartition(col(BucketCol))
        .write.mode("append")
        .option("maxRecordsPerFile", WriteGeometry.MaxFileRows)
        .partitionBy(BucketCol).parquet(indexPath)
      // post-commit half of the single-writer guard: a compact that
      // STARTED mid-write is detected here, before the sidecar bump
      locally {
        val root = new Path(indexPath)
        CompactSwap.assertNoCompactStartedDuring(
          root.getFileSystem(spark.sparkContext.hadoopConfiguration),
          root, "appendIndex",
          Seq(TextIndexMeta.stagedPath(indexPath)))
      }
      val n = meta.nDocs + n2
      val s = sumDl0 + sumDl2
      TextIndexMeta.write(spark, indexPath,
        meta.copy(nDocs = n, avgdl = s.toDouble / n, sumDl = Some(s)))
    }
  }

  /** Tombstone subdirectory inside a saved postings index (underscore
    * prefix: invisible to parquet listings of the postings layout). */
  val TextTombstoneDir = "_graft_text_tombstones"

  /** Delete documents from a SAVED postings index by id — tombstones,
    * never file rewrites (the at-rest deletion model shared with
    * VectorIndex.deleteSaved). Exactness needs more than hiding rows:
    * BM25's corpus scalars must shrink too, or every surviving score
    * drifts from a rebuilt-on-survivors index. The deleted docs' token
    * counts are recovered from the index itself — one column-pruned
    * scan collecting each victim's stored __dl — and subtracted from
    * the sidecar's integer sums, so N and avgdl recombine exactly
    * (same no-float-drift argument as appendIndex). Document
    * frequencies need no sidecar at all: [[bm25Indexed]] reduces df
    * from live postings, and the tombstone anti-join runs below that
    * reduction. Idempotent: already-tombstoned or absent ids are
    * ignored. Compaction = rebuild to a new path. */
  def deleteFromIndex(spark: SparkSession, indexPath: String,
                      ids: DataFrame): Unit = {
    val meta = TextIndexMeta.read(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"no ${TextIndexMeta.FileName} under $indexPath — not a text index"))
    val sumDl0 = meta.sumDl.getOrElse(throw new IllegalArgumentException(
      "index sidecar predates incremental maintenance (no exact token " +
        "sum) — rebuild with buildIndex to enable deleteFromIndex"))
    require(ids.columns.length == 1, "pass a single-column id relation")
    val tPath = new Path(indexPath, TextTombstoneDir)
    val fs = tPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // single-writer guard: the compact's swap deletes the tombstone dir
    // last — a delete racing it silently resurrects the deleted docs
    CompactSwap.assertNoActiveCompact(fs, new Path(indexPath),
      "deleteFromIndex", Seq(TextIndexMeta.stagedPath(indexPath)))
    val fresh0 = ids.select(col(ids.columns.head).as(meta.idCol)).distinct()
    val fresh = if (!fs.exists(tPath)) fresh0
      else fresh0.join(spark.read.parquet(tPath.toString),
        Seq(meta.idCol), "left_anti")
    // one column-pruned pass over the postings recovers each victim's
    // doc length (any posting row of a doc carries __dl); docs absent
    // from the index contribute nothing — which also makes absent ids
    // harmless to tombstone
    val gone = spark.read.parquet(indexPath)
      .join(fresh, Seq(meta.idCol), "left_semi")
      .groupBy(col(meta.idCol)).agg(first(col("__dl")).as("__dl"))
      .agg(count(lit(1)).as("n"), sum(col("__dl")).as("s")).head()
    val nGone = gone.getLong(0)
    fresh.write.mode("append").parquet(tPath.toString)
    // post-commit half of the single-writer guard (see appendIndex)
    CompactSwap.assertNoCompactStartedDuring(fs, new Path(indexPath),
      "deleteFromIndex", Seq(TextIndexMeta.stagedPath(indexPath)))
    if (nGone > 0) {
      val n = meta.nDocs - nGone
      val s = sumDl0 - gone.getLong(1)
      require(n > 0, "deleting every indexed document — rebuild instead")
      TextIndexMeta.write(spark, indexPath,
        meta.copy(nDocs = n, avgdl = s.toDouble / n, sumDl = Some(s)))
    }
  }

  /** Physically compact a SAVED postings index in place — the fourth
    * lifecycle verb (build / append / delete / compact). Appends leave
    * one small file per ingest under every bucket directory and deletes
    * leave tombstones that every probe re-anti-joins; at 100 TB both
    * accumulate into the classic small-files + read-amplification tax.
    * Compaction rewrites the layout to what [[buildIndex]] over the
    * survivors would have produced physically: tombstoned docs'
    * postings are dropped for good, each bucket's rows merge into one
    * file (`repartition` on the bucket column — each bucket hashes to
    * exactly one writer task), and the tombstone directory disappears.
    *
    * Nothing about the CONTRACT changes: the sidecar's N/avgdl/sumDl
    * were already maintained exactly by [[deleteFromIndex]], document
    * frequencies always reduce from live postings, so [[bm25Indexed]]
    * answers bit-identically before and after (q94 shares q82's
    * oracle). The swap is crash-RECOVERABLE via the CompactSwap
    * protocol: the rewrite stages into a sibling `.compacting`
    * directory, a `_compact_staged` commit marker lands before the
    * first destructive step, and a re-run after a crash at ANY point
    * RESUMES the swap from the marker instead of deleting the staging
    * dir (which mid-swap may hold the only copy of some buckets).
    *
    * `dedupIds = true` additionally REPAIRS re-shipped-append residue
    * (the fsck `doc_count_consistent` / `sumdl_consistent` red rows):
    * postings rows are exact-distinct'd — a re-shipped append writes
    * the same deterministic (doc, dl, term, tf) rows, so partial ∪
    * full = full, the LSH compactor's crash-window cleanup
    * ([[graft.operators.Dedup.compactRefIndex]]) — and the sidecar's
    * nDocs/avgdl/sumDl are recomputed from the deduped postings (the
    * re-shipped append double-bumped them). The recomputed scalars are
    * STAGED inside the marker-protected sequence (measured off the
    * staged rewrite, written to `_graft_text_meta.staged.json` before
    * the commit marker) and promoted over the live sidecar after the
    * swap — so a crash between the swap's last rename and the sidecar
    * refresh (the r16 ADVICE window, where deduped postings would have
    * served against double-bumped scalars) now resumes to a complete
    * repair: re-running ANY compact verb first finishes the swap from
    * the marker, then promotes the orphan staged sidecar. Until then
    * the staged sidecar counts as compaction residue — additive verbs
    * refuse and fsck goes red, never wrong-scoring silently. A same-id
    * append with DIFFERENT text is a contract violation this repair
    * does not claim to fix (distinct keeps both variants and fsck
    * stays red — rebuild). Costs one distinct shuffle + one agg over
    * the staged rewrite, paid only when requested. */
  def compactIndex(spark: SparkSession, indexPath: String,
                   dedupIds: Boolean = false): Unit = {
    val root = new Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(TextIndexMeta.read(spark, indexPath).isDefined,
      s"no ${TextIndexMeta.FileName} under $indexPath — not a text index")
    val tPath = new Path(indexPath, TextTombstoneDir)
    // a prior compact that crashed mid-swap left its commit marker:
    // finish that swap first (never delete its staging blindly)
    CompactSwap.resumeIfStaged(fs, root, BucketCol + "=", Seq(tPath))
    // orphan staged sidecar from a crashed dedupIds repair: staging
    // still present means the crash hit BEFORE the commit marker
    // (resumeIfStaged would have consumed both) — nothing destructive
    // ran, discard and recompute; staging absent means the swap
    // completed but the promote didn't — finish it now, BEFORE the
    // fresh compact measures the layout
    if (fs.exists(TextIndexMeta.stagedPath(indexPath))) {
      if (fs.exists(CompactSwap.stagingPath(root)))
        fs.delete(TextIndexMeta.stagedPath(indexPath), false)
      else TextIndexMeta.promoteStaged(fs, indexPath)
    }
    val meta = TextIndexMeta.read(spark, indexPath).get
    val raw = spark.read.parquet(indexPath)
    val live0 = if (!fs.exists(tPath)) raw
      else raw.join(spark.read.parquet(tPath.toString),
        Seq(meta.idCol), "left_anti")
    val live = if (dedupIds) live0.distinct() else live0
    if (dedupIds) {
      // stage → staged sidecar → marker → swap → promote: the
      // recomputed scalars (from the STAGED rewrite — the exact rows
      // the swap installs) are on disk before the first destructive
      // step, so the repair is completable from any crash point
      CompactSwap.compactRelation(live, fs, root, BucketCol, Seq(tPath),
        afterStage = (f, tmp) => {
          val d = spark.read.parquet(tmp.toString)
            .select(col(meta.idCol), col("__dl")).distinct()
            .agg(count(lit(1)).as("n"), sum(col("__dl")).as("s")).head()
          val (n, s) = (d.getLong(0), if (d.isNullAt(1)) 0L else d.getLong(1))
          require(n > 0, "compacted postings are empty — nothing to rescale")
          TextIndexMeta.writeStaged(f, indexPath,
            meta.copy(nDocs = n, avgdl = s.toDouble / n, sumDl = Some(s)))
        })
      crashBeforePromoteForTest()
      TextIndexMeta.promoteStaged(fs, indexPath)
    } else
      // stage → marker → swap; the sidecar (still exact) stays untouched
      CompactSwap.compactRelation(live, fs, root, BucketCol, Seq(tPath))
  }

  /** Test seam simulating a crash between the swap's completion and
    * the staged-sidecar promote (the window the staged sidecar
    * exists to survive). No-op in production. */
  private[graft] var crashBeforePromoteForTest: () => Unit = () => ()

  /** FSCK — physical integrity audit of a saved postings index (the
    * VectorIndex.fsckSaved contract for the text layout). One row per
    * check, `(chk, ok, detail)`:
    *
    *   - `meta_parses` (detail: nBuckets; missing/corrupt sidecar
    *     short-circuits to this single row);
    *   - `no_compact_residue` — no `_compact_staged` marker or
    *     `.compacting` staging dir (a crashed mid-swap compact;
    *     repair = run compactIndex, it resumes from the marker);
    *   - `rows_nonempty` — raw postings rows (one per (doc, term));
    *   - `bucket_domain` / `bucket_hash_consistent` — every __bucket in
    *     [0, nBuckets) AND equal to the sidecar-geometry hash of its
    *     own term (a mis-bucketed append makes its terms invisible to
    *     the pruned probe — silently, which is why fsck rehashes);
    *   - `doc_count_consistent` / `sumdl_consistent` — the LIVE view
    *     (tombstones applied) agrees with the sidecar's nDocs and exact
    *     integer token sum: the scalars every BM25 score is computed
    *     from, recombined across appends/deletes, checked against the
    *     data they claim to summarize (red after a re-shipped append;
    *     repair = `compactIndex(dedupIds = true)`);
    *   - `orphan_tombstones` — tombstones naming absent docs (legal,
    *     idempotent-delete residue; reported);
    *   - `write_eras` — the write-geometry ledger
    *     (WriteGeometry.writeEras: files per bucket beyond the
    *     row-cap-implied floor; 1 after build/compact at any scale,
    *     +1 per append era). */
  def fsckIndex(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, Long)]
    TextIndexMeta.read(spark, indexPath) match {
      case None =>
        out += (("meta_parses", false, 0L))
      case Some(meta) =>
        val nb = meta.nBuckets.toLong
        out += (("meta_parses", true, nb))
        // staged-compaction residue: a marker or `.compacting` dir
        // means a compact crashed mid-swap — repair = run compactIndex
        // (it resumes from the marker), never a hand-delete
        locally {
          val r0 = new Path(indexPath)
          val f0 = r0.getFileSystem(spark.sparkContext.hadoopConfiguration)
          // an orphan staged sidecar (crashed dedupIds repair, swap done
          // but scalars not yet promoted) is residue too: the live
          // sidecar is stale until the compact verb re-runs
          val res = CompactSwap.residue(f0, r0) +
            (if (f0.exists(TextIndexMeta.stagedPath(indexPath))) 1L else 0L)
          out += (("no_compact_residue", res == 0L, res))
        }
        val raw = spark.read.parquet(indexPath)
        val a = raw.agg(
          count(lit(1)).as("n"),
          min(col(BucketCol)).as("bmin"), max(col(BucketCol)).as("bmax"),
          sum(when(col(BucketCol) =!=
            pmod(xxhash64(col("__term")), lit(meta.nBuckets)).cast("int"),
            1L).otherwise(0L)).as("mishash")).head()
        out += (("rows_nonempty", a.getLong(0) > 0, a.getLong(0)))
        if (a.getLong(0) == 0) {
          // zero rows: the remaining checks would read null aggregates;
          // same short-circuit contract as a missing sidecar
          return out.toSeq.toDF("chk", "ok", "detail").orderBy("chk")
        }
        out += (("bucket_domain",
          !a.isNullAt(1) && a.getInt(1) >= 0 && a.getInt(2) < meta.nBuckets,
          nb))
        out += (("bucket_hash_consistent", a.getLong(3) == 0L, nb))
        val root = new Path(indexPath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val tPath = new Path(indexPath, TextTombstoneDir)
        val live = if (!fs.exists(tPath)) raw
          else raw.join(spark.read.parquet(tPath.toString),
            Seq(meta.idCol), "left_anti")
        val d = live.select(col(meta.idCol), col("__dl")).distinct()
          .agg(count(lit(1)).as("docs"), sum(col("__dl")).as("sumdl"))
          .head()
        out += (("doc_count_consistent", d.getLong(0) == meta.nDocs,
          meta.nDocs))
        meta.sumDl.foreach { s =>
          out += (("sumdl_consistent", !d.isNullAt(1) && d.getLong(1) == s, s))
        }
        val orphans = if (!fs.exists(tPath)) 0L
          else spark.read.parquet(tPath.toString)
            .join(raw.select(col(meta.idCol)).distinct(),
              Seq(meta.idCol), "left_anti").count()
        out += (("orphan_tombstones", true, orphans))
        val perBucket = raw.groupBy(col(BucketCol)).count().collect()
          .map(r => r.get(0).toString -> r.getLong(1)).toMap
        out += (("write_eras", perBucket.nonEmpty,
          WriteGeometry.writeEras(fs, root, BucketCol, perBucket).toLong))
    }
    out.toSeq.toDF("chk", "ok", "detail").orderBy("chk")
  }

  /** BM25 over a SAVED postings index — same contract as [[bm25]] (it
    * shares the scoring tail), but the corpus is never re-scanned: the
    * probe filters the postings parquet to the query terms' hash buckets
    * (partition pruning — only those directories are read) and then to
    * the terms themselves (row-group pushdown inside the bucket), and
    * the corpus scalars come from the sidecar as literals instead of a
    * scan-level aggregate. Per-query work is O(matching postings) I/O —
    * the annSearch-probes-lists shape, for terms.
    *
    * `allowed` (optional) is the serving filter — a relation of doc ids
    * eligible to be returned (tenant, language, freshness). Lucene
    * filter semantics: scoring statistics (df, N, avgdl) stay
    * corpus-wide, so a doc scores identically with and without the
    * filter; the semi-join lands on the pruned postings, below the
    * ranking. */
  def bm25Indexed(spark: SparkSession, indexPath: String,
                  queryTerms: Seq[String], k: Int,
                  k1: Double = 1.2, b: Double = 0.75,
                  roundTo: Int = 6,
                  allowed: Option[DataFrame] = None): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val meta = TextIndexMeta.read(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"no ${TextIndexMeta.FileName} under $indexPath — not a text index"))
    val terms = queryTerms.map(_.toLowerCase).distinct
    // bucket ids for the query terms: evaluated through the same engine
    // expression as the build-side bucket column (a job over a local
    // |terms|-row relation — no table scan), so build and probe cannot
    // disagree on the hash
    import spark.implicits._
    val buckets = terms.toDF("__term")
      .select(pmod(xxhash64(col("__term")), lit(meta.nBuckets)).cast("int"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val tPath = new Path(indexPath, TextTombstoneDir)
    val fs = tPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val probed = spark.read.parquet(indexPath)
      .filter(col(BucketCol).isin(buckets: _*) &&
        col("__term").isin(terms: _*))
      .drop(BucketCol)
    // tombstone anti-join BELOW the df reduction and scoring: deleted
    // docs vanish from term document-frequencies too, so the probe
    // equals a rebuilt-on-survivors index exactly (spec-pinned)
    val live = if (!fs.exists(tPath)) probed
      else probed.join(spark.read.parquet(tPath.toString),
        Seq(meta.idCol), "left_anti")
    val postings = CacheScope.register(live.persist())
    scoreTopK(postings
        .withColumn("__n", lit(meta.nDocs))
        .withColumn("__avgdl", lit(meta.avgdl)),
      meta.idCol, k, k1, b, roundTo, allowed)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of N ranked
    * shortlists: score(d) = Σ_lists 1/(kRrf + rank_d). Ranks are dense
    * 1-based positions in each list's own order; a doc missing from a
    * list contributes nothing for it. Shortlists are top-k outputs
    * (thousands of rows at most), so the single-partition rank windows
    * are deliberate — the heavy lifting happened in the retrievers; at
    * cluster scale this is a driver-sized fuse step, not a data job.
    *
    * @param lists shortlists as (df, scoreCol) with HIGHER = better;
    *              ties broken by id ascending. Real hybrid stacks fuse
    *              3+ retrievers (lexical + dense + metadata) — the
    *              formula is list-count-independent.
    * @return (idCol, rank_1..rank_N, rrf) — null rank when absent,
    *         fused score descending, id ascending on ties
    */
  def rrfFuse(lists: Seq[(DataFrame, String)], idCol: String,
              kRrf: Int): DataFrame = {
    require(lists.size >= 2, "need at least two shortlists")
    // shortlists are k-sized by contract; the constant partition key
    // keeps the single-partition rank intentional-and-silent (WindowExec
    // warns on empty partition specs only)
    val ranked = lists.zipWithIndex.map { case ((df, score), i) =>
      df.select(col(idCol), row_number().over(
        Window.partitionBy(lit(0)).orderBy(col(score).desc, col(idCol)))
        .cast("long").as(s"rank_${i + 1}"))
    }
    val joined = ranked.reduce(_.join(_, Seq(idCol), "full_outer"))
    val rrf = ranked.indices.map(i =>
      coalesce(lit(1.0) / (lit(kRrf) + col(s"rank_${i + 1}")), lit(0.0)))
      .reduce(_ + _)
    joined.withColumn("rrf", rrf).orderBy(col("rrf").desc, col(idCol))
  }

  /** Two-list convenience face of [[rrfFuse]] with the historical
    * rank_a / rank_b column names (q66's declared schema). */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              aScore: String, bScore: String, kRrf: Int = 60): DataFrame =
    rrfFuse(Seq(a -> aScore, b -> bScore), idCol, kRrf)
      .withColumnRenamed("rank_1", "rank_a")
      .withColumnRenamed("rank_2", "rank_b")

  /** Exact phrase search: documents containing the query tokens as a
    * CONSECUTIVE run, ranked by occurrence count — the positional query
    * BM25's bag-of-words scoring cannot answer ("new york" ≠ docs with
    * "new" and "york" anywhere). Occurrences may overlap ("a a a"
    * contains "a a" twice), matching positional-postings semantics.
    *
    * Scale shape: a `contains` prefilter runs at scan speed and is
    * provably lossless (a token-consecutive match IS a substring match
    * when tokens are single-space joined — the converse can false-
    * positive across token boundaries, which the positional check then
    * rejects). Only surviving docs pay the window materialization, and
    * the phrase-match filter sits in the same codegen stage as the
    * explode, so the topmost shuffle carries one row per occurrence.
    *
    * @return top-k (idCol, n_hits, first_pos), hits descending, first
    *         occurrence ascending, id ascending — 1-based positions
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String], k: Int = 20): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val terms = phrase.map(_.toLowerCase)
    val m = terms.size
    val needle = terms.mkString(" ")
    val toksCol = col("__toks")
    val grams = transform(
      sequence(lit(1), size(toksCol) - (m - 1)),
      i => struct(i.cast("long").as("pos"),
        concat_ws(" ", (0 until m).map(o => element_at(toksCol, i + o)): _*)
          .as("g")))
    docs.select(col(idCol), lower(col(textCol)).as("__t"))
      .filter(col("__t").contains(needle)) // lossless scan-speed prefilter
      .select(col(idCol), split(col("__t"), " ").as("__toks"))
      .filter(size(toksCol) >= m)
      .select(col(idCol), explode(grams).as("__w"))
      .filter(col("__w.g") === needle)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"), min(col("__w.pos")).as("first_pos"))
      .orderBy(col("n_hits").desc, col("first_pos"), col(idCol))
      .limit(k)
  }

  /** Proximity search: documents where `termA` and `termB` occur within
    * `maxDist` token positions of each other, ranked by closeness — the
    * NEAR operator of classical IR. Both terms' position lists are tiny
    * per doc (specific-term postings), so the per-doc position join is
    * output-bounded; docs lacking either term never leave the scan
    * (two `contains` prefilters, lossless for single-space-joined text
    * by the same argument as [[phraseSearch]], then exact token-equality
    * positions decide).
    *
    * @return top-k (idCol, n_pairs, min_dist): position pairs within
    *         range, smallest |posA − posB| first, then more pairs first,
    *         then id
    */
  def proximitySearch(docs: DataFrame, idCol: String, textCol: String,
                      termA: String, termB: String, maxDist: Int,
                      k: Int = 20): DataFrame = {
    require(termA.toLowerCase != termB.toLowerCase,
      "termA and termB must differ (self-proximity is degenerate)")
    require(maxDist >= 1, "maxDist must be >= 1")
    val (ta, tb) = (termA.toLowerCase, termB.toLowerCase)
    // positional postings of exactly the two query terms: posexplode +
    // an isin filter in the SAME codegen stage as the scan, so only
    // matching (id, pos, term) rows materialize — the earlier form
    // (per-row transform() building an all-positions struct array, then
    // filter()) allocated O(tokens) structs per doc and measured 6x
    // slower; the per-doc position join is postings-sized either way
    val tp = docs.select(col(idCol), lower(col(textCol)).as("__t"))
      .filter(col("__t").contains(ta) && col("__t").contains(tb))
      .select(col(idCol),
        posexplode(split(col("__t"), " ")).as(Seq("__p0", "__tok")))
      .filter(col("__tok").isin(ta, tb))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("p"),
        col("__tok"))
    val pa = tp.filter(col("__tok") === ta)
      .select(col(idCol), col("p").as("pa"))
    val pb = tp.filter(col("__tok") === tb)
      .select(col(idCol), col("p").as("pb"))
    pa.join(pb, Seq(idCol))
      .withColumn("__d", abs(col("pa") - col("pb")))
      .filter(col("__d") <= maxDist)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pairs"), min(col("__d")).as("min_dist"))
      .orderBy(col("min_dist"), col("n_pairs").desc, col(idCol))
      .limit(k)
  }
}
