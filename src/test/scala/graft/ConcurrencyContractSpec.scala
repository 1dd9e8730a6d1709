package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CacheScope, CompactSwap, Dedup, Par, TextSearch}

/** The single-writer contract (r15 verdict missing #4): an append or
  * delete racing a compact's stage→swap window is silently LOST — the
  * swap deletes the bucket dirs the append just wrote into and the
  * tombstone dir the delete just extended. The compaction artifacts
  * (staging dir + commit marker) double as the writer lease: every
  * additive verb on every index family now REFUSES while they exist
  * (CompactSwap.assertNoActiveCompact), whether the compact is live or
  * crashed mid-swap, and the recovery is the verb the operator would
  * run anyway — compact to completion (it resumes), then retry.
  *
  * What is deliberately NOT excluded: append-vs-delete (both additive,
  * disjoint artifacts — the streaming crawl's takedowns-under-load
  * behavior, StreamBench r15) and append-vs-append (re-shipped rows are
  * fsck-flagged and repaired by compact(dedupIds), DedupRepairSpec). */
class ConcurrencyContractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("text index: append/delete during a compact (live stage or " +
       "crashed mid-swap) are refused, not lost; compact + retry works") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cc_txt").toString + "/idx"
    try {
      val even = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 =!= 0)
      TextSearch.buildIndex(even, "doc_id", "text", dir, nBuckets = 8)
      val root = new Path(dir)
      // a compact in its (long) stage phase: the staging dir exists,
      // no marker yet — exactly what a concurrent writer would observe
      fs(root).mkdirs(CompactSwap.stagingPath(root))
      intercept[CompactSwap.CompactInProgressException] {
        TextSearch.appendIndex(odd, "text", dir)
      }
      intercept[CompactSwap.CompactInProgressException] {
        TextSearch.deleteFromIndex(spark, dir,
          even.limit(3).select("doc_id"))
      }
      // the documented recovery: run the compact verb to completion
      // (stage overwrites the residue), then the writes go through
      TextSearch.compactIndex(spark, dir)
      TextSearch.appendIndex(odd, "text", dir)
      TextSearch.deleteFromIndex(spark, dir, even.limit(3).select("doc_id"))
      assert(TextSearch.fsckIndex(spark, dir)
        .filter(col("chk") === "no_compact_residue" && col("ok")).count() == 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir).getParentFile)
    }
  }

  test("vector index (IVF and grid): append/delete refused while " +
       "compaction artifacts exist; compact clears, retry works") {
    import spark.implicits._
    for (grid <- Seq(false, true)) {
      val df = {
        val rnd = new scala.util.Random(if (grid) 11 else 13)
        val dim = if (grid) 2 else 8
        (0 until 200).map(i =>
          (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 100 - 50)))
          .toDF("id", "vec")
      }
      val dir = java.nio.file.Files
        .createTempDirectory("graft_cc_vec").toString + "/idx"
      try {
        val idx =
          if (grid) VectorIndex.create(df.filter(col("id") < 150), "vec",
            "id", dim = 2, cellsPerDim = 6)
          else VectorIndex.create(df.filter(col("id") < 150), "vec",
            "id", dim = 8, nlist = 8)
        idx.save(dir)
        val root = new Path(dir)
        fs(root).mkdirs(CompactSwap.stagingPath(root))
        intercept[CompactSwap.CompactInProgressException] {
          VectorIndex.appendSaved(spark, dir, df.filter(col("id") >= 150))
        }
        intercept[CompactSwap.CompactInProgressException] {
          VectorIndex.deleteSaved(spark, dir,
            df.filter(col("id") < 5).select("id"))
        }
        VectorIndex.compactSaved(spark, dir)
        VectorIndex.appendSaved(spark, dir, df.filter(col("id") >= 150))
        VectorIndex.deleteSaved(spark, dir,
          df.filter(col("id") < 5).select("id"))
        assert(spark.read.parquet(dir).count() == 200, s"grid=$grid")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(dir).getParentFile)
      }
    }
  }

  test("post-commit re-check: a compact STARTING inside the " +
       "guard-to-commit window is detected loudly on all three " +
       "families (write visible, sidecar NOT bumped), and the repair " +
       "verb restores a serviceable layout") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    import spark.implicits._
    // the seam fires between the verb's write commit and its re-check —
    // the deterministic stand-in for a compact whose stage job starts
    // while the additive verb's write job is still in flight
    def interleaving[A](root: Path)(body: => A): A = {
      CompactSwap.interleaveForTest =
        () => fs(root).mkdirs(CompactSwap.stagingPath(root))
      try body
      finally {
        CompactSwap.interleaveForTest = () => ()
        fs(root).delete(CompactSwap.stagingPath(root), true)
      }
    }
    // text family
    locally {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ccp_txt").toString + "/idx"
      try {
        val even = docs.filter(col("doc_id") % 2 === 0)
        val odd = docs.filter(col("doc_id") % 2 =!= 0)
        TextSearch.buildIndex(even, "doc_id", "text", dir, nBuckets = 8)
        val before = TextSearch.TextIndexMeta.read(spark, dir).get
        interleaving(new Path(dir)) {
          intercept[CompactSwap.CompactInProgressException] {
            TextSearch.appendIndex(odd, "text", dir)
          }
        }
        // the sidecar was NOT bumped (the write may be swept)
        assert(TextSearch.TextIndexMeta.read(spark, dir).get.nDocs
          == before.nDocs)
        // the documented recovery: run the compact verb, fsck, and
        // re-apply ONLY if rows are missing. In this interleaving the
        // simulated compact never ran its swap, so the write SURVIVED —
        // the repair recomputes the sidecar from the at-rest postings
        // and the layout is whole without a re-apply (re-applying here
        // would re-ship rows, which is the fsck-red state dedupIds
        // exists to repair).
        TextSearch.compactIndex(spark, dir, dedupIds = true)
        assert(TextSearch.TextIndexMeta.read(spark, dir).get.nDocs
          == docs.count())
        assert(TextSearch.fsckIndex(spark, dir)
          .filter(col("chk") === "doc_count_consistent" && col("ok"))
          .count() == 1)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(dir).getParentFile)
      }
    }
    // vector family (grid layout; the IVF path shares the call site)
    locally {
      val df = (0 until 200).map { i =>
        val rnd = new scala.util.Random(17 + i)
        (i.toLong, Seq.fill(2)(rnd.nextDouble() * 100 - 50))
      }.toDF("id", "vec")
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ccp_vec").toString + "/idx"
      try {
        VectorIndex.create(df.filter(col("id") < 150), "vec", "id",
          dim = 2, cellsPerDim = 6).save(dir)
        interleaving(new Path(dir)) {
          intercept[CompactSwap.CompactInProgressException] {
            VectorIndex.appendSaved(spark, dir,
              df.filter(col("id") >= 150))
          }
        }
        // write survived (the simulated compact never swapped): the
        // repair verb restores a consistent layout holding ALL rows
        VectorIndex.compactSaved(spark, dir, dedupIds = true)
        assert(spark.read.parquet(dir).count() == 200)
        assert(VectorIndex.fsckSaved(spark, dir)
          .filter(!col("ok")).count() == 0)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(dir).getParentFile)
      }
    }
    // LSH family (both relation roots re-checked)
    locally {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ccp_lsh").toString + "/idx"
      try {
        val even = docs.filter(col("doc_id") % 2 === 0)
        val odd = docs.filter(col("doc_id") % 2 =!= 0)
        Dedup.buildRefIndex(even, "doc_id", "text", dir,
          k = 8, rowsPerBand = 2, shingleN = 3, nBuckets = 8)
        val shingles = new Path(s"$dir/${Dedup.LshShinglesDir}")
        interleaving(shingles) {
          intercept[CompactSwap.CompactInProgressException] {
            Dedup.appendRefIndex(odd, "text", dir)
          }
        }
        // write survived: compacting restores a clean layout with the
        // odd docs' relations already present — no re-apply
        Dedup.compactRefIndex(spark, dir)
        assert(Dedup.fsckRefIndex(spark, dir)
          .filter(!col("ok")).count() == 0)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(dir).getParentFile)
      }
    }
  }

  test("Par.all bodies register into the caller's CacheScope: a " +
       "component loop run on a Par thread leaves no checkpoint blocks " +
       "after release") {
    import spark.implicits._
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (7L, 5L))
      .toDF("a", "b")
    val before = sc.getPersistentRDDs.keySet
    val (counts, captured) = CacheScope.collect {
      Par.all(() => Dedup.connectedComponents(pairs).count(),
        () => Dedup.connectedComponents(pairs.filter($"a" > 3)).count())
    }
    assert(counts == Seq(7L, 3L))
    captured.release()
    // the loop unpersists its own caches; what it leaves behind is its
    // label checkpoints, which only the scope can release
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs outlived the scope: $left")
  }

  test("LSH ref index: append/takedown refused while either relation " +
       "shows compaction artifacts; compact clears, retry works") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cc_lsh").toString + "/idx"
    try {
      val even = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 =!= 0)
      Dedup.buildRefIndex(even, "doc_id", "text", dir,
        k = 8, rowsPerBand = 2, shingleN = 3, nBuckets = 8)
      // residue on the SECOND relation only — the guard must check both
      val shingles = new Path(s"$dir/${Dedup.LshShinglesDir}")
      fs(shingles).mkdirs(CompactSwap.stagingPath(shingles))
      intercept[CompactSwap.CompactInProgressException] {
        Dedup.appendRefIndex(odd, "text", dir)
      }
      intercept[CompactSwap.CompactInProgressException] {
        Dedup.deleteFromRefIndex(spark, dir, even.limit(3).select("doc_id"))
      }
      Dedup.compactRefIndex(spark, dir)
      Dedup.appendRefIndex(odd, "text", dir)
      Dedup.deleteFromRefIndex(spark, dir, even.limit(3).select("doc_id"))
      assert(Dedup.fsckRefIndex(spark, dir)
        .filter(col("chk") === "no_compact_residue" && col("ok")).count() == 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir).getParentFile)
    }
  }
}
