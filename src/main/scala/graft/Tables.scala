package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All queries take an `sfDir` (e.g. "/root/testdata/sf0.01") and read the
  * Parquet tables below. At 100 TB these would be partitioned table paths;
  * the API shape (path in, DataFrame out, no collect) is scale-independent.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** events.ts is TIMESTAMP(NANOS) in Parquet, which Spark's Parquet reader
    * rejects unless `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    * `withGraftConf`), in which case it surfaces as LongType nanos.
    * Normalized here to a microsecond TimestampType column so event-time
    * functions (window, watermark) and DuckDB comparisons agree. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case _ => raw
    }
  }

  /** This JVM's private scratch root: a fresh directory under
    * java.io.tmpdir, created on first use and deleted when the JVM exits.
    * Every path a query, bench or tool writes for itself lives below it,
    * so two JVMs on one host can never share (and clobber) a scratch
    * path. */
  lazy val scratch: String = {
    val root = java.nio.file.Files.createTempDirectory("graft_")
    sys.addShutdownHook(
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root.toString
  }

  /** The scratch path for `tag` over data dir `dir`: stable within one
    * JVM (a query's build and probe agree on it), distinct per data dir
    * (the sf0.001 warm-up and the timed sf pass do not overwrite each
    * other), private to this JVM. */
  def scratch(tag: String, dir: String): String =
    s"$scratch/${tag}_${Integer.toHexString(dir.hashCode)}"

  /** The one session builder: `local[cpus]`, `cpus` final shuffle
    * partitions, UI off, the graft conf and the data-sized initial
    * shuffle width for `sfDir`, log level WARN. Bench, Verify, the tools
    * and the test session all come from here, so an A/B measured on one
    * of them holds for the others. */
  def session(cpus: Int, sfDir: String): SparkSession = {
    val spark = withGraftConf(withBenchShuffle(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$scratch/warehouse"),
      cpus, sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release everything a query left cached: SQL-level caches AND
    * persistent RDDs. The iterative family (PageRank/CC/label-prop/
    * refined-pairs) cuts lineage with RDD-level localCheckpoint blocks
    * that clearCache() never sees; they live until the ContextCleaner
    * happens to GC them, and across hundreds of query executions in one
    * JVM that accumulation is an out-of-memory kill. Call between
    * queries. */
  def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Session configs every graft session needs (Verify, Bench, tests).
    * The engine's extensions ride in via spark.sql.extensions: graft_*
    * SQL functions plus the optimizer rules (index-aware pruning over
    * registered paths — a no-op until something registers — and the
    * early-exit ball-predicate fuse, which is semantics-preserving
    * everywhere it fires). */
  def withGraftConf(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // AQE coalesces the data-sized initial width (withBenchShuffle)
    // back down to what each exchange actually carries
    .config("spark.sql.adaptive.enabled", "true")
    // The engine's intentional single-partition windows (metadata-sized
    // relations: histograms, shortlists, sketch bins) declare a CONSTANT
    // partition key so WindowExec's "No Partition Defined" warning only
    // fires for accidental corpus-sized global windows. This rule would
    // strip the foldable key and bring the false alarms back; the key
    // costs one literal hash per (metadata-sized) row, so excluding the
    // rule trades nothing measurable for a clean warning channel.
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    // Every graft session is local[cpus]: a distributed listing job
    // lists the same local directories from the same JVM and only adds
    // a scheduling round, one task per directory. Session-wide, so it
    // covers the saved LSH buckets and the IVF list directories alike.
    // Measured on a 4-core host, read + pruned count of a partitioned
    // parquet, median of 10 alternating pairs, driver vs listing job:
    // 71 dirs 0.23 vs 0.66 s, 512 dirs 0.36 vs 2.5 s, 4096 dirs 0.84 vs
    // 14.9 s. Directories up to the widest fan-out the engine writes
    // itself are listed on the driver; wider ones keep the listing job.
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
      graft.operators.WriteGeometry.MaxDirFanOut.toString)

  /** DATA-SIZED initial shuffle width — partitions track the dataset,
    * exactly how a real cluster is sized. spark.sql.shuffle.partitions
    * (= cores locally) is the right FINAL width for fixture-scale work,
    * but it also bounds per-task shuffle block size: at sf10 a flat
    * 32-way shuffle spilled (~10M rows/task) and linear-work queries
    * went 12× per 10× data, while a flat 8×cores width cost 25-40% on
    * multi-stage pipelines at sf0.1 (hundreds of near-empty reduce
    * tasks per stage). So: input bytes / 4 MB of parquet (≈100 MB of
    * in-flight shuffle per task at the observed ~25× parquet-to-shuffle
    * amplification), clamped to [cores, 2×cores]. The sf0.001/sf0.01
    * fixtures land on `cores` — Spark's own default, so Verify and the
    * test session plan exactly as without this — sf0.1 on `cores` from
    * 4 cores up, and sf10 on 2×cores, which beat 8×cores at ×100 across
    * the board (the iterative family pays the initial width on every
    * round's node-state exchange). */
  def initialPartitions(cpus: Int, sfDir: String): Int = {
    def dirBytes(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    val sized = dirBytes(new java.io.File(sfDir)) / (4L << 20)
    math.min(math.max(sized, cpus.toLong), 2L * cpus).toInt
  }

  def withBenchShuffle(b: SparkSession.Builder, cpus: Int,
                       sfDir: String): SparkSession.Builder =
    b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      initialPartitions(cpus, sfDir).toString)
}
