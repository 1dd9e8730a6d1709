package graft.operators

/** The write-geometry rule for every partitioned at-rest index writer
  * (SURVEY §4): repartition by the partitionBy column (one file per
  * touched bucket per write — the rolling-ingest file-population fix
  * measured in BASELINE.md r13), with [[MaxFileRows]] as the safety net
  * for a mis-sized bucket knob: a hot bucket degrades to a few bounded
  * files instead of one giant single-task file. Applies to builds,
  * appends AND compactors — compaction is where a hot bucket holds the
  * most rows, so the cap matters most exactly there.
  */
private[graft] object WriteGeometry {
  /** Rows per parquet file cap (`maxRecordsPerFile`). Narrow index rows
    * (id + hash + bucket) at ~50 B/row put a 4M-row file near the
    * 100–200 MB parquet sweet spot. */
  val MaxFileRows: Int = 4000000

  /** The widest directory fan-out the engine writes itself: IVF's
    * `autoNlist` cap on list directories, above every bucket count the
    * saved layouts are built with. The session lists a directory this
    * wide on the driver (`Tables.withGraftConf`); a wider one keeps
    * Spark's distributed listing job. */
  val MaxDirFanOut: Int = 4096

  /** Rewrite fan-out for a flat (non-bucket-dir) layout compaction:
    * ceil(rows / MaxFileRows) range partitions, floored at the build
    * default so small layouts keep the build's file geometry. A fixed
    * width would funnel a 100 TB family rewrite through that many
    * write tasks; deriving from the survivor count keeps the compact
    * write wave proportional to the data AND reproducible by the
    * build knob (buildSaved's numFiles) on the same rows. */
  def rewriteWidth(rows: Long, floor: Int = 8): Int =
    math.max(floor.toLong,
      (rows + MaxFileRows - 1L) / MaxFileRows).toInt

  /** The fsck face of the rule: the WRITE-ERA ledger of a partitioned
    * layout. Under this geometry, one write (build, append batch, or
    * compact) leaves ceil(rows/MaxFileRows) files in a bucket dir — so
    * `files − (that floor) + 1` estimates how many write eras a bucket
    * has accumulated, independent of scale (a bucket that legitimately
    * split under the row cap still reads as ONE era; a naive raw file
    * count would read a big fresh build as "needs compaction").
    * Returns the max estimate across the layout's bucket dirs: 1 after
    * build/compact, +1 per append era — the compaction-due signal all
    * three fsck verbs report. `perBucketRows` keys are the partition
    * values as directory-name strings. */
  def writeEras(fs: org.apache.hadoop.fs.FileSystem,
                root: org.apache.hadoop.fs.Path, bucketCol: String,
                perBucketRows: Map[String, Long]): Int = {
    if (!fs.exists(root)) return 0
    val dirs = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith(bucketCol + "="))
    if (dirs.isEmpty) return 0
    dirs.map { d =>
      val files = fs.listStatus(d.getPath)
        .count(_.getPath.getName.endsWith(".parquet"))
      val rows = perBucketRows.getOrElse(
        d.getPath.getName.stripPrefix(bucketCol + "="), 0L)
      val floor = math.max(1L,
        (rows + MaxFileRows - 1L) / MaxFileRows).toInt
      files - floor + 1
    }.max
  }
}
