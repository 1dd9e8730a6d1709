package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The one session builder's sizing and the JVM-private scratch root. */
class SessionSpec extends AnyFunSuite {

  test("data-sized width is `cpus` on the sf0.001 and sf0.01 fixtures — " +
       "Spark's default, so Verify and the tests plan as without it") {
    val sf0001 = SparkTestSession.sf0001
    val sf001 = Paths.get(sf0001).resolveSibling("sf0.01").toString
    for (dir <- Seq(sf0001, sf001); cpus <- 1 to 8)
      assert(Tables.initialPartitions(cpus, dir) == cpus, s"$dir cpus=$cpus")
    val conf = SparkTestSession.spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      == conf.get("spark.sql.shuffle.partitions"))
  }

  test("data-sized width clamps to 2 × cpus on a 1 GB data dir") {
    val dir = Files.createTempDirectory("graft_width").toFile
    val f = new RandomAccessFile(new File(dir, "big.parquet"), "rw")
    try {
      f.setLength(1L << 30) // sparse: no disk blocks are written
      for (cpus <- 1 to 8)
        assert(Tables.initialPartitions(cpus, dir.toString) == 2 * cpus)
    } finally {
      f.close()
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("scratch(tag, dir) is stable within the JVM and private to it") {
    val a = Tables.scratch("text_idx", "/data/sf1")
    assert(a == Tables.scratch("text_idx", "/data/sf1"))
    assert(a != Tables.scratch("text_idx", "/data/sf2"))
    assert(a != Tables.scratch("lsh_idx", "/data/sf1"))
    val root = Paths.get(Tables.scratch)
    assert(Files.isDirectory(root))
    assert(Paths.get(a).getParent == root)
    assert(Paths.get(a).getParent != Paths.get(sys.props("java.io.tmpdir")))
  }
}
