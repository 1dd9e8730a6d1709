package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

/** The fused codegen expressions must be bit-for-bit identical to their
  * builtin-composed oracles (SURVEY §7.3: custom exprs are perf-only). */
class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def compare(data: Seq[(Seq[Double], Seq[Double])]): Unit = {
    import spark.implicits._
    val df = data.toDF("a", "b")
    val out = df.select(
      VectorFunctions.sqDist(col("a"), col("b")).as("fast_sq"),
      VectorFunctions.sqDistBuiltin(col("a"), col("b")).as("ref_sq"),
      VectorFunctions.dot(col("a"), col("b")).as("fast_dot"),
      VectorFunctions.dotBuiltin(col("a"), col("b")).as("ref_dot"),
      VectorFunctions.cosine(col("a"), col("b")).as("fast_cos"),
      VectorFunctions.cosineBuiltin(col("a"), col("b")).as("ref_cos"))
      .collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), "sqDist differs")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)), "dot differs")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(4)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(5)), "cosine differs")
    }
  }

  test("fused == builtin on random vectors (bitwise)") {
    val rnd = new scala.util.Random(1)
    val data = (1 to 50).map { _ =>
      val d = 1 + rnd.nextInt(80)
      (Seq.fill(d)(rnd.nextDouble() * 2e3 - 1e3),
        Seq.fill(d)(rnd.nextDouble() * 2e3 - 1e3))
    }
    compare(data)
  }

  test("fused == builtin on edge values") {
    compare(Seq(
      (Seq(0.0), Seq(0.0)),
      (Seq(1e308, -1e308), Seq(-1e308, 1e308)),
      (Seq(1e-320, 2e-320), Seq(0.0, 0.0)),
      (Seq.fill(64)(0.1), Seq.fill(64)(0.3))))
  }

  test("null array and length mismatch give null (zip_with parity)") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]),
      (Some(Seq(1.0, 2.0)), Some(Seq(1.0))),
      (Some(Seq(1.0)), Some(Seq(2.0)))).toDF("a", "b")
    val rows = df.select(
      VectorFunctions.sqDist(col("a"), col("b")).as("fast"),
      VectorFunctions.sqDistBuiltin(col("a"), col("b")).as("ref"))
      .collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    assert(rows(2).getDouble(0) == 1.0 && rows(2).getDouble(1) == 1.0)
  }

  test("non-nullable inputs compile under codegen (nullable override)") {
    // array(lit...) children are non-nullable; without the nullable=true
    // override the generated `isNull = true` assignment targeted the
    // literal `false` and the expression fell out of codegen. Force
    // CODEGEN_ONLY so a codegen regression fails the test instead of
    // silently falling back to interpreted eval.
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      import spark.implicits._
      val df = Seq((1.0, 2.0), (3.0, 4.0)).toDF("x", "y")
      val rows = df.select(
        VectorFunctions.sqDist(array(col("x"), col("y")),
          array(lit(0.0), lit(0.0))).as("sq"),
        VectorFunctions.dot(array(col("x"), col("y")),
          array(lit(1.0), lit(1.0))).as("dp"))
        .orderBy(col("sq")).collect()
      assert(rows(0).getDouble(0) == 5.0 && rows(0).getDouble(1) == 3.0)
      assert(rows(1).getDouble(0) == 25.0 && rows(1).getDouble(1) == 7.0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("float input arrays are cast and fold identically") {
    val e = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val rows = e.crossJoin(q).select(
      VectorFunctions.sqDist(col("embedding"), col("qv")).as("fast"),
      VectorFunctions.sqDistBuiltin(col("embedding"), col("qv")).as("ref"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  // ==========================================================================
  // Early-exit ball predicate (SqDistWithin via FuseBallPredicate):
  // filter RESULTS must equal the unfused form exactly — the abandoned
  // sum is never observable.
  // ==========================================================================

  test("early-exit ball filter: fused plan, identical rows to builtin " +
      "composition incl. exact-boundary distances") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // random far/near mix + crafted EXACT-boundary pairs: sqdist == 25.0
    // precisely (3-4-0 triple), where <= keeps and < drops — the seam
    // where a sloppy early exit would diverge
    val data = (0 until 300).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextDouble() * 10 - 5),
        Seq.fill(16)(rnd.nextDouble() * 10 - 5))
    } ++ Seq(
      (1000L, Seq(3.0, 4.0) ++ Seq.fill(14)(0.0), Seq.fill(16)(0.0)),
      (1001L, Seq(5.1) ++ Seq.fill(15)(0.0), Seq.fill(16)(0.0)))
    // parquet round-trip: a LocalRelation would be constant-folded at
    // optimization time, hiding the plan shape under test
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_fuse").toString + "/t"
    data.toDF("id", "a", "b").write.parquet(tmp)
    val df = spark.read.parquet(tmp)
    for (strict <- Seq(false, true)) {
      val cmp: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column =
        if (strict) _ < _ else _ <= _
      val fused = df.filter(cmp(
        VectorFunctions.sqDist(col("a"), col("b")), lit(25.0)))
      val plan = fused.queryExecution.optimizedPlan.toString
      assert(plan.contains("graft_sqdist_within"),
        s"fused predicate missing (strict=$strict):\n$plan")
      val ref = df.filter(cmp(
        VectorFunctions.sqDistBuiltin(col("a"), col("b")), lit(25.0)))
      assert(fused.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        ref.select("id").collect().map(_.getLong(0)).sorted.toSeq,
        s"fused filter diverged (strict=$strict)")
      // boundary row: kept by <=, dropped by <
      val ids = fused.select("id").collect().map(_.getLong(0)).toSet
      assert(ids.contains(1000L) != strict)
      assert(!ids.contains(1001L))
    }
  }

  test("early-exit filter: null/mismatch rows dropped like the unfused " +
      "form; reversed operand order and lit-first comparisons fuse too") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_fuse_null").toString + "/t"
    Seq(
      (1L, Some(Seq(1.0, 1.0)), Some(Seq(1.0, 1.0))),
      (2L, Some(Seq(9.0, 9.0)), Some(Seq(0.0, 0.0))),
      (3L, None: Option[Seq[Double]], Some(Seq(1.0, 1.0))),
      (4L, Some(Seq(1.0)), Some(Seq(1.0, 1.0)))) // length mismatch
      .toDF("id", "a", "b").write.parquet(tmp)
    val df = spark.read.parquet(tmp)
    // lit >= sqdist (reversed) must fuse non-strict
    val fused = df.filter(
      lit(4.0) >= VectorFunctions.sqDist(col("a"), col("b")))
    assert(fused.queryExecution.optimizedPlan.toString
      .contains("graft_sqdist_within"))
    assert(fused.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // lit > sqdist (reversed strict)
    val fusedS = df.filter(
      lit(4.0) > VectorFunctions.sqDist(col("a"), col("b")))
    assert(fusedS.queryExecution.optimizedPlan.toString
      .contains("graft_sqdist_within_strict"))
    assert(fusedS.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("early-exit predicate under codegen: CODEGEN_ONLY keeps results") {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      import spark.implicits._
      val rnd = new scala.util.Random(37)
      val df = (0 until 200).map { i =>
        (i.toLong, Seq.fill(64)(rnd.nextDouble()), Seq.fill(64)(rnd.nextDouble()))
      }.toDF("id", "a", "b")
      val fused = df.filter(
          VectorFunctions.sqDist(col("a"), col("b")) <= lit(10.0))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      val ref = df.filter(
          VectorFunctions.sqDistBuiltin(col("a"), col("b")) <= lit(10.0))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(fused == ref && fused.nonEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("early-exit filter drops NaN/Infinity rows exactly like the " +
      "unfused form, interpreted AND codegen") {
    // Spark orders NaN above every double, so `sqdist <= r2` is FALSE
    // when any element is NaN — but a positive exit test (`s > r2`) never
    // trips on a NaN partial sum and would run to completion and KEEP the
    // row (round-10 advice finding). The negated keep-condition bails.
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_fuse_nan").toString + "/t"
    Seq(
      (1L, Seq(1.0, 1.0, 1.0), Seq(1.0, 1.0, 1.0)), // d²=0: kept
      (2L, Seq(Double.NaN, 0.0, 0.0), Seq(0.0, 0.0, 0.0)), // NaN 1st elem
      (3L, Seq(0.0, 0.0, Double.NaN), Seq(0.0, 0.0, 0.0)), // NaN last elem
      (4L, Seq(Double.PositiveInfinity, 0.0, 0.0), Seq(0.0, 0.0, 0.0)),
      (5L, Seq(1e308, 0.0, 0.0), Seq(-1e308, 0.0, 0.0)), // overflow → Inf
      (6L, Seq(0.0, 0.0, 0.0), Seq(0.0, 0.0, 0.0))) // d²=0: kept
      .toDF("id", "a", "b").write.parquet(tmp)
    val df = spark.read.parquet(tmp)
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
      val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        for (strict <- Seq(false, true)) {
          val cmp: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
            org.apache.spark.sql.Column = if (strict) _ < _ else _ <= _
          val fused = df.filter(cmp(
            VectorFunctions.sqDist(col("a"), col("b")), lit(25.0)))
          assert(fused.queryExecution.optimizedPlan.toString
            .contains("graft_sqdist_within"), s"not fused ($mode)")
          val got = fused.select("id").collect().map(_.getLong(0)).sorted.toSeq
          val want = df.filter(cmp(
              VectorFunctions.sqDistBuiltin(col("a"), col("b")), lit(25.0)))
            .select("id").collect().map(_.getLong(0)).sorted.toSeq
          assert(got == want,
            s"NaN/Inf divergence ($mode, strict=$strict): $got vs $want")
          assert(got == Seq(1L, 6L)) // NaN/Inf rows all dropped
        }
      } finally {
        prev match {
          case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
          case None => spark.conf.unset("spark.sql.codegen.factoryMode")
        }
      }
    }
  }
}
