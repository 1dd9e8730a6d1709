package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AggregatesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("approx_count_distinct (HLL) within 5% of exact at default rsd") {
    val ev = Tables.events(spark, SparkTestSession.sf0001)
    val row = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx")).head()
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }

  test("graft_sqdist / graft_dot usable from SQL after registration") {
    val r = spark.sql(
      """SELECT graft_sqdist(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS sq,
        |       graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d
        |""".stripMargin).head()
    assert(r.getDouble(0) == 8.0)
    assert(r.getDouble(1) == 11.0)
  }

  test("GraftExtensions injects both functions (builder-level contract)") {
    // getOrCreate would return the shared session and skip extension
    // application, so assert the injection list directly.
    val names = GraftExtensions.registrations.map(_._1)
    assert(names == Seq("graft_sqdist", "graft_dot", "graft_cosine"))
  }

  test("meanVector: hand-computed centroids, no explode in the plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("x", Seq(1.0, 2.0, 3.0)),
      ("x", Seq(3.0, 4.0, 5.0)),
      ("y", Seq(10.0, 0.0, -2.0))).toDF("g", "vec")
    val got = operators.VectorAgg.meanVector(df, Seq("g"), "vec", 3)
      .orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getSeq[Double](2))).toList
    assert(got === List(
      ("x", 2L, Seq(2.0, 3.0, 4.0)),
      ("y", 1L, Seq(10.0, 0.0, -2.0))))
    // scale shape: one hash aggregate over element_at projections — a
    // posexplode formulation would show Generate in the plan
    val plan = operators.VectorAgg.meanVector(df, Seq("g"), "vec", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"))
  }

  test("centroidDrift: zero for identical snapshots, hand value for a " +
      "known shift, disjoint groups dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val a = Seq(("x", Seq(1.0, 2.0)), ("x", Seq(3.0, 4.0)),
      ("y", Seq(0.0, 0.0)), ("gone", Seq(9.0, 9.0))).toDF("g", "vec")
    // x centroid moves (2,3) -> (3,4): drift = 1+1 = 2; y unmoved;
    // "gone"/"new" exist in only one snapshot — dropped
    val b = Seq(("x", Seq(2.0, 3.0)), ("x", Seq(4.0, 5.0)),
      ("y", Seq(0.0, 0.0)), ("new", Seq(1.0, 1.0))).toDF("g", "vec")
    val got = operators.VectorAgg.centroidDrift(a, b, Seq("g"), "vec", 2)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toList
    assert(got === List(("x", 2L, 2L, 2.0), ("y", 1L, 1L, 0.0)))
    val self = operators.VectorAgg.centroidDrift(a, a, Seq("g"), "vec", 2)
      .agg(sum(abs(col("drift")))).head().getDouble(0)
    assert(self == 0.0)
  }

  test("randomProjection: linearity, zero maps to zero, JL distance " +
    "preservation on the fixture, partition-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
      .limit(50)
    val p = operators.VectorAgg.randomProjection(e, "embedding", 64, 16)
    val rows = p.select("vec_id", "proj").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(rows.values.forall(_.length == 16))
    // zero vector projects to zero
    val z = Seq((1L, Seq.fill(64)(0.0))).toDF("vec_id", "embedding")
    val zp = operators.VectorAgg.randomProjection(z, "embedding", 64, 16)
      .select("proj").head().getSeq[Double](0)
    assert(zp.forall(_ == 0.0))
    // JL: projected pairwise sq-distances stay within a loose band of
    // the originals (64 -> 16 dims; Rademacher JL distortion for a
    // handful of pairs is far inside [1/4, 4] with high probability)
    val orig = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = orig.keys.toSeq.sorted.take(10)
    for (i <- ids; j <- ids if i < j) {
      val d0 = sq(orig(i), orig(j))
      val d1 = sq(rows(i), rows(j))
      assert(d0 > 0 && d1 / d0 > 0.25 && d1 / d0 < 4.0,
        s"pair ($i,$j): ratio ${d1 / d0}")
    }
    // deterministic under repartition (pure scan expression)
    val p2 = operators.VectorAgg
      .randomProjection(e.repartition(7), "embedding", 64, 16)
      .select("vec_id", "proj").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(p2 == rows)
  }

  test("profile: null/distinct/range per column in one job; approx close") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (3L, null), (null, "b"), (5L, "c"))
      .toDF("k", "s")
    val got = operators.Profiling.profile(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
          r.getString(5)))).toMap
    assert(got("k") == ((5L, 1L, 4L, "1", "5")))
    assert(got("s") == ((5L, 1L, 3L, "a", "c")))
    // HLL path: same shape, cardinalities within the sketch's tolerance
    val li = Tables.load(spark, SparkTestSession.sf0001, "lineitem")
    val exact = operators.Profiling.profile(li, Seq("l_orderkey"))
      .head().getLong(3)
    val approx = operators.Profiling.profile(li, Seq("l_orderkey"),
      approx = true).head().getLong(3)
    // default sketch rsd is 5%; allow 2 sigma
    assert(math.abs(approx - exact).toDouble / exact <= 0.10)
  }
}
