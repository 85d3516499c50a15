package graft.plans

import graft.Geo._
import graft.api.GeoFrame
import graft.tools.SpatialJoin
import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The spatial-join planner state on the production install path: a
  * session built with GraftExtensions, whose optimizer gets a fresh
  * SpatialJoinRewrite instance on every run. A geometry side planned
  * again in the same session must not pay its planning-time passes
  * again, on the SQL path and on the GeoFrame.sjoin path alike. */
class PlannerCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val prevDefault = SparkSession.getDefaultSession
  private val prevActive = SparkSession.getActiveSession

  // withExtensions: the programmatic twin of the static conf
  // `spark.sql.extensions=graft.plans.GraftExtensions`, which is
  // ignored once a SparkContext exists (as in this suite)
  lazy val spark: SparkSession = {
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  private lazy val pts: DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(83)
    (0 until 2000).map(i => (i.toLong, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      .toDF("pid", "x", "y").select($"pid", st_point($"x", $"y").as("pt")).persist()
  }

  /** Two groups of diamonds, as the join benchmark queries one group
    * per query. */
  private lazy val polys: DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(84)
    (0 until 40).map { i =>
      val cx = rnd.nextDouble() * 100; val cy = rnd.nextDouble() * 100
      val r = 2 + rnd.nextDouble() * 6
      (i.toLong, i % 2, Seq(Seq(cx + r, cy, cx, cy + r, cx - r, cy, cx, cy - r, cx + r, cy)))
    }.toDF("gid", "grp", "poly").persist()
  }

  override def beforeAll(): Unit = {
    pts.count(); polys.count()
    pts.createOrReplaceTempView("pc_pts")
    polys.createOrReplaceTempView("pc_polys")
  }

  override def afterAll(): Unit = {
    pts.unpersist(true)
    polys.unpersist(true)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    prevDefault.foreach(SparkSession.setDefaultSession)
    prevActive.foreach(SparkSession.setActiveSession)
  }

  private def withConfs[T](kvs: (String, String)*)(f: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Result and descriptions of every Spark job `f` started, in order. */
  private def jobsOf[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties.getProperty("spark.job.description")).getOrElse("(none)"))
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      Bus.drain(sc)
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def sqlCounts(g: Int): Set[(Long, Long)] = spark.sql(
    s"""SELECT g.gid, count(*) AS n FROM pc_pts p JOIN pc_polys g
       |ON st_intersects_polygon(p.pt, g.poly) WHERE g.grp = $g
       |GROUP BY g.gid""".stripMargin)
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def group(g: Int): GeoFrame =
    GeoFrame(polys.where(col("grp") === g), "poly", "polygon")

  test("SQL spatial join: the cell-size pass runs once per geometry side, not once per query") {
    val (_, pass) = jobsOf(SpatialJoin.autoCellSize(polys.where(col("grp") === 0), col("poly")))
    assert(pass.nonEmpty && pass.forall(_ == "sjoin: cell size"), pass)
    val (r1, j1) = jobsOf(sqlCounts(0))
    val (r2, j2) = jobsOf(sqlCounts(0))
    assert(r1 == r2 && r1.nonEmpty)
    assert(j1.count(_ == "sjoin: cell size") == pass.size, j1)
    assert(j2.size == j1.size - pass.size,
      s"the second run of the same query re-ran the cell-size pass: $j1 then $j2")
    val (_, j3) = jobsOf { sqlCounts(1); sqlCounts(1) }
    assert(j3.count(_ == "sjoin: cell size") == pass.size,
      s"a second geometry side must pay its pass exactly once: $j3")
  }

  test("GeoFrame.sjoin(cellSize = 0): the cell-size pass runs once per geometry side") {
    val points = GeoFrame(pts, "pt", "point")
    // construction runs the pass (an eager job); the join itself is lazy
    val (a1, c1) = jobsOf(points.sjoin(group(0), cellSize = 0))
    val (a2, c2) = jobsOf(points.sjoin(group(0), cellSize = 0))
    assert(c1.nonEmpty && c1.forall(_ == "sjoin: cell size"), c1)
    assert(c2.isEmpty, s"a re-planned geometry side re-ran the cell-size pass: $c2")
    val expect = sqlCounts(0)
    for (a <- Seq(a1, a2))
      assert(a.groupBy("gid").count().collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
    // a geometry x geometry join resolves both of its sides through the
    // same store: the diamonds' size is cached, the segments pay once
    val segs = GeoFrame(pts.where(col("pid") < 200)
      .select(col("pid"), array(st_x(col("pt")), st_y(col("pt")),
        st_x(col("pt")) + 1.0, st_y(col("pt")) + 1.0).as("seg")), "seg", "line")
    val (_, s1) = jobsOf(segs.sjoin(group(0), cellSize = 0))
    val (_, s2) = jobsOf(segs.sjoin(group(0), cellSize = 0))
    assert(s1.nonEmpty && s1.forall(_ == "sjoin: cell size"), s1)
    assert(s2.isEmpty, s"a re-planned geometry x geometry join re-ran a pass: $s2")
  }

  test("the planner state belongs to the session: a new session starts cold") {
    val side = polys.where(col("grp") === 1)
    val points = GeoFrame(pts, "pt", "point")
    jobsOf(points.sjoin(GeoFrame(side, "poly", "polygon")))
    val (_, warm) = jobsOf(points.sjoin(GeoFrame(side, "poly", "polygon")))
    assert(warm.isEmpty, warm)
    val fresh = spark.newSession()
    val (_, cold) = jobsOf(GeoFrame(Bridge.ofRows(fresh, pts.queryExecution.analyzed), "pt", "point")
      .sjoin(GeoFrame(Bridge.ofRows(fresh, side.queryExecution.analyzed), "poly", "polygon")))
    assert(cold.nonEmpty && cold.forall(_ == "sjoin: cell size"),
      s"a new session reused another session's planner state: $cold")
  }

  test("planner-path adaptive salting: a re-plan runs no second counting job on an extension-built session") {
    val s = spark
    import s.implicits._
    withConfs(
      "spark.graft.sjoin.cellSize" -> "20.0",
      "spark.graft.sjoin.salt" -> "8",
      "spark.graft.sjoin.adaptiveSalt" -> "true",
      "spark.graft.sjoin.adaptiveSalt.minBytes" -> "0") {
      // the 90%-one-cell skew shape: hot cell (0,0) at cellSize 20
      val skewed = (0 until 1000).map { i =>
        if (i % 10 != 0) (i.toLong, (i * 13 % 1000) / 50.0, (i * 17 % 1000) / 50.0)
        else (i.toLong, 20.0 + (i * 7 % 80), 20.0 + (i * 11 % 80))
      }.toDF("pid", "x", "y").withColumn("pt", st_point(col("x"), col("y")))
      val diamonds = (0 until 20).map { i =>
        val cx = (i * 23 % 100).toDouble; val cy = (i * 37 % 100).toDouble
        val r = 4.0 + i % 7
        (i.toLong, Seq(Seq(cx + r, cy, cx, cy + r, cx - r, cy, cx, cy - r, cx + r, cy)))
      }.toDF("gid", "poly")
      def pairs(): Set[(Long, Long)] =
        skewed.join(diamonds, st_intersects(skewed("pt"), diamonds("poly"), "polygon"))
          .select("pid", "gid").as[(Long, Long)].collect().toSet
      val runsBefore = SpatialJoin.detectionRuns.get()
      val first = pairs()
      assert(SpatialJoin.detectionRuns.get() > runsBefore,
        "planner path never ran hot-cell detection")
      val runsBeforeReplan = SpatialJoin.detectionRuns.get()
      assert(pairs() == first && first.nonEmpty)
      assert(SpatialJoin.detectionRuns.get() == runsBeforeReplan,
        "detection re-fired on a re-plan of the same point side")
    }
  }

  test("planning-time jobs are described by their pass; the caller's description is restored") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(85)
    val diamonds = (0 until 12).map { i =>
      val cx = rnd.nextDouble() * 100; val cy = rnd.nextDouble() * 100
      (i.toLong, Seq(Seq(cx + 5, cy, cx, cy + 5, cx - 5, cy, cx, cy - 5, cx + 5, cy)))
    }.toDF("gid", "poly")
    // a derived (join) point side: its small-input verdict needs the
    // bounded row probe, which minRows = 1 answers "big", so the hot
    // cells are counted too
    val derived = pts.join((0 until 1500).map(i => Tuple1(i.toLong)).toDF("pid"), Seq("pid"))
    sc.setJobDescription("caller")
    try withConfs(
      "spark.graft.sjoin.salt" -> "4",
      "spark.graft.sjoin.adaptiveSalt" -> "true",
      "spark.graft.sjoin.adaptiveSalt.minBytes" -> "1",
      "spark.graft.sjoin.adaptiveSalt.minRows" -> "1") {
      val (n, descs) = jobsOf(
        derived.join(diamonds, st_intersects(derived("pt"), diamonds("poly"), "polygon")).count())
      assert(n > 0)
      val passes = Seq("sjoin: cell size", "sjoin: small-input probe", "sjoin: hot cells")
      passes.foreach(p => assert(descs.contains(p), s"no '$p' job in $descs"))
      assert(descs.forall((passes :+ "caller").contains), descs)
      assert(descs.last == "caller", descs)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }
}
