package graft.io

import graft.Geo._
import graft.api.GeoFrame
import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The Spark jobs of the lake's read and write paths. Planning a read of
  * a packed, appended lake takes its schema from a footer on the
  * driver, so it starts no job; the lake's own jobs name their phase
  * and give the caller's description back. */
class LakeReadJobsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private lazy val dir = java.nio.file.Files.createTempDirectory("lakejobs").toFile
  private lazy val lake = s"$dir/lake"

  private def points(firstId: Long, n: Int, seed: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (firstId + i, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      .toDF("id", "x", "y")
      .select(col("id"), st_point(col("x"), col("y")).as("geometry"), col("id").as("v"))
  }

  override def beforeAll(): Unit = {
    GeoParquet.packPartitionsToParquet(GeoFrame(points(0L, 2000, 1), "geometry", "point"),
      lake, 8)
    (1 to 3).foreach(k =>
      GeoParquet.appendWithSidecar(points(10000L * k, 200, 1 + k), lake, Seq("geometry")))
  }

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(dir)

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
      (r, seen.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def withAqe[T](f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try f finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private val box = (20.0, 20.0, 45.0, 45.0)

  test("planning a pruned or a plain read of a manifested lake starts no job") {
    val (pruned, prunedJobs) = jobsOf(
      GeoParquet.read(spark, lake, "geometry", "point", Some(box)))
    assert(prunedJobs.isEmpty, prunedJobs)
    val (plain, plainJobs) = jobsOf(GeoParquet.read(spark, lake, "geometry", "point"))
    assert(plainJobs.isEmpty, plainJobs)
    // the pruned read really pruned, and both read every row they should
    assert(pruned.df.inputFiles.length < plain.df.inputFiles.length)
    assert(plain.df.count() == 2600L)
    assert(pruned.cx(box._1, box._2, box._3, box._4).df.count() ==
      plain.cx(box._1, box._2, box._3, box._4).df.count())
  }

  test("the box query (read, cx, count and sum) runs two jobs") {
    withAqe {
      val (row, jobs) = jobsOf {
        GeoParquet.read(spark, lake, "geometry", "point", Some(box))
          .cx(box._1, box._2, box._3, box._4).df
          .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).head()
      }
      assert(jobs.size == 2, jobs)
      val all = spark.read.parquet(lake)
        .where(col("geometry.x").between(box._1, box._3) &&
          col("geometry.y").between(box._2, box._4))
        .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).head()
      assert(row == all)
    }
  }

  test("a pruned-empty read plans no job and keeps the lake's schema") {
    val (gf, jobs) = jobsOf(
      GeoParquet.read(spark, lake, "geometry", "point", Some((500.0, 500.0, 600.0, 600.0))))
    assert(jobs.isEmpty, jobs)
    assert(gf.df.schema == spark.read.parquet(lake).schema)
    assert(gf.df.count() == 0L)
  }

  test("the lake's jobs name their phase and restore the caller's description") {
    val sc = spark.sparkContext
    val s = spark
    import s.implicits._
    sc.setJobDescription("caller")
    try {
      // point batches take their bounds from footers: the staging
      // write is the append's only job
      val appendDir = s"$dir/append"
      GeoParquet.packPartitionsToParquet(GeoFrame(points(0L, 400, 7), "geometry", "point"),
        appendDir, 2)
      val (_, appendJobs) = jobsOf(
        GeoParquet.appendWithSidecar(points(5000L, 100, 8), appendDir, Seq("geometry")))
      assert(appendJobs.nonEmpty && appendJobs.forall(_ == "lake: stage append"), appendJobs)
      assert(sc.getLocalProperty("spark.job.description") == "caller")

      // polygon bounds are not in the footer: the bounds scan runs
      val polyDir = s"$dir/poly"
      def polys(first: Long) = (0 until 20).map { i =>
        val c = (first + i).toDouble
        (first + i, Seq(Seq(c, c, c + 1, c, c + 1, c + 1, c, c)))
      }.toDF("id", "poly")
      GeoParquet.write(GeoFrame(polys(0L), "poly", "polygon"), polyDir)
      val (_, polyJobs) = jobsOf(
        GeoParquet.appendWithSidecar(polys(100L), polyDir, Seq("poly")))
      assert(polyJobs.contains("lake: stage append") &&
        polyJobs.contains("lake: bounds scan"), polyJobs)
      assert(polyJobs.forall(Set("lake: stage append", "lake: bounds scan")), polyJobs)
      assert(sc.getLocalProperty("spark.job.description") == "caller")

      // compaction: the sort, stats pass and staging write
      val zDir = s"$dir/z"
      val nums = (0 until 300).map(i => (i.toLong, i % 17, i / 17)).toDF("id", "a", "b")
      GeoParquet.packZOrderToParquet(nums, Seq("a", "b"), zDir, 3)
      GeoParquet.appendNumericWithSidecar(nums.limit(30), zDir, Seq("a", "b"))
      val (_, compactJobs) = jobsOf(
        GeoParquet.compactZOrderGeneration(spark, zDir, Seq("a", "b"), 2))
      assert(compactJobs.contains("lake: compact"), compactJobs)
      assert(compactJobs.forall(Set("lake: compact", "lake: bounds scan")), compactJobs)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(GeoParquet.readZOrderRange(spark, zDir, Seq(("a", 0, 16))).count() == 330L)
    } finally sc.setJobDescription(null)
  }
}
