import graft.Geo.st_point
import graft.api.GeoFrame
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Lists the Spark jobs of each spatial-join op in the shape of the
  * `sjoin_batch` benchmark workload: kind a is `GeoFrame.sjoin` of the
  * points with one polygon group (cellSize 0), kind b the SQL
  * `JOIN ... ON st_intersects_polygon ... WHERE g.grp = g`, each then a
  * count per polygon. The session matches the benchmark's: local[4],
  * 8 shuffle partitions, AQE, GraftExtensions. Inputs are cached
  * before the first op. After a warm-up of every group by both kinds,
  * one cycle of 8 ops is listed, each job with its description (or
  * the call site of its SQL execution when it has none), its stages
  * and its tasks.
  *
  *   cp plans/pr5/SjoinJobs.scala src/test/scala/
  *   sbt "Test/runMain SjoinJobs <out.txt>"
  */
object SjoinJobs {
  final case class Job(id: Int, label: String, stages: Seq[Int])

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val rnd = new scala.util.Random(3)
    val n = 100000
    val pts = (0 until n).map { i =>
      if (i % 5 == 0) (i.toLong, 40000 + rnd.nextDouble() * 400, 40000 + rnd.nextDouble() * 400)
      else (i.toLong, rnd.nextDouble() * 100000, rnd.nextDouble() * 100000)
    }.toDF("pid", "x", "y").select($"pid", st_point($"x", $"y").as("geometry")).persist()
    val polys = (0 until 480).map { k =>
      val (cx, cy) = if (k % 120 < 2) (40200.0, 40200.0)
                     else (rnd.nextDouble() * 100000, rnd.nextDouble() * 100000)
      val r = if (k % 120 < 2) 400.0 else 300 + 2700.0 * (k % 120) / 120
      val ring = (0 to 8).flatMap { i =>
        val a = 2 * math.Pi * (i % 8) / 8
        Seq(cx + r * math.cos(a), cy + r * math.sin(a))
      }
      (k.toLong, k / 120, Seq(ring))
    }.toDF("gid", "grp", "poly").persist()
    pts.count(); polys.count()
    pts.createOrReplaceTempView("gb_pts")
    polys.createOrReplaceTempView("gb_polys")

    def op(i: Int): Map[Long, Long] = {
      val g = (i / 2) % 4
      val df =
        if (i % 2 == 0)
          GeoFrame(pts, "geometry", "point")
            .sjoin(GeoFrame(polys.where(col("grp") === g), "poly", "polygon"))
            .groupBy("gid").count()
        else spark.sql(
          s"""SELECT g.gid, count(*) AS n FROM gb_pts p JOIN gb_polys g
             |ON st_intersects_polygon(p.geometry, g.poly) WHERE g.grp = $g
             |GROUP BY g.gid""".stripMargin)
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    val jobs = mutable.ArrayBuffer.empty[Job]
    val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val sites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
        val p = j.properties
        val site = Option(p.getProperty("spark.sql.execution.id"))
          .flatMap(id => Option(sites.get(id.toLong))).getOrElse("?")
        val label = Option(p.getProperty("spark.job.description"))
          .getOrElse(s"(no description; SQL execution at $site)")
        jobs += Job(j.jobId, label, j.stageIds)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sites.put(s.executionId, s.description)
        case _ =>
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.merge(t.stageId, 1, (a: Int, b: Int) => a + b)
    }
    val bus = spark.sparkContext
    (0 until 16).foreach(op) // warm-up: every group twice by each kind
    val out = new StringBuilder
    bus.addSparkListener(listener)
    for (i <- 16 until 24) {
      jobs.synchronized(jobs.clear())
      op(i)
      org.apache.spark.grafttest.Bus.drain(bus)
      val js = jobs.synchronized(jobs.toList)
      val ran = js.map(j => j.stages.map(s => tasks.getOrDefault(s, 0)).sum)
      out ++= s"op $i kind ${if (i % 2 == 0) "a (GeoFrame.sjoin)" else "b (SQL join)"} " +
        s"group ${(i / 2) % 4}: ${js.size} jobs, ${ran.sum} tasks\n"
      js.zip(ran).foreach { case (j, t) =>
        out ++= f"  job ${j.id}%4d  stages ${j.stages.size}  tasks $t%3d  ${j.label}\n"
      }
    }
    bus.removeSparkListener(listener)
    val text = out.toString
    print(text)
    if (args.nonEmpty) java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), text)
    spark.stop()
  }
}
