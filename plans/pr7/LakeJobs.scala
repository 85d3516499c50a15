import graft.Geo.st_point
import graft.api.GeoFrame
import graft.io.GeoParquet
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Lists the Spark jobs of each op in the shape of the `lake_append`
  * benchmark workload: a Hilbert-packed base of 40 000 points in 8 files;
  * kind a appends a batch of 1 000 points with
  * `GeoParquet.appendWithSidecar`, kind b runs the bbox query
  * (`GeoParquet.read` with bounds, `cx`, then count and sum). Each kind a
  * op also lists the jobs of its check, a plain `GeoParquet.read` and
  * count, apart from the op's own. The session matches the benchmark's:
  * local[4], 8 shuffle partitions, AQE, GraftExtensions. After a warm-up
  * of 4 ops, 8 ops are listed, each job with its description (or the
  * call site of its SQL execution when it has none), stages and tasks.
  * It runs unchanged on a commit before and after the explicit-file read
  * path, since it calls only public API.
  *
  *   cp plans/pr7/LakeJobs.scala src/test/scala/
  *   sbt "Test/runMain LakeJobs <out.txt>"
  */
object LakeJobs {
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

    val dir = java.nio.file.Files.createTempDirectory("lakejobs").toFile
    val lake = s"$dir/lake"
    val rnd = new scala.util.Random(3)
    def points(first: Long, n: Int) = (0 until n)
      .map(i => (first + i, rnd.nextInt(1000), rnd.nextDouble() * 10000, rnd.nextDouble() * 10000))
      .toDF("id", "v", "x", "y").select($"id", $"v", st_point($"x", $"y").as("geometry"))
    GeoParquet.packPartitionsToParquet(GeoFrame(points(0L, 40000), "geometry", "point"), lake, 8)
    val batches = (0 until 6).map(k => points(40000L + 1000L * k, 1000).persist())
    batches.foreach(_.count())
    def box(i: Int) = { val c = 1000.0 + 1000 * i; (c, c, c + 400 * (i + 1), c + 400 * (i + 1)) }

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
    val sc = spark.sparkContext
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = executed.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    })
    val out = new StringBuilder
    def listed(title: String)(f: => Unit): Unit = {
      jobs.synchronized(jobs.clear())
      f
      org.apache.spark.grafttest.Bus.drain(sc)
      val js = jobs.synchronized(jobs.toList)
      val ran = js.map(j => j.stages.map(s => tasks.getOrDefault(s, 0)).sum)
      out ++= s"$title: ${js.size} jobs, ${ran.sum} tasks\n"
      js.zip(ran).foreach { case (j, t) =>
        out ++= f"  job ${j.id}%4d  stages ${j.stages.size}  tasks $t%3d  ${j.label}\n"
      }
    }
    def op(i: Int): Unit =
      if (i % 2 == 0) {
        listed(s"op $i kind a (appendWithSidecar)")(
          GeoParquet.appendWithSidecar(batches(i / 2), lake, Seq("geometry")))
        listed(s"  check of op $i (plain read, count)")(
          GeoParquet.read(spark, lake, "geometry", "point").df.count())
      } else {
        val b = box(i)
        executed.clear()
        listed(s"op $i kind b (read with bounds, cx, count and sum)") {
          GeoParquet.read(spark, lake, "geometry", "point", Some(b))
            .cx(b._1, b._2, b._3, b._4).df
            .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).head()
        }
        val scans = executed.toArray(Array.empty[org.apache.spark.sql.execution.SparkPlan])
          .toSeq.flatMap(PlanNodes.of).collect {
            case s: org.apache.spark.sql.execution.FileSourceScanExec => s
          }
        out ++= s"  scan: ${scans.map(_.relation.location.inputFiles.length).sum} files listed, " +
          s"numFiles metric ${scans.map(_.metrics("numFiles").value).sum}\n"
      }
    sc.addSparkListener(listener)
    (0 until 4).foreach(op)
    out.clear()
    (4 until 12).foreach(op)
    sc.removeSparkListener(listener)
    val text = out.toString
    print(text)
    if (args.nonEmpty) java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), text)
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}

object PlanNodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def of(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    collect(p) { case n => n }
}
