// Per-phase job counts and final (AQE) physical plans of one
// `Dedup.connectedComponentsStar` call. Not part of the build: copy it to
// src/test/scala/ and run
//
//   sbt "Test/runMain CcStarPlans <out.txt>"
//
// Session: local[4], 8 shuffle partitions, AQE on, GraftExtensions (the
// settings of geobench/run.py). Graphs: a 256-node chain and a graph of
// 34 cliques of each size 2..8, both over seeded permuted ids.
import graft.pipeline.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import scala.collection.mutable

object CcStarPlans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // execution id -> (action, jobs, last physical plan); jobs outside SQL under -1
    val execs = mutable.LinkedHashMap.empty[Long, (String, Int, String)]
    val jobDesc = mutable.ArrayBuffer.empty[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = execs.synchronized {
        val id = Option(j.properties.getProperty("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
        val (a, n, p) = execs.getOrElse(id, ("(no SQL execution)", 0, ""))
        execs(id) = (a, n + 1, p)
        jobDesc += Option(j.properties.getProperty("spark.job.description")).getOrElse("(none)")
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = execs.synchronized {
        e match {
          case s: SparkListenerSQLExecutionStart =>
            val (_, n, _) = execs.getOrElse(s.executionId, ("", 0, ""))
            execs(s.executionId) = (s.description, n, s.physicalPlanDescription)
          case u: SparkListenerSQLAdaptiveExecutionUpdate =>
            execs.get(u.executionId).foreach { case (a, n, _) => execs(u.executionId) = (a, n, u.physicalPlanDescription) }
          case _ =>
        }
      }
    })
    def drain(): Unit = {
      val m = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
      val bus = m.invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }

    val rnd = new scala.util.Random(3)
    val perm = rnd.shuffle((0L until 4096L).toVector)
    val chain = (0 until 255).map(i => (perm(i), perm(i + 1))).toDF("a", "b").persist()
    var next = 0
    val cliques = (for (size <- 2 to 8; _ <- 0 until 34) yield {
      val ids = perm.slice(next, next + size); next += size
      for (i <- ids; j <- ids if i < j) yield (i, j)
    }).flatten.toDF("a", "b").persist()
    chain.count(); cliques.count()

    val out = new StringBuilder
    for ((name, g) <- Seq("chain256" -> chain, "cliques" -> cliques)) {
      val edges = g.count()
      // one warm call, then the recorded one
      Dedup.connectedComponentsStar(g, "a", "b").collect()
      drain()
      execs.synchronized { execs.clear(); jobDesc.clear() }
      val cc = Dedup.connectedComponentsStar(g, "a", "b")
      drain()
      val (inOp, opDescs) = execs.synchronized((execs.values.map(_._2).sum, jobDesc.toVector))
      val n = cc.collect().length
      drain()
      out ++= s"==== $name: $edges edges, $n labelled nodes\n"
      out ++= s"jobs inside connectedComponentsStar: $inOp\n"
      out ++= "jobs by description: " + opDescs.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (d, v) => s"[$d] ${v.size}" }.mkString(", ") + "\n"
      execs.synchronized {
        out ++= "SQL executions (action, jobs), the caller's collect last:\n"
        execs.foreach { case (id, (a, j, _)) => out ++= f"  $id%5d  $j%2d jobs  ${a.linesIterator.next()}\n" }
        if (name == "chain256") {
          // one plan per call site: its second execution (round 2 of a loop)
          out ++= "\nfinal physical plan per call site (second execution when it repeats):\n"
          execs.toSeq.filter(_._2._2 > 0)
            .groupBy(_._2._1.linesIterator.next().replaceAll("round \\d+", "round k")).toSeq
            .sortBy(_._2.head._1).foreach { case (site, runs) =>
              val (id, (_, j, p)) = runs.sortBy(_._1).take(2).last
              out ++= s"\n---- execution $id: $site ($j jobs)\n${p.split("\n\n").head}\n"
            }
        }
      }
      out ++= "\n"
      cc.unpersist()
    }
    val text = out.toString
    args.headOption match {
      case Some(path) => java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)
      case None => print(text)
    }
    spark.stop()
  }
}
