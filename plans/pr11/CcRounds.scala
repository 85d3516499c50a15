// Rounds, jobs, wall time, checkpoint rows and a union-find check of
// `Dedup.connectedComponentsStar`, next to a verbatim copy of the loop it
// replaced (`ParentStar`: the star rounds with the per-partition
// union-find, stopping on a one-partition checkpoint or the probe, and no
// one-partition check before round 1). Not part of the build: copy it to
// src/test/scala/ (it uses the spec's `UnionFind`) and run
//
//   sbt "Test/runMain CcRounds <reps> <out.tsv> [<partitions>] [<coalesce>] [<graphs>]"
//
// where the optional lists default to 8,16,64 / true,false / every graph.
// Session: local[4], AQE and GraftExtensions (the settings of
// geobench/run.py), at 8, 16 and 64 shuffle partitions with AQE's
// partition coalescing on and off. Each configuration runs every graph
// `reps` times per side, alternating which side goes first. A row gives,
// per side, the rounds (0 when the one-partition check skipped them), the
// jobs, median and quartile wall ms of the call (its checkpoints are
// eager, so the call does all the work), the pairs in which the change
// was faster, the checkpoint rows summed over the call (read from the
// `numOutputRows` of the next query's scan of each checkpoint: no extra
// job), and whether the labels equal a driver-side union-find.
import graft.pipeline.{Dedup, UnionFind}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.PrintWriter
import scala.collection.mutable

/** `connectedComponentsStar` as it was before the one-partition check. */
object ParentStar {
  private val idPairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
                              maxIters: Int = 50): DataFrame = {
    val (u, v) = (col("__u"), col("__v"))
    val byCenter = Window.partitionBy(u)
    def edge(a: Column, b: Column): Column = struct(a.as("__u"), b.as("__v"))
    def round(e: DataFrame, probe: Observation): DataFrame = {
      val large = e.where(u =!= v)
        .select(inline(array(edge(u, v), edge(v, u))))
        .repartition(u).distinct()
        .select(u, v, min(v).over(byCenter).as("__n"), count(lit(1)).over(byCenter).as("__deg"))
        .observe(probe, count_if(v === col("__n") && col("__n") < u && col("__deg") > 1)
          .as("unfinished"))
      val m = least(u, col("__n"))
      val root = v === col("__n") && col("__n") > u
      val small = large
        .select(inline(array(edge(when(v > u, v), m), edge(when(root, u), u))))
        .where(u.isNotNull)
        .select(greatest(u, v).as("__u"), least(u, v).as("__v"))
        .repartition(u)
        .withColumn("__m", min(v).over(byCenter))
      small.select(when(v === col("__m"), u).otherwise(v).as("__u"), col("__m").as("__v"))
        .as(idPairs).mapPartitions(contractPartition)(idPairs).toDF("__u", "__v")
    }
    def written(checkpoint: DataFrame): RDD[_] = checkpoint.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
    }
    var e = edges.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("long").as("__u"), col(bCol).cast("long").as("__v"))
    var previous: Option[RDD[_]] = None
    var unfinished = 1L
    var i = 0
    val sc = edges.sparkSession.sparkContext
    while (unfinished > 0) {
      if (i == maxIters) throw new IllegalStateException(s"no fixpoint after $maxIters rounds")
      i += 1
      val caller = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"connectedComponentsStar: round $i")
      try {
        val probe = Observation()
        e = round(e, probe).localCheckpoint(true)
        val rdd = written(e)
        previous.foreach(Bridge.releaseCheckpoint)
        previous = Some(rdd)
        unfinished = if (rdd.getNumPartitions <= 1) 0L
          else probe.get.getOrElse("unfinished", 0L).asInstanceOf[Long]
      } finally sc.setJobDescription(caller)
    }
    e.select(u.as("id"), v.as("component"))
  }

  private def contractPartition(rows: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new mutable.LongMap[Long]()
    val selfRows = new mutable.LongMap[Unit]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElseUpdate(x, x)
      while (p != x) {
        val g = parent(p)
        parent(x) = g
        x = g
        p = parent(x)
      }
      x
    }
    rows.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      else if (a == b) selfRows(a) = ()
    }
    val ids = parent.keys.toArray
    java.util.Arrays.sort(ids)
    ids.iterator.map(x => (x, find(x))).filter { case (x, r) => x != r || selfRows.contains(x) }
  }
}

object CcRounds {
  type Graph = Seq[(Long, Long)]

  def permutedChain(n: Int, seed: Long): Graph = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until 10L * n).toVector).take(n)
    rnd.shuffle(ids.zip(ids.tail))
  }

  def randomGraph(nodes: Int, edges: Int, seed: Long): Graph = {
    val r = new scala.util.Random(seed)
    Seq.fill(edges)((r.nextInt(nodes).toLong, r.nextInt(nodes).toLong))
  }

  def hub(seed: Long): Graph = {
    val rnd = new scala.util.Random(seed)
    val leaves = rnd.shuffle((1L to 5000L).toVector)
    leaves.map(l => (777777L, l)) ++ Seq((leaves.head, 900001L), (900001L, 900000L))
  }

  /** The shapes of geobench's cc_cluster graphs over a seeded permutation of
    * 2 400 ids: cliques of sizes 2..8, 34 of each; paths of 2, 4, .., 512 ids. */
  def planted(seed: Long): (Graph, Graph) = {
    val perm = new scala.util.Random(seed).shuffle((0L until 2400L).toVector)
    var next = 0
    val cliques = for (k <- 2 to 8; _ <- 0 until 34; ids = { next += k; perm.slice(next - k, next) };
                       i <- ids; j <- ids if i < j) yield (i, j)
    next = 0
    val chains = for (p <- 1 to 9; ids = { next += 1 << p; perm.slice(next - (1 << p), next) };
                      e <- ids.zip(ids.tail)) yield e
    (cliques, chains)
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val out = new PrintWriter(args.lift(1).getOrElse("cc_rounds.tsv"))
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val lastRound = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties.getProperty("spark.job.description"))
          .filter(_.startsWith("connectedComponentsStar: ")).foreach { d =>
            jobs.incrementAndGet()
            if (d.startsWith("connectedComponentsStar: round "))
              lastRound.accumulateAndGet(d.stripPrefix("connectedComponentsStar: round ").toInt, math.max)
          }
    })
    // rows of every checkpoint scanned by a query, by the checkpoint's RDD id
    val scanned = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val helper = new AdaptiveSparkPlanHelper {}
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        helper.collect(qe.executedPlan) { case s: RDDScanExec => s }.foreach { s =>
          scanned.merge(s.rdd.id, s.metrics("numOutputRows").value, (a, b) => math.max(a, b))
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def drain(): Unit = {
      val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }

    val (cliques, chains) = planted(21L)
    val graphs: Seq[(String, Graph)] = Seq(
      "chain512" -> permutedChain(512, 9L),
      "chain4096" -> permutedChain(4096, 10L),
      "chain30000" -> permutedChain(30000, 14L),
      "random2k" -> randomGraph(2000, 1600, 1L),
      "random20k" -> randomGraph(20000, 14000, 2L),
      "hub5000" -> hub(3L),
      "planted_cliques" -> cliques,
      "planted_chains" -> chains)
    val sides: Seq[(String, (DataFrame, String, String) => DataFrame)] = Seq(
      "parent" -> ((d, a, b) => ParentStar.connectedComponentsStar(d, a, b)),
      "change" -> ((d, a, b) => Dedup.connectedComponentsStar(d, a, b)))

    /** (rounds, jobs, wall ms, checkpoint rows, labels equal union-find) of one call. */
    def once(side: (DataFrame, String, String) => DataFrame, df: DataFrame,
             oracle: Map[Long, Long]): (Int, Int, Double, Long, Boolean) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      drain(); jobs.set(0); lastRound.set(0); scanned.clear()
      val t0 = System.nanoTime()
      val comps = side(df, "a", "b")
      val ms = (System.nanoTime() - t0) / 1e6
      val got = comps.as[(Long, Long)].collect()
      drain()
      val n = jobs.get
      val ok = got.length == oracle.size && got.toMap == oracle
      val rows = scanned.values().stream().mapToLong(x => x).sum()
      // release every checkpoint the call left, so runs do not pile up
      spark.sparkContext.getPersistentRDDs.foreach { case (id, r) => if (!before(id)) r.unpersist() }
      (lastRound.get, n, ms, rows, ok)
    }

    out.println("partitions\tcoalesce\tgraph\tedges\tparent_rounds\tchange_rounds\tparent_jobs\t" +
      "change_jobs\tparent_ms\tchange_ms\tparent_ms_q1_q3\tchange_ms_q1_q3\tchange_wins\t" +
      "parent_ckpt_rows\tchange_ckpt_rows\tparent_uf\tchange_uf")
    def list(i: Int): Option[Seq[String]] = args.lift(i).map(_.split(",").toSeq)
    val partitionsList = list(2).map(_.map(_.toInt)).getOrElse(Seq(8, 16, 64))
    val coalesceList = list(3).map(_.map(_.toBoolean)).getOrElse(Seq(true, false))
    val chosen = list(4).map(names => graphs.filter(g => names.contains(g._1))).getOrElse(graphs)
    for (parts <- partitionsList; coalesce <- coalesceList) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce.toString)
      for ((name, g) <- chosen) {
        val df = g.toDF("a", "b").persist()
        df.count()
        val oracle = UnionFind.labels(g)
        once(sides(1)._2, df, oracle) // warm-up
        val res = mutable.Map.empty[String, mutable.ArrayBuffer[(Int, Int, Double, Long, Boolean)]]
        for (rep <- 0 until reps; (side, f) <- if (rep % 2 == 0) sides else sides.reverse)
          res.getOrElseUpdate(side, mutable.ArrayBuffer.empty) += once(f, df, oracle)
        df.unpersist()
        // nearest-rank quartiles of the wall times
        def q(xs: Seq[Double], f: Double): Double = xs.sorted.apply(((xs.size - 1) * f).round.toInt)
        val Seq(p, c) = Seq("parent", "change").map(res)
        val (pm, cm) = (p.map(_._3).toSeq, c.map(_._3).toSeq)
        val wins = pm.zip(cm).count { case (a, b) => b < a }
        val line = Seq(parts, coalesce, name, g.size,
          p.head._1, c.head._1, p.head._2, c.head._2,
          f"${q(pm, 0.5)}%.0f", f"${q(cm, 0.5)}%.0f",
          f"${q(pm, 0.25)}%.0f-${q(pm, 0.75)}%.0f", f"${q(cm, 0.25)}%.0f-${q(cm, 0.75)}%.0f",
          s"$wins/$reps", p.head._4, c.head._4, p.forall(_._5), c.forall(_._5)).mkString("\t")
        out.println(line); out.flush()
        println(line)
      }
    }
    out.close()
    spark.stop()
  }
}
