package graft.pipeline

import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Driver-side union-find: (id, min id of its component) for every node
  * of a non-loop edge, the contract of `Dedup.connectedComponentsStar`. */
object UnionFind {
  def labels(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val p = parent(y); parent(y) = r; y = p }
      r
    }
    // the smaller root always wins, so every root is its set's minimum
    for ((a, b) <- edges if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  import spark.implicits._

  def labels(df: DataFrame): Map[Long, Long] =
    Dedup.connectedComponentsStar(df, "a", "b").as[(Long, Long)].collect().toMap

  /** A path over `n` distinct ids drawn from a seeded permutation. */
  def permutedChain(n: Int, seed: Long): Seq[(Long, Long)] = {
    val ids = new scala.util.Random(seed).shuffle((0L until 10L * n).toVector).take(n)
    ids.zip(ids.tail)
  }

  /** Result and descriptions of every Spark job `f` started, in order. */
  def jobsOf[T](f: => T): (T, Seq[String]) = {
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

  test("star matches a union-find oracle on seeded random graphs") {
    val rnd = new scala.util.Random(41)
    def check(edges: Seq[(Long, Long)], what: String): Unit =
      assert(labels(edges.toDF("a", "b")) == UnionFind.labels(edges), what)
    // permuted chains: diameters 63..399, far past 20 label rounds
    for ((n, seed) <- Seq((64, 1L), (150, 2L), (400, 3L)))
      check(rnd.shuffle(permutedChain(n, seed)), s"chain of $n")
    // one hub of degree 5 000 with a short chain hanging off a leaf
    val hub = 777777L
    val leaves = rnd.shuffle((1L to 5000L).toVector)
    check(leaves.map(l => (hub, l)) ++ Seq((leaves.head, 900001L), (900001L, 900000L)),
      "hub of degree 5000")
    // cliques of sizes 2..12 over scattered ids, plus sparse random graphs
    val cliques = (2 to 12).flatMap { k =>
      val ids = Seq.fill(k)(rnd.nextInt(1000000).toLong).distinct
      for (i <- ids; j <- ids if i < j) yield (i, j)
    }
    check(cliques, "cliques")
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(seed)
      val nodes = 20 + r.nextInt(200)
      val g = Seq.fill(nodes)((r.nextInt(nodes).toLong, r.nextInt(nodes).toLong))
      // duplicate and reversed copies of a third of the edges
      val noisy = g ++ g.take(nodes / 3) ++ g.take(nodes / 3).map(_.swap)
      check(r.shuffle(noisy), s"random graph $seed with duplicate and reversed edges")
    }
  }

  test("self-loops, null endpoints, int ids and empty input") {
    val rows = Seq[(Option[Long], Option[Long])](
      (Some(5L), Some(5L)), // self-loop only: 5 is in no component
      (Some(3L), Some(3L)), (Some(3L), Some(4L)), (Some(4L), Some(2L)),
      (None, Some(7L)), (Some(8L), None), (None, None),
      (Some(9L), Some(10L)), (Some(10L), Some(9L)), (Some(9L), Some(10L)))
    assert(labels(rows.toDF("a", "b")) ==
      Map(2L -> 2L, 3L -> 2L, 4L -> 2L, 9L -> 9L, 10L -> 9L))
    val ints = permutedChain(100, 5L).map { case (a, b) => (a.toInt, b.toInt) }
    assert(labels(ints.toDF("a", "b")) ==
      UnionFind.labels(ints.map { case (a, b) => (a.toLong, b.toLong) }))
    assert(labels(spark.emptyDataset[(Long, Long)].toDF("a", "b")).isEmpty)
  }

  test("the round cap fails loudly instead of returning split components") {
    val chain = permutedChain(50, 6L).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsStar(chain, "a", "b", maxIters = 1)
    }
    assert(e.getMessage.contains("after 1 rounds") && e.getMessage.contains("edges left"),
      e.getMessage)
  }

  test("job budget: 3 jobs per round, no init or label jobs, on a 256-node chain") {
    val chain = permutedChain(256, 7L).toDF("a", "b").persist()
    chain.count()
    val key = "spark.sql.adaptive.enabled"
    val aqe = spark.conf.get(key)
    spark.conf.set(key, "true")
    try {
      val (comps, descs) = jobsOf(Dedup.connectedComponentsStar(chain, "a", "b"))
      val rounds = descs.map(_.stripPrefix("connectedComponentsStar: round ").toInt).max
      // each round: two shuffle-map jobs and the checkpoint's result job
      assert(descs.size == 3 * rounds, descs)
      assert((rounds, descs.size) == (7, 21), descs)
      assert(comps.select("component").distinct().count() == 1)
    } finally {
      spark.conf.set(key, aqe)
      chain.unpersist()
    }
  }

  test("every job carries its round as description; the caller's is restored") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val chain = permutedChain(40, 8L).toDF("a", "b")
      val (comps, inside) = jobsOf(Dedup.connectedComponentsStar(chain, "a", "b"))
      val phases = inside.distinct
      assert(phases == (1 to phases.size).map(k => s"connectedComponentsStar: round $k"), inside)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      val (_, after) = jobsOf(comps.collect())
      assert(after.nonEmpty && after.forall(_ == "caller"), after)
    } finally sc.setJobDescription(null)
  }
}
