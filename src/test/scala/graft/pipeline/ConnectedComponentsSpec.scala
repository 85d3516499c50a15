package graft.pipeline

import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
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

  /** Runs `f` with the given SQL confs set, restoring the old values. */
  def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Shuffle partitions that AQE does not coalesce: rounds end in `n` partitions. */
  def uncoalesced(n: Int): Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> n.toString)

  /** Labels and rounds of one call. */
  def labelsAndRounds(df: DataFrame): (Map[Long, Long], Int) = {
    val (comps, descs) = jobsOf(Dedup.connectedComponentsStar(df, "a", "b"))
    val rows = comps.as[(Long, Long)].collect()
    assert(rows.length == rows.map(_._1).distinct.length, "one row per id")
    (rows.toMap, roundsOf(descs))
  }

  def roundsOf(descs: Seq[String]): Int =
    descs.map(_.stripPrefix("connectedComponentsStar: round ").toInt).max

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
    // several partitions per round, so round 1 cannot finish by itself
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val chain = permutedChain(50, 6L).toDF("a", "b")
      val e = intercept[IllegalStateException] {
        Dedup.connectedComponentsStar(chain, "a", "b", maxIters = 1)
      }
      assert(e.getMessage.contains("after 1 rounds") && e.getMessage.contains("edges left"),
        e.getMessage)
    }
  }

  test("job budget: 3 jobs per round, no init or label jobs, on a 256-node chain") {
    val chain = permutedChain(256, 7L).toDF("a", "b").persist()
    chain.count()
    val key = "spark.sql.adaptive.enabled"
    val aqe = spark.conf.get(key)
    spark.conf.set(key, "true")
    try {
      val (comps, descs) = jobsOf(Dedup.connectedComponentsStar(chain, "a", "b"))
      val rounds = roundsOf(descs)
      // each round: two shuffle-map jobs and the checkpoint's result job;
      // AQE coalesces round 1 into one partition, whose union-find is exact
      assert(descs.size == 3 * rounds, descs)
      assert((rounds, descs.size) == (1, 3), descs)
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

  test("several partitions per round: union-find labels, the star rounds unchanged") {
    withConf(uncoalesced(16): _*) {
      // (graph, rounds of the star loop without the per-partition contraction)
      for ((n, seed, rounds) <- Seq((512, 9L, 8), (4096, 10L, 11))) {
        val chain = new scala.util.Random(seed).shuffle(permutedChain(n, seed))
        val (got, r) = labelsAndRounds(chain.toDF("a", "b"))
        assert(got == UnionFind.labels(chain), s"chain of $n")
        assert(r == rounds, s"chain of $n")
      }
    }
  }

  test("one shuffle partition: the first round's union-find ends the loop") {
    withConf("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "1") {
      val chain = permutedChain(512, 11L)
      val (got, rounds) = labelsAndRounds(chain.toDF("a", "b"))
      assert(got == UnionFind.labels(chain))
      assert(rounds == 1)
    }
  }

  test("only the last round's checkpoint stays persisted; the caller's input is kept") {
    withConf(uncoalesced(16): _*) {
      val sc = spark.sparkContext
      def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
      val start = persisted
      val cached = permutedChain(512, 12L).toDF("a", "b").persist(StorageLevel.MEMORY_ONLY)
      cached.count()
      val checkpointed = permutedChain(300, 13L).toDF("a", "b").localCheckpoint(true)
      val inputs = persisted -- start
      assert(inputs.nonEmpty)
      for (in <- Seq(cached, checkpointed)) {
        val before = persisted
        val (comps, descs) = jobsOf(Dedup.connectedComponentsStar(in, "a", "b"))
        assert(roundsOf(descs) > 1, descs)
        val last = comps.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }
        assert(last.nonEmpty && (persisted -- before) == last.toSet,
          "one checkpoint left, the last round's")
        assert(inputs.subsetOf(persisted), "the caller's inputs stay persisted")
      }
      assert(cached.storageLevel == StorageLevel.MEMORY_ONLY)
      cached.unpersist()
    }
  }
}
