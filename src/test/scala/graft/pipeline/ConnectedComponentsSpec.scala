package graft.pipeline

import graft.tools.Partitions
import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
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

  /** The description of the one job of the one-partition path. */
  val onePartition = "connectedComponentsStar: one partition"

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

  /** Seeded graph families: permuted chains, a hub of degree 5 000,
    * cliques and noisy random graphs, each shuffled. */
  lazy val families: Seq[(String, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(41)
    // permuted chains: diameters 63..399, far past 20 label rounds
    val chains = for ((n, seed) <- Seq((64, 1L), (150, 2L), (400, 3L)))
      yield s"chain of $n" -> rnd.shuffle(permutedChain(n, seed))
    // one hub of degree 5 000 with a short chain hanging off a leaf
    val hub = 777777L
    val leaves = rnd.shuffle((1L to 5000L).toVector)
    val star = "hub of degree 5000" ->
      (leaves.map(l => (hub, l)) ++ Seq((leaves.head, 900001L), (900001L, 900000L)))
    // cliques of sizes 2..12 over scattered ids, plus sparse random graphs
    val cliques = "cliques" -> (2 to 12).flatMap { k =>
      val ids = Seq.fill(k)(rnd.nextInt(1000000).toLong).distinct
      for (i <- ids; j <- ids if i < j) yield (i, j)
    }
    val random = for (seed <- 1 to 3) yield {
      val r = new scala.util.Random(seed)
      val nodes = 20 + r.nextInt(200)
      val g = Seq.fill(nodes)((r.nextInt(nodes).toLong, r.nextInt(nodes).toLong))
      // duplicate and reversed copies of a third of the edges
      val noisy = g ++ g.take(nodes / 3) ++ g.take(nodes / 3).map(_.swap)
      s"random graph $seed with duplicate and reversed edges" -> r.shuffle(noisy)
    }
    chains ++ Seq(star, cliques) ++ random
  }

  /** Self-loops, null endpoints and repeated edges, with their labels. */
  val fixture: (Seq[(Option[Long], Option[Long])], Map[Long, Long]) = (Seq(
      (Some(5L), Some(5L)), // self-loop only: 5 is in no component
      (Some(3L), Some(3L)), (Some(3L), Some(4L)), (Some(4L), Some(2L)),
      (None, Some(7L)), (Some(8L), None), (None, None),
      (Some(9L), Some(10L)), (Some(10L), Some(9L)), (Some(9L), Some(10L))),
    Map(2L -> 2L, 3L -> 2L, 4L -> 2L, 9L -> 9L, 10L -> 9L))

  test("star matches a union-find oracle on seeded random graphs") {
    for ((what, edges) <- families)
      assert(labels(edges.toDF("a", "b")) == UnionFind.labels(edges), what)
  }

  test("self-loops, null endpoints, int ids and empty input") {
    val (rows, want) = fixture
    assert(labels(rows.toDF("a", "b")) == want)
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
    try {
      // coalescing off: the round loop, at the spec's 4 shuffle partitions
      withConf(uncoalesced(4): _*) {
        val (comps, descs) = jobsOf(Dedup.connectedComponentsStar(chain, "a", "b"))
        val rounds = roundsOf(descs)
        // each round: two shuffle-map jobs and the checkpoint's result job
        assert(descs.size == 3 * rounds, descs)
        assert((rounds, descs.size) == (7, 21), descs)
        assert(comps.select("component").distinct().count() == 1)
      }
      // coalescing on: the cached chain fits one partition, one job
      withConf("spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "true") {
        val (comps, descs) = jobsOf(Dedup.connectedComponentsStar(chain, "a", "b"))
        assert(descs == Seq(onePartition), descs)
        assert(comps.select("component").distinct().count() == 1)
      }
    } finally chain.unpersist()
  }

  test("every job carries its round as description; the caller's is restored") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val chain = permutedChain(40, 8L).toDF("a", "b")
      // a plan of its own: the cache would serve `chain` too if it matched
      val cached = chain.repartition(2).persist()
      cached.count()
      // (conf, input, the call's jobs): the loop's rounds; the one-partition
      // collect on cached edges; no job on edges that are a local relation
      for ((conf, in, path) <- Seq((uncoalesced(4), chain, "loop"),
          (Seq.empty, cached, "cached"), (Seq.empty, chain, "local"))) withConf(conf: _*) {
        val (comps, inside) = jobsOf(Dedup.connectedComponentsStar(in, "a", "b"))
        val phases = inside.distinct
        path match {
          case "loop" =>
            assert(phases.size > 1, inside)
            assert(phases == (1 to phases.size).map(k => s"connectedComponentsStar: round $k"), inside)
          case "cached" => assert(inside == Seq(onePartition), inside)
          case "local" => assert(inside.isEmpty, inside)
        }
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        // the loop's labels are a checkpoint, read by a job of the caller;
        // the one-partition labels are a local relation, read with none
        val (_, after) = jobsOf(comps.collect())
        if (path == "loop") assert(after.nonEmpty && after.forall(_ == "caller"), after)
        else assert(after.isEmpty, after)
      }
      cached.unpersist()
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

  test("one partition: the loop's labels on every graph family, self-loops, nulls, int ids, empty input") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    // `local` is a local relation: the collect runs no job. Its cached
    // copy runs exactly the one described collect job
    def same(local: DataFrame, what: String): Unit = {
      val (loop, loopSchema) = withConf(uncoalesced(16): _*) {
        val (comps, release) = Dedup.connectedComponentsStarWithRelease(local, "a", "b")
        try (comps.as[(Long, Long)].collect().toMap, comps.schema) finally release()
      }
      // a plan of its own: the cache would serve `local` too if it matched
      val cached = local.repartition(2).persist()
      cached.count()
      for ((in, jobs) <- Seq(local -> Seq.empty, cached -> Seq(onePartition))) {
        val before = persisted
        val ((comps, release), descs) = jobsOf(Dedup.connectedComponentsStarWithRelease(in, "a", "b"))
        assert(descs == jobs, what)
        assert(persisted == before, s"$what: the call persists no RDD")
        assert(comps.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], what)
        val (rows, read) = jobsOf(comps.as[(Long, Long)].collect())
        assert(read.isEmpty, s"$what: the labels are read with no job")
        assert(rows.length == rows.map(_._1).distinct.length, s"$what: one row per id")
        assert(rows.toMap == loop, what)
        assert(comps.schema == loopSchema, what)
        release()
        assert(persisted == before, s"$what: nothing to release")
      }
      cached.unpersist()
    }
    for ((what, edges) <- families) same(edges.toDF("a", "b"), what)
    same(fixture._1.toDF("a", "b"), "self-loops and nulls")
    same(permutedChain(100, 5L).map { case (a, b) => (a.toInt, b.toInt) }.toDF("a", "b"), "int ids")
    same(spark.emptyDataset[(Long, Long)].toDF("a", "b"), "empty input")
    assert(labels(fixture._1.toDF("a", "b")) == fixture._2)
  }

  test("the one-partition check: AQE's coalescing on and the plan within its size limit") {
    val edges = permutedChain(256, 7L)
    val chain = edges.toDF("a", "b").persist()
    chain.count()
    val want = UnionFind.labels(edges)
    val aqe = Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true")
    val parallelismFirst = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    try {
      for ((conf, path) <- Seq(
          Seq.empty -> "one partition",
          Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false") -> "loop",
          Seq("spark.sql.adaptive.enabled" -> "false") -> "loop",
          // the cached chain is a few KB: above a 1 KB limit
          Seq(parallelismFirst -> "true", minSize -> "1k", advisory -> "64m") -> "loop",
          Seq(parallelismFirst -> "false", minSize -> "1k", advisory -> "1k") -> "loop",
          Seq(parallelismFirst -> "false", minSize -> "1k", advisory -> "64m") -> "one partition")) {
        withConf(aqe ++ conf: _*) {
          val (comps, descs) = jobsOf(Dedup.connectedComponentsStar(chain, "a", "b"))
          if (path == "one partition") assert(descs == Seq(onePartition), conf)
          else assert(descs.nonEmpty && roundsOf(descs) >= 1, conf)
          assert(comps.as[(Long, Long)].collect().toMap == want, conf)
        }
      }
    } finally chain.unpersist()
  }

  test("the driver collects only sized edges: fitOne is false on an RDD-backed or oversized frame") {
    val sc = spark.sparkContext
    val conf = spark.sessionState.conf
    val limit = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    // an uncached parallelize-backed frame: Spark cannot size the RDD
    val edges = permutedChain(256, 7L)
    val rdd = sc.parallelize(edges, 4).toDF("a", "b")
    assert(rdd.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes) ==
      Seq(BigInt(conf.defaultSizeInBytes)))
    // a cached frame of random ids (incompressible) larger than the limit
    val rnd = new scala.util.Random(19)
    val big = Seq.fill(100000)((rnd.nextLong(), rnd.nextLong())).toDF("a", "b").persist()
    big.count()
    try {
      assert(big.queryExecution.optimizedPlan.stats.sizeInBytes > limit)
      for (in <- Seq(rdd, big)) {
        assert(!Partitions.fitOne(in))
        assert(!Partitions.fitOne(in.select(col("a").cast("long"), col("b").cast("long"))))
      }
      // so connected components takes the round loop on the unsized frame
      val (comps, descs) = jobsOf(Dedup.connectedComponentsStar(rdd, "a", "b"))
      assert(!descs.contains(onePartition) && roundsOf(descs) >= 1, descs)
      assert(comps.as[(Long, Long)].collect().toMap == UnionFind.labels(edges))
    } finally big.unpersist()
  }

  test("release() leaves no RDD of the call persisted; the caller's input stays") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val edges = permutedChain(512, 12L)
    val cached = edges.toDF("a", "b").persist(StorageLevel.MEMORY_ONLY)
    cached.count()
    val inputs = persisted
    for (conf <- Seq(Seq.empty, uncoalesced(16))) withConf(conf: _*) {
      val before = persisted
      val ((comps, release), descs) =
        jobsOf(Dedup.connectedComponentsStarWithRelease(cached, "a", "b"))
      if (conf.isEmpty) assert(descs == Seq(onePartition), descs)
      else assert(roundsOf(descs) > 1, descs)
      assert(comps.as[(Long, Long)].collect().toMap == UnionFind.labels(edges))
      // the loop's result projects its last checkpoint; the one-partition
      // result is a local relation and persists nothing
      if (conf.isEmpty) assert(persisted == before, "no checkpoint on the one-partition path")
      else assert((persisted -- before).nonEmpty, "the result's checkpoint")
      release()
      assert((persisted -- before).isEmpty, "every RDD the call persisted is released")
      assert(inputs.subsetOf(persisted), "the caller's input stays persisted")
    }
    assert(cached.storageLevel == StorageLevel.MEMORY_ONLY)
    cached.unpersist()
  }

  test("dedupNearClusters: the loop's survivors on one partition, after releasePairs()") {
    // near-copies (one token edited each) of 12 scattered 30-token bases
    val rnd = new scala.util.Random(17)
    val docs = (0 until 12).flatMap { c =>
      val base = Vector.fill(30)(s"w${rnd.nextInt(100000)}")
      (0 to c % 4).map(j => base.updated(j * 7, s"edit$j").mkString(" "))
    }.zipWithIndex.map { case (text, i) => (3L * i + 1, text) }
    val corpus = rnd.shuffle(docs).toDF("doc_id", "text")
    val pairs = Dedup.minhashDupPairs(corpus, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val losers = UnionFind.labels(pairs).collect { case (id, root) if id != root => id }.toSet
    val want = docs.map(_._1).toSet -- losers
    assert(losers.nonEmpty)
    def survivors(conf: (String, String)*): (Set[Long], Seq[String]) = withConf(conf: _*) {
      jobsOf(Dedup.dedupNearClusters(corpus, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet)
    }
    // the refined pairs' plan joins the texts back in: its size estimate
    // is a product of its inputs', so only a large limit admits it
    val (one, oneJobs) = survivors(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1t")
    assert(oneJobs.contains(onePartition), oneJobs)
    val (loop, loopJobs) = survivors(uncoalesced(16): _*)
    assert(!loopJobs.contains(onePartition) && loopJobs.contains("connectedComponentsStar: round 1"),
      loopJobs)
    assert(one == want && loop == want)
  }
}
