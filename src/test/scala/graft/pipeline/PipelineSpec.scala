package graft.pipeline

import graft.pipeline.Tx._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  import spark.implicits._

  val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different words about spark query engines and columnar formats"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today"),   // exact dup of 1
    (5L, "unrelated content mentioning hilbert curves rtrees and parquet files")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per text") {
    val out = Dedup.exact(corpus, "text", "doc_id").select("doc_id")
      .as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L, 5L))
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashDupPairs(corpus, "doc_id", "text",
        shingle = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup always found
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near dup (1 token differs)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("jaccard prefix join finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.jaccardDupPairs(corpus, "doc_id", "text",
        shingle = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("jaccard prefix join is EXACT: matches brute force at several thresholds") {
    // random docs over a tiny vocabulary so near-dup pairs occur naturally
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docs = (0L until 40L).map { i =>
      val len = 3 + rnd.nextInt(8)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val a = df.select(col("doc_id").as("id_a"), col("text").as("ta"))
    val b = df.select(col("doc_id").as("id_b"), col("text").as("tb"))
    for (t <- Seq(0.3, 0.5, 0.8, 1.0); rare <- Seq(true, false)) {
      val brute = a.crossJoin(b).where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          ngram_jaccard(col("ta"), col("tb"), 3).as("j"))
        .where(col("j") >= t)
        .as[(Long, Long, Double)].collect().toSet
      val fast = Dedup.jaccardDupPairs(df, "doc_id", "text",
          shingle = 3, threshold = t, rareFirst = rare)
        .as[(Long, Long, Double)].collect().toSet
      assert(fast == brute,
        s"threshold $t rareFirst $rare: ${fast.size} vs brute ${brute.size}")
    }
  }

  test("containment join finds the planted excerpt that jaccard misses") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today ok"),
      (2L, "the quick brown fox jumps"), // strict excerpt of 1 (5 tokens)
      (3L, "completely different words about spark query engines and columnar formats")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentDupPairs(docs, "doc_id", "text",
        shingle = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    // every gram of doc 2 occurs in doc 1 → containment exactly 1.0,
    // only in the (2 → 1) direction
    assert(pairs == Set((2L, 1L, 1.0)))
    // symmetric jaccard at the same threshold sees nothing
    assert(Dedup.jaccardDupPairs(docs, "doc_id", "text",
      shingle = 3, threshold = 0.9).count() == 0L)
  }

  test("containment join is EXACT: matches brute force at several thresholds") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docs = (0L until 40L).map { i =>
      val len = 3 + rnd.nextInt(10)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val a = df.select(col("doc_id").as("id_a"), col("text").as("ta"))
    val b = df.select(col("doc_id").as("id_b"), col("text").as("tb"))
    val ga = array_distinct(token_ngram_hashes(col("ta"), 3))
    val gb = array_distinct(token_ngram_hashes(col("tb"), 3))
    for (t <- Seq(0.3, 0.6, 0.8, 1.0)) {
      val brute = a.crossJoin(b)
        .where(col("id_a") =!= col("id_b") && size(ga) >= 1)
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(ga, gb)).cast("double") / size(ga)).as("c"))
        .where(col("c") >= t)
        .as[(Long, Long, Double)].collect().toSet
      val fast = Dedup.containmentDupPairs(df, "doc_id", "text",
          shingle = 3, threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(fast == brute, s"threshold $t: ${fast.size} vs brute ${brute.size}")
    }
  }

  test("cosine prefix join finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.cosineDupPairs(corpus, "doc_id", "text",
        shingle = 3, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    // exact dup: overlap = n_a = n_b
    val row = Dedup.cosineDupPairs(corpus, "doc_id", "text", 3, 0.6)
      .where(col("id_a") === 1L && col("id_b") === 4L)
      .select("overlap", "n_a", "n_b").as[(Long, Long, Long)].head()
    assert(row._1 == row._2 && row._2 == row._3)
  }

  test("cosine prefix join is EXACT: matches integer brute force at several thresholds") {
    val rnd = new scala.util.Random(31)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docs = (0L until 40L).map { i =>
      val len = 3 + rnd.nextInt(8)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val ga = array_distinct(token_ngram_hashes(col("ta"), 3))
    val gb = array_distinct(token_ngram_hashes(col("tb"), 3))
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val m2 = { val m = math.round(t * 1000); m * m }
      val brute = df.select(col("doc_id").as("id_a"), col("text").as("ta"))
        .crossJoin(df.select(col("doc_id").as("id_b"), col("text").as("tb")))
        .where(col("id_a") < col("id_b") && size(ga) >= 1 && size(gb) >= 1)
        .select(col("id_a"), col("id_b"),
          size(array_intersect(ga, gb)).cast("long").as("overlap"),
          size(ga).cast("long").as("n_a"), size(gb).cast("long").as("n_b"))
        .where(col("overlap") * col("overlap") * 1000000L >=
          col("n_a") * col("n_b") * m2)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val fast = Dedup.cosineDupPairs(df, "doc_id", "text",
          shingle = 3, threshold = t)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(fast == brute, s"threshold $t: ${fast.size} vs brute ${brute.size}")
      // cosine >= jaccard at equal threshold: the cosine net is a superset
      val jac = Dedup.jaccardDupPairs(df, "doc_id", "text", 3, t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(jac.subsetOf(fast.map(p => (p._1, p._2))))
    }
  }

  test("cross-corpus jaccard pairs and near-incremental dedup") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different words about spark query engines and columnar formats")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // exact copy
      (11L, "the quick brown fox jumps over the lazy dog again and again today extra"), // near copy
      (12L, "unrelated content mentioning hilbert curves rtrees and parquet files"),
      (13L, "short")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairsAgainst(batch, corpus, "doc_id", "text",
        shingle = 3, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((10L, 1L), (11L, 1L)))
    assert(pairs.find(_._1 == 10L).get._3 == 1.0)
    val kept = Dedup.dedupNearAgainstCorpus(batch, corpus, "doc_id", "text",
      shingle = 3, threshold = 0.8).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L, 13L))
    // differential vs brute force on random cross pairs
    val rnd = new scala.util.Random(19)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    def gen(n: Int, off: Long) = (0 until n).map { i =>
      (off + i, Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val a = gen(25, 0L).toDF("doc_id", "text")
    val b = gen(20, 1000L).toDF("doc_id", "text")
    val brute = a.select(col("doc_id").as("id_a"), col("text").as("ta"))
      .crossJoin(b.select(col("doc_id").as("id_b"), col("text").as("tb")))
      .select(col("id_a"), col("id_b"), ngram_jaccard(col("ta"), col("tb"), 3).as("j"))
      .where(col("j") >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val fast = Dedup.jaccardPairsAgainst(a, b, "doc_id", "text",
      shingle = 3, threshold = 0.5).as[(Long, Long, Double)].collect().toSet
    assert(fast == brute, s"${fast.size} vs brute ${brute.size}")
  }

  test("minhash jaccard of exact dup is 1.0 regardless of whitespace") {
    val df = Seq((1L, "a b c d e"), (2L, "a  b\tc \n d e")).toDF("doc_id", "text")
    val pairs = Dedup.minhashDupPairs(df, "doc_id", "text",
      shingle = 3, numHashes = 64, bands = 16, threshold = 0.9)
    val row = pairs.collect()
    assert(row.length == 1 && row(0).getDouble(2) == 1.0)
  }

  test("simhash: exact dup -> hamming 0; unrelated -> no pair at radius 3") {
    val pairs = Dedup.simhashDupPairs(corpus, "doc_id", "text", ngram = 3, maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.get((1L, 4L)).contains(0))
    assert(!m.contains((3L, 5L)))
  }

  test("sorted-neighborhood pairs: exact dup adjacent at hamming 0") {
    val pairs = Dedup.sortedNeighborPairs(corpus, "doc_id", "text",
        ngram = 3, windowSize = 2, maxHamming = 3, numPartitions = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    // identical fingerprints sort adjacently — the exact dup MUST pair
    assert(m.get((1L, 4L)).contains(0))
    assert(pairs.forall(_._3 <= 3))
  }

  test("sorted-neighborhood pairs == single-threaded model on random docs") {
    val rnd = new scala.util.Random(11)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (0L until 60L).map { i =>
      val base = Seq.fill(8)(words(rnd.nextInt(words.length))).mkString(" ")
      (i, base)
    }
    val df = docs.toDF("doc_id", "text").repartition(5)
    val w = 3
    val got = Dedup.sortedNeighborPairs(df, "doc_id", "text",
        ngram = 3, windowSize = w, maxHamming = 5, numPartitions = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    // model: fingerprint via the same expression, sort, windowed scan
    val fps = df.select(col("doc_id"), simhash64(col("text"), 3).as("f"))
      .as[(Long, Long)].collect().sortBy(p => (p._2, p._1))
    val want = (for {
      i <- fps.indices
      j <- (i + 1) to math.min(i + w, fps.length - 1)
      h = java.lang.Long.bitCount(fps(i)._2 ^ fps(j)._2)
      if h <= 5
    } yield (math.min(fps(i)._1, fps(j)._1),
             math.max(fps(i)._1, fps(j)._1), h)).toSet
    assert(got == want)
  }

  test("winnowing: shared run >= window+ngram-1 tokens shares a fingerprint") {
    val shared = "one two three four five six seven eight" // 8 tokens >= 4+4-1
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"epsilon zeta eta $shared theta"),
      (3L, "entirely different words with no common run at all here")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowingFingerprints(docs, "doc_id", "text",
        ngram = 4, window = 4)
      .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty, "guarantee violated")
    assert((fps(1L) intersect fps(3L)).isEmpty)
  }

  test("winnowing == single-threaded model incl. short docs") {
    val rnd = new scala.util.Random(13)
    val words = Seq("aa", "bb", "cc", "dd", "ee")
    val docs = (0L until 40L).map { i =>
      val len = rnd.nextInt(9) // 0..8 tokens: exercises empty/short/long
      (i, Seq.fill(len)(words(rnd.nextInt(words.length))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text").repartition(3)
    val got = Dedup.winnowingFingerprints(df, "doc_id", "text",
        ngram = 2, window = 3)
      .as[(Long, Long)].collect().toSet
    val ghs = df.select(col("doc_id"),
        token_ngram_hashes(col("text"), 2, 42L).as("g"))
      .as[(Long, Seq[Long])].collect()
    val want = ghs.flatMap { case (id, g) =>
      val sel =
        if (g.isEmpty) Seq.empty
        else if (g.length < 3) Seq(g.min)
        else g.sliding(3).map(_.min).toSeq
      sel.distinct.map(id -> _)
    }.toSet
    assert(got == want)
  }

  test("doc fingerprint is whitespace-invariant and text-sensitive") {
    val df = Seq(("a b c", 1), ("a  b\t c", 2), ("a b d", 3)).toDF("t", "i")
      .select(doc_fingerprint(col("t")).as("fp"), col("i"))
    val fps = df.as[(Long, Int)].collect().sortBy(_._2).map(_._1)
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("embedding dup pairs via SRP-LSH: planted dup found, others not") {
    val rnd = new scala.util.Random(3)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val base = (0L until 20L).map(i => (i, vec()))
    val planted = base.filter(_._1 % 10 == 0).map { case (i, v) => (i + 100, v) }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairs(df, "vec_id", "embedding", threshold = 0.999999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 100L), (10L, 110L)))
  }

  test("brute-force top-k: self is rank 1 with cosine ~1") {
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
      df.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
      df.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      "c_id", "c_vec", "q_id", "q_vec", k = 3)
    val rank1 = out.where(col("rank") === 1)
      .select("q_id", "c_id").as[(Long, Long)].collect().toMap
    assert(rank1 == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("projectVectors == naive matmul; JL projection preserves neighbors") {
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 30L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val m = Similarity.lcgMatrix(16, 4)
    val got = Similarity.projectVectors(df, "vec_id", "embedding", m)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    vecs.foreach { case (id, v) =>
      val q = v.map(x => math.round(x * 1000.0))
      for (j <- 0 until 4) {
        val want = (0 until 16).map(i => q(i) * m(i)(j)).sum
        assert(got((id, j.toLong)) == want, s"($id, $j)")
      }
    }
    assert(got.size == 30 * 4)
  }

  test("srp ANN recall vs brute force on clustered vectors") {
    val rnd = new scala.util.Random(7)
    // clusters: 5 centers, 20 members each with small jitter
    val centers = Array.fill(5)(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val vecs = for (c <- 0 until 5; m <- 0 until 20) yield {
      val v = centers(c).map(x => x + rnd.nextFloat() * 0.05f)
      (c * 100L + m, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val corpus = df.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = df.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val exact = Similarity.bruteForceTopK(corpus, queries, "c_id", "c_vec", "q_id", "q_vec", 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.srpTopK(corpus, queries, "c_id", "c_vec", "q_id", "q_vec", 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low")
  }

  test("IVF ANN recall vs brute force on clustered vectors") {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(5)(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val vecs = for (c <- 0 until 5; m <- 0 until 20) yield {
      val v = centers(c).map(x => x + rnd.nextFloat() * 0.05f)
      (c * 100L + m, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val corpus = df.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = df.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val exact = Similarity.bruteForceTopK(corpus, queries, "c_id", "c_vec", "q_id", "q_vec", 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(corpus, queries, "c_id", "c_vec", "q_id", "q_vec", 5,
        nlist = 8, nprobe = 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low")
    // Lloyd-refined centroids must not lose recall (they converge toward
    // the true cluster centers on this clustered corpus)
    val refined = Similarity.ivfTopK(corpus, queries, "c_id", "c_vec", "q_id", "q_vec", 5,
        nlist = 8, nprobe = 3, refineIters = 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val refinedRecall = exact.count(refined.contains).toDouble / exact.size
    assert(refinedRecall >= recall, s"refined $refinedRecall < sampled $recall")
  }

  test("connectedComponents labels chains and cliques with the min id") {
    // components: {1,2,3,4} (chain), {10,11} (edge), {20} absent (no edges)
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("a", "b")
    val comps = Dedup.connectedComponentsStar(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dedupNearClusters keeps one representative per transitive cluster") {
    // 1~2~4 form one cluster via pairwise near-dups; 3 and 5 untouched
    val out = Dedup.dedupNearClusters(corpus, "doc_id", "text",
        threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L, 5L))
  }

  test("dedupNearClustersKeepBest keeps the longest cluster member, not the min id") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j k"), // near-dup of 1, LONGER -> survives
      (3L, "totally different content here entirely now")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupNearClustersKeepBest(docs, "doc_id", "text",
        TextAnalysis.tokenCount(col("text")).cast("long"), threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(2L, 3L))
    // equal scores tie-break to the min id (min-id variant semantics)
    val tie = Seq(
      (5L, "a b c d e f g h i j"),
      (6L, "a b c d e f g h i j"),
      (7L, "unrelated words only appearing here today")
    ).toDF("doc_id", "text")
    val out2 = Dedup.dedupNearClustersKeepBest(tie, "doc_id", "text",
        TextAnalysis.tokenCount(col("text")).cast("long"), threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(out2 == Set(5L, 7L))
  }

  test("PQ ANN recall vs brute force on clustered vectors") {
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(5)(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val vecs = for (c <- 0 until 5; m <- 0 until 20) yield {
      val v = centers(c).map(x => x + rnd.nextFloat() * 0.05f)
      (c * 100L + m, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val corpus = df.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = df.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val exact = Similarity.bruteForceTopK(corpus, queries, "c_id", "c_vec", "q_id", "q_vec", 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.pqTopK(corpus, queries, "c_id", "c_vec", "q_id", "q_vec", 5,
        m = 4, ksub = 8, trainIters = 2)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low")
    // the returned cosine is the EXACT refined score, so rank-1 per query
    // is that query's own cluster center member (itself)
    val rank1 = Similarity.pqTopK(corpus, queries, "c_id", "c_vec", "q_id", "q_vec", 5,
        m = 4, ksub = 8, trainIters = 2)
      .where(col("rank") === 1)
      .select("q_id", "c_id").as[(Long, Long)].collect().toMap
    assert(rank1.forall { case (q, c) => q == c })
  }

  test("vector_sum aggregates element-wise (floats accumulate in double, nulls skipped)") {
    val df = Seq(
      (0, Some(Array(1.0f, 2.0f))),
      (0, Some(Array(3.0f, 4.5f))),
      (0, None),
      (1, Some(Array(10.0f, 20.0f)))
    ).toDF("k", "v")
    val got = df.groupBy(col("k")).agg(Tx.vector_sum(col("v")).as("s"))
      .select("k", "s").as[(Int, Seq[Double])].collect().toMap
    assert(got == Map(0 -> Seq(4.0, 6.5), 1 -> Seq(10.0, 20.0)))
    // all-null group evaluates to null
    val allNull = Seq((0, Option.empty[Array[Float]])).toDF("k", "v")
      .groupBy(col("k")).agg(Tx.vector_sum(col("v")).as("s"))
      .select("s").collect().head
    assert(allNull.isNullAt(0))
    // a null ELEMENT inside a vector is rejected, not summed as 0
    val holed = Seq((0, Seq(Some(1.0), None))).toDF("k", "v")
      .groupBy(col("k")).agg(Tx.vector_sum(col("v")).as("s"))
    val err = intercept[org.apache.spark.SparkException] { holed.collect() }
    assert(err.getMessage.contains("null element") ||
      Option(err.getCause).exists(_.getMessage.contains("null element")))
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      "the cat and the dog is here of course",
      "der hund und die katze ist hier",
      "le chat et la maison est ici",
      "el gato y los perros que es").toDF("text")
      .select(TextAnalysis.langId(col("text")).as("lang"))
    assert(df.as[String].collect().toSeq == Seq("en", "de", "fr", "es"))
  }

  test("multimodal frameSampleStub: deterministic every-Nth sampling") {
    val df = Seq((1L, "payload-a"), (2L, "payload-b"))
      .toDF("id", "s").withColumn("content", col("s").cast("binary"))
    val frames = df.select(col("id"),
        explode(Multimodal.frameSampleStub(col("content"), everyN = 4)).as("f"))
      .select(col("id"), col("f.frame_idx"), col("f.frame_hash"))
    val rows = frames.collect()
    assert(rows.nonEmpty)
    // sampled indices step by 4, hashes deterministic per (payload, idx)
    assert(rows.forall(_.getInt(1) % 4 == 0))
    val again = frames.collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("pipeline functions callable from spark.sql") {
    Tx.registerAll(spark)
    Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text").createOrReplaceTempView("docs_sql")
    val r = spark.sql(
      """SELECT simhash64(text) sh, doc_fingerprint(text) fp,
                ngram_jaccard(text, text) j, lang_id(text) lang,
                size(minhash_signature(text)) nsig
         FROM docs_sql""").head()
    assert(r.getDouble(2) == 1.0)
    assert(r.getString(3) == "en")
    assert(r.getInt(4) == 64)
  }

  test("dedupParagraphs: cross-doc and within-doc first-occurrence wins") {
    val docs = Seq(
      (1L, "alpha one\nshared para\nalpha two"),
      (2L, "shared para\nbeta one"),               // cross-doc dup of doc 1's para
      (3L, "gamma\ngamma\ngamma two"),             // within-doc dup
      (4L, "shared para")                          // every para already seen -> vanishes
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "alpha one\nshared para\nalpha two") // first holder keeps order
    assert(out(2L) == "beta one")
    assert(out(3L) == "gamma\ngamma two")
    assert(!out.contains(4L)) // all paragraphs seen earlier
  }

  test("dedupParagraphs: byHash path matches the string-keyed path") {
    val docs = corpus.withColumn("text",
      concat(col("text"), lit("\n"), lit("common tail paragraph")))
    val a = Dedup.dedupParagraphs(docs, "doc_id", "text", byHash = false)
      .as[(Long, String)].collect().toSet
    val b = Dedup.dedupParagraphs(docs, "doc_id", "text", byHash = true)
      .as[(Long, String)].collect().toSet
    assert(a == b)
    // only the lowest-id doc keeps the planted common tail
    val withTail = a.filter(_._2.contains("common tail paragraph")).map(_._1)
    assert(withTail == Set(1L))
  }

  test("bloom filter: no false negatives, sane fp rate, codegen == interpreted") {
    val values = Array.tabulate(2000)(i => i * 2654435761L + 17)
    val (bits, k) = graft.functions.LongBloom.build(values, bitsPerItem = 16)
    values.foreach(v =>
      assert(graft.functions.TextEval.bloomContains(v, bits, k), s"false negative for $v"))
    val probes = Array.tabulate(20000)(i => -(i * 40503L + 3))
    val fp = probes.count(graft.functions.TextEval.bloomContains(_, bits, k))
    assert(fp < 200, s"fp rate ${fp / 20000.0} far above the 16-bit design point")
    // expression path (wholestage codegen on) agrees with the kernel
    val df = probes.toSeq.toDF("x").withColumn("hit",
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.BloomMightContain(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("x")),
          new graft.functions.BloomBitsRef(bits), k)))
    val exprHits = df.where(col("hit")).count()
    assert(exprHits == fp.toLong)
  }

  test("bloom decontamination path equals the exact path") {
    val train = corpus
    val eval = Seq((100L, "fox jumps over the lazy dog again and again")).toDF("doc_id", "text")
    val exact = Decontaminate.byNgramOverlap(train, eval, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Decontaminate.byNgramOverlapBloom(train, eval, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(bloom == exact)
    val exactIds = Decontaminate.contaminatedIds(train, eval, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toSet
    val bloomIds = Decontaminate.contaminatedIdsBloom(train, eval, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toSet
    assert(bloomIds == exactIds) // same overlap evidence, gram for gram
  }

  test("multimodal mapDecodePartitions: schema + deterministic stub") {
    val df = corpus.select(col("doc_id"), col("text").cast("binary").as("content"))
    val out = Multimodal.mapDecodePartitions(df, "content")
    assert(out.schema.fieldNames.toSeq == Seq("doc_id", "content", "meta"))
    val metas = out.select("doc_id", "meta.width", "meta.height", "meta.format")
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(metas(1L) == metas(4L)) // same bytes -> same fake decode
    assert(metas.values.forall { case (w, h, f) =>
      w >= 32 && h >= 32 && Set("jpeg", "png", "webp")(f) })
  }

  test("chunkByTokens: coverage, overlap, short-doc and empty-doc semantics") {
    val docs = Seq(
      (1L, (1 to 50).map(i => s"t$i").mkString(" ")), // 50 toks -> multi-chunk
      (2L, "a b c"),                                  // short -> single chunk
      (3L, "   "),                                    // zero tokens -> dropped
      (4L, (1 to 24).map(i => s"u$i").mkString(" "))  // exactly one window
    ).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkByTokens(docs, "doc_id", "text",
        chunkTokens = 24, overlap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(!chunks.exists(_._1 == 3L))
    assert(chunks.count(_._1 == 2L) == 1 && chunks.find(_._1 == 2L).get._3 == "a b c")
    assert(chunks.count(_._1 == 4L) == 1)
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3.split(" ").toSeq)
    // stride 16: chunks start at tokens 1, 17, 33 -> 3 chunks; every
    // token covered; consecutive chunks share exactly `overlap` tokens
    assert(d1.length == 3)
    assert(d1.flatten.distinct.length == 50)
    assert(d1.sliding(2).forall {
      case Array(a, b) => a.takeRight(8) == b.take(8)
      case _ => true
    })
    assert(d1.head.length == 24 && d1(1).length == 24 && d1(2).length == 18)
  }

  test("semanticDedup: planted copies pruned, distinct corpus untouched") {
    // 40 orthogonal base vectors (one-hot in 40 dims, pairwise cosine 0)
    // plus exact copies of every 4th and a near-copy (cosine ~1-1e-8)
    // of id 1 — copies and the near-copy must vanish at 0.99, nothing
    // else; a tighter-than-its-cosine threshold must keep the near-copy.
    val base = (0 until 40).map { i =>
      val v = Array.fill(40)(0f)
      v(i) = 1f
      (i.toLong, v.toSeq)
    }
    val copies = base.collect { case (i, v) if i % 4 == 0 => (i + 1000, v) }
    val near = {
      val v = base(1)._2.toArray
      v(0) += 1e-4f
      Seq((2000L, v.toSeq))
    }
    val df = (base ++ copies ++ near).toDF("vec_id", "embedding")
    // refineIters > 0: the Lloyd refinement gives the near-copy's
    // cluster mean a dim-1 component, so the near-copy provably lands
    // in its original's cell REGARDLESS of which vectors the hash-
    // ordered sample picks as initial centroids (with refineIters = 0
    // an all-zero score profile tie-breaks by cell index, and a
    // 1e-4 perturbation can split the pair across cells — cell
    // assignment of sub-threshold-similar vectors is implementation-
    // defined; only EXACT copies co-locate by construction)
    val kept = Dedup.semanticDedup(df, "vec_id", "embedding",
        nlist = 4, threshold = 0.99, refineIters = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == (0 until 40).map(_.toLong).toSet)
    // a threshold above the near-copy's cosine keeps it as distinct
    val keptTight = Dedup.semanticDedup(df, "vec_id", "embedding",
        nlist = 4, threshold = 0.9999999999)
      .select("vec_id").as[Long].collect().toSet
    assert(keptTight.contains(2000L))
    assert(!keptTight.exists(id => id >= 1000 && id < 2000)) // exact copies still die
    // nlist = 0 AUTO: 51 vectors / targetCellSize 16 -> 4 cells; exact
    // copies still collapse (same cell by construction at ANY nlist)
    val keptAuto = Dedup.semanticDedup(df, "vec_id", "embedding",
        nlist = 0, threshold = 0.9999999999, targetCellSize = 16)
      .select("vec_id").as[Long].collect().toSet
    assert(!keptAuto.exists(id => id >= 1000 && id < 2000))
    assert((0 until 40).forall(i => keptAuto.contains(i.toLong)))
  }

  test("cellArgmaxFold == unrolled greatest argmax (ties, negatives, many cells)") {
    // the array-fold path (used past ArgmaxUnrollLimit centroids) must
    // assign the IDENTICAL cell as the struct-greatest unroll — incl.
    // exact score ties, which both must break toward the larger cell id
    val rnd = new scala.util.Random(77)
    val dim = 8
    val cents: Array[Seq[Double]] =
      Array.tabulate(23)(i =>
        if (i == 7) Seq.tabulate(dim)(j => (j + 1).toDouble) // duplicate of 3
        else if (i == 3) Seq.tabulate(dim)(j => (j + 1).toDouble)
        else Seq.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 200).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian() * (if (i % 5 == 0) -1 else 1))))
    val df = vecs.toDF("id", "v")
    val both = df.select(col("id"),
        org.apache.spark.sql.functions.greatest(
          Similarity.cellScoreCols(cents, col("v")): _*).getField("cell").as("unrolled"),
        Similarity.cellArgmaxFold(cents, col("v")).as("folded"))
      .collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}"))
    // the duplicate-centroid exact tie must land on the LARGER cell (7)
    val tieVec = Seq((0L, Seq.tabulate(dim)(j => (j + 1).toDouble * 2))).toDF("id", "v")
    val tie = tieVec.select(Similarity.cellArgmaxFold(cents, col("v"))).head.getLong(0)
    assert(tie == 7L)
  }

  test("connectedComponentsStar: long chain + parity with a union-find oracle") {
    // path graph 0-1-…-300 (diameter 300): min-label propagation would
    // need 300 rounds; large/small-star converges in O(log n) rounds
    val chain = (0 until 300).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val comps = Dedup.connectedComponentsStar(chain, "a", "b")
    assert(comps.count() == 301)
    assert(comps.select("component").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
    // random multi-component graphs over several densities/seeds
    for ((seed, nEdges, nNodes) <- Seq((7, 200, 80), (13, 40, 100), (29, 400, 60))) {
      val rnd = new scala.util.Random(seed)
      val pairs = (0 until nEdges)
        .map(_ => (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter(e => e._1 != e._2)
      val star = Dedup.connectedComponentsStar(pairs.toDF("a", "b"), "a", "b")
      assert(star.as[(Long, Long)].collect().toMap == UnionFind.labels(pairs),
        s"star != union-find for seed=$seed")
    }
  }

  test("multimodal decodePixelStats: exact RGB sums through the codec") {
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    // known pixels: (r,g,b) = (x*10, y*20, 5)
    for (y <- 0 until 2; x <- 0 until 3)
      img.setRGB(x, y, (x * 10 << 16) | (y * 20 << 8) | 5)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val got = Multimodal.decodePixelStats(bos.toByteArray)
    // sum_r = 2*(0+10+20), sum_g = 3*(0+20), sum_b = 6*5
    assert(got == Some((3, 2, 60L, 60L, 30L)))
    assert(Multimodal.decodePixelStats("garbage".getBytes).isEmpty)
    assert(Multimodal.decodePixelStats(null).isEmpty)
  }

  test("imageColorHistogram: known-color goldens, totals = pixel count") {
    def png(rgb: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // pure red 255,0,0 -> bin (3,0,0) = dim 48 at bins=4
    val red = Multimodal.imageColorHistogram(png(0xff0000, 5, 3), bins = 4).get
    assert(red(48) == 15L && red.sum == 15L && red.length == 64)
    // mid gray 128,128,128 -> bin (2,2,2) = dim 42
    val gray = Multimodal.imageColorHistogram(png(0x808080, 2, 2), bins = 4).get
    assert(gray(42) == 4L && gray.sum == 4L)
    assert(Multimodal.imageColorHistogram("junk".getBytes).isEmpty)
  }

  test("imageDHash: gradient golden, copy-invariance, distinct structures differ") {
    def png(f: (Int, Int) => Int, w: Int = 12, h: Int = 10): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // left-to-right brightening gradient: every adjacent pair ascends
    val asc = Multimodal.imageDHash(png((x, _) => x * 20 * 0x010101))
    assert(asc == Some(-1L)) // all 64 bits set
    // constant image: no pair ascends
    assert(Multimodal.imageDHash(png((_, _) => 0x808080)) == Some(0L))
    // byte-identical copies hash identically; mirrored gradient differs
    val a = png((x, y) => (x * 37 + y * 11) % 0x1000000)
    assert(Multimodal.imageDHash(a) == Multimodal.imageDHash(a.clone()))
    // descending gradient: no pair ascends — 0, same class as constant
    assert(Multimodal.imageDHash(
      png((x, _) => (11 - x) * 20 * 0x010101)) == Some(0L))
    // alternating stripes: a mixed bit pattern distinct from both poles
    val stripes = Multimodal.imageDHash(
      png((x, _) => if (x % 2 == 0) 0 else 0xffffff))
    assert(stripes.exists(v => v != -1L && v != 0L) && stripes != asc)
    assert(Multimodal.imageDHash("junk".getBytes).isEmpty)
  }

  test("fingerprintDupPairs finds all pairs within the hamming radius") {
    val rnd = new scala.util.Random(23)
    val fps = (0L until 80L).map { i =>
      val base = rnd.nextLong()
      // flip 0..4 random bits off a shared base for some ids
      if (i % 4 == 0) (i, 0x0123456789abcdefL ^
        (0 until rnd.nextInt(4)).map(_ => 1L << rnd.nextInt(64))
          .foldLeft(0L)(_ | _))
      else (i, base)
    }
    val df = fps.toDF("id", "fp")
    val got = Dedup.fingerprintDupPairs(df, "id", "fp", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val want = (for {
      i <- fps.indices; j <- (i + 1) until fps.length
      h = java.lang.Long.bitCount(fps(i)._2 ^ fps(j)._2)
      if h <= 3
    } yield (math.min(fps(i)._1, fps(j)._1),
             math.max(fps(i)._1, fps(j)._1), h)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("multimodal resizePixelStats: nearest-neighbor floor mapping golden") {
    // 4x2 image, maxSide 2 -> 2x1; sampled sources: (0,0) and (2,0)
    val img = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, (x << 16) | (y << 8) | (x + y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val got = Multimodal.resizePixelStats(bos.toByteArray, maxSide = 2)
    // pixels kept: (0,0) r=0 g=0 b=0 and (2,0) r=2 g=0 b=2
    assert(got == Some((4, 2, 2, 1, 2L, 0L, 2L)))
    // small image passes through untouched
    val small = Multimodal.resizePixelStats(bos.toByteArray, maxSide = 10)
    assert(small.map(t => (t._3, t._4)) == Some((4, 2)))
    assert(Multimodal.resizePixelStats("junk".getBytes, 4).isEmpty)
  }

  test("multimodal decodeWavSamples: exact PCM sums, non-16-bit rejected") {
    // hand-build a 16-bit mono WAV with known samples via javax.sound
    val samples = Array[Short](100, -200, 300, -32768)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val got = Multimodal.decodeWavSamples(bos.toByteArray)
    assert(got == Some((8000, 1, 4L, (100 - 200 + 300 - 32768).toLong,
      (100 + 200 + 300 + 32768).toLong)))
    assert(Multimodal.decodeWavSamples("RIFFjunk".getBytes).isEmpty)
    assert(Multimodal.decodeWavSamples(null).isEmpty)
  }

  test("multimodal decodeWavWht: hand-computed Walsh-Hadamard coefficients") {
    val samples = Array[Short](10, -20, 30, 40)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val got = Multimodal.decodeWavWht(bos.toByteArray, win = 32, order = 4).get
    // σ(n,k) = ±1 by parity of popcount(n & k), n = 0..3:
    // k=0: 10-20+30+40 = 60;   k=1 (− at n=1,3): 10+20+30-40 = 20
    // k=2 (− at n=2,3): 10-20-30-40 = -80
    // k=3 (− at n=1,2): 10+20-30+40 = 40
    assert(got.toSeq == Seq(60L, 20L, -80L, 40L))
    // zero-padding: win beyond data adds nothing
    assert(Multimodal.decodeWavWht(bos.toByteArray, win = 4, order = 4).get
      .toSeq == got.toSeq)
    assert(Multimodal.decodeWavWht("RIFFjunk".getBytes).isEmpty)
  }

  test("decodeWavWht transform identities: constant and impulse signals") {
    def wav(samples: Array[Short]): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // constant signal over a full 32-sample window: every nonzero
    // sequency is balanced ±1 → only c_0 survives, = 32·s
    val const = Multimodal.decodeWavWht(wav(Array.fill[Short](32)(7))).get
    assert(const(0) == 32L * 7 && const.drop(1).forall(_ == 0L))
    // impulse at n=0: σ(0,k) = +1 for every k → all coefficients = s
    val imp = Multimodal.decodeWavWht(
      wav((Array[Short](123) ++ Array.fill[Short](31)(0)))).get
    assert(imp.forall(_ == 123L))
    // linearity: WHT(a) + WHT(b) == WHT(a+b) sample-wise
    val a = Array.tabulate[Short](32)(i => (i * 3 - 40).toShort)
    val b = Array.tabulate[Short](32)(i => (100 - i * 7).toShort)
    val ab = a.zip(b).map { case (x, y) => (x + y).toShort }
    val wa = Multimodal.decodeWavWht(wav(a)).get
    val wb = Multimodal.decodeWavWht(wav(b)).get
    val wab = Multimodal.decodeWavWht(wav(ab)).get
    assert(wa.zip(wb).map { case (x, y) => x + y }.toSeq == wab.toSeq)
  }

  test("imageWht: constant image concentrates all mass in c_(0,0)") {
    val img = new java.awt.image.BufferedImage(10, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 10) img.setRGB(x, y, 0x405060)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val w = Multimodal.imageWht(bos.toByteArray).get
    val lum = 299L * 0x40 + 587L * 0x50 + 114L * 0x60
    assert(w(0) == 64L * lum, s"c00 ${w(0)} != ${64L * lum}")
    assert(w.drop(1).forall(_ == 0L))
  }

  test("multimodal decodeImage: real codec on PNG/GIF bytes, None otherwise") {
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    assert(Multimodal.decodeImage(png(17, 9)) == Some((17, 9, "png")))
    val gifBos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(new java.awt.image.BufferedImage(5, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB), "gif", gifBos)
    assert(Multimodal.decodeImage(gifBos.toByteArray) == Some((5, 4, "gif")))
    assert(Multimodal.decodeImage(null).isEmpty)
    assert(Multimodal.decodeImage(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    // truncated header: bytes claim PNG but the stream dies — must be
    // a clean stub fallback (None), not an exception
    assert(Multimodal.decodeImage(png(17, 9).take(12)).isEmpty)
    // the decode path routes image payloads through the REAL decoder
    val withPng = Multimodal.syntheticPngs(
      corpus.select(col("doc_id")), "doc_id", "content")
    val decoded = Multimodal.mapDecodePartitions(withPng, "content")
      .select(col("doc_id"), col("meta.width"), col("meta.height"),
        col("meta.format"))
      .collect()
    assert(decoded.forall(r => r.getInt(1) == (r.getLong(0) % 7 + 3).toInt &&
      r.getInt(2) == (r.getLong(0) % 5 + 2).toInt && r.getString(3) == "png"))
  }

  test("multimodal decodeWav: hand-rolled RIFF parser vs the JDK writer; garbage rejected") {
    // stereo 16-bit 12 kHz, 25 frames, via javax.sound (independent writer)
    def wav(rate: Int, ch: Int, frames: Int): Array[Byte] = {
      val pcm = new Array[Byte](frames * 2 * ch)
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, ch, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    assert(Multimodal.decodeWav(wav(12000, 2, 25)) == Some((12000, 2, 16, 25L)))
    assert(Multimodal.decodeWav(wav(8000, 1, 10)) == Some((8000, 1, 16, 10L)))
    assert(Multimodal.decodeWav(null).isEmpty)
    assert(Multimodal.decodeWav("RIFFxxxxNOPE".getBytes).isEmpty)
    assert(Multimodal.decodeWav(wav(8000, 1, 10).take(30)).isEmpty) // truncated
    // data chunk longer than the payload claims: frames clamp to real bytes
    val clipped = wav(8000, 1, 10).dropRight(4)
    assert(Multimodal.decodeWav(clipped) == Some((8000, 1, 16, 8L)))
    // the batched decode path routes WAVs through the real parser
    val withWav = Multimodal.syntheticWavs(
      corpus.select(col("doc_id")), "doc_id", "content")
    val decoded = Multimodal.mapAudioDecodePartitions(withWav, "content")
      .select(col("doc_id"), col("audio_meta.sample_rate"),
        col("audio_meta.channels"), col("audio_meta.n_frames"),
        col("audio_meta.codec")).collect()
    assert(decoded.forall { r =>
      val id = r.getLong(0)
      r.getInt(1) == (8000 + (id % 4) * 4000).toInt &&
        r.getInt(2) == (id % 2 + 1).toInt &&
        r.getLong(3) == id % 50 + 10 && r.getString(4) == "pcm_wav"
    })
  }

  test("multimodal decodeGifFrames: real multi-frame walk; sampling; garbage rejected") {
    // a 3-frame 7x4 animation via ImageIO's sequence writer
    def gif(w: Int, h: Int, n: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until n).foreach { _ =>
        writer.writeToSequence(new javax.imageio.IIOImage(
          new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB), null, null), null)
      }
      writer.endWriteSequence(); writer.dispose(); ios.close()
      bos.toByteArray
    }
    assert(Multimodal.decodeGifFrames(gif(7, 4, 3)) ==
      Some(IndexedSeq((7, 4), (7, 4), (7, 4))))
    assert(Multimodal.decodeGifFrames(gif(3, 2, 1)) == Some(IndexedSeq((3, 2))))
    assert(Multimodal.decodeGifFrames(null).isEmpty)
    assert(Multimodal.decodeGifFrames("GIF89a but not really".getBytes).isEmpty)
    // a PNG is an image but NOT a gif — the frame walker must decline
    val png = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(new java.awt.image.BufferedImage(5, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB), "png", bos)
      bos.toByteArray
    }
    assert(Multimodal.decodeGifFrames(png).isEmpty)
    // the batched sampler routes GIFs through the real reader and takes
    // every 2nd frame of the id-derived fixture animation
    val withGif = Multimodal.syntheticGifs(
      corpus.select(col("doc_id")), "doc_id", "content")
    val sampled = Multimodal.mapFrameSamplePartitions(withGif, "content", everyN = 2)
      .select(col("doc_id"), col("frames")).collect()
    assert(sampled.forall { r =>
      val id = r.getLong(0)
      val frames = r.getSeq[org.apache.spark.sql.Row](1)
      val expectIdx = 0 until (id % 6 + 2).toInt by 2
      frames.map(_.getInt(0)) == expectIdx &&
        frames.forall(f => f.getInt(1) == (id % 7 + 3).toInt &&
          f.getInt(2) == (id % 5 + 2).toInt)
    })
  }
}
