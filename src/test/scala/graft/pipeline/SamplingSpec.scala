package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SamplingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  import spark.implicits._

  lazy val docs = (0L until 2000L).map(i => (i, s"g${i % 5}")).toDF("id", "grp")

  test("deterministicSample: stable under reruns and repartitioning, ~fraction") {
    val a = Sampling.deterministicSample(docs, col("id"), 0.3, "t1")
      .select("id").as[Long].collect().toSet
    val b = Sampling.deterministicSample(docs.repartition(13), col("id"), 0.3, "t1")
      .select("id").as[Long].collect().toSet
    assert(a == b)
    assert(math.abs(a.size / 2000.0 - 0.3) < 0.05)
    // different salt = a different (still deterministic) sample
    val c = Sampling.deterministicSample(docs, col("id"), 0.3, "t2")
      .select("id").as[Long].collect().toSet
    assert(c != a)
    // edge fractions
    assert(Sampling.deterministicSample(docs, col("id"), 0.0, "t1").count() == 0)
    assert(Sampling.deterministicSample(docs, col("id"), 1.0, "t1").count() == 2000)
  }

  test("hashNegatives: k per anchor, self-excluding, deterministic, spread out") {
    val anchors = docs.where(col("id") < 100)
    val out = Sampling.hashNegatives(anchors, "id", docs, "id",
      k = 3, numPartitions = 4, salt = "nt")
    val rows = out.as[(Long, Int, Long)].collect()
    // exactly k rows per anchor, j = 0..k-1
    assert(rows.length == 300)
    assert(rows.groupBy(_._1).forall { case (_, g) =>
      g.map(_._2).sorted.toSeq == Seq(0, 1, 2) })
    // never the anchor itself
    assert(rows.forall { case (a, _, n) => a != n })
    // deterministic under repartitioning
    val again = Sampling.hashNegatives(anchors.repartition(7), "id",
        docs.repartition(13), "id", k = 3, numPartitions = 4, salt = "nt")
      .as[(Long, Int, Long)].collect()
    assert(rows.toSet == again.toSet)
    // draws spread over the candidate space (not collapsed on few ranks)
    assert(rows.map(_._3).distinct.length > 200)
    // a replay of the rank-lookup definition for one anchor: negative j=0
    // of anchor 0 is the candidate at rank hex60(md5)/mod — cross-checked
    // via brute force below (rank order = (md5('ntc|id'), id))
    val ranked = docs.select(col("id")).as[Long].collect()
      .map(id => (org.apache.commons.codec.digest.DigestUtils.md5Hex(s"ntc|$id"), id))
      .sortBy(identity).map(_._2)
    val h = org.apache.commons.codec.digest.DigestUtils.md5Hex("ntp|0|0")
    val t = (java.lang.Long.parseLong(h.substring(0, 15), 16) % 2000L).toInt
    val expect = if (ranked(t) != 0L) ranked(t) else ranked((t + 1) % 2000)
    assert(rows.find(r => r._1 == 0L && r._2 == 0).get._3 == expect)
  }

  test("deterministicSampleByGroup applies per-group fractions") {
    val out = Sampling.deterministicSampleByGroup(docs, col("id"), col("grp"),
        Map("g0" -> 1.0, "g1" -> 0.5), default = 0.0, salt = "m")
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(out.getOrElse("g0", 0L) == 400L) // rate 1.0 keeps the group in FULL
    assert(out.getOrElse("g1", 0L) > 120L && out("g1") < 280L)
    assert(!out.contains("g2") && !out.contains("g3") && !out.contains("g4"))
  }

  test("stratifiedTopK: exactly k per stratum, deterministic, subset-consistent") {
    val got = Sampling.stratifiedTopK(docs, col("grp"), col("id"), 7, "s")
      .select("grp", "id").as[(String, Long)].collect()
    assert(got.groupBy(_._1).forall(_._2.length == 7))
    val again = Sampling.stratifiedTopK(docs.repartition(17), col("grp"), col("id"), 7, "s")
      .select("grp", "id").as[(String, Long)].collect()
    assert(got.toSet == again.toSet)
  }

  test("shuffleRank is a deterministic permutation of 1..n") {
    val r1 = Sampling.shuffleRank(docs.select("id"), col("id"), "pos", 5, "sh")
      .as[(Long, Long)].collect().toMap
    assert(r1.values.toSeq.sorted == (1L to 2000L))
    val r2 = Sampling.shuffleRank(docs.select("id").repartition(9), col("id"), "pos", 5, "sh")
      .as[(Long, Long)].collect().toMap
    assert(r1 == r2)
    // hash order, not id order
    assert((0L until 2000L).exists(i => r1(i) != i + 1))
  }

  test("weightedDeterministicSample: ∝-weight rates, expected size, stable") {
    // weights 1..4 by id band; heavy band must be kept at ~4x the rate
    val wdocs = (0L until 4000L).map(i => (i, 1L + i % 4)).toDF("id", "w")
    val kept = Sampling.weightedDeterministicSample(wdocs, col("id"), col("w"),
      expectedFraction = 0.2, salt = "w1")
    val keptIds = kept.select("id").as[Long].collect().toSet
    val again = Sampling.weightedDeterministicSample(wdocs.repartition(7),
      col("id"), col("w"), 0.2, "w1").select("id").as[Long].collect().toSet
    assert(keptIds == again)
    assert(math.abs(keptIds.size / 4000.0 - 0.2) < 0.04) // expected size
    val byW = keptIds.groupBy(i => 1L + i % 4).view.mapValues(_.size).toMap
    assert(byW(4L) > 2.5 * byW(1L),
      s"weight-4 band must be kept ~4x weight-1: $byW")
    // zero/negative weights dropped, never sampled
    val mixed = (0L until 100L).map(i => (i, if (i < 50) 0L else 2L)).toDF("id", "w")
    val ids = Sampling.weightedDeterministicSample(mixed, col("id"), col("w"),
      0.5, "w1").select("id").as[Long].collect()
    assert(ids.forall(_ >= 50))
  }

  test("splitByHash: banded labels, frozen under re-proportioning, null tail") {
    val df = (0L until 3000L).toDF("id")
    val s1 = Sampling.splitByHash(df, col("id"),
      Seq("train" -> 0.7, "val" -> 0.2, "test" -> 0.1), "sp")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1.values.forall(v => Set("train", "val", "test")(v))) // sums to 1 -> no nulls
    val n = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(n("train") / 3000.0 - 0.7) < 0.05)
    assert(math.abs(n("test") / 3000.0 - 0.1) < 0.03)
    // frozen-prefix property: changing LATER fractions never relabels
    // an earlier band (train keeps exactly the same members)
    val s2 = Sampling.splitByHash(df, col("id"),
      Seq("train" -> 0.7, "val" -> 0.05), "sp")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(s1.filter(_._2 == "train").keySet ==
      s2.filter(_._2.contains("train")).keySet)
    assert(s2.values.exists(_.isEmpty)) // sums to 0.75 -> tail unlabeled
  }

  test("decontaminate removes exactly the n-gram-overlapping docs") {
    val evalSet = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val train = Seq(
      // shares the 8-gram "beta gamma delta epsilon zeta eta theta iota"
      (1L, "prefix beta gamma delta epsilon zeta eta theta iota suffix words"),
      // shares no 8-gram (7-token overlap only)
      (2L, "gamma delta epsilon zeta eta theta iota DIFFERENT tail tokens"),
      (3L, "entirely unrelated text with enough tokens to form grams here"),
      (4L, "short doc") // < 8 tokens: no grams at all
    ).toDF("doc_id", "text")
    val survivors = Decontaminate
      .byNgramOverlap(train, evalSet, "doc_id", "text", 8)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(2L, 3L, 4L))
    // hashed-gram fast path == string-gram path
    val survivorsStr = Decontaminate
      .byNgramOverlap(train, evalSet, "doc_id", "text", 8, hashGrams = false)
      .select("doc_id").as[Long].collect().toSet
    assert(survivorsStr == survivors)
    // evidence counts: doc 1 matches exactly one 8-gram slot
    val ev = Decontaminate.contaminatedIds(train, evalSet, "doc_id", "text", 8)
      .as[(Long, Long)].collect().toMap
    assert(ev == Map(1L -> 1L))
  }

  test("packByTokenBudget: deterministic shards within budget") {
    val rnd = new scala.util.Random(23)
    val df = (0L until 800L).map(i => (i, 50 + rnd.nextInt(400))).toDF("id", "toks")
    val packed = Sampling.packByTokenBudget(df, col("id"), col("toks"),
        budget = 2048, outCol = "shard", numPartitions = 6, salt = "p")
      .select("id", "toks", "shard").as[(Long, Int, Long)].collect()
    // shards are 0..max contiguous; per-shard token sums fit the budget
    // (greedy-in-fixed-order: a shard may only exceed via its LAST doc
    // spilling — with all docs < budget, sums stay under budget + maxDoc)
    val byShard = packed.groupBy(_._3).view.mapValues(_.map(_._2.toLong).sum).toMap
    assert(byShard.keySet == (0L to byShard.keys.max).toSet)
    assert(byShard.forall { case (_, s) => s <= 2048 + 450 })
    assert(byShard.filterKeys(_ < byShard.keys.max).values.forall(_ > 1500),
      "non-final shards should be reasonably full")
    // deterministic under repartition
    val again = Sampling.packByTokenBudget(df.repartition(11), col("id"), col("toks"),
        2048, "shard", 6, "p")
      .select("id", "shard").as[(Long, Long)].collect().toMap
    assert(again == packed.map(p => p._1 -> p._3).toMap)
  }

  test("lengthBucketBatches: bounded batches of near-equal lengths, stable") {
    val rnd = new scala.util.Random(29)
    val df = (0L until 500L).map(i => (i, 10 + rnd.nextInt(300))).toDF("id", "ntok")
    val out = Sampling.lengthBucketBatches(df, "id", "ntok",
        bucketWidth = 32, batchSize = 8, shards = 4)
      .select("id", "ntok", "bucket", "shard", "batch_idx")
      .as[(Long, Int, Long, Long, Long)].collect()
    // bucket holds the length band; every batch has <= batchSize rows
    assert(out.forall { case (_, n, b, _, _) => n / 32 == b })
    val sizes = out.groupBy(r => (r._3, r._4, r._5)).map(_._2.length)
    assert(sizes.max <= 8 && sizes.min >= 1)
    // within a batch, token lengths differ by < bucketWidth
    out.groupBy(r => (r._3, r._4, r._5)).values.foreach { rows =>
      val ns = rows.map(_._2)
      assert(ns.max - ns.min < 32)
    }
    // deterministic under repartition
    val again = Sampling.lengthBucketBatches(df.repartition(7), "id", "ntok",
        32, 8, 4)
      .select("id", "batch_idx").as[(Long, Long)].collect().toMap
    assert(again == out.map(r => r._1 -> r._5).toMap)
  }

  test("empty inputs: sampling, components, and decontamination degrade cleanly") {
    val empty = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    assert(Sampling.deterministicSample(empty, col("doc_id"), 0.5, "s").count() == 0)
    assert(Sampling.stratifiedTopK(empty, col("text"), col("doc_id"), 3, "s").count() == 0)
    val emptyEdges = spark.emptyDataset[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponentsStar(emptyEdges, "a", "b").count() == 0)
    // empty eval set: nothing is contaminated, all train rows survive
    val train = Seq((1L, "some training document with enough tokens present here ok"))
      .toDF("doc_id", "text")
    assert(Decontaminate.byNgramOverlap(train, empty, "doc_id", "text", 8).count() == 1)
    // empty train against a real eval set
    assert(Decontaminate.byNgramOverlap(empty, train, "doc_id", "text", 8).count() == 0)
  }

  test("temperatureMixture: sqrt rates, full-keep cap, repartition-stable") {
    // groups of size 400 / 100 / 4: coeff 10 -> rates 0.5 / 1.0(cap) / 1.0
    val df = (0 until 400).map(i => (i.toLong, "big")) ++
      (400 until 500).map(i => (i.toLong, "mid")) ++
      (500 until 504).map(i => (i.toLong, "tiny"))
    val in = df.toDF("id", "grp")
    val kept = Sampling.temperatureMixture(in, col("grp"), col("id"), 10.0, "t1")
    val counts = kept.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts("mid") == 100L && counts("tiny") == 4L) // rate >= 1 keeps all
    assert(counts("big") > 150L && counts("big") < 250L)  // ~0.5 of 400
    // identical survivor set under a different physical layout
    val kept2 = Sampling.temperatureMixture(in.repartition(13), col("grp"), col("id"),
      10.0, "t1").select("id").as[Long].collect().toSet
    assert(kept2 == kept.select("id").as[Long].collect().toSet)
  }

  test("repetitionColumns on a hand-computed fixture") {
    val df = Seq((1L, "a b a b c"), (2L, "x x x x"), (3L, "solo")).toDF("id", "text")
    val cols = TextAnalysis.repetitionColumns(col("text"))
    val got = df.select(col("id") +: cols.map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Int, Int, Int, Int, Int)].collect()
      .map { case (id, a, b, c2, d, e) => id -> ((a, b, c2, d, e)) }.toMap
    // "a b a b c": 5 toks, 3 distinct, 2 dup; bigrams ab,ba,ab,bc -> 3 distinct; top=2
    assert(got(1L) == ((5, 3, 2, 3, 2)))
    // "x x x x": 4 toks, 1 distinct, 3 dup; bigrams xx*3 -> 1 distinct; top=4
    assert(got(2L) == ((4, 1, 3, 1, 4)))
    // "solo": 1 tok, 0 bigrams
    assert(got(3L) == ((1, 1, 0, 0, 1)))
  }

  test("topFractionByGroup keeps the per-group top fraction, deterministic cut") {
    // group a: 10 rows scored 10..1 -> frac 0.3 keeps scores 10,9,8;
    // group b: 1 row -> cume_dist = 1.0, kept only at frac = 1
    val df = ((1 to 10).map(i => ("a", i.toLong, (11 - i).toLong)) :+
      (("b", 99L, 5L))).toDF("g", "id", "score")
    val kept = Sampling.topFractionByGroup(df, col("g"), 0.3,
        Seq(col("score").desc, col("id")))
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), s"$kept")
    val all = Sampling.topFractionByGroup(df, col("g"), 1.0,
        Seq(col("score").desc, col("id")))
      .count()
    assert(all == 11)
  }

  test("exactKeepBest keeps the best row per key, not the first") {
    val df = Seq(
      (1L, "k1", 5L), (2L, "k1", 9L), (3L, "k1", 9L), // best = id 2 (tie -> lower id)
      (4L, "k2", 1L)
    ).toDF("id", "key", "q")
    val kept = graft.pipeline.Dedup.exactKeepBest(df, "key",
        Seq(col("q").desc, col("id")))
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
  }

  test("tfidf matches the hand-computed smooth-idf formula") {
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "c c c")).toDF("id", "text")
    val got = TextAnalysis.tfidf(docs, "id", "text")
      .as[(Long, String, Long, Long, Double)].collect()
      .map { case (id, term, tf, df2, s) => (id, term) -> ((tf, df2, s)) }.toMap
    def idf(df2: Long) = math.log(4.0 / (df2 + 1)) + 1 // N=3
    assert(got((1L, "a")) == ((2L, 2L, 2 * idf(2))))
    assert(got((1L, "b")) == ((1L, 1L, 1 * idf(1))))
    assert(got((2L, "a")) == ((1L, 2L, 1 * idf(2))))
    assert(got((2L, "c")) == ((1L, 2L, 1 * idf(2))))
    assert(got((3L, "c")) == ((3L, 2L, 3 * idf(2))))
    assert(got.size == 5)
  }

  test("tfidfTopTerms ranks by quantized score with term tie-break") {
    // doc 1: "b" is rarer (df=1) than "a" (df=3) -> b ranks first
    // despite equal tf; quantized score = tf * floor(1e6*N/df)
    val docs = Seq((1L, "a b"), (2L, "a"), (3L, "a")).toDF("id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, "id", "text", top = 1)
      .as[(Long, String, Long, Long, Long)].collect()
      .map { case (id, term, tf, df2, s) => id -> ((term, tf, df2, s)) }.toMap
    assert(got(1L) == (("b", 1L, 1L, 3000000L)))
    assert(got(2L) == (("a", 1L, 3L, 1000000L)))
  }
  test("quantileNormalizeByGroup: ceil(k*cume_dist) buckets, ties share") {
    // group a: scores 1..8 -> buckets 1,1,2,2,3,3,4,4 at k=4
    // group b: all-equal scores -> everyone is cume_dist 1 -> bucket 4
    val df = ((1 to 8).map(s => ("a", s.toLong)) ++
      (1 to 3).map(_ => ("b", 7L))).toDF("grp", "score")
    val out = Sampling.quantileNormalizeByGroup(df, col("grp"), col("score"), 4)
      .select("grp", "score", "bucket").as[(String, Long, Long)].collect()
    val a = out.filter(_._1 == "a").sortBy(_._2).map(_._3).toSeq
    assert(a == Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L))
    assert(out.filter(_._1 == "b").forall(_._3 == 4L))
  }

  test("epochMixture repeats rows per epoch count, drops non-positive") {
    val df = Seq((1L, 2), (2L, 1), (3L, 0), (4L, -1)).toDF("id", "k")
    val r = Sampling.epochMixture(df, col("k"))
      .select("id", "epoch").as[(Long, Int)].collect().sorted
    assert(r.toSeq == Seq((1L, 1), (1L, 2), (2L, 1)))
  }
}
