package geobench

import graft.Geo.st_point
import graft.api.GeoFrame
import graft.geom.{HilbertCurve, Kernels}
import graft.io.GeoParquet
import graft.pipeline.Dedup
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Point-in-polygon joins of a cached, clustered point frame (a fifth of
  * the points in one 400 m hot square) against a cached layer of convex
  * polygons, one polygon group per op, then a count per polygon. Kind a
  * calls `GeoFrame.sjoin`; kind b is the SQL `JOIN ... ON
  * st_intersects_polygon` that `plans.SpatialJoinRewrite` plans. Each
  * group is joined by both kinds back to back, groups in turn. */
final class SjoinBatch(spark: SparkSession, seed: Long) extends Workload {
  private val NP = 100000
  private val Groups = 4
  private val PerGroup = 120
  private val HotSide = 400.0
  private val rnd = new Random(seed)
  private val (hx, hy) = (Gen.Extent * (0.2 + 0.6 * rnd.nextDouble()),
    Gen.Extent * (0.2 + 0.6 * rnd.nextDouble()))
  private val mix = Gen.mixture(rnd, 16)
  private val (xs, ys) = {
    val (cx, cy) = Gen.clustered(rnd, mix, NP - NP / 5)
    (cx ++ Array.fill(NP / 5)(hx + rnd.nextDouble() * HotSide),
      cy ++ Array.fill(NP / 5)(hy + rnd.nextDouble() * HotSide))
  }
  /** Closed rings with vertices on a circle at ascending angles, so each
    * polygon is convex and counter-clockwise. Every group has the same
    * make-up, so the work per op does not depend on the seed: polygon j
    * (j >= 2) has the j-th radius of a ladder from 300 m to 3 km and sits
    * half a spread away from the centre of the cluster whose spread has
    * rank j % 16; polygons 0 and 1 are regular, centred on the hot square
    * with radius 400 m, and cover all of it. */
  private val byRank = mix.sigma.indices.sortBy(mix.sigma(_))
  private val radii = Gen.ladder(300, 3000, PerGroup - 2)
  private val polys: Array[Array[Double]] = Array.tabulate(Groups * PerGroup) { k =>
    val j = k % PerGroup
    val n = 5 + k % 8
    val rot = rnd.nextDouble() * 2 * math.Pi
    val (cx, cy, r, angles) =
      if (j < 2) (hx + HotSide / 2, hy + HotSide / 2, HotSide,
        Array.tabulate(n)(i => rot + 2 * math.Pi * i / n))
      else {
        val c = byRank(j % byRank.size)
        (mix.cx(c) + 0.5 * mix.sigma(c) * math.cos(rot), mix.cy(c) + 0.5 * mix.sigma(c) * math.sin(rot),
          radii(j - 2), Array.fill(n)(rnd.nextDouble() * 2 * math.Pi).sorted)
      }
    val ring = angles.flatMap(a => Array(cx + r * math.cos(a), cy + r * math.sin(a)))
    ring ++ ring.take(2)
  }
  private def group(k: Int) = k / PerGroup
  private var pts: DataFrame = _
  private var polyDf: DataFrame = _

  def setup(rep: Int): Unit = {
    import spark.implicits._
    if (pts != null) { pts.unpersist(true); polyDf.unpersist(true) }
    pts = spark.sparkContext.parallelize(xs.indices.map(i => (i.toLong, xs(i), ys(i))), 8)
      .toDF("pid", "x", "y").select($"pid", st_point($"x", $"y").as("geometry")).persist()
    polyDf = spark.sparkContext
      .parallelize(polys.indices.map(k => (k.toLong, group(k), Seq(polys(k).toSeq))), 4)
      .toDF("gid", "grp", "poly").persist()
    pts.count(); polyDf.count()
    pts.createOrReplaceTempView("gb_pts")
    polyDf.createOrReplaceTempView("gb_polys")
  }

  /** Each group's query compiles code of its own, and an op is still
    * getting faster on its third run, so the warm-up runs every group
    * twice with each kind. */
  def warmupOps: Int = 2 * cycle

  def cycle: Int = 2 * Groups

  def op(i: Int): Op = {
    val g = (i / 2) % Groups
    val run: Tracer => Any =
      if (i % 2 == 0) { t =>
        val joined = t.span("GeoFrame.sjoin")(GeoFrame(pts, "geometry", "point")
          .sjoin(GeoFrame(polyDf.where(col("grp") === g), "poly", "polygon")))
        counts(t, joined.groupBy("gid").count())
      } else { t =>
        counts(t, spark.sql(
          s"""SELECT g.gid, count(*) AS n FROM gb_pts p JOIN gb_polys g
             |ON st_intersects_polygon(p.geometry, g.poly) WHERE g.grp = $g
             |GROUP BY g.gid""".stripMargin))
      }
    new Op(i % 2, NP + PerGroup, () => (), run, got => got == oracle(g))
  }

  private def counts(t: Tracer, df: DataFrame): Map[Long, Long] = {
    val m = t.span("count")(df.collect()).map(r => r.getLong(0) -> r.getLong(1)).toMap
    t.note("matches", m.values.sum.toDouble)
    m
  }

  // ---- driver-side oracle: closed-form convex containment -------------
  private val Cell = 1000.0
  private lazy val grid: Map[(Int, Int), Array[Int]] =
    xs.indices.groupBy(i => ((xs(i) / Cell).toInt, (ys(i) / Cell).toInt))
      .map { case (k, v) => k -> v.toArray }

  /** Indices of the points inside polygon k's bounding box. */
  private def candidates(k: Int): Iterator[Int] = {
    val ring = polys(k)
    val rx = ring.indices.filter(_ % 2 == 0).map(ring(_))
    val ry = ring.indices.filter(_ % 2 == 1).map(ring(_))
    val (x0, x1, y0, y1) = (rx.min, rx.max, ry.min, ry.max)
    for {
      cx <- ((x0 / Cell).floor.toInt to (x1 / Cell).floor.toInt).iterator
      cy <- ((y0 / Cell).floor.toInt to (y1 / Cell).floor.toInt).iterator
      i <- grid.getOrElse((cx, cy), Array.empty[Int]).iterator
      if xs(i) >= x0 && xs(i) <= x1 && ys(i) >= y0 && ys(i) <= y1
    } yield i
  }

  /** A point is inside a counter-clockwise convex ring when it is on the
    * left of (or on) every edge. */
  private def insideConvex(ring: Array[Double], px: Double, py: Double): Boolean = {
    var k = 0
    while (k + 3 < ring.length) {
      val (x0, y0, x1, y1) = (ring(k), ring(k + 1), ring(k + 2), ring(k + 3))
      if ((x1 - x0) * (py - y0) - (y1 - y0) * (px - x0) < 0) return false
      k += 2
    }
    true
  }

  private val answers = mutable.Map.empty[Int, Map[Long, Long]]
  private def oracle(g: Int): Map[Long, Long] = answers.getOrElseUpdate(g,
    (g * PerGroup until (g + 1) * PerGroup).flatMap { k =>
      val n = candidates(k).count(i => insideConvex(polys(k), xs(i), ys(i))).toLong
      if (n > 0) Some(k.toLong -> n) else None
    }.toMap)

  def layerMetrics(t: Tracer): Map[String, Double] = {
    val pairs = polys.indices.iterator.flatMap(k => candidates(k).map(i => (k, i))).take(2000000).toArray
    val offsets = polys.map(r => Array(0, r.length))
    val pipNs = Gen.nsPerCall(pairs.length.toLong) {
      var hits = 0L
      var j = 0
      while (j < pairs.length) {
        val (k, i) = pairs(j)
        if (Kernels.pointIntersectsPolygon(xs(i), ys(i), polys(k), offsets(k))) hits += 1
        j += 1
      }
      hits
    }
    Map(
      "geom.pip_ns" -> pipNs,
      "plans.join_matches" -> Main.mean(t.noted("matches")),
      "tools.sjoin_call_ms" -> t.spanMs("GeoFrame.sjoin"))
  }
}

/** One writer-reader on a growing lake: even ops append a small batch
  * with `GeoParquet.appendWithSidecar` (kind a), odd ops run the user's
  * bbox query (kind b): `GeoParquet.read` with bounds, `cx`, then count
  * plus sum. The base is a Hilbert-packed dataset of clustered points.
  * The lake is reset to its packed base every `Epoch` appends, untimed,
  * so the log length each op sees follows the same cycle however fast
  * the ops run; each epoch crosses one fold of the sidecar and
  * generation logs (every 16 deltas). The read after the k-th append of
  * an epoch uses box k: boxes are centred on data points, with
  * half-sides from a ladder of `Epoch` sizes, 25 m (street) to 8 km
  * (region), in seeded order. An epoch is the workload's round, so
  * every run reads the same boxes at the same log lengths. */
final class LakeAppend(spark: SparkSession, t: Tracer, seed: Long, work: File) extends Workload {
  import LakeAppend._
  private val Base = 40000
  private val BaseFiles = 8
  private val Batch = 1000
  private val Epoch = 20
  private val rnd = new Random(seed)
  private val mix = Gen.mixture(rnd, 12)
  private val (xs, ys) = {
    val parts = (0 to Epoch).map(k => Gen.clustered(rnd, mix, if (k == 0) Base else Batch))
    (parts.flatMap(_._1.toSeq).toArray, parts.flatMap(_._2.toSeq).toArray)
  }
  private val vs = Array.fill(xs.length)(rnd.nextInt(1000))
  private val readBoxes: Array[Gen.Box] = rnd.shuffle(Gen.ladder(25, 8000, Epoch))
    .map(h => Gen.boxAround(rnd, xs.take(Base), ys.take(Base), h)).toArray
  private val lake = new File(work, "lake").getAbsolutePath
  private var baseDir: String = _
  private val packS = ArrayBuffer.empty[Double]
  private lazy val batches: Array[DataFrame] = Array.tabulate(Epoch) { k =>
    val from = Base + k * Batch
    points(spark, from, xs.slice(from, from + Batch), ys.slice(from, from + Batch),
      vs.slice(from, from + Batch), 1)
  }

  def setup(rep: Int): Unit = {
    val dir = new File(work, s"lake-base-$rep").getAbsolutePath
    val t0 = System.nanoTime()
    GeoParquet.packPartitionsToParquet(GeoFrame(points(spark, 0L, xs.take(Base), ys.take(Base),
      vs.take(Base), 4), "geometry", "point"), dir, BaseFiles)
    packS += (System.nanoTime() - t0) / 1e9
    if (baseDir != null) FileUtils.deleteDirectory(new File(baseDir))
    baseDir = dir
  }

  private def reset(): Unit = {
    val dst = new File(lake)
    FileUtils.deleteDirectory(dst)
    val src = new File(baseDir).toPath
    Files.walk(src).forEach { p =>
      val q = dst.toPath.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def warmupOps: Int = Epoch

  def cycle: Int = 2 * Epoch

  def op(i: Int): Op = {
    val pos = (i / 2) % Epoch
    val rowsNow = Base + (pos + 1) * Batch
    if (i % 2 == 0)
      new Op(0, Batch, () => if (pos == 0) reset(),
        t => t.span("GeoParquet.appendWithSidecar")(
          GeoParquet.appendWithSidecar(batches(pos), lake, Seq("geometry"))),
        _ => GeoParquet.read(spark, lake, "geometry", "point").df.count() == rowsNow)
    else {
      val b = readBoxes(pos)
      new Op(1, rowsNow, () => (),
        t => boxQuery(spark, t, lake, b),
        got => {
          t.note("files_total", dataFiles(lake).length.toDouble)
          got == Gen.boxTotals(xs, ys, vs, rowsNow, b)
        })
    }
  }

  def layerMetrics(t: Tracer): Map[String, Double] = {
    def files(sub: String) = Option(new File(lake, sub).listFiles()).getOrElse(Array.empty[File])
      .count(f => f.isFile && !f.getName.endsWith(".crc"))
    val all = FileUtils.listFiles(new File(lake), null, true).toArray(Array.empty[File])
    val userBytes = dataFiles(lake).map(_.length).sum.toDouble
    val total = Main.mean(t.noted("files_total"))
    val scanned = Main.mean(t.opStats.filter(_.kind == 1).map(_.filesScanned.toDouble).toSeq)
    Map(
      "io.pack_s" -> Main.median(packS.toSeq),
      "io.read_plan_ms" -> t.spanMs("GeoParquet.read"),
      "io.fs_ops_per_append" -> Main.mean(t.opStats.filter(_.kind == 0).map(_.fsOps.toDouble).toSeq),
      "io.fs_ops_per_read" -> Main.mean(t.opStats.filter(_.kind == 1).map(_.fsOps.toDouble).toSeq),
      "io.log_files" -> (files("_sc") + files("_gen")).toDouble,
      "io.bytes_per_user_byte" -> all.map(_.length).sum / math.max(1.0, userBytes),
      "plans.files_total" -> total,
      "plans.files_scanned" -> scanned,
      "plans.prune_frac" -> (if (total > 0) 1.0 - scanned / total else 0.0),
      "geom.bounds_ns" -> boundsNs(xs, ys, readBoxes.take(8).toSeq),
      "geom.hilbert_ns" -> hilbertNs(xs, ys))
  }
}

object LakeAppend {
  /** Point frame (id, v, geometry) over driver arrays. */
  def points(spark: SparkSession, firstId: Long, xs: Array[Double], ys: Array[Double],
             vs: Array[Int], parts: Int): DataFrame = {
    import spark.implicits._
    val rows = xs.indices.map(i => (firstId + i, vs(i), xs(i), ys(i)))
    spark.sparkContext.parallelize(rows, parts).toDF("id", "v", "x", "y")
      .select($"id", $"v", st_point($"x", $"y").as("geometry"))
  }

  /** The user's bbox query: pruned read, `cx`, then count plus sum(v). */
  def boxQuery(spark: SparkSession, t: Tracer, path: String, b: Gen.Box): (Long, Long) = {
    val gf = t.span("GeoParquet.read")(
      GeoParquet.read(spark, path, "geometry", "point", Some(b)))
    val row = t.span("cx.count")(gf.cx(b._1, b._2, b._3, b._4).df
      .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).head())
    (row.getLong(0), row.getLong(1))
  }

  def dataFiles(dir: String): Array[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))

  /** Spark-free kernel loops over the workload's own points. */
  def boundsNs(xs: Array[Double], ys: Array[Double], boxes: Seq[Gen.Box]): Double =
    Gen.nsPerCall(xs.length.toLong * boxes.size) {
      var hits = 0L
      boxes.foreach { b =>
        var i = 0
        while (i < xs.length) {
          if (Kernels.pointIntersectsBounds(xs(i), ys(i), b._1, b._2, b._3, b._4)) hits += 1
          i += 1
        }
      }
      hits
    }

  def hilbertNs(xs: Array[Double], ys: Array[Double]): Double = {
    val side = 1L << 15
    Gen.nsPerCall(xs.length.toLong) {
      var s = 0L
      var i = 0
      while (i < xs.length) {
        s += HilbertCurve.distanceFromCoordinate(15,
          HilbertCurve.dataToCoord(xs(i), 0, Gen.Extent, side),
          HilbertCurve.dataToCoord(ys(i), 0, Gen.Extent, side))
        i += 1
      }
      s
    }
  }
}

/** Planted duplicate clusters, the inputs of `dedup_cluster` and
  * `cc_cluster`. A corpus holds `Docs` documents of 40 to 80 words from
  * a 4 000-word vocabulary, about half of them in clusters of one shape
  * (kind 0: near-cliques, kind 1: versioned chains), interleaved with
  * unique ones.
  *
  * Near-clique: a base document plus 1 to 7 copies, each with one word
  * replaced (pairwise word-3-gram Jaccard about 0.75 to 0.95); every
  * pair of the cluster is a planted edge. Versioned chain: each version
  * is the previous one with one word replaced; consecutive versions are
  * the planted edges. Cluster sizes are whole copies of a fixed list
  * (clique sizes 2..8, 34 times; chain lengths 2, 4, 8, .., 512 once),
  * so every seed has the same clusters. Ids are a seeded permutation of
  * the corpus, as a crawl meets the versions of a document in no
  * particular order. The oracle is union-find over the planted edges:
  * a cluster's label is its smallest id. */
object Planted {
  val Docs = 2400

  /** `ids(k)` and `texts(k)` are the id and text of the k-th doc made;
    * `edges` are the planted pairs, as ids; `label` maps every clustered
    * id to the smallest id of its cluster; `survivors` (sorted) are the
    * ids dedup keeps: every cluster's label plus every unique doc. */
  final case class Corpus(ids: Vector[Long], texts: Vector[String], edges: Vector[(Long, Long)],
                          label: Map[Long, Long], survivors: Array[Long])

  private final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = { var r = i; while (parent(r) != r) r = parent(r); parent(i) = r; r }
    def union(a: Int, b: Int): Unit = parent(find(a)) = find(b)
  }

  /** Corpus 0 (near-cliques) and corpus 1 (chains) of a seed. */
  def corpora(seed: Long): IndexedSeq[Corpus] = {
    val rnd = new Random(seed)
    val vocab = Array.fill(4000)(Array.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString)
    def randomDoc(): Array[String] = Array.fill(40 + rnd.nextInt(41))(vocab(rnd.nextInt(vocab.length)))
    def edit(d: Array[String]): Array[String] = {
      val e = d.clone()
      val p = rnd.nextInt(e.length)
      var w = e(p)
      while (w == e(p)) w = vocab(rnd.nextInt(vocab.length))
      e(p) = w
      e
    }
    (0 until 2).map { kind =>
      val list = if (kind == 0) (2 to 8).toVector else (1 to 9).map(1 << _).toVector
      // As many whole copies of the size list as fit in half the corpus;
      // unique docs fill the rest, interleaved in seeded order.
      val sizes = Vector.fill(Docs / 2 / list.sum)(list).flatten
      val units = rnd.shuffle(sizes.map(Option(_)) ++ Vector.fill(Docs - sizes.sum)(None))
      val docs = ArrayBuffer.empty[Array[String]]
      val edges = ArrayBuffer.empty[(Int, Int)]
      units.foreach {
        case None => docs += randomDoc()
        case Some(size) =>
          val start = docs.size
          if (kind == 0) {
            val base = randomDoc()
            docs += base
            (1 until size).foreach { _ => docs += edit(base) }
            for (a <- start until docs.size; b <- a + 1 until docs.size) edges += ((a, b))
          } else {
            docs += randomDoc()
            (1 until size).foreach { _ => docs += edit(docs.last) }
            (start + 1 until docs.size).foreach(v => edges += ((v - 1, v)))
          }
      }
      val n = docs.size
      val uf = new UnionFind(n)
      edges.foreach { case (a, b) => uf.union(a, b) }
      val id = rnd.shuffle((0 until n).toVector).map(_ + kind.toLong * Docs)
      val groups = (0 until n).groupBy(uf.find).values.map(_.map(id))
      Corpus(id, docs.map(_.mkString(" ")).toVector, edges.map { case (a, b) => (id(a), id(b)) }.toVector,
        groups.filter(_.size > 1).flatMap(g => g.map(_ -> g.min)).toMap,
        groups.map(_.min).toArray.sorted)
    }
  }
}

/** `Dedup.dedupNearClusters` with default arguments on the [[Planted]]
  * corpora (kind a: near-cliques, kind b: versioned chains), checked
  * against the planted survivors. Not in BENCHMARK.json: on the current
  * code it fails its check on some ops (README.md, "Known failures"). It
  * is kept so the defects can be reproduced and the workload listed once
  * they are fixed. */
final class DedupCluster(spark: SparkSession, seed: Long) extends Workload {
  private val corpora = Planted.corpora(seed)
  private var frames: IndexedSeq[DataFrame] = IndexedSeq.empty

  def setup(rep: Int): Unit = {
    import spark.implicits._
    frames.foreach(_.unpersist(true))
    frames = corpora.map(c => spark.sparkContext.parallelize(c.ids.zip(c.texts), 4).toDF("id", "text").persist())
    frames.foreach(_.count())
  }

  def warmupOps: Int = 3

  def cycle: Int = 2

  def op(i: Int): Op = {
    val c = i % 2
    new Op(c, Planted.Docs, () => (),
      t => t.span("Dedup.dedupNearClusters")(
        Dedup.dedupNearClusters(frames(c), "id", "text")
          .select("id").collect().map(_.getLong(0)).sorted),
      got => {
        val (g, want) = (got.asInstanceOf[Array[Long]], corpora(c).survivors)
        if (!g.sameElements(want)) System.err.println(s"[geobench] corpus $c: extra survivors " +
          g.diff(want).take(10).mkString(",") + "; missing survivors " + want.diff(g).take(10).mkString(","))
        g.sameElements(want)
      })
  }

  def layerMetrics(t: Tracer): Map[String, Double] = Map.empty
}

/** Connected components of the [[Planted]] duplicate graphs, the step of
  * `dedupNearClusters` that turns near-dup pairs into clusters:
  * `Dedup.connectedComponentsStar` over a cached frame of the planted
  * edges, then collect the (id, component) labels. Kind a is the
  * near-clique graph (238 clusters of 2 to 8 nodes, diameter 1), kind b
  * the versioned chains (lengths 2 to 512, diameters 1 to 511). Each op
  * runs large/small-star rounds until the edge set stops changing: a
  * dozen or more small jobs per op. No `io` or `geom`. The oracle is
  * union-find over the same edges. */
final class CcCluster(spark: SparkSession, seed: Long) extends Workload {
  private val corpora = Planted.corpora(seed)
  private var frames: IndexedSeq[DataFrame] = IndexedSeq.empty

  def setup(rep: Int): Unit = {
    import spark.implicits._
    frames.foreach(_.unpersist(true))
    frames = corpora.map(c => spark.sparkContext.parallelize(c.edges, 4).toDF("id_a", "id_b").persist())
    frames.foreach(_.count())
  }

  private def labels(c: Int): Map[Long, Long] = {
    val cc = Dedup.connectedComponentsStar(frames(c), "id_a", "id_b")
    val m = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc.unpersist(false)
    m
  }

  /** An op keeps getting faster for its first dozen or so runs (most of
    * it is planning on the driver, dozens of jobs each), further than a
    * run can afford to warm up; two ops of each kind take the steepest
    * part. */
  def warmupOps: Int = 4

  /** Two ops of each kind. A timed phase is never shorter than one
    * round, and one round of these ops takes about as long as
    * `--seconds`, so every run times the same four ops at the same point
    * of the warm-up curve. With one op of each kind per round, a slow
    * run fitted one round where a fast one fitted two, and its medians
    * came from the slower end of the curve. */
  def cycle: Int = 4

  def op(i: Int): Op = {
    val c = i % 2
    new Op(c, corpora(c).edges.size, () => (),
      t => t.span("Dedup.connectedComponentsStar")(labels(c)),
      got => {
        val (g, want) = (got.asInstanceOf[Map[Long, Long]], corpora(c).label)
        if (g != want) System.err.println(s"[geobench] graph $c: ${g.count { case (k, v) => !want.get(k).contains(v) }} " +
          s"wrong labels, ${want.keySet.diff(g.keySet).size} ids missing")
        g == want
      })
  }

  def layerMetrics(t: Tracer): Map[String, Double] = {
    val split = (0 until 2).map { c =>
      val ((_, ms), jobs) = t.jobsDuring {
        val t0 = System.nanoTime()
        labels(c)
        ((), (System.nanoTime() - t0) / 1e6)
      }
      (ms, jobs.toDouble)
    }
    Map(
      "pipeline.cc_ms" -> Main.mean(split.map(_._1)),
      "pipeline.cc_jobs" -> Main.mean(split.map(_._2)))
  }
}
