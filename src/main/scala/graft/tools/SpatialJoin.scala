package graft.tools

import graft.Geo._
import graft.geom.HilbertRtree
import graft.tools.Jobs.describedAs
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructField}

/** Bounded LRU cache for plan-keyed planner state: evicts the
  * least-recently-USED entry instead of wiping wholesale, so a long
  * interactive session cycling more than `cap` distinct plans never
  * re-pays stats/detection jobs for the entries it is actively using.
  * putIfAbsent semantics (first computed value wins) to match the
  * recursion-safe get → compute-outside-the-lock → putIfAbsent
  * pattern of [[getOrCompute]]. */
private[graft] final class LruCache[K, V](cap: Int) {
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      this.size() > cap
  }
  def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
  def putIfAbsent(k: K, v: V): Unit =
    m.synchronized { if (!m.containsKey(k)) { m.put(k, v); () } }
  /** The cached value, else `v` computed OUTSIDE the lock and stored:
    * the planning-time passes run Spark actions that re-enter the
    * optimizer, which must not wait on a lock its caller holds. */
  def getOrCompute(k: K)(v: => V): V = get(k).getOrElse {
    val computed = v
    putIfAbsent(k, computed)
    computed
  }
  private[graft] def size: Int = m.synchronized(m.size())
  private[graft] def contains(k: K): Boolean =
    m.synchronized(m.containsKey(k))
}

/**
 * Spatial join (reference: tools/sjoin.py:26-133) re-expressed Spark-first.
 *
 * Instead of the reference's driver-side R-tree index-nested-loop, the
 * scalable plan is a grid-cell equi-join (partitioned bbox-spatial-merge):
 *   1. assign each right-side geometry to every 2-D grid cell its bbox
 *      overlaps (explode);
 *   2. assign each left-side point to its single containing cell;
 *   3. hash equi-join on cell id (Catalyst picks broadcast vs shuffle via
 *      AQE — no O(n*m) nested loop);
 *   4. refine with the exact intersection predicate.
 *
 * Points fall in exactly one cell, so no pair dedup is needed for the
 * point-in-geometry case. At 100 TB the equi-join shuffles on cell id and
 * both sides stay fully distributed; skewed cells can be salted upstream.
 */
object SpatialJoin {

  /** Temp column names the grid join claims internally. Shared with the
    * planner rewrite's guard so an input that already carries any of
    * them makes the rule fall back (BNLJ) instead of failing inside
    * gridInner's reserved-name check. */
  val ReservedGridCols: Set[String] = Set("__cx", "__cy", "__salt", "__gb")

  /** Superset claimed by the geometry x geometry grid join (adds the
    * per-side bbox cell origins used for reference-cell pair dedup). */
  val ReservedGeomGridCols: Set[String] =
    ReservedGridCols ++ Set("__ax0", "__ay0", "__bx0", "__by0")

  /** Superset claimed by the point-side-preserving join variants
    * ([[gridPointJoin]]): the geometry side's cell/salt columns get
    * their own names so the outer join condition can reference both
    * sides explicitly. */
  val ReservedGridOuterCols: Set[String] =
    ReservedGridCols ++ Set("__gx", "__gy", "__gsalt")

  /** Driver-collect with an ENFORCED size contract for the broadcast
    * join variants: the build side is read through limit(cap+1), so an
    * oversized side fails fast after cap+1 rows — it never OOMs the
    * driver first. Cap is `spark.graft.broadcastJoin.maxRows`
    * (default 10M rows ≈ a few hundred MB of (key, coords) driver
    * state); the error names the fully-distributed twin to use instead. */
  private[graft] def collectCapped(df: DataFrame, what: String,
                                   twin: String): Array[Row] = {
    val cap = df.sparkSession.conf
      .get("spark.graft.broadcastJoin.maxRows", "10000000").toInt
    require(cap >= 1, "spark.graft.broadcastJoin.maxRows must be >= 1")
    val rows = df.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$what has more than spark.graft.broadcastJoin.maxRows=$cap rows; " +
        s"the broadcast variant collects it to the driver — use the " +
        s"fully-distributed $twin instead (or raise the cap)")
    rows
  }

  /** Data-derived grid cell size: 2x the median bbox edge of the
    * geometry side, so a typical geometry replicates to at most ~4
    * cells while cells stay small enough to prune. approxQuantile is
    * the distributed Greenwald-Khanna sketch — one cheap pass, no
    * collect beyond the quantile itself. Degenerate inputs (all empty /
    * point-sized bboxes) fall back to 1.0. Joins reach it through
    * [[cellSizeFor]], which caches the answer per session. */
  def autoCellSize(geoms: DataFrame, geomCol: Column): Double =
    describedAs(geoms.sparkSession, "sjoin: cell size") {
      val b = st_bounds(geomCol)
      val edge = greatest(b.getField("x1") - b.getField("x0"),
        b.getField("y1") - b.getField("y0"))
      val q = geoms.select(edge.as("__edge")).na.drop
        .stat.approxQuantile("__edge", Array(0.5), 0.05)
      if (q.isEmpty || q(0).isNaN || q(0) <= 0) 1.0 else q(0) * 2
    }

  /** Planner state of one session: what the planning-time passes
    * learned about a plan, so a geometry or point side planned again
    * in the same session skips the pass. Every value changes speed
    * only, never results: any cell size is correct, both sides of a
    * join read the same hot-cell literals, and a small-input verdict
    * only picks blanket salting over hot-cell salting. Keys are
    * compact fingerprints of canonicalized plans (semanticHash +
    * schema), never the plan trees, which would pin relations and
    * file listings on the driver. */
  private[graft] final class PlannerState {
    /** (plan hash, schema, geometry column ordinal) → cell size. */
    val cellSizes = new LruCache[(Int, String, Int), java.lang.Double](MaxCached)
    /** (detector kind, plan hash, schema, cell size bits,
      * hotCellFactor, shuffle partitions) → detected hot cells. */
    val hotCells = new LruCache[
      (String, Int, String, Long, String, String), Option[Seq[(Long, Long)]]](MaxCached)
    /** (plan hash, schema, minRows) → the bounded row probe's verdict;
      * stats-only verdicts are cheap and not cached. */
    val smallVerdicts = new LruCache[(Int, String, Long), java.lang.Boolean](MaxCached)
  }

  private val MaxCached = 64

  /** One [[PlannerState]] per live session, held weakly: a session
    * that is dropped takes its state with it, and a new session (or a
    * new SparkContext) starts cold. Optimizer rules cannot hold this
    * state themselves: a session built with GraftExtensions hands each
    * optimizer run a fresh rule instance. */
  private val plannerStates = new java.util.WeakHashMap[SparkSession, PlannerState]()

  private[graft] def plannerState(spark: SparkSession): PlannerState =
    plannerStates.synchronized {
      plannerStates.computeIfAbsent(spark, _ => new PlannerState)
    }

  private[graft] def confCellSize(spark: SparkSession): Option[Double] =
    spark.conf.getOption("spark.graft.sjoin.cellSize").map(_.toDouble)

  /** The one cell-size resolver of every grid join, planner rule and
    * API alike: `spark.graft.sjoin.cellSize` when set, else
    * [[autoCellSize]] of the geometry column `geom` of `plan`, computed
    * once per session for each (canonicalized plan, column). A cache
    * miss runs the pass as a batch job, so callers guard streaming
    * plans first. The pass re-enters the optimizer, so it runs outside
    * the cache's lock; the worst case is a rare duplicate pass. */
  private[graft] def cellSizeFor(spark: SparkSession, plan: LogicalPlan,
                                 geom: Attribute): Double =
    confCellSize(spark).getOrElse {
      val canon = plan.canonicalized
      val key = (canon.semanticHash(), canon.schema.catalogString,
        plan.output.indexWhere(_.exprId == geom.exprId))
      plannerState(spark).cellSizes.getOrCompute(key)(
        autoCellSize(Bridge.ofRows(spark, plan), Bridge.column(geom))).doubleValue()
    }

  /** [[cellSizeFor]] for a named column of a DataFrame: keyed on its
    * analyzed plan, or on a one-column projection when the name is a
    * nested field rather than an output attribute. */
  private def cellSizeOf(df: DataFrame, geomCol: String): Double = {
    val plan = df.queryExecution.analyzed
    Bridge.expression(df(geomCol)) match {
      case a: Attribute if plan.outputSet.contains(a) =>
        cellSizeFor(df.sparkSession, plan, a)
      case _ => cellSizeOf(df.select(df(geomCol).as("__geom")), "__geom")
    }
  }

  /**
   * Join points (left) to geometries (right) on exact intersection.
   *
   * @param points    left DataFrame with a point struct column
   * @param geoms     right DataFrame with a geometry column
   * @param pointCol  name of the point column in `points`
   * @param geomCol   name of the geometry column in `geoms`
   * @param geomKind  "polygon" | "multipolygon" | "line" | ... (right side)
   * @param cellSize  grid cell edge length (in data units)
   * @param how       "inner", "left" (all points kept) or "right" (all
   *                  geometries kept — the reference's right join keeps the
   *                  right geometry column, tools/sjoin.py:249-270)
   * @param leftKey   ignored since r17: how="left" is keyless (a point keys
   *                  exactly one grid cell, so a single left-outer grid join
   *                  preserves multiplicity without a uniqueness contract)
   * @param rightKey  required for how="right": a unique key column in `geoms`
   *                  (the geometry side cell-explodes, so its outer variant
   *                  still recomposes through a key join)
   * @param salt      >1 splits each grid cell into `salt` shuffle keys:
   *                  points hash into one sub-key, geometries replicate to
   *                  all of them — bounds the reducer size for skewed
   *                  cells (dense hotspots) at the cost of salt-x geometry
   *                  replication. Leave 1 unless AQE skew handling isn't
   *                  enough.
   */
  /** Column-based inner grid join — shared by the name-based API below
    * and the planner rewrite (graft.plans.SpatialJoinRewrite). Returns
    * every column of both inputs for the matching pairs.
    *
    * `hotCells`, when set, restricts salting to the listed (cx, cy)
    * cells: points and geometries in every OTHER cell keep the single
    * `__salt = 0` key — cold cells stop paying the salt-fold geometry
    * replication that blanket salting charges globally to fix one hot
    * spot. Both sides derive hot-ness from the same literal set, so a
    * candidate pair still meets in exactly one (cell, salt) key. */
  def gridInner(points: DataFrame, geoms: DataFrame,
                pointCol: Column, geomCol: Column, geomKind: String,
                cellSize: Double, salt: Int = 1,
                hotCells: Option[Seq[(Long, Long)]] = None): DataFrame = {
    require(cellSize > 0, "cellSize must be positive")
    require(salt >= 1, "salt must be >= 1")
    require(!(points.columns ++ geoms.columns).exists(ReservedGridCols),
      s"input columns collide with reserved grid-join names $ReservedGridCols")
    require(hotCells.forall(_.nonEmpty),
      "hotCells = Some(empty) is ambiguous — pass salt = 1 instead")
    val cs = lit(cellSize)
    val gridded = griddedGeoms(geoms, geomCol, cs, salt, hotCells,
      "__cx", "__cy", "__salt")
    val cellPoints = celledPoints(points, pointCol, cs, salt, hotCells)
    cellPoints
      .join(gridded, Seq("__cx", "__cy", "__salt"), "inner")
      .where(st_intersects(pointCol, geomCol, geomKind))
      .drop("__cx", "__cy", "__salt")
  }

  /** Literal hot-cell predicate over the (tiny, contract-capped) set:
    * stays inside whole-stage codegen, no extra join. */
  private def isHotCell(cells: Seq[(Long, Long)], cx: String, cy: String): Column =
    cells.map { case (x, y) => col(cx) === lit(x) && col(cy) === lit(y) }
      .reduce(_ || _)

  /** Geometry side exploded to every grid cell its bbox overlaps, plus
    * the salt column (replicated to all salt values in hot cells) —
    * under caller-chosen temp-column names, so the outer variant can
    * join the two sides on explicit, distinct columns. */
  private def griddedGeoms(geoms: DataFrame, geomCol: Column, cs: Column,
                           salt: Int, hotCells: Option[Seq[(Long, Long)]],
                           cx: String, cy: String, saltCol: String): DataFrame = {
    val gridded0 = geoms
      .withColumn("__gb", st_bounds(geomCol))
      .withColumn(cx,
        explode(sequence(floor(col("__gb.x0") / cs).cast("long"),
                         floor(col("__gb.x1") / cs).cast("long"))))
      .withColumn(cy,
        explode(sequence(floor(col("__gb.y0") / cs).cast("long"),
                         floor(col("__gb.y1") / cs).cast("long"))))
      .drop("__gb")
    if (salt == 1) gridded0.withColumn(saltCol, lit(0))
    else if (hotCells.isEmpty) gridded0.withColumn(saltCol,
      explode(sequence(lit(0), lit(salt - 1))))
    else gridded0.withColumn(saltCol,
      explode(when(isHotCell(hotCells.get, cx, cy), sequence(lit(0), lit(salt - 1)))
        .otherwise(sequence(lit(0), lit(0)))))
  }

  /** Point side keyed by its SINGLE containing cell, salt hashed from
    * the point (one key per point row — the property the preserving
    * join variants rest on). */
  private def celledPoints(points: DataFrame, pointCol: Column, cs: Column,
                           salt: Int, hotCells: Option[Seq[(Long, Long)]]): DataFrame = {
    val cellPoints0 = points
      .withColumn("__cx", floor(st_x(pointCol) / cs).cast("long"))
      .withColumn("__cy", floor(st_y(pointCol) / cs).cast("long"))
    cellPoints0.withColumn("__salt",
      if (salt == 1) lit(0)
      else if (hotCells.isEmpty) pmod(hash(pointCol), lit(salt))
      else when(isHotCell(hotCells.get, "__cx", "__cy"),
        pmod(hash(pointCol), lit(salt))).otherwise(lit(0)))
  }

  /** Point-side-PRESERVING grid join variants: `left` (outer),
    * `left_semi`, `left_anti` — the planner's target shape for
    * `points.join(geoms, st_intersects(p, g), "left"/"semi"/"anti")`
    * and the keyless implementation of `pointInGeom(how = "left")`.
    *
    * Outer semantics without any key column rest on one property: a
    * point keys exactly ONE (cell, salt), so the left-outer hash join
    * preserves each point row exactly once when nothing matches, and
    * candidate pairs meet on exactly one key when something does. The
    * exact intersection predicate (and any `residual` conjunct) is
    * folded INTO the join condition — a post-filter would be wrong
    * under outer semantics (it would drop preserved rows), and
    * semi/anti decide membership on the full condition. Catalyst still
    * extracts the cell columns as equi-keys, so the plan stays a hash
    * (or sort-merge) join — never a nested loop. Null/NaN points never
    * satisfy the exact predicate, so they are preserved (left) or kept
    * (anti) exactly as the naive nested-loop semantics would. */
  def gridPointJoin(points: DataFrame, geoms: DataFrame,
                    pointCol: Column, geomCol: Column, geomKind: String,
                    cellSize: Double, joinType: String,
                    residual: Option[Column] = None,
                    salt: Int = 1,
                    hotCells: Option[Seq[(Long, Long)]] = None): DataFrame = {
    require(cellSize > 0, "cellSize must be positive")
    require(salt >= 1, "salt must be >= 1")
    require(Set("left", "left_semi", "left_anti").contains(joinType),
      s"unsupported joinType=$joinType (inner goes through gridInner)")
    require(!(points.columns ++ geoms.columns).exists(ReservedGridOuterCols),
      s"input columns collide with reserved grid-join names $ReservedGridOuterCols")
    require(hotCells.forall(_.nonEmpty),
      "hotCells = Some(empty) is ambiguous — pass salt = 1 instead")
    val cs = lit(cellSize)
    val cp = celledPoints(points, pointCol, cs, salt, hotCells)
    val gg = griddedGeoms(geoms, geomCol, cs, salt, hotCells,
      "__gx", "__gy", "__gsalt")
    val base = cp("__cx") === gg("__gx") && cp("__cy") === gg("__gy") &&
      cp("__salt") === gg("__gsalt") &&
      st_intersects(pointCol, geomCol, geomKind)
    val cond = residual.map(base && _).getOrElse(base)
    cp.join(gg, cond, joinType)
      .drop("__cx", "__cy", "__salt", "__gx", "__gy", "__gsalt")
  }

  /** Exact per-cell point counts → the cells whose population exceeds
    * `hotCellFactor` × fair share (total / shuffle partitions). The
    * count is one aggregation with map-side combine (shuffle bytes are
    * O(#occupied cells), not O(points)); the result is contract-small
    * BY CONSTRUCTION — at most partitions/factor cells can exceed the
    * threshold — so collecting it to the driver is bounded the same
    * way the broadcast-join caps are. Returns None when nothing is hot
    * (plain unsalted join is optimal) and ALL-CELLS when the cap is
    * somehow exceeded (degenerate guard: blanket salting stays
    * correct, never an error). */
  /** Diagnostic seam: counting passes this JVM has run — the scale
    * drill asserts its adaptive arm really detected (soundness: an arm
    * silently measuring a fallback is the r15 drill bug class), specs
    * assert the small-input gate skips the pass entirely. */
  private[graft] val detectionRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Point sides below this many bytes (plan-stats estimate) skip
    * hot-cell detection under `adaptiveSalt = true`: the counting pass
    * costs about one extra scan of the point side, which can't pay for
    * itself when the whole join is small — the gate makes adaptive
    * safe to leave on globally. Override (e.g. `0` to force detection)
    * via `spark.graft.sjoin.adaptiveSalt.minBytes`. */
  private[graft] val DefaultAdaptiveMinBytes: Long = 32L * 1024 * 1024

  private[graft] def adaptiveMinBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.sjoin.adaptiveSalt.minBytes",
      DefaultAdaptiveMinBytes.toString).toLong

  /** Row-count twin of the byte threshold, used where plan byte stats
    * are unreliable (derived, non-scan point sides): inputs under this
    * many rows skip hot-cell detection. 256k rows ≈ the 32 MB default
    * at ~128 B/row. */
  private[graft] val DefaultAdaptiveMinRows: Long = 262144

  private[graft] def adaptiveMinRows(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.sjoin.adaptiveSalt.minRows",
      DefaultAdaptiveMinRows.toString).toLong

  /** Diagnostic seam: bounded row probes this JVM has run (specs
    * assert when the gate probes vs trusts plan stats). */
  private[graft] val probeRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** HONEST small-input verdict for the adaptive-salt gate. Plan-stats
    * `sizeInBytes` is truthful only at a scan: without CBO every join
    * estimate is a product of its children, so a DERIVED point side
    * almost always reads huge and a bytes-only gate never skips —
    * charging the detection scan to exactly the expensive lineages it
    * exists to protect. Verdict order:
    *  1. `minBytes <= 0` → never small (the drills force detection);
    *  2. a CBO `rowCount`, when present, against
    *     `spark.graft.sjoin.adaptiveSalt.minRows` (default 262144);
    *  3. `sizeInBytes` below `minBytes` → small (stats only
    *     over-count, so a below-threshold estimate is definitive);
    *  4. a bare scan (leaf plan) → big (file stats are honest there);
    *  5. otherwise a BOUNDED row probe: count at most minRows rows
    *     via take() on a one-column projection (incremental partition
    *     launch, early stop, driver state capped at minRows unit
    *     rows). One cheap job at construction/plan time — the planner
    *     caches the verdict per canonicalized plan; callers must
    *     guard `isStreaming` first (a probe is a batch action). */
  private[graft] def smallInputSide(df: DataFrame, minBytes: Long): Boolean = {
    if (minBytes <= 0) return false
    val minRows = adaptiveMinRows(df.sparkSession)
    smallPlanVerdict(df.queryExecution.optimizedPlan, minBytes, minRows)
      .getOrElse(probeSmall(df, minRows))
  }

  /** The job-free part of the verdict (steps 2–4 above): Some(answer)
    * when plan stats decide, None when only the bounded probe can. */
  private[graft] def smallPlanVerdict(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      minBytes: Long, minRows: Long): Option[Boolean] = {
    require(minRows >= 0 && minRows < Int.MaxValue - 8,
      "spark.graft.sjoin.adaptiveSalt.minRows must fit an Int")
    plan.stats.rowCount match {
      case Some(rc) => Some(rc < BigInt(minRows))
      case None if plan.stats.sizeInBytes < BigInt(minBytes) => Some(true)
      case None
          if plan.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.LeafNode] => Some(false)
      case None => None
    }
  }

  /** The bounded row probe (step 5 above) — one batch job. Small iff
    * strictly fewer than minRows rows exist, matching the stats
    * verdict's `rowCount < minRows` ("inputs UNDER this many rows"). */
  private[graft] def probeSmall(df: DataFrame, minRows: Long): Boolean =
    describedAs(df.sparkSession, "sjoin: small-input probe") {
      probeRuns.incrementAndGet()
      df.select(lit(1).as("__one")).take(minRows.toInt).length < minRows
    }

  /** The shared engage mapping (API paths AND the planner — one copy,
    * so the semantics cannot drift): no hot cell → unsalted is
    * optimal; contract cap exceeded → blanket; else hot-only. */
  private[graft] def mapDetected(salt: Int, detected: Option[Seq[(Long, Long)]])
      : (Int, Option[Seq[(Long, Long)]]) = detected match {
    case None => (1, None)
    case Some(cells) if cells.isEmpty => (salt, None)
    case Some(cells) => (salt, Some(cells))
  }

  private[graft] def detectHotCells(points: DataFrame, pointCol: Column,
                                    cellSize: Double): Option[Seq[(Long, Long)]] = {
    detectionRuns.incrementAndGet()
    val cs = lit(cellSize)
    // null points never match in the inner join, so they neither form
    // a hot cell nor belong in the fair-share total (a null-heavy
    // input would otherwise group into one (null,null) "cell" that
    // NPEs the collect below and inflates the threshold)
    val counts = points.where(pointCol.isNotNull).select(
        floor(st_x(pointCol) / cs).cast("long").as("__cx"),
        floor(st_y(pointCol) / cs).cast("long").as("__cy"))
      // a non-null struct can still carry null coordinates — those
      // rows match nothing either; drop them before the long collect
      .where(col("__cx").isNotNull && col("__cy").isNotNull)
      .groupBy("__cx", "__cy").count()
    hotFromCounts(counts, points.sparkSession)
  }

  /** [[detectHotCells]] for a geometry side of the dual-grid join: the
    * skew unit is the EXPLODED cell key — a geometry spanning k cells
    * contributes k, because reducer load is per (cell, salt) key. Same
    * threshold/cap contract (and [[detectionRuns]] seam) as the point
    * detector. */
  private[graft] def detectHotGeomCells(geoms: DataFrame, geomCol: Column,
                                        cellSize: Double): Option[Seq[(Long, Long)]] = {
    detectionRuns.incrementAndGet()
    val cs = lit(cellSize)
    val counts = geoms.where(geomCol.isNotNull)
      .select(st_bounds(geomCol).as("__gb"))
      .select(
        explode(sequence(floor(col("__gb.x0") / cs).cast("long"),
                         floor(col("__gb.x1") / cs).cast("long"))).as("__cx"),
        col("__gb"))
      .select(col("__cx"),
        explode(sequence(floor(col("__gb.y0") / cs).cast("long"),
                         floor(col("__gb.y1") / cs).cast("long"))).as("__cy"))
      .where(col("__cx").isNotNull && col("__cy").isNotNull)
      .groupBy("__cx", "__cy").count()
    hotFromCounts(counts, geoms.sparkSession)
  }

  /** Exact per-cell counts → the cells whose population exceeds
    * `hotCellFactor` × fair share (total / shuffle partitions). One
    * aggregation with map-side combine (shuffle bytes O(#occupied
    * cells)); the hot set is contract-small BY CONSTRUCTION — at most
    * partitions/factor cells can exceed the threshold — so collecting
    * it is bounded like the broadcast-join caps. None = nothing hot;
    * Some(empty) = cap exceeded (degenerate guard: blanket salting
    * stays correct, never an error). */
  private def hotFromCounts(counts0: DataFrame, spark: SparkSession)
      : Option[Seq[(Long, Long)]] = describedAs(spark, "sjoin: hot cells") {
    val factor = spark.conf
      .get("spark.graft.sjoin.hotCellFactor", "2.0").toDouble
    require(factor > 0, "spark.graft.sjoin.hotCellFactor must be > 0")
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val counts = counts0.persist() // two actions below; O(#occupied cells) rows
    try {
      val total = counts.agg(coalesce(sum("count"), lit(0L)))
        .first().getLong(0)
      if (total == 0) return None
      val threshold = math.max(1L, (factor * total.toDouble / parts).toLong)
      // > threshold caps the hot set at parts/factor cells; the +1
      // probe only guards against arithmetic drift
      val cap = math.max(16, (parts / factor).toInt + 1)
      val hot = counts.where(col("count") > threshold)
        .select("__cx", "__cy").limit(cap + 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      if (hot.isEmpty) None
      else if (hot.length > cap) Some(Seq.empty) // degenerate: salt all
      else Some(hot)
    } finally counts.unpersist()
  }

  /**
   * Geometry × geometry inner join on exact intersection (any kind on
   * either side) — the extension past the reference's point-left-only
   * sjoin. BOTH sides cell-explode on their bboxes; a bbox pair can
   * share many cells, so each candidate pair is evaluated in exactly ONE
   * canonical cell — the top-left cell of the bbox intersection
   * (`cx == max(aCellX0, bCellX0)`, same for y): the standard
   * partition-based-spatial-merge reference-point trick, which removes
   * duplicate pairs WITHOUT a distinct (no second shuffle). The join
   * itself stays a hash equi-join on the cell key; the exact
   * [[graft.Geo.st_geom_intersects]] kernel refines.
   */
  def geomGridInner(left: DataFrame, right: DataFrame,
                    leftCol: Column, leftKind: String,
                    rightCol: Column, rightKind: String,
                    cellSize: Double, salt: Int = 1,
                    hotCells: Option[Seq[(Long, Long)]] = None): DataFrame = {
    require(cellSize > 0, "cellSize must be positive")
    require(salt >= 1, "salt must be >= 1")
    require(!(left.columns ++ right.columns).exists(ReservedGeomGridCols),
      s"input columns collide with reserved grid-join names $ReservedGeomGridCols")
    require(hotCells.forall(_.nonEmpty),
      "hotCells = Some(empty) is ambiguous — pass salt = 1 instead")
    val cs = lit(cellSize)

    def gridded(df: DataFrame, g: Column, cx0: String, cy0: String): DataFrame = {
      val b = st_bounds(g)
      df.withColumn("__gb", b)
        .withColumn(cx0, floor(col("__gb.x0") / cs).cast("long"))
        .withColumn(cy0, floor(col("__gb.y0") / cs).cast("long"))
        .withColumn("__cx",
          explode(sequence(col(cx0), floor(col("__gb.x1") / cs).cast("long"))))
        .withColumn("__cy",
          explode(sequence(col(cy0), floor(col("__gb.y1") / cs).cast("long"))))
        .drop("__gb")
    }

    // Skew: the LEFT (probe) side hashes each exploded copy into one
    // salt value where its cell is hot; the RIGHT (build) side
    // replicates hot-cell copies to all salt values. A candidate pair
    // thus still meets exactly once per shared cell — at the left
    // copy's salt — so the PBSM reference-cell dedup below is
    // untouched by salting (it filters on cell coordinates only).
    val l0 = gridded(left, leftCol, "__ax0", "__ay0")
    val r0 = gridded(right, rightCol, "__bx0", "__by0")
    val (l1, r1) =
      if (salt == 1)
        (l0.withColumn("__salt", lit(0)), r0.withColumn("__salt", lit(0)))
      else {
        val lSalt = hotCells match {
          case None => pmod(hash(leftCol), lit(salt))
          case Some(cells) => when(isHotCell(cells, "__cx", "__cy"),
            pmod(hash(leftCol), lit(salt))).otherwise(lit(0))
        }
        val rSalt = hotCells match {
          case None => explode(sequence(lit(0), lit(salt - 1)))
          case Some(cells) => explode(
            when(isHotCell(cells, "__cx", "__cy"), sequence(lit(0), lit(salt - 1)))
              .otherwise(sequence(lit(0), lit(0))))
        }
        (l0.withColumn("__salt", lSalt), r0.withColumn("__salt", rSalt))
      }
    l1.join(r1, Seq("__cx", "__cy", "__salt"), "inner")
      .where(col("__cx") === greatest(col("__ax0"), col("__bx0")) &&
             col("__cy") === greatest(col("__ay0"), col("__by0")))
      .where(st_geom_intersects(leftCol, leftKind, rightCol, rightKind))
      .drop("__cx", "__cy", "__salt", "__ax0", "__ay0", "__bx0", "__by0")
  }

  /**
   * Name-based geometry × geometry join with inner/left/right variants —
   * the [[pointInGeom]] API shape for two geometry sides. `cellSize <= 0`
   * takes the max of both sides' [[cellSizeFor]] (cells must be at least
   * typical-bbox-sized on BOTH sides or the bigger side's explode blows
   * up); the planner rule sizes from the build side alone.
   */
  def geomJoin(left: DataFrame, right: DataFrame,
               leftCol: String, leftKind: String,
               rightCol: String, rightKind: String,
               cellSize: Double = 0, how: String = "inner",
               leftKey: String = null, rightKey: String = null,
               salt: Int = 1, adaptiveSalt: Boolean = false,
               adaptiveMinBytesOverride: Long = -1L): DataFrame = {
    val cs = if (cellSize > 0) cellSize
             else math.max(cellSizeOf(left, leftCol), cellSizeOf(right, rightCol))
    // adaptive skew handling, mirroring pointInGeom: detect hot cells
    // on the LEFT (probe) side's EXPLODED cell keys and salt only
    // those. Same eager-by-design caveat and small-input gate
    // (adaptiveMinBytesOverride >= 0 replaces the session conf — so
    // catalog queries never touch session-global state).
    val minBytes = if (adaptiveMinBytesOverride >= 0) adaptiveMinBytesOverride
                   else adaptiveMinBytes(left.sparkSession)
    val (effSalt, hot) =
      if (!adaptiveSalt || salt <= 1) (salt, None)
      else if (left.isStreaming) (salt, None) // no batch job on a stream
      else if (smallInputSide(left, minBytes)) (salt, None) // blanket: cheap
      else mapDetected(salt, detectHotGeomCells(left, left(leftCol), cs))
    val matched = geomGridInner(left, right, left(leftCol), leftKind,
      right(rightCol), rightKind, cs, effSalt, hot)
    applyGeomHow(left, right, matched, how, leftKey, rightKey)
  }

  /** Outer-variant composition shared by [[geomJoin]] and
    * [[broadcastGeomJoin]]: re-attach unmatched rows of the preserved
    * side with a key join against the inner match set. */
  private def applyGeomHow(left: DataFrame, right: DataFrame,
                           matched: DataFrame, how: String,
                           leftKey: String, rightKey: String): DataFrame =
    how match {
      case "inner" => matched
      case "left" =>
        require(leftKey != null, "left join requires leftKey")
        val rightCols = right.columns.toSeq
        left.join(matched.select((leftKey +: rightCols).map(col): _*),
          Seq(leftKey), "left")
      case "right" =>
        require(rightKey != null, "right join requires rightKey")
        val leftCols = left.columns.toSeq
        right.join(matched.select((rightKey +: leftCols).map(col): _*),
          Seq(rightKey), "left")
      case other => throw new IllegalArgumentException(s"unsupported how=$other")
    }

  /**
   * Distance (within-radius) join of two point sets: every pair with
   * euclidean distance <= `radius`. The grid cell edge IS the radius:
   * the left point keys its single containing cell, the right point
   * replicates to its cell plus the 8 neighbors, so any qualifying pair
   * shares exactly ONE join key (the left point's cell) — no duplicate
   * pairs, no dedup pass. The match is a hash equi-join on the cell key
   * with the exact squared-distance residual: one shuffle per side (the
   * right side 9x-replicated, the standard fixed-radius-near-neighbor
   * trade), both sides fully distributed, AQE free to broadcast a small
   * right side.
   *
   * Column names must not collide across the two inputs. `distCol`, if
   * non-null, appends the squared distance (exact arithmetic — no sqrt)
   * to the output.
   */
  def distanceJoin(left: DataFrame, right: DataFrame,
                   leftCol: String, rightCol: String,
                   radius: Double, distCol: String = null): DataFrame = {
    require(radius > 0, "radius must be positive")
    val collide = left.columns.toSet.intersect(right.columns.toSet)
    require(collide.isEmpty, s"input column names collide: $collide")
    require(!(left.columns ++ right.columns).exists(ReservedGridCols),
      s"input columns collide with reserved grid-join names $ReservedGridCols")
    require(distCol == null ||
      !(left.columns ++ right.columns).contains(distCol),
      s"distCol '$distCol' collides with an input column")
    val cs = lit(radius)
    val l = left
      .withColumn("__cx", floor(st_x(col(leftCol)) / cs).cast("long"))
      .withColumn("__cy", floor(st_y(col(leftCol)) / cs).cast("long"))
    val r = right
      .withColumn("__cx", explode(sequence(
        floor(st_x(col(rightCol)) / cs).cast("long") - 1,
        floor(st_x(col(rightCol)) / cs).cast("long") + 1)))
      .withColumn("__cy", explode(sequence(
        floor(st_y(col(rightCol)) / cs).cast("long") - 1,
        floor(st_y(col(rightCol)) / cs).cast("long") + 1)))
    val dx = st_x(col(leftCol)) - st_x(col(rightCol))
    val dy = st_y(col(leftCol)) - st_y(col(rightCol))
    val d2 = dx * dx + dy * dy
    val joined = l.join(r, Seq("__cx", "__cy"), "inner")
      .where(d2 <= lit(radius * radius))
      .drop("__cx", "__cy")
    if (distCol == null) joined else joined.withColumn(distCol, d2)
  }

  /**
   * K-nearest-neighbor join within a search radius (the sjoin_nearest
   * shape): each left point gets its `k` nearest right rows among those
   * within `radius` of it (squared euclidean; ties broken by
   * `rightKey`), with `how = "left"` keeping radius-isolated left rows
   * (nulls on the right, one output row). Candidates come from
   * [[distanceJoin]] — one grid shuffle of each side; only CANDIDATES
   * (≈ density-bounded per point) reach the per-left selection, never
   * the full cross product.
   *
   * k == 1 selects via `min(struct(d2, rightKey, payload))` — a plain
   * groupBy aggregate, so map-side partial aggregation collapses
   * candidates before the (second, candidate-only) shuffle and no sort
   * window runs. k > 1 ranks candidates with a per-left-key
   * row_number window (WindowGroupLimit pushes the top-k map-side).
   * `distCol` names the output squared-distance column.
   *
   * `leftKey` MUST be unique: the per-left selection groups on it, so
   * two left rows sharing a key would have their candidate sets merged
   * (one global best reported for both, with the wrong distance for
   * one of them).
   */
  def nearestJoin(left: DataFrame, right: DataFrame,
                  leftCol: String, rightCol: String,
                  radius: Double, leftKey: String, rightKey: String,
                  k: Int = 1, how: String = "inner",
                  distCol: String = "nn_dist2"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(Seq("inner", "left").contains(how), s"unsupported how=$how")
    val reserved = Seq("__nd2", "__nbest", "__nrank", distCol)
    require(!(left.columns ++ right.columns).exists(reserved.contains),
      s"input columns collide with reserved names $reserved")
    val rightPayload = right.columns.toSeq.filterNot(_ == rightKey)
    val cands = distanceJoin(left, right, leftCol, rightCol, radius, "__nd2")
    val joinType = if (how == "left") "left" else "inner"
    val selected =
      if (k == 1) {
        // struct ordering is lexicographic (d2, then rightKey), so min()
        // IS "nearest with deterministic tie-break" — and it partially
        // aggregates map-side, unlike any window formulation
        val best = cands.groupBy(col(leftKey)).agg(
          min(struct((col("__nd2") +: col(rightKey) +: rightPayload.map(col)): _*))
            .as("__nbest"))
        left.join(best, Seq(leftKey), joinType)
          .withColumn(distCol, col("__nbest.__nd2"))
          .withColumn(rightKey, col("__nbest").getField(rightKey))
      } else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(leftKey)).orderBy(col("__nd2").asc, col(rightKey).asc)
        val topk = cands
          .withColumn("__nrank", row_number().over(w))
          .where(col("__nrank") <= k)
          .select((col(leftKey) +: col("__nd2") +: col(rightKey) +:
            rightPayload.map(col)): _*)
          .withColumnRenamed("__nd2", distCol)
        left.join(topk, Seq(leftKey), joinType)
      }
    if (k == 1)
      selected.select((left.columns.map(col) :+ col(rightKey) :+
        col(distCol)) ++
        rightPayload.map(c => col("__nbest").getField(c).as(c)): _*)
    else selected
  }

  /**
   * Density-adaptive [[nearestJoin]] — the high-density scale path.
   * A fixed-radius kNN materializes density·πR² candidates per left
   * point; when 10x the data lands in the same extent that is 10x the
   * candidates for the SAME answer (k rows). This variant probes with
   * a small data-derived radius first and only falls back to `radius`
   * for the points the probe could not certify:
   *
   *  1. r0 = 2·sqrt(k·area/(π·n)) from the right side's bbox and
   *     count (two cheap aggregates, bounded driver state) — the
   *     radius that contains ~4k right points at uniform density,
   *     clamped to `radius`.
   *  2. Phase 1: [[nearestJoin]] at r0. A left point that finds ≥ k
   *     candidates within r0 is CERTIFIED: every unseen right point
   *     lies farther than r0 ≥ its k-th candidate distance, so the
   *     found top-k are the global top-k.
   *  3. Phase 2: only the uncertified lefts (sparse neighborhoods)
   *     rerun at the full `radius`, with `how` semantics preserved.
   *
   * At uniform density phase 2 is ~empty and per-left work drops from
   * density·πR² to ~4k·9 — constant in the corpus size. Worst case
   * (all mass outside r0) degrades to nearestJoin plus one cheap
   * probe pass. Results are identical to [[nearestJoin]] by the
   * certification argument (same tie-break, same how semantics).
   */
  def nearestJoinAdaptive(left: DataFrame, right: DataFrame,
                          leftCol: String, rightCol: String,
                          radius: Double, leftKey: String, rightKey: String,
                          k: Int = 1, how: String = "inner",
                          distCol: String = "nn_dist2"): DataFrame = {
    require(radius > 0, "radius must be positive")
    val stats = right.where(col(rightCol).isNotNull)
      .agg(count(lit(1)),
        min(st_x(col(rightCol))), max(st_x(col(rightCol))),
        min(st_y(col(rightCol))), max(st_y(col(rightCol))))
      .collect()(0)
    val n = stats.getLong(0)
    val r0 =
      if (n == 0 || stats.isNullAt(1)) radius
      else {
        val area = (stats.getDouble(2) - stats.getDouble(1)) *
          (stats.getDouble(4) - stats.getDouble(3))
        // !(area > 0) also catches NaN extents (all-NaN coordinates)
        if (!(area > 0)) radius
        else math.min(radius, 2.0 * math.sqrt(k * area / (math.Pi * n)))
      }
    if (r0 >= radius)
      nearestJoin(left, right, leftCol, rightCol, radius, leftKey, rightKey,
        k, how, distCol)
    else {
      val phase1 = nearestJoin(left, right, leftCol, rightCol, r0,
        leftKey, rightKey, k, "inner", distCol)
      val resolvedKeys = phase1.groupBy(col(leftKey))
        .agg(count(lit(1)).as("__nn_cnt"))
        .where(col("__nn_cnt") === k)
        .select(col(leftKey))
      val resolved = phase1.join(resolvedKeys, Seq(leftKey), "left_semi")
      val unresolved = left.join(resolvedKeys, Seq(leftKey), "left_anti")
      val phase2 = nearestJoin(unresolved, right, leftCol, rightCol, radius,
        leftKey, rightKey, k, how, distCol)
      resolved.unionByName(phase2)
    }
  }

  /**
   * Broadcast variant of [[nearestJoin]] for a dimension-table-sized
   * right side: collect (key, x, y) to the driver (24 bytes/point),
   * build a radius-sized grid hash index once, broadcast it, and probe
   * the 3x3 neighborhood per left partition — ZERO shuffle of the
   * (huge) left side, no candidate-pair materialization at all. The
   * right payload re-attaches by key afterwards (broadcast join).
   * Same semantics and tie-break as [[nearestJoin]] (squared euclidean,
   * ties on `rightKey`, how="left" keeps isolated left rows).
   * `rightKey` must be unique and long-castable.
   */
  def broadcastNearestJoin(left: DataFrame, right: DataFrame,
                           leftCol: String, rightCol: String,
                           radius: Double, rightKey: String,
                           k: Int = 1, how: String = "inner",
                           distCol: String = "nn_dist2"): DataFrame = {
    require(radius > 0, "radius must be positive")
    require(k >= 1, "k must be >= 1")
    require(Seq("inner", "left").contains(how), s"unsupported how=$how")
    require(!left.columns.contains("__rkey") && !left.columns.contains(distCol),
      s"left columns collide with reserved names __rkey/$distCol")
    val spark = left.sparkSession
    val keyed = collectCapped(
      right.where(col(rightCol).isNotNull)
        .select(col(rightKey).cast("long"),
          st_x(col(rightCol)).cast("double"), st_y(col(rightCol)).cast("double")),
      "broadcastNearestJoin right side", "nearestJoin")
    val ks = scala.collection.mutable.ArrayBuffer.empty[Long]
    val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ys = scala.collection.mutable.ArrayBuffer.empty[Double]
    keyed.foreach { r =>
      // unmatchable rows (null/NaN coordinate, null key) stay out of the
      // index — the same "null matches nothing" contract as nearestJoin
      if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) &&
          !r.getDouble(1).isNaN && !r.getDouble(2).isNaN) {
        ks += r.getLong(0); xs += r.getDouble(1); ys += r.getDouble(2)
      }
    }
    val cells = new scala.collection.mutable.HashMap[(Long, Long), scala.collection.mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < ks.length) {
      val c = (math.floor(xs(i) / radius).toLong, math.floor(ys(i) / radius).toLong)
      cells.getOrElseUpdate(c, scala.collection.mutable.ArrayBuffer.empty[Int]) += i
      i += 1
    }
    val index = (ks.toArray, xs.toArray, ys.toArray,
      cells.map { case (c, b) => (c, b.toArray) }.toMap)
    val bc = spark.sparkContext.broadcast(index)

    val outSchema = left.schema
      .add(StructField("__rkey", LongType, nullable = true))
      .add(StructField(distCol, org.apache.spark.sql.types.DoubleType, nullable = true))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val pIdx = left.schema.fieldIndex(leftCol)
    val r2 = radius * radius
    val keepLeft = how == "left"
    val probed = left.mapPartitions { it =>
      val (bk, bx, by, bcells) = bc.value
      it.flatMap { row =>
        val missing = row.isNullAt(pIdx)
        val p = if (missing) null else row.getStruct(pIdx)
        val fieldNull = !missing && (p.isNullAt(0) || p.isNullAt(1))
        val x = if (missing || fieldNull) Double.NaN else p.getDouble(0)
        val y = if (missing || fieldNull) Double.NaN else p.getDouble(1)
        if (x.isNaN || y.isNaN) {
          if (keepLeft) Iterator(Row.fromSeq(row.toSeq :+ null :+ null))
          else Iterator.empty
        } else {
          val cx = math.floor(x / radius).toLong
          val cy = math.floor(y / radius).toLong
          val hits = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
          var dx = -1L
          while (dx <= 1) {
            var dy = -1L
            while (dy <= 1) {
              bcells.get((cx + dx, cy + dy)).foreach(_.foreach { j =>
                val ddx = x - bx(j); val ddy = y - by(j)
                val d2 = ddx * ddx + ddy * ddy
                if (d2 <= r2) hits += ((d2, bk(j)))
              })
              dy += 1
            }
            dx += 1
          }
          if (hits.isEmpty) {
            if (keepLeft) Iterator(Row.fromSeq(row.toSeq :+ null :+ null))
            else Iterator.empty
          } else {
            hits.sortInPlace()
            hits.iterator.take(k)
              .map { case (d2, key) => Row.fromSeq(row.toSeq :+ key :+ d2) }
          }
        }
      }
    }(enc)

    // re-attach the right payload by key; left join keeps the null rows
    // emitted for isolated left points under how="left"
    probed.join(right, probed("__rkey") === right(rightKey).cast("long"), "left")
      .drop("__rkey")
  }

  /**
   * Persist `geoms` as a cell-exploded BUCKETED table, so RECURRING
   * point-in-geometry joins skip the geometry-side shuffle entirely:
   * the table is bucketed and sorted on the grid cell key, Spark reads
   * it already distributed by that key, and only the point side moves
   * at query time ([[pointInGeomBucketed]]). This is the co-located
   * join setup for a static geometry corpus probed by many point
   * streams/batches — the bucketing analog of hilbert packing.
   *
   * The cell size is recorded in the `__cx` column's metadata and
   * validated on the read side, so a mismatched probe fails loudly
   * instead of silently missing pairs.
   */
  def saveGeomsBucketedByCell(geoms: DataFrame, geomCol: String,
                              table: String, cellSize: Double,
                              numBuckets: Int, geomKind: String = ""): Unit = {
    require(cellSize > 0, "cellSize must be positive")
    require(!geoms.columns.exists(ReservedGridCols),
      s"input columns collide with reserved grid-join names $ReservedGridCols")
    Warehouse.resetManagedTable(geoms.sparkSession, table)
    val cs = lit(cellSize)
    val metaB = new org.apache.spark.sql.types.MetadataBuilder()
      .putDouble("graft.cellSize", cellSize)
    if (geomKind.nonEmpty) metaB.putString("graft.geomKind", geomKind)
    val meta = metaB.build()
    geoms.withColumn("__gb", st_bounds(col(geomCol)))
      .withColumn("__cx",
        explode(sequence(floor(col("__gb.x0") / cs).cast("long"),
                         floor(col("__gb.x1") / cs).cast("long"))))
      .withColumn("__cy",
        explode(sequence(floor(col("__gb.y0") / cs).cast("long"),
                         floor(col("__gb.y1") / cs).cast("long"))))
      .drop("__gb")
      .withMetadata("__cx", meta)
      .write.format("parquet")
      .bucketBy(numBuckets, "__cx", "__cy")
      .sortBy("__cx", "__cy")
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** Probe a [[saveGeomsBucketedByCell]] table: hash join on the cell
    * key where the geometry side's distribution comes from its buckets
    * (no exchange over the geometries), then the exact refine. */
  def pointInGeomBucketed(points: DataFrame, table: String,
                          pointCol: String, geomCol: String,
                          geomKind: String): DataFrame = {
    require(!points.columns.exists(ReservedGridCols),
      s"input columns collide with reserved grid-join names $ReservedGridCols")
    val gridded = points.sparkSession.table(table)
    val cxField = gridded.schema(gridded.schema.fieldIndex("__cx"))
    require(cxField.metadata.contains("graft.cellSize"),
      s"$table was not written by saveGeomsBucketedByCell")
    if (cxField.metadata.contains("graft.geomKind"))
      require(cxField.metadata.getString("graft.geomKind") == geomKind,
        s"$table stores kind ${cxField.metadata.getString("graft.geomKind")}, " +
          s"probe requested $geomKind")
    val cellSize = cxField.metadata.getDouble("graft.cellSize")
    val cs = lit(cellSize)
    val cellPoints = points
      .withColumn("__cx", floor(st_x(col(pointCol)) / cs).cast("long"))
      .withColumn("__cy", floor(st_y(col(pointCol)) / cs).cast("long"))
    cellPoints
      .join(gridded, Seq("__cx", "__cy"), "inner")
      .where(st_intersects(col(pointCol), col(geomCol), geomKind))
      .drop("__cx", "__cy")
  }

  /** `adaptiveSalt = true` (with `salt > 1`) detects the dense cells
    * first ([[detectHotCells]] — one cheap counting pass over the
    * point side) and salts ONLY those: the blanket mode's salt-fold
    * geometry replication in every cold cell is the dominant cost of
    * salting at scale, and pruning it is what the dask reference
    * cannot do (sjoin.py:105-122 prunes partitions but cannot split a
    * dense one). Falls back to unsalted when no cell is hot and to
    * blanket salting when the hot set exceeds its contract cap.
    *
    * EAGER BY DESIGN when detection engages: this call runs the
    * counting pass as a Spark job at DataFrame-CONSTRUCTION time (the
    * hot set must be known to build the plan), and the point side's
    * lineage is computed twice — once by the detection pass, once by
    * the join itself. Cache the point side upstream (`.persist()`)
    * when its lineage is expensive; this method deliberately does not
    * persist for you (a CacheManager entry it could never safely
    * unpersist would pin your data for the session). Small inputs
    * skip detection entirely: below
    * `spark.graft.sjoin.adaptiveSalt.minBytes` (default 32 MB of
    * plan-stats bytes) the counting pass cannot pay for itself and
    * blanket salting is used — so `adaptiveSalt = true` is safe to
    * leave on as a default.
    *
    * `cellSize <= 0` resolves through [[cellSizeFor]], like the
    * planner rule: `spark.graft.sjoin.cellSize` when set, else derived
    * from the geometry side once per session. */
  def pointInGeom(points: DataFrame, geoms: DataFrame,
                  pointCol: String, geomCol: String, geomKind: String,
                  cellSize: Double = 0, how: String = "inner",
                  leftKey: String = null, rightKey: String = null,
                  salt: Int = 1, adaptiveSalt: Boolean = false,
                  adaptiveMinBytesOverride: Long = -1L): DataFrame = {
    val cs = if (cellSize > 0) cellSize else cellSizeOf(geoms, geomCol)
    // adaptiveMinBytesOverride >= 0 replaces the session conf for this
    // call only — catalog queries and tests that force (or suppress)
    // detection no longer mutate session-global state to do it
    val minBytes = if (adaptiveMinBytesOverride >= 0) adaptiveMinBytesOverride
                   else adaptiveMinBytes(points.sparkSession)
    val (effSalt, hot) =
      if (!adaptiveSalt || salt <= 1) (salt, None)
      else if (points.isStreaming) (salt, None) // no batch job on a stream
      else if (smallInputSide(points, minBytes)) (salt, None) // blanket: cheap
      else mapDetected(salt, detectHotCells(points, points(pointCol), cs))
    if (how == "left")
      // KEYLESS left outer: a point keys exactly one (cell, salt), so
      // the single left-outer grid join preserves multiplicity exactly
      // — one join instead of inner-then-key-rejoin, and no uniqueness
      // contract (`leftKey` is accepted for source compatibility and
      // ignored)
      gridPointJoin(points, geoms, points(pointCol), geoms(geomCol),
        geomKind, cs, "left", None, effSalt, hot)
    else {
      val matched = gridInner(points, geoms, points(pointCol), geoms(geomCol),
        geomKind, cs, effSalt, hot)
      applyGeomHow(points, geoms, matched, how, leftKey, rightKey)
    }
  }

  /**
   * Broadcast-index spatial join — the reference's index-nested-loop
   * sjoin (tools/sjoin.py:136-272) re-expressed for Spark: when the
   * geometry side is dimension-table-sized, collect ONLY (key, bbox)
   * (40 bytes/geometry) to the driver, build a packed [[HilbertRtree]]
   * once, broadcast it, and probe it per point partition — no shuffle of
   * the (huge) point side at all. Candidates are refined with the exact
   * intersection kernel after a (broadcast) key join re-attaches the
   * geometry coordinates.
   *
   * Use when `geoms` fits the driver as bboxes (≲ 10^8 rows); for two
   * large sides use the grid-cell [[pointInGeom]], which stays fully
   * distributed. Inner join; `rightKey` must be unique and long-castable.
   */
  def broadcastPointInGeom(points: DataFrame, geoms: DataFrame,
                           pointCol: String, geomCol: String, geomKind: String,
                           rightKey: String): DataFrame = {
    val spark = points.sparkSession
    // null geometries can match nothing — drop them from the index build
    // (the reference's sjoin skips missing rows the same way)
    val keyed = collectCapped(
      geoms.where(col(geomCol).isNotNull)
        .select(col(rightKey).cast("long"), st_bounds(col(geomCol))),
      "broadcastPointInGeom geometry side", "pointInGeom")
    val n = keyed.length
    val keys = new Array[Long](n)
    val bounds = new Array[Double](n * 4)
    var i = 0
    while (i < n) {
      val r = keyed(i)
      keys(i) = r.getLong(0)
      val b = r.getStruct(1)
      bounds(i * 4) = b.getDouble(0); bounds(i * 4 + 1) = b.getDouble(1)
      bounds(i * 4 + 2) = b.getDouble(2); bounds(i * 4 + 3) = b.getDouble(3)
      i += 1
    }
    val tree = HilbertRtree.build(bounds)
    val bc = spark.sparkContext.broadcast((keys, tree))

    val outSchema = points.schema.add(StructField("__rkey", LongType, nullable = false))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val pIdx = points.schema.fieldIndex(pointCol)
    val probed = points.mapPartitions { it =>
      val (ks, t) = bc.value
      it.flatMap { row =>
        if (row.isNullAt(pIdx)) Iterator.empty
        else {
          val p = row.getStruct(pIdx)
          val x = p.getDouble(0); val y = p.getDouble(1)
          if (x.isNaN) Iterator.empty
          else t.intersects(x, y, x, y).iterator
            .map(j => Row.fromSeq(row.toSeq :+ ks(j)))
        }
      }
    }(enc)

    probed.join(geoms, probed("__rkey") === geoms(rightKey).cast("long"))
      .where(st_intersects(col(pointCol), col(geomCol), geomKind))
      .drop("__rkey")
  }

  /** [[broadcastPointInGeom]] generalized to ANY left geometry kind: the
    * driver-built R-tree over the (small) right side's bboxes is probed
    * with each left row's bbox instead of a point, candidates re-join
    * the right geometry by key, and the full-matrix exact
    * [[graft.Geo.st_geom_intersects]] refines. Zero shuffle of the left
    * side — the geometry twin of the reference's index-nested-loop
    * sjoin. Use when `geoms` fits the driver as bboxes; otherwise
    * [[geomJoin]]/[[geomGridInner]] stay fully distributed. */
  def broadcastGeomJoin(left: DataFrame, geoms: DataFrame,
                        leftCol: String, leftKind: String,
                        geomCol: String, geomKind: String,
                        rightKey: String, how: String = "inner",
                        leftKey: String = null): DataFrame = {
    val spark = left.sparkSession
    val keyed = collectCapped(
      geoms.where(col(geomCol).isNotNull)
        .select(col(rightKey).cast("long"), st_bounds(col(geomCol))),
      "broadcastGeomJoin geometry side", "geomJoin")
    val n = keyed.length
    val keys = new Array[Long](n)
    val bounds = new Array[Double](n * 4)
    var i = 0
    while (i < n) {
      val r = keyed(i)
      keys(i) = r.getLong(0)
      val b = r.getStruct(1)
      bounds(i * 4) = b.getDouble(0); bounds(i * 4 + 1) = b.getDouble(1)
      bounds(i * 4 + 2) = b.getDouble(2); bounds(i * 4 + 3) = b.getDouble(3)
      i += 1
    }
    val tree = HilbertRtree.build(bounds)
    val bc = spark.sparkContext.broadcast((keys, tree))

    require(!left.columns.contains("__lb") && !left.columns.contains("__rkey"),
      "left columns collide with reserved names __lb/__rkey")
    val withB = left.withColumn("__lb", st_bounds(col(leftCol)))
    val outSchema = withB.schema.add(StructField("__rkey", LongType, nullable = false))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val bIdx = withB.schema.fieldIndex("__lb")
    val probed = withB.mapPartitions { it =>
      val (ks, t) = bc.value
      it.flatMap { row =>
        if (row.isNullAt(bIdx)) Iterator.empty
        else {
          val b = row.getStruct(bIdx)
          val x0 = b.getDouble(0); val y0 = b.getDouble(1)
          val x1 = b.getDouble(2); val y1 = b.getDouble(3)
          if (x0.isNaN || y0.isNaN) Iterator.empty // empty/all-NaN geometry
          else t.intersects(x0, y0, x1, y1).iterator
            .map(j => Row.fromSeq(row.toSeq :+ ks(j)))
        }
      }
    }(enc)

    val matched =
      probed.join(geoms, probed("__rkey") === geoms(rightKey).cast("long"))
        .where(st_geom_intersects(col(leftCol), leftKind, col(geomCol), geomKind))
        .drop("__rkey", "__lb")
    applyGeomHow(left, geoms, matched, how, leftKey, rightKey)
  }
}
