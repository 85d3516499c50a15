package graft.io

import graft.Geo._
import graft.api.GeoFrame
import graft.tools.Jobs.describedAs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import LakeFs.lakeConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * Parquet IO with a spatial-statistics sidecar enabling partition (file)
 * pruning at read time — the Spark re-expression of the reference's
 * `_common_metadata` partition_bounds machinery
 * (reference: io/parquet.py:143-275, 411-446, 488-519).
 *
 * Layout: an ordinary Spark parquet dataset plus `_spatial_metadata.json`:
 *   {"version":1, "_commit":N, "partition_bounds": {<geomCol>: {<fileName>: [x0,y0,x1,y1], ...}}}
 * ("version" is the frozen FORMAT version; "_commit" counts CAS writes
 * — see [[sidecarCommit]] for the legacy fallback.)
 *
 * The sidecar and the generation manifest are the two instances of the
 * lake's one commit log, [[VersionedLog]] ([[scLog]] in `_sc/`,
 * [[genLog]] in `_gen/`): ordinal N is one artifact `_sc-N.json` — an
 * O(change) delta (per-file upserts + removals) in steady state, or a
 * full-state checkpoint on the first commit, a full rebuild, or when
 * [[DeltaFoldEvery]] deltas have piled up. The root
 * `_spatial_metadata.json` is the LEGACY base (pre-delta-log datasets),
 * read until the first fold migrates and sweeps it. Readers
 * ([[readSidecarText]]) materialize checkpoint+deltas back into the one
 * canonical text, so every consumer parses exactly what it always did.
 *
 * The bounds table is computed with ONE distributed pass over the written
 * files (group by input_file_name), so nothing is collected to the driver
 * except the tiny per-file table — at 100 TB / 1 GB files that is ~100k
 * rows on the driver, negligible.
 *
 * Every public entry point builds ONE Hadoop conf, [[LakeFs.lakeConf]],
 * and passes it down to its listings, footer opens and log commits; on
 * `file:` it names the lake's local filesystem, which creates files and
 * dirs without forking `chmod`. Every data write goes through one helper,
 * [[writeParquet]], which hands the same keys to Spark's writer as write
 * options; staging writes ([[stageInto]]) also skip the `_SUCCESS`
 * marker, while direct writes to a dataset root keep it.
 */
object GeoParquet {

  val SidecarName = "_spatial_metadata.json"

  /** Generation manifest: data file name → the generation (commit
    * ordinal) that created it. Appends never delete files, so the
    * snapshot at generation g is exactly the files with gen <= g —
    * the minimal time-travel log a merge-on-append lake needs. Packs
    * write generation 0; each [[appendWithSidecar]] /
    * [[appendNumericWithSidecar]] commit records max+1. Single writer
    * per dataset assumed (like the sidecar); files a recorded dataset
    * gains OUTSIDE this API belong to no generation and are invisible
    * to [[readZOrderAtGeneration]]. */
  val GenerationsName = "_generations.json"

  /** Write `gf` as parquet and attach the per-file bounds sidecar. The
    * sidecar covers the active geometry plus `extraGeomCols` — the
    * reference records partition bounds for EVERY geometry column
    * (io/parquet.py:143-182); queries filtering any sidecar'd column get
    * file pruning. */
  def write(gf: GeoFrame, path: String, mode: String = "error",
            extraGeomCols: Seq[String] = Nil): Unit = {
    // validate BEFORE the data write commits (a post-write failure
    // would leave appended files with no sidecar entries and a
    // duplicate batch on retry)
    require(!(gf.geometryCol +: extraGeomCols).contains(RowCountCol),
      s"$RowCountCol is a reserved sidecar name")
    val conf = lakeConf(gf.df.sparkSession)
    writeParquet(gf.df, path, mode, conf)
    rebuildSidecar(gf.df.sparkSession, conf, path, gf.geometryCol +: extraGeomCols)
  }

  /** Hilbert-pack into `numPartitions` then write with sidecar — the
    * reference's pack_partitions_to_parquet (dask.py:207-532) as
    * repartitionByRange + sortWithinPartitions + write. */
  def packPartitionsToParquet(gf: GeoFrame, path: String, numPartitions: Int,
                              p: Int = 15, mode: String = "error",
                              extraGeomCols: Seq[String] = Nil): Unit = {
    require(!(gf.geometryCol +: extraGeomCols).contains(RowCountCol),
      s"$RowCountCol is a reserved sidecar name")
    val packed = gf.packPartitions(numPartitions, p)
    val conf = lakeConf(gf.df.sparkSession)
    writeParquet(packed.df, path, mode, conf)
    rebuildSidecar(gf.df.sparkSession, conf, path, gf.geometryCol +: extraGeomCols)
  }

  /** NUMERIC two-column Z-order data-skipping pack: treat
    * (`xCol`, `yCol`) as a point, hilbert-pack the files so rows close
    * in BOTH dimensions land in the same file, and write the per-file
    * min/max sidecar — the spatial machinery doubling as a lakehouse
    * data-skipping index for ANY numeric pair (ints stay exact as
    * doubles below 2^53). Read back with [[readNumericRange]]: a 2-D
    * range predicate prunes whole FILES from the listing before any
    * footer is opened — the multi-column generalization of single-key
    * range partitioning, where one sorted column skips well but the
    * second skips nothing. */
  def packNumericToParquet(df: DataFrame, xCol: String, yCol: String,
                           path: String, numPartitions: Int,
                           p: Int = 15, mode: String = "error"): Unit = {
    // both internal names must be free: __zpt is WRITTEN (the range
    // read filters on it), and packPartitions would silently OVERWRITE
    // a pre-existing hilbert_distance column with curve values —
    // corrupting user data on read-back
    Seq(ZPointCol, "hilbert_distance").foreach(c =>
      require(!df.columns.contains(c),
        s"input column collides with reserved name $c"))
    val gf = graft.api.GeoFrame(
      df.withColumn(ZPointCol,
        graft.Geo.st_point(col(xCol).cast("double"), col(yCol).cast("double"))),
      ZPointCol, "point")
    // the curve rank is a transient sort key — only the point column
    // persists (the sidecar + residual filter need it)
    val spark = df.sparkSession
    val conf = lakeConf(spark)
    val before = listDataFileSet(conf, path)
    val packed = gf.packPartitions(numPartitions, p).df.drop("hilbert_distance")
    // append mode stages like every concurrent-writer path (exact
    // file list, no shared _temporary, no listing-diff capture);
    // exclusive modes own the directory and write directly
    val staged =
      if (mode.toLowerCase == "append") Some(stageInto(packed, path, conf))
      else { writeParquet(packed, path, mode, conf); None }
    finishPack(spark, conf, path, mode, before,
      newFiles => pointBoundsForFiles(spark, conf, path, newFiles, Seq(ZPointCol)),
      Seq(ZPointCol), staged)
  }

  /** Range read over a [[packNumericToParquet]] dataset: sidecar file
    * pruning + the exact inclusive-box residual filter (the same
    * conservative contract as the spatial read — missing sidecar or
    * unknown files degrade to a full scan, never to wrong results).
    * Inverted ranges normalize like `cx`. Returns the original
    * columns. */
  def readNumericRange(spark: SparkSession, path: String,
                       x0: Double, y0: Double,
                       x1: Double, y1: Double): DataFrame =
    read(spark, path, ZPointCol, "point", Some((x0, y0, x1, y1)))
      .cx(x0, y0, x1, y1).df.drop(ZPointCol)

  private val ZPointCol = "__zpt"

  /** K-COLUMN Z-order data-skipping pack — the general form of
    * [[packNumericToParquet]] for ANY number of numeric columns (the
    * Delta/Iceberg OPTIMIZE ZORDER shape): each column is min-max
    * scaled to a `bitsPerCol`-bit integer rank, the ranks are
    * bit-interleaved into one morton code (a folded codegen'd column
    * expression — no UDF), and the rows are range-partitioned + sorted
    * by the code so rows close in EVERY dimension land in the same
    * file. The sidecar then records per-file min/max for EACH column
    * (the same format as the spatial bounds, stored as the degenerate
    * box [min,min,max,max]), so [[readZOrderRange]] prunes whole files
    * from the listing before any footer opens, on whichever SUBSET of
    * the packed columns a query constrains.
    *
    * Scale shape: ONE tiny stats aggregate (k mins + k maxes to the
    * driver), one range shuffle on the code, one per-file bounds
    * aggregate — the same cost as any pack. Equi-WIDTH scaling: heavy
    * value skew concentrates ranks in few buckets and weakens (never
    * breaks) skipping — pruning is bounds-based and the residual
    * filter is exact, so results stay correct regardless of layout
    * quality. The interleave order cycles bit-major (bit i of every
    * column before bit i-1), giving all k columns equal weight. */
  def packZOrderToParquet(df: DataFrame, cols: Seq[String], path: String,
                          numPartitions: Int, bitsPerCol: Int = 8,
                          mode: String = "error"): Unit = {
    require(cols.nonEmpty && cols.distinct == cols,
      s"need a non-empty distinct column list, got $cols")
    require(bitsPerCol >= 1 && bitsPerCol * cols.length <= 62,
      s"bitsPerCol=$bitsPerCol x ${cols.length} cols must fit a signed long")
    require(!df.columns.contains(ZCodeCol),
      s"input column collides with reserved name $ZCodeCol")
    require(!cols.contains(RowCountCol),
      s"$RowCountCol is a reserved sidecar name")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing column(s): ${missing.mkString(", ")}")
    val spark = df.sparkSession
    val conf = lakeConf(spark)
    val before = listDataFileSet(conf, path)
    // append-mode packs can race a concurrent streaming append:
    // STAGE the sorted output (exact file list, private staging dir)
    // instead of a direct shared-_temporary write + listing diff.
    // Exclusive modes (error/overwrite/ignore-on-absent) own the
    // directory by construction and write directly.
    val staged =
      if (mode.toLowerCase == "append")
        Some(stageInto(zSortedFrame(df, cols, numPartitions, bitsPerCol), path, conf))
      else {
        writeParquet(zSortedFrame(df, cols, numPartitions, bitsPerCol), path, mode, conf)
        None
      }
    // per-file per-column min/max sidecar (degenerate [mn,mn,mx,mx]
    // box), computed over ONLY this pack's files and merged over any
    // surviving sidecar — an append-mode pack neither rescans the
    // existing files nor drops other columns' entries
    finishPack(spark, conf, path, mode, before,
      newFiles => numericBoundsForFiles(spark, conf, path, newFiles, cols),
      cols, staged)
  }

  /** The pack's sort step alone (no write, no sidecar, no manifest):
    * min-max scale, bit-interleave, range-partition + local sort on
    * the morton code. Shared by [[packZOrderToParquet]] and
    * [[compactZOrderGeneration]], whose writes and commits differ. */
  private def zSortedFrame(df: DataFrame, cols: Seq[String],
                           numPartitions: Int, bitsPerCol: Int): DataFrame = {
    // one stats pass: global min/max per column (field 2j = min of
    // cols(j), field 2j+1 = max)
    val statAggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    val statsRow = df.agg(statAggs.head, statAggs.tail: _*).head()
    def stat(i: Int): Double =
      if (statsRow.isNullAt(i)) Double.NaN else statsRow.getDouble(i)
    val mins = cols.indices.map(j => stat(2 * j)).toArray
    val maxs = cols.indices.map(j => stat(2 * j + 1)).toArray
    val k = cols.length
    val top = (1L << bitsPerCol) - 1
    val scaled: Seq[org.apache.spark.sql.Column] = cols.indices.map { j =>
      val (mn, mx) = (mins(j), maxs(j))
      if (mn.isNaN || mx <= mn) lit(0L) // constant or all-null column
      // greatest/least SKIP nulls, so the null case must be explicit
      // for a null value to propagate into a null code
      else when(col(cols(j)).isNull, lit(null).cast("long"))
        .otherwise(least(lit(top), greatest(lit(0L),
          floor((col(cols(j)).cast("double") - mn) / (mx - mn) * (top + 1))
            .cast("long"))))
    }
    // interleave: bit i of column j lands at position i*k + j; bits are
    // disjoint so + folds them (all codegen'd integer ops)
    val code = (0 until bitsPerCol).flatMap { i =>
      (0 until k).map { j =>
        shiftleft(shiftright(scaled(j), i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_ + _)
    // a null in ANY packed column nulls the code (see scaled);
    // coalescing to -1 clusters those rows below every real code
    // instead of scattering them through the min-value files
    df.withColumn(ZCodeCol, coalesce(code, lit(-1L)))
      .repartitionByRange(numPartitions, col(ZCodeCol))
      .sortWithinPartitions(ZCodeCol)
      .drop(ZCodeCol)
  }

  /** Reserved sidecar pseudo-column: per-file ROW COUNTS, stored in the
    * same degenerate-box shape ([n,n,n,n]) so the sidecar format, the
    * merge paths, and vacuum's entry retirement all apply unchanged
    * (pruning readers only consult the columns a query names, so the
    * extra block is invisible to them). Counts are what turn the
    * sidecar into a real metadata layer: COUNT/MIN/MAX at any
    * generation answer from kilobytes with ZERO data IO
    * ([[statsAtGeneration]], [[generationHistory]]). */
  private[graft] val RowCountCol = "__rowcount"

  /** Per-file min/max for numeric columns, in the sidecar's box format
    * (degenerate [mn,mn,mx,mx]), plus the per-file row count under
    * [[RowCountCol]]: one distributed groupBy(input_file_name)
    * aggregate. */
  private[graft] def numericBoundsPerFile(df: DataFrame, cols: Seq[String])
      : Map[String, Map[String, Array[Double]]] = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"${c}__mn"),
      max(col(c).cast("double")).as(s"${c}__mx"))) :+
      count(lit(1)).as("__n")
    val perFile = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    def fileName(uri: String): String = uri.substring(uri.lastIndexOf('/') + 1)
    cols.zipWithIndex.map { case (c, j) =>
      c -> perFile.map { row =>
        val mn = if (row.isNullAt(1 + j * 2)) Double.NaN else row.getDouble(1 + j * 2)
        val mx = if (row.isNullAt(2 + j * 2)) Double.NaN else row.getDouble(2 + j * 2)
        fileName(row.getString(0)) -> Array(mn, mn, mx, mx)
      }.toMap
    }.toMap + (RowCountCol -> perFile.map { row =>
      val n = row.getLong(1 + cols.length * 2).toDouble
      fileName(row.getString(0)) -> Array(n, n, n, n)
    }.toMap)
  }

  /** [[numericBoundsPerFile]] for files whose names (under `path`) are
    * known exactly — the commit-path variant: per-column min/max and
    * row counts come from the PARQUET FOOTERS the write already
    * produced (driver metadata reads, ZERO data IO), with the exact
    * scan aggregate as the per-file fallback whenever a footer's
    * statistics cannot be trusted to equal the scan's answer. At scale
    * this is the difference between an append that commits from
    * kilobytes of metadata and one that re-reads every byte it just
    * wrote (the sidecar values surface verbatim in
    * [[statsAtGeneration]], so "trusted" means EXACTLY equal, not just
    * conservative).
    *
    * A footer column chunk is trusted only when:
    *  - the column is a top-level INT32/INT64 (plain or signed-int
    *    annotated) or FLOAT/DOUBLE (plain) primitive — decimals,
    *    timestamps, unsigned ints have cast semantics the scan defines;
    *  - min/max statistics are present with a set null count;
    *  - a floating min/max is neither NaN nor ±0.0: writers OMIT
    *    float/double stats when NaNs are present (the scan propagates
    *    NaN as the max — Spark orders NaN largest), and the format
    *    rounds ±0.0 outward (-0.0 min / +0.0 max), so a zero endpoint
    *    is ambiguous between the two signed zeros while the scan
    *    returns the stored value.
    * Cast-to-double equals the scan's `min(cast(c as double))` because
    * the eligible casts are monotone non-decreasing, so
    * min(cast(x)) == cast(min(x)) (same for max). 0-row files are
    * OMITTED from every block, exactly like the scan's
    * groupBy(input_file_name) — [[dropEmptyNewFiles]] depends on that.
    * FooterStatsSpec pins footer == scan on every shape above. */
  private[graft] def numericBoundsForFiles(spark: SparkSession,
      conf: Configuration, path: String, files: Seq[String], cols: Seq[String])
      : Map[String, Map[String, Array[Double]]] = {
    val perFile = scala.collection.mutable.HashMap
      .empty[String, (Long, Map[String, Option[(Double, Double)]])]
    val fallback = scala.collection.mutable.ArrayBuffer.empty[String]
    files.foreach { f =>
      footerFileStatsPartial(conf, new HadoopPath(s"$path/$f"), cols) match {
        case Some((rows, stats)) => if (rows > 0) perFile(f) = (rows, stats)
        case None => fallback += f // unreachable with the default schema
                                   // gate; kept as the safe full-scan path
      }
    }
    val trusted: Map[String, Map[String, Array[Double]]] =
      cols.map { c =>
        c -> perFile.collect { case (f, (_, stats)) if stats(c).isDefined =>
          val (mn, mx) = stats(c).get; f -> Array(mn, mn, mx, mx)
        }.toMap
      }.toMap + (RowCountCol -> perFile.map { case (f, (rows, _)) =>
        f -> Array(rows.toDouble, rows.toDouble, rows.toDouble, rows.toDouble)
      }.toMap)
    // PER-COLUMN fallback (r18, guide §6): one untrusted column (e.g. a
    // legitimate ±0.0 float endpoint) no longer drags the file's OTHER
    // columns back to the data scan — only the ambiguous column(s) are
    // scanned, the footers keep serving the rest. Files are grouped by
    // their untrusted column set so each group is one scan aggregate
    // reading exactly the columns it needs (column-pruned at the scan).
    // Row counts always come from the footer block metadata (exact
    // regardless of stats trust); the scan's duplicate RowCountCol
    // values merge over them harmlessly (identical by construction).
    val partialGroups = perFile.toSeq
      .map { case (f, (_, stats)) => f -> cols.filter(c => stats(c).isEmpty) }
      .filter(_._2.nonEmpty)
      .groupBy(_._2)
      .map { case (cs, fs) => cs -> fs.map(_._1) }
    val withPartial = partialGroups.foldLeft(trusted) { case (acc, (cs, fs)) =>
      applyScDelta(acc, ScDelta(describedAs(spark, "lake: bounds scan")(
        numericBoundsPerFile(readFiles(spark, conf, path, fs), cs)), Set.empty))
    }
    if (fallback.isEmpty) withPartial
    else applyScDelta(withPartial, ScDelta(describedAs(spark, "lake: bounds scan")(
      numericBoundsPerFile(readFiles(spark, conf, path, fallback.toSeq), cols)), Set.empty))
  }

  /** [[boundsPerFile]] for POINT-geometry columns over known file names
    * — the spatial twin of [[numericBoundsForFiles]]: a point is the
    * plain struct(x, y) [[graft.Geo.st_point]] writes, its per-row
    * bounds are the coordinates themselves, so a file's bbox is exactly
    * (min x-leaf, min y-leaf, max x-leaf, max y-leaf) — all four sit in
    * the parquet footer the write already produced. Any file whose
    * schema is not point-shaped for every column (line/polygon arrays,
    * extra fields, swapped field order — st_bounds reads positionally,
    * so the names must pin the positions) or whose leaf statistics are
    * not trusted (NaN / ±0.0 endpoints — common for coordinate grids
    * touching 0) falls back to the exact scan aggregate, per file.
    * FooterStatsSpec pins footer == scan here too. */
  private[graft] def pointBoundsForFiles(spark: SparkSession,
      conf: Configuration, path: String, files: Seq[String], geomCols: Seq[String])
      : Map[String, Map[String, Array[Double]]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.{GroupType, MessageType, Type}
    def pointShaped(schema: MessageType): Boolean = geomCols.forall { g =>
      schema.containsField(g) && (schema.getType(Seq(g): _*) match {
        case gt: GroupType if gt.getRepetition != Type.Repetition.REPEATED &&
            gt.getFieldCount == 2 =>
          def dbl(i: Int, name: String): Boolean = {
            val f = gt.getType(i)
            f.isPrimitive && f.getName == name &&
              f.getRepetition != Type.Repetition.REPEATED &&
              f.asPrimitiveType.getPrimitiveTypeName ==
                PrimitiveTypeName.DOUBLE &&
              f.getLogicalTypeAnnotation == null
          }
          dbl(0, "x") && dbl(1, "y")
        case _ => false
      })
    }
    val leaves = geomCols.flatMap(g => Seq(s"$g.x", s"$g.y"))
    val perFile = scala.collection.mutable.HashMap
      .empty[String, (Long, Map[String, (Double, Double)])]
    val fallback = scala.collection.mutable.ArrayBuffer.empty[String]
    files.foreach { f =>
      footerFileStats(conf, new HadoopPath(s"$path/$f"), leaves,
          pointShaped) match {
        case Some((rows, stats)) => if (rows > 0) perFile(f) = (rows, stats)
        case None => fallback += f
      }
    }
    val trusted: Map[String, Map[String, Array[Double]]] =
      geomCols.map { g =>
        g -> perFile.map { case (f, (_, stats)) =>
          val (x0, x1) = stats(s"$g.x")
          val (y0, y1) = stats(s"$g.y")
          f -> Array(x0, y0, x1, y1)
        }.toMap
      }.toMap + (RowCountCol -> perFile.map { case (f, (rows, _)) =>
        f -> Array(rows.toDouble, rows.toDouble, rows.toDouble, rows.toDouble)
      }.toMap)
    if (fallback.isEmpty) trusted
    else applyScDelta(trusted, ScDelta(describedAs(spark, "lake: bounds scan")(
      boundsPerFile(readFiles(spark, conf, path, fallback.toSeq), geomCols)), Set.empty))
  }

  /** One file's (rowCount, per-LEAF (min, max)) from its parquet
    * footer — `leaves` are dot paths ("c" for a top-level primitive,
    * "pt.x" for a struct field) — or None when the file's schema fails
    * `schemaOk` or ANY requested leaf's statistics are not trusted
    * (see [[numericBoundsForFiles]]) — the caller then scans the
    * whole file. An all-null leaf yields (NaN, NaN), the scan's
    * convention. IO errors propagate: the footer belongs to a file this
    * commit just moved into place, so an unreadable footer is real
    * corruption, not a reason to silently fall back. */
  private def footerFileStats(conf: Configuration, file: HadoopPath,
      leaves: Seq[String],
      schemaOk: org.apache.parquet.schema.MessageType => Boolean = _ => true)
      : Option[(Long, Map[String, (Double, Double)])] =
    // all-or-nothing view (the point path: a bbox needs BOTH x and y
    // leaves, so partial trust buys nothing there)
    footerFileStatsPartial(conf, file, leaves, schemaOk).flatMap {
      case (rows, stats) =>
        if (rows == 0) Some((0L, Map.empty))
        else if (stats.valuesIterator.forall(_.isDefined))
          Some((rows, stats.map { case (k, v) => k -> v.get }))
        else None
    }

  /** Per-LEAF variant of [[footerFileStats]] (r18): returns the row
    * count (block metadata — exact regardless of stats trust) plus each
    * requested leaf's bounds, `None` per leaf whose statistics are not
    * trusted — the caller scans ONLY those. Overall None only when the
    * file fails `schemaOk`. The footer comes from [[footer]], so it is
    * read with the options of `conf` (the session's Hadoop conf). */
  private def footerFileStatsPartial(conf: Configuration, file: HadoopPath,
      leaves: Seq[String],
      schemaOk: org.apache.parquet.schema.MessageType => Boolean = _ => true)
      : Option[(Long, Map[String, Option[(Double, Double)]])] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val meta = footer(conf, file)
    if (!schemaOk(meta.getFileMetaData.getSchema)) return None
    val blocks = meta.getBlocks.asScala.toSeq
    val rowCount = blocks.map(_.getRowCount).sum
    if (rowCount == 0) return Some((0L, Map.empty))

    def leafStats(c: String): Option[(Double, Double)] = {
      var mn = Double.PositiveInfinity
      var mx = Double.NegativeInfinity
      var nonNull = 0L
      blocks.foreach { b =>
        val cc = b.getColumns.asScala
          .find(_.getPath.toDotString == c)
          .getOrElse(return None)
        val pt = cc.getPrimitiveType
        val floating = pt.getPrimitiveTypeName match {
          case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => true
          case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 => false
          case _ => return None
        }
        pt.getLogicalTypeAnnotation match {
          case null => ()
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
            if i.isSigned => ()
          case _ => return None
        }
        val st = cc.getStatistics
        if (st == null || !st.isNumNullsSet) return None
        val chunkNonNull = cc.getValueCount - st.getNumNulls
        if (chunkNonNull > 0) {
          if (!st.hasNonNullValue) return None
          // NaN from toD means either an unexpected stats box (defense
          // — the physical-type gate above should make it impossible)
          // or a stored floating NaN: both distrust the footer
          def toD(v: Any): Double = v match {
            case d: java.lang.Double => d.doubleValue()
            case f: java.lang.Float => f.doubleValue()
            case l: java.lang.Long => l.doubleValue()
            case i: java.lang.Integer => i.doubleValue()
            case _ => Double.NaN
          }
          val cmn = toD(st.genericGetMin)
          val cmx = toD(st.genericGetMax)
          if (cmn.isNaN || cmx.isNaN ||
              (floating && (cmn == 0.0 || cmx == 0.0))) return None
          nonNull += chunkNonNull
          if (cmn < mn) mn = cmn
          if (cmx > mx) mx = cmx
        }
      }
      Some(if (nonNull == 0) (Double.NaN, Double.NaN) else (mn, mx))
    }

    Some((rowCount, leaves.map(c => c -> leafStats(c)).toMap))
  }

  /** The parquet footer of `file`, the one footer open of the lake (the
    * stats path above and the schema of [[readFiles]]). Its read options
    * are built from `conf`, the caller's session Hadoop conf, so
    * session-level `parquet.*` read settings apply. The
    * `ParquetFileReader.open(InputFile)` overload would build them from
    * a fresh default Configuration instead: about 10 ms per open, and
    * blind to the session's settings. */
  private[graft] def footer(conf: Configuration, file: HadoopPath)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())
    try reader.getFooter finally reader.close()
  }

  /** Reads exactly the data files `names` under `path`: the lake's one
    * explicit-file read. The schema is what Spark's own inference would
    * give for the same list under the session's SQLConf, but it is
    * taken from footers on the driver, so no schema-inference job runs
    * and planning the read starts no Spark job:
    *  - normally from the footer of the first name by path, which is
    *    the file Spark's inference reads (it sorts the files by path);
    *  - with `spark.sql.parquet.mergeSchema=true`, every listed
    *    footer's schema folded in that order with StructType.merge under
    *    the session's case sensitivity, as Spark's merging inference
    *    folds them.
    * An empty `names` reads zero rows with the schema of `listing` (the
    * pinned listing the selection was pruned from); only when that is
    * empty too does the whole directory supply it, through Spark's
    * listing and inference. */
  private[graft] def readFiles(spark: SparkSession, conf: Configuration,
      path: String, names: Seq[String], listing: Seq[String] = Nil): DataFrame = {
    import org.apache.parquet.hadoop.Footer
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    import org.apache.spark.sql.graftbridge.Bridge
    val schemaFiles = (if (names.nonEmpty) names else listing).sorted
    if (schemaFiles.isEmpty) return spark.read.parquet(path).limit(0)
    val sqlConf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(sqlConf)
    def schemaOf(f: String) = {
      val p = new HadoopPath(s"$path/$f")
      ParquetFileFormat.readSchemaFromFooter(new Footer(p, footer(conf, p)), converter)
    }
    val schema =
      if (sqlConf.isParquetSchemaMergingEnabled)
        schemaFiles.map(schemaOf).reduceLeft(
          Bridge.mergeSchema(_, _, sqlConf.caseSensitiveAnalysis))
      else schemaOf(schemaFiles.head)
    val reader = spark.read.schema(schema)
    if (names.nonEmpty) reader.parquet(names.map(f => s"$path/$f"): _*)
    else reader.parquet(s"$path/${schemaFiles.head}").limit(0)
  }

  /** Append a batch to a [[packZOrderToParquet]] dataset and update the
    * per-column sidecar INCREMENTALLY — the numeric twin of
    * [[appendWithSidecar]] (bounds computed only over the files this
    * append created, merged into the existing sidecar; single writer
    * assumed, like any file sink; use from foreachBatch for streaming
    * ingest). Appended files are clustered within the batch only —
    * file-level pruning stays CORRECT regardless (stats per file), but
    * a long append history overlaps more files per query box; re-pack
    * with [[packZOrderToParquet]] periodically (the compaction step)
    * to restore global clustering. */
  def appendNumericWithSidecar(batch: DataFrame, path: String,
                               cols: Seq[String]): Unit = {
    // validate BEFORE the append commits: a bad column list must not
    // leave freshly-written files with no sidecar entries (permanently
    // unprunable until re-pack) and a duplicate batch on retry
    require(cols.nonEmpty && cols.distinct == cols,
      s"need a non-empty distinct column list, got $cols")
    require(!cols.contains(RowCountCol),
      s"$RowCountCol is a reserved sidecar name")
    val missing = cols.filterNot(batch.columns.contains)
    require(missing.isEmpty, s"missing column(s): ${missing.mkString(", ")}")
    appendWithBoundsOf(batch, path, cols,
      (conf, files) => numericBoundsForFiles(batch.sparkSession, conf, path, files, cols))
  }

  /** Shared skeleton of the two incremental-append paths: STAGE the
    * batch into a private hidden directory, move its (job-UUID-named,
    * collision-free) part files into the dataset, compute bounds over
    * exactly those files, merge into the existing sidecar preserving
    * other columns' entries, commit the generation. Staging avoids the
    * shared `_temporary/0` of a direct mode("append") write — two
    * CONCURRENT appends there have the first job's commit delete the
    * second's in-flight task files (the classic FileOutputCommitter
    * hazard); with per-writer staging the appends compose, matching
    * the manifest CAS. A crash after some moves leaves surfaced-
    * not-silent torn state (warnUnrecorded / adoptUnrecordedFiles);
    * a crash before any move leaves only an invisible dot-dir. */
  private def appendWithBoundsOf(batch: DataFrame, path: String,
      cols: Seq[String],
      boundsFn: (Configuration, Seq[String]) => Map[String, Map[String, Array[Double]]])
      : Unit = {
    val spark = batch.sparkSession
    val conf = lakeConf(spark)
    val root = new HadoopPath(path)
    val fs = root.getFileSystem(conf)
    val before = listDataFiles(fs, root).toSet
    val staged = describedAs(spark, "lake: stage append")(
      stageInto(batch, path, conf))
    if (staged.nonEmpty) {
      val boundsAll = boundsFn(conf, staged)
      // 0-row parts never enter the dataset (see [[dropEmptyNewFiles]]);
      // an all-empty batch appends NOTHING — no sidecar write, no
      // generation (an idle streaming ingest no longer accretes empty
      // files and empty commits)
      val (newFiles, newBounds, _) = dropEmptyNewFiles(
        fs, root, staged, boundsAll, cols, keepSchemaFileIfAllEmpty = false)
      if (newFiles.nonEmpty) {
        // outer-merge into whatever sidecar exists, under the update
        // path's read-back retry — appending with a subset of columns
        // preserves the others' (and the row-count block's) entries even
        // against a concurrent writer
        commitSidecar(conf, path, newBounds, Set.empty)
        commitGenState(conf, path, appendCommit(path, before, newFiles))
      }
    }
  }

  /** Spark's file writer creates a part file per TASK, including 0-row
    * tasks (an empty scan split, a filtered-empty partition) — at
    * sf0.1 a filtered lineitem append reliably writes one. A 0-row
    * file must never enter the dataset: the bounds pass (a groupBy
    * over input_file_name) yields NO sidecar entries for it, so it
    * would carry a manifest entry with no row count, permanently
    * degrading the metadata-only stats paths ([[statsAtGeneration]],
    * [[generationHistory]]) for its generation — the r11
    * zorder_stats_history sf0.1 failure — and cost every future
    * reader a footer open for zero rows. Files absent from `fresh`'s
    * [[RowCountCol]] block are exactly the 0-row ones (count(lit(1))
    * covers every row regardless of nulls). When ALL parts are empty
    * and the caller needs a schema-preserving file (a fresh pack, or
    * compacting an empty snapshot), ONE file is kept with EXPLICIT
    * zero-count + unknown-bounds entries so the dataset stays readable
    * and countable. Returns (kept files, bounds to merge, dropped
    * names); a delete failure leaves an unrecorded file plain reads
    * see as 0 rows — warned, never fatal. */
  private def dropEmptyNewFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: HadoopPath, files: Seq[String],
      fresh: Map[String, Map[String, Array[Double]]], cols: Seq[String],
      keepSchemaFileIfAllEmpty: Boolean)
      : (Seq[String], Map[String, Map[String, Array[Double]]], Set[String]) = {
    val nonEmpty = fresh.getOrElse(RowCountCol, Map.empty).keySet
    val (keep, empty) = files.partition(nonEmpty)
    def delete(names: Seq[String]): Unit = {
      val failed = names.filterNot { f =>
        try fs.delete(new HadoopPath(root, f), false)
        catch { case _: java.io.IOException => false }
      }
      if (failed.nonEmpty)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"could not delete 0-row part file(s) ${failed.mkString(", ")} " +
            s"under $root — harmless (no rows, no manifest entry) but " +
            "unreclaimed until a manual delete")
    }
    if (keep.nonEmpty || !keepSchemaFileIfAllEmpty || files.isEmpty) {
      delete(empty)
      (keep, fresh, empty.toSet)
    } else {
      val head = files.head
      delete(files.tail)
      val explicit = cols.map(c => c -> Map(head ->
        Array(Double.NaN, Double.NaN, Double.NaN, Double.NaN))).toMap +
        (RowCountCol -> Map(head -> Array(0.0, 0.0, 0.0, 0.0)))
      (Seq(head), applyScDelta(fresh, ScDelta(explicit, Set.empty)), files.tail.toSet)
    }
  }

  /** Write `df` into a private hidden staging directory under `root`,
    * move its (job-UUID-named, collision-free) part files into the
    * dataset, and return EXACTLY those names. This is the write shape
    * for every path a concurrent writer is possible on: a direct
    * mode("append") write shares `_temporary/0` (one job's commit
    * deletes another's in-flight task files), and a before/after
    * listing diff can capture a CONCURRENT writer's files — staging
    * eliminates both. A crash after some moves leaves surfaced-
    * not-silent torn state (warnUnrecorded / adoptUnrecordedFiles); a
    * crash before any move leaves only an invisible dot-dir. The
    * staging write leaves out the `_SUCCESS` marker: nothing reads it
    * there, and the staging dir is deleted whole. */
  private def stageInto(df: DataFrame, path: String, conf: Configuration,
                        prefix: String = ""): Seq[String] = {
    val root = new HadoopPath(path)
    val fs = root.getFileSystem(conf)
    val staging = new HadoopPath(root,
      s".staging-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      writeParquet(df, staging.toString, "error", conf,
        Map("mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false"))
      val parts = fs.listStatus(staging).filter(_.isFile)
        .map(_.getPath.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith(".")).sorted
        .map(prefix + _)
      parts.foreach { n =>
        if (!fs.rename(new HadoopPath(staging, n.drop(prefix.length)),
            new HadoopPath(root, n)))
          throw new java.io.IOException(
            s"failed to move staged file $n into $root")
      }
      parts.toSeq
    } finally {
      try fs.delete(staging, true)
      catch { case _: java.io.IOException => () }
    }
  }

  /** The lake's one parquet write: Spark's writer, with `conf`'s lake
    * keys ([[LakeFs.writeOptions]]) and `extra` as write options, so the
    * driver's committer and the executors' part files use the lake's
    * `file:` implementation too. */
  private def writeParquet(df: DataFrame, path: String, mode: String,
                           conf: Configuration,
                           extra: Map[String, String] = Map.empty): Unit =
    df.write.mode(mode).options(LakeFs.writeOptions(conf) ++ extra).parquet(path)

  /** Compaction output carries this name prefix so readers can tell an
    * IN-FLIGHT (or aborted) rewrite's files — renamed into the live
    * directory before the tombstoning commit, their rows still live in
    * the files they rewrite — from a foreign append, which must stay
    * conservatively visible. Without the marker the two are
    * indistinguishable and a reader racing a compaction double-counts
    * every rewritten row. Files named `rw-*` by anything other than
    * [[compactZOrderGeneration]] are out of contract. */
  private[graft] val RewritePrefix = "rw-"

  /** The CURRENT-snapshot view of a PINNED directory listing,
    * reconciled against a manifest read AFTER the listing was taken
    * (list first: a manifest read before the listing can miss the very
    * tombstones explaining rewrite files the listing then picks up).
    * Rules, each per rewrite generation so commits that land after the
    * pin cannot void the guard:
    *  - a tombstone applies only when its rewrite's output is fully
    *    present in the listing — otherwise the pre-rewrite snapshot
    *    stands (a listing pinned before the compaction is a consistent
    *    stale snapshot; dropping its tombstoned files would lose rows);
    *  - rewrite output participates only as a COMPLETE set: a listing
    *    pinned mid-rename must not mix both copies of the same rows;
    *  - files a vacuum may already have deleted (removed <= minGen)
    *    are not required present — a live file must never be dropped
    *    because its long-dead generation siblings were reclaimed;
    *  - an unrecorded [[RewritePrefix]] file is an in-flight or
    *    aborted compaction's output: dropped, never double-read. Other
    *    unrecorded files are foreign appends, kept conservatively. */
  private[graft] def reconcileListing(listed: Seq[String],
                                      stOpt: Option[GenState]): Seq[String] =
    stOpt match {
      case None => listed
      case Some(st) =>
        val names = listed.toSet
        val required = st.files.toSeq
          .filter { case (_, e) => e.removed < 0 || e.removed > st.minGen }
          .groupBy(_._2.added)
        // memoized per generation: a big compaction puts ~all entries
        // at ONE generation, and an unmemoized forall per listed file
        // would make planning O(listed x generation size) — quadratic
        // exactly after the largest rewrites
        val fullyMemo = scala.collection.mutable.HashMap.empty[Int, Boolean]
        def fullyListed(g: Int): Boolean = fullyMemo.getOrElseUpdate(g,
          required.getOrElse(g, Nil).forall { case (f, _) => names.contains(f) })
        listed.filter { f =>
          st.files.get(f) match {
            case Some(e) =>
              (e.removed < 0 || !fullyListed(e.removed)) &&
                (!st.rewrites(e.added) || fullyListed(e.added))
            case None => !f.startsWith(RewritePrefix)
          }
        }
    }

  /** [[reconcileListing]] plus an existence probe on the files it kept
    * WITHOUT manifest backing. Vacuum's tombstone compaction drops
    * dead entries from the manifest, so a listing pinned BEFORE a
    * vacuum's delete and reconciled against the post-compaction
    * manifest sees the deleted file as unrecorded — the conservative
    * keep would hand a vanished path to the scan (FileNotFound at
    * execution; pre-compaction the persistent tombstone excluded it).
    * Unrecorded files are rare (foreign appends / torn commits, warned
    * on every commit), so the probe costs zero extra RPCs on the
    * steady path; manifest-RECORDED files are never probed — a
    * vanished recorded-live file is real corruption and must fail
    * loudly, never silently shrink the snapshot. A probe that itself
    * fails keeps the file (conservative: a loud scan failure beats
    * silently dropping live rows). */
  private[graft] def reconcileListingProbed(
      fs: org.apache.hadoop.fs.FileSystem, root: HadoopPath,
      listed: Seq[String], stOpt: Option[GenState]): Seq[String] = {
    val kept = reconcileListing(listed, stOpt)
    stOpt match {
      case None => kept
      case Some(st) =>
        val unrecorded = kept.filterNot(st.files.contains)
        if (unrecorded.isEmpty) kept
        else {
          // several unrecorded files: ONE fresh listing answers every
          // probe at once (serial exists() would cost O(foreign files)
          // round-trips per read on an object store); a single file
          // keeps the cheaper point probe. Probe failure = keep
          // (conservative: a loud scan failure beats dropping live rows).
          val present: String => Boolean =
            if (unrecorded.sizeIs > 1)
              try listDataFiles(fs, root).toSet
              catch { case _: java.io.IOException => (_: String) => true }
            else f =>
              try fs.exists(new HadoopPath(root, f))
              catch { case _: java.io.IOException => true }
          kept.filter { f =>
            st.files.contains(f) || {
              val ok = present(f)
              if (!ok)
                org.slf4j.LoggerFactory.getLogger(getClass).info(
                  s"dropping $f from a pinned listing of $root: unrecorded " +
                    "and no longer on disk (listing straddled a vacuum's " +
                    "tombstone compaction)")
              ok
            }
          }
        }
    }
  }

  /** The append-commit shape shared by the incremental appends and
    * append-mode packs: this commit's files land at currentGen+1; a
    * pre-manifest dataset back-fills its existing files as generation
    * 0 (and the new files as 1; 0 alone when the dataset is brand
    * new). Surfaces unrecorded pre-existing files on every commit. */
  private def appendCommit(path: String, before: Set[String],
      newFiles: Seq[String]): Option[GenState] => GenState = {
    case Some(st) if st.files.nonEmpty =>
      warnUnrecorded(path, before -- st.files.keySet)
      // the listing diff can include a CONCURRENT writer's files —
      // never re-stamp an entry another commit already recorded
      st.copy(files = st.files ++
        newFiles.filterNot(st.files.keySet)
          .map(_ -> GenEntry(st.currentGen + 1, -1)))
    case st =>
      val backfill =
        if (before.isEmpty) newFiles.map(_ -> GenEntry(0, -1))
        else before.toSeq.map(_ -> GenEntry(0, -1)) ++
          newFiles.map(_ -> GenEntry(1, -1))
      GenState(st.map(_.commit).getOrElse(0), 0, backfill.toMap)
  }

  /** A data file on disk but absent from the manifest is either a
    * foreign append (legitimate under the single-writer contract —
    * visible to plain reads, invisible to time travel) or OUR OWN torn
    * commit (crash between the data write and the manifest write).
    * The two are indistinguishable, so commits SURFACE them instead of
    * silently letting snapshots shrink; [[adoptUnrecordedFiles]] is
    * the explicit repair. */
  private def warnUnrecorded(path: String, unrecorded: Set[String]): Unit =
    if (unrecorded.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$path has ${unrecorded.size} data file(s) outside the " +
          s"generation manifest (${unrecorded.toSeq.sorted.take(5).mkString(", ")}" +
          (if (unrecorded.size > 5) ", ..." else "") + ") — a foreign " +
          "append or a torn commit; they are visible to plain reads " +
          "but belong to no time-travel snapshot. Call " +
          "GeoParquet.adoptUnrecordedFiles to fold them into a new " +
          "generation.")

  /** Data files on disk that belong to no generation (foreign appends
    * or torn commits — see [[warnUnrecorded]]). Empty when the dataset
    * has no manifest at all. */
  def unrecordedFiles(spark: SparkSession, path: String): Seq[String] = {
    val conf = lakeConf(spark)
    readGenState(path, conf) match {
      case None => Nil
      case Some(st) => (listDataFileSet(conf, path) -- st.files.keySet)
        .toSeq.sorted
    }
  }

  /** Explicit repair for torn commits: fold every unrecorded data file
    * into a NEW generation, making the manifest agree with what plain
    * reads already return. Returns the adopted file names (empty =
    * nothing to do, no commit written). Sidecar entries are NOT
    * invented for them — pruning degrades to conservative-keep, which
    * is always correct. Unrecorded [[RewritePrefix]] files are NEVER
    * adopted: they are an in-flight or aborted compaction's output,
    * duplicate copies of rows still live in the files they rewrite —
    * adopting them would double every rewritten row. Readers drop
    * them; reclaiming the bytes is a manual delete. */
  def adoptUnrecordedFiles(spark: SparkSession, path: String): Seq[String] = {
    val found = unrecordedFiles(spark, path)
      .filterNot(_.startsWith(RewritePrefix))
    if (found.isEmpty) return Nil
    commitGenState(lakeConf(spark), path, {
      case Some(st) =>
        // recompute inside the CAS loop: a racing commit may have
        // recorded some of them already
        val fresh = found.filterNot(st.files.keySet)
        st.copy(files = st.files ++
          fresh.map(_ -> GenEntry(st.currentGen + 1, -1)))
      case None => throw new IllegalArgumentException(
        s"no generation manifest at $path")
    })
    found
  }

  /** Range read over a [[packZOrderToParquet]] dataset: for each
    * (column, lo, hi) predicate — any SUBSET of the packed columns —
    * drop files whose stored [min,max] misses the (normalized,
    * inclusive) interval, then apply the exact BETWEEN residual filter.
    * Same conservative contract as every sidecar reader: missing
    * sidecar, uncovered column, unknown or NaN-bounded files degrade
    * to "keep", never to wrong results.
    *
    * Racing a compaction: the listing is PINNED before the manifest
    * read and reconciled per rewrite generation ([[reconcileListing]]),
    * so the result is always ONE consistent snapshot — pre- or
    * post-compaction, never a mix that loses or double-counts the
    * rewritten rows. A reader that must observe one fixed snapshot
    * across several calls should pin it explicitly with
    * [[readZOrderAtGeneration]]. */
  def readZOrderRange(spark: SparkSession, path: String,
                      ranges: Seq[(String, Double, Double)]): DataFrame = {
    require(ranges.nonEmpty, "need at least one (column, lo, hi) range")
    val conf = lakeConf(spark)
    val root = new HadoopPath(path)
    val fs = root.getFileSystem(conf)
    // listing FIRST, manifest second (see [[reconcileListing]]): the
    // old order read removedSet before listing, so a compaction
    // committing in between had its tombstones missed while its output
    // files made the listing — every rewritten row read twice
    val listed = listDataFiles(fs, root).toSeq.sorted
    val stOpt = readGenState(path, conf)
    // read the sidecar ONCE and hand it down (it grows with file and
    // column count; a second read per call is pure duplicated IO on an
    // object store)
    val sidecar = readSidecarText(path, conf)
    val current = reconcileListingProbed(fs, root, listed, stOpt)
    // a MANIFESTED or sidecar'd flat dataset always reads through the
    // reconciled pinned listing: a whole-directory fallback would
    // RE-LIST at scan planning and pick up files the pin never saw —
    // an in-flight compaction's rw-* output double-counts every
    // rewritten row. The whole-directory read (partition discovery
    // intact, exact residual only) remains only for layouts the pin
    // cannot describe: no graft metadata at all, or a non-flat layout
    // (empty top-level listing, e.g. hive subdirs someone attached a
    // sidecar to) — degrade to keep, never to zero rows.
    if (listed.nonEmpty && (stOpt.nonEmpty || sidecar.nonEmpty))
      readZOrderSubset(spark, conf, path, Some(current), ranges, sidecar)
    else
      readZOrderSubset(spark, conf, path, None, ranges, None)
  }

  /** TIME-TRAVEL read over a packed+appended dataset: the snapshot at
    * generation `gen` is exactly the files the manifest records with
    * generation <= gen (appends never delete). Optional `ranges` get
    * the same sidecar file pruning + exact residual as
    * [[readZOrderRange]] — per-file stats stay valid for any subset of
    * the files. Fails fast when the dataset has no manifest (it was
    * not written through the pack/append API) or `gen` is unrecorded. */
  def readZOrderAtGeneration(spark: SparkSession, path: String, gen: Int,
                             ranges: Seq[(String, Double, Double)] = Nil)
      : DataFrame = {
    require(gen >= 0, s"generation must be >= 0, got $gen")
    val conf = lakeConf(spark)
    val st = readGenState(path, conf).getOrElse(throw
      new IllegalArgumentException(s"no generation manifest at $path — " +
        "the dataset was not written via the graft pack/append API"))
    require(st.files.nonEmpty,
      s"generation manifest at $path records no data files")
    val latest = st.currentGen
    require(gen <= latest,
      s"generation $gen not recorded at $path (latest is $latest)")
    require(gen >= st.minGen,
      s"generation $gen at $path was vacuumed (oldest readable is ${st.minGen})")
    readZOrderSubset(spark, conf, path, Some(st.liveAt(gen)),
      ranges, readSidecarText(path, conf))
  }

  /** Latest recorded generation ordinal (0 = the initial pack). */
  def currentGeneration(spark: SparkSession, path: String): Int = {
    val st = readGenState(path, lakeConf(spark)).getOrElse(throw
      new IllegalArgumentException(s"no generation manifest at $path"))
    require(st.files.nonEmpty,
      s"generation manifest at $path records no data files")
    st.currentGen
  }

  /** Oldest generation still readable (0 until a vacuum advances it). */
  def minReadableGeneration(spark: SparkSession, path: String): Int = {
    val st = readGenState(path, lakeConf(spark)).getOrElse(throw
      new IllegalArgumentException(s"no generation manifest at $path"))
    st.minGen
  }

  /** INCREMENTAL change read (the Delta-CDF shape for an append-only
    * lake): the rows that ARRIVED in generations (fromGen, toGen] —
    * exactly the files those commits added, so the cost is the new
    * data alone, never a diff of two snapshots. Generations a
    * compaction committed are REWRITES of existing rows, not arrivals,
    * and are skipped (the manifest records them), so an incremental
    * consumer polling `(lastSeen, current]` never re-reads the corpus
    * because maintenance re-clustered it. Optional `ranges` get the
    * usual sidecar pruning + exact residual. Fails fast if any
    * in-window file was vacuumed away (the changes are no longer
    * reconstructible) — never a silently partial result. */
  def readZOrderChanges(spark: SparkSession, path: String,
                        fromGen: Int, toGen: Int,
                        ranges: Seq[(String, Double, Double)] = Nil)
      : DataFrame = {
    require(fromGen >= -1 && fromGen <= toGen,
      s"need -1 <= fromGen <= toGen, got ($fromGen, $toGen]")
    val conf = lakeConf(spark)
    val st = readGenState(path, conf).getOrElse(throw
      new IllegalArgumentException(s"no generation manifest at $path — " +
        "the dataset was not written via the graft pack/append API"))
    require(st.files.nonEmpty,
      s"generation manifest at $path records no data files")
    require(toGen <= st.currentGen,
      s"generation $toGen not recorded at $path (latest is ${st.currentGen})")
    // a window reaching below the oldest readable generation is not
    // reconstructible: its files may have been vacuumed, and their
    // manifest entries tombstone-compacted away entirely (the per-file
    // check below cannot see a dropped entry) — fail fast, never a
    // silently partial result
    require(fromGen + 1 >= st.minGen,
      s"changes in ($fromGen, $toGen] at $path reach below the oldest " +
        s"readable generation ${st.minGen} — its files may have been " +
        "vacuumed away (and their entries compacted); the window is no " +
        "longer reconstructible")
    val window = st.files.toSeq.collect {
      case (f, e) if e.added > fromGen && e.added <= toGen &&
        !st.rewrites(e.added) => (f, e)
    }
    val vacuumed = window.collect {
      case (f, e) if e.removed >= 0 && e.removed <= st.minGen => f
    }
    require(vacuumed.isEmpty,
      s"changes in ($fromGen, $toGen] at $path include vacuumed file(s) " +
        s"${vacuumed.sorted.take(3).mkString(", ")}" +
        (if (vacuumed.size > 3) ", ..." else "") +
        " — the window is no longer reconstructible")
    val files = window.map(_._1).sorted
    if (files.isEmpty)
      // schema-stable empty result (e.g. a window holding only a
      // compaction commit): ONE live file carries the schema — planning
      // over the whole head for a guaranteed-empty frame is wasted IO
      readZOrderSubset(spark, conf, path, Some(st.liveAt(st.currentGen).take(1)),
        ranges, None).limit(0)
    else
      readZOrderSubset(spark, conf, path, Some(files), ranges,
        readSidecarText(path, conf))
  }

  /** METADATA-ONLY stats: COUNT(*) plus per-column MIN/MAX of the
    * snapshot at generation `gen`, answered from the manifest + sidecar
    * alone — kilobytes of driver-side reads, ZERO data IO, zero Spark
    * jobs (the classic lakehouse trick; at 100 TB this is the
    * difference between a dashboard refresh and a full scan). Per-file
    * row counts ride the sidecar under the reserved [[RowCountCol]]
    * block written by every pack/append/compaction since r11. Fails
    * fast when any live file lacks a count or column entry (a foreign
    * append or a pre-r11 sidecar) — degrading to a scan is the
    * CALLER's call, never a silent one. A column all-null within a
    * file contributes no min/max (NaN entries skipped), matching
    * SQL MIN/MAX null semantics; an all-null column yields NaN
    * sentinels. Returns (rowCount, col -> (min, max)). */
  def statsAtGeneration(spark: SparkSession, path: String, gen: Int,
                        cols: Seq[String]): (Long, Map[String, (Double, Double)]) = {
    require(cols.distinct == cols, s"duplicate column in $cols")
    val conf = lakeConf(spark)
    val st = readGenState(path, conf).getOrElse(throw
      new IllegalArgumentException(s"no generation manifest at $path"))
    require(st.files.nonEmpty,
      s"generation manifest at $path records no data files")
    require(gen >= st.minGen && gen <= st.currentGen,
      s"generation $gen unreadable at $path " +
        s"(readable: [${st.minGen}, ${st.currentGen}])")
    val live = st.liveAt(gen)
    val text = readSidecarText(path, conf).getOrElse(throw
      new IllegalArgumentException(s"no sidecar at $path"))
    val counts = parseSidecar(text, RowCountCol)
    val missingN = live.filterNot(counts.contains)
    require(missingN.isEmpty,
      s"metadata-only stats unavailable at $path: no row count for " +
        s"${missingN.take(3).mkString(", ")}" +
        (if (missingN.size > 3) ", ..." else "") +
        " (pre-r11 sidecar or foreign file) — run a pack/compaction to refresh")
    val n = live.map(f => counts(f)(0).toLong).sum
    val perCol = cols.map { c =>
      val entries = parseSidecar(text, c)
      val missing = live.filterNot(entries.contains)
      require(missing.isEmpty,
        s"metadata-only stats unavailable at $path: column $c has no " +
          s"bounds for ${missing.take(3).mkString(", ")}" +
          (if (missing.size > 3) ", ..." else ""))
      val boxes = live.map(entries).filter(v => !v(0).isNaN || !v(2).isNaN)
      if (boxes.isEmpty) c -> (Double.NaN, Double.NaN)
      else c -> (boxes.map(_(0)).min, boxes.map(_(2)).max)
    }.toMap
    (n, perCol)
  }

  /** DESCRIBE HISTORY twin: one row per generation — (generation,
    * isRewrite, filesAdded, rowsAdded) — computed from the manifest +
    * sidecar row counts alone (no data IO). `rowsAdded` of a rewrite
    * generation counts the rows the compaction REWROTE, not new
    * arrivals. Vacuumed generations leave the history entirely once
    * their tombstones are compacted (vacuum's final commit); a
    * generation some of whose files were vacuumed but whose entries
    * survive (delete failed) reports rowsAdded = -1, surfacing that
    * the count is no longer known. */
  def generationHistory(spark: SparkSession, path: String)
      : Seq[(Int, Boolean, Int, Long)] = {
    val conf = lakeConf(spark)
    val st = readGenState(path, conf).getOrElse(throw
      new IllegalArgumentException(s"no generation manifest at $path"))
    require(st.files.nonEmpty,
      s"generation manifest at $path records no data files")
    val counts = readSidecarText(path, conf)
      .map(parseSidecar(_, RowCountCol)).getOrElse(Map.empty)
    st.files.groupBy(_._2.added).toSeq.sortBy(_._1).map { case (g, fs) =>
      val names = fs.keys.toSeq
      val rows =
        if (names.forall(counts.contains))
          names.map(f => counts(f)(0).toLong).sum
        else -1L
      (g, st.rewrites(g), names.size, rows)
    }
  }

  /** OPTIMIZE-shaped compaction that PRESERVES time travel: re-cluster
    * the current snapshot globally (the same min-max scale + morton
    * interleave + range sort as the pack) into fresh files committed
    * as a NEW generation, while the superseded files stay on disk and
    * every prior generation stays readable — the old re-pack
    * (mode="overwrite") destroyed the manifest, making compaction and
    * time travel mutually exclusive. The current-snapshot readers
    * ([[readZOrderRange]], plain [[readZOrderAtGeneration]] at the new
    * head) see ONLY the compacted files; [[vacuumGenerations]] is the
    * retention dual that eventually deletes the superseded ones.
    *
    * Scale shape: one read of the live files + one pack (stats pass,
    * range shuffle, bounds aggregate) — the cost of the data ONCE, no
    * history rescans. Returns the new head generation. Concurrent
    * appends that land between the snapshot read and the commit stay
    * live untouched (only the files this call actually rewrote are
    * tombstoned), so no row is ever lost to the race. */
  def compactZOrderGeneration(spark: SparkSession, path: String,
                              cols: Seq[String], numPartitions: Int,
                              bitsPerCol: Int = 8): Int = {
    require(cols.nonEmpty && cols.distinct == cols,
      s"need a non-empty distinct column list, got $cols")
    require(bitsPerCol >= 1 && bitsPerCol * cols.length <= 62,
      s"bitsPerCol=$bitsPerCol x ${cols.length} cols must fit a signed long")
    require(!cols.contains(RowCountCol),
      s"$RowCountCol is a reserved sidecar name")
    val conf = lakeConf(spark)
    val st = readGenState(path, conf).getOrElse(throw
      new IllegalArgumentException(s"no generation manifest at $path — " +
        "only pack/append-API datasets can be compacted"))
    require(st.files.nonEmpty,
      s"generation manifest at $path records no data files")
    val snapshotGen = st.currentGen
    val live = st.liveAt(snapshotGen)
    require(live.nonEmpty, s"empty current snapshot at $path")
    val df = readFiles(spark, conf, path, live)
    require(!df.columns.contains(ZCodeCol),
      s"input column collides with reserved name $ZCodeCol")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing column(s): ${missing.mkString(", ")}")
    // STAGED write (reads pin their file lists at planning, so reading
    // the live files while staging fresh ones is safe): the new-file
    // list is exact, so a concurrent append's files can never be
    // captured, mis-stamped as rewrite output, or destroyed by the
    // abort cleanup below
    val root = new HadoopPath(path)
    val fs = root.getFileSystem(conf)
    // rewrite output is marked by name (see [[RewritePrefix]]): until
    // the tombstoning commit lands these files duplicate live rows,
    // and the marker is what lets a racing reader drop them
    val staged = describedAs(spark, "lake: compact")(stageInto(
      zSortedFrame(df, cols, numPartitions, bitsPerCol), path, conf,
      prefix = RewritePrefix))
    val liveSet = live.toSet
    // the abort cleanup below must only touch files still on disk:
    // the 0-row-part drop deletes some staged files pre-commit, so
    // the var narrows from the full staged list to the kept one
    var newFiles: Seq[String] = staged
    // EVERYTHING after the staged files became visible runs under the
    // cleanup: a failure anywhere (empty-output require, sidecar
    // contention, vanished manifest, commit abort) must not leave a
    // full duplicate copy of the snapshot on disk
    try {
      require(newFiles.nonEmpty, s"compaction of $path produced no files")
      // sidecar: ADD the compacted files' bounds, KEEP the superseded
      // files' entries — they still prune reads at pre-compaction
      // generations (vacuum is what retires them)
      val freshAll = numericBoundsForFiles(spark, conf, path, newFiles, cols)
      // 0-row parts never enter the snapshot (see [[dropEmptyNewFiles]]);
      // an all-empty rewrite (compacting an empty snapshot) keeps ONE
      // schema-preserving file with explicit zero-count entries so the
      // head generation stays readable and countable
      val (kept, fresh, _) = dropEmptyNewFiles(
        fs, root, staged, freshAll, cols, keepSchemaFileIfAllEmpty = true)
      newFiles = kept
      commitSidecar(conf, path, fresh, Set.empty)
      commitGenState(conf, path, {
        case Some(cur) if newFiles.forall(cur.files.keySet) =>
          // CONVERGED RE-APPLICATION: commitGenState re-invokes this
          // update when an adoption or success-path marker cleanup
          // voided our ownership AFTER the commit landed. The staged
          // names are unique to this call (uuid part files), so all of
          // them being recorded means OUR commit applied — return the
          // state unchanged and let the converged no-op guard resolve
          // quietly. Without this arm, rivalTaken below reads our own
          // freshly-landed tombstones as a rival compaction and aborts
          // (with cleanup) a compaction that in fact succeeded.
          cur
        case Some(cur) =>
          // another compaction tombstoning ANY of our snapshot means
          // both rewrote the same rows — recording ours too would
          // leave two live copies of every row at the head. Abort;
          // concurrent APPENDS are safe (they stay live untouched),
          // concurrent COMPACTION is a single-maintainer contract this
          // makes detected, not assumed.
          val taken = rivalTaken(liveSet, cur)
          if (taken.nonEmpty) throw new java.util.ConcurrentModificationException(
            s"concurrent compaction at $path already rewrote " +
              s"${taken.toSeq.sorted.take(3).mkString(", ")}" +
              (if (taken.size > 3) ", ..." else ""))
          val g = cur.currentGen + 1
          cur.copy(files = cur.files.map { case (f, e) =>
            // tombstone ONLY the files this call rewrote; anything a
            // concurrent commit added meanwhile stays live
            if (e.removed < 0 && liveSet(f)) f -> e.copy(removed = g)
            else f -> e
            // newFiles is the EXACT staged list (ours alone); the
            // filterNot is pure defense against a replayed commit
          } ++ newFiles.filterNot(cur.files.keySet)
              .map(_ -> GenEntry(g, -1)),
            // a compaction generation REWRITES rows, it does not add
            // them — change readers (readZOrderChanges) skip it
            rewrites = cur.rewrites + g)
        case None => throw new IllegalStateException(
          s"generation manifest at $path vanished mid-compaction")
      }).currentGen
    } catch {
      // cleanup on ANY failure after the staged files became visible
      // (concurrent-compaction abort, CAS contention, read-back
      // mismatch, sidecar contention, vanished manifest, empty-output
      // require): newFiles is the exact staged list — every one OURS,
      // none committed (the commit is what failed), so retiring and
      // deleting them can never touch a concurrent writer's data. The
      // defensive manifest re-read still excludes anything a replayed
      // commit might have recorded; its own failure (flaky store) must
      // not mask the original error or skip the cleanup entirely
      case e if scala.util.control.NonFatal(e) =>
        val strays = (try readGenState(path, conf) catch {
          case se if scala.util.control.NonFatal(se) =>
            e.addSuppressed(se); None
        }) match {
          case Some(cur) => newFiles.filterNot(cur.files.keySet)
          case None => newFiles
        }
        // retire the strays' sidecar entries FIRST (left behind they
        // are phantom bounds/row-counts no vacuum can ever reclaim,
        // and partitionSindex would index nonexistent files), then
        // remove the files themselves
        val straySet = strays.toSet
        try commitSidecar(conf, path, Map.empty, straySet)
        catch { case se if scala.util.control.NonFatal(se) =>
          e.addSuppressed(se) }
        // Hadoop delete signals failure by RETURNING false — check it;
        // a file that survives is a duplicate copy of live rows that
        // plain reads would double-count and adoptUnrecordedFiles
        // would permanently bless
        val failed = strays.filterNot { f =>
          try fs.delete(new HadoopPath(root, f), false)
          catch { case _: java.io.IOException => false }
        }
        if (failed.nonEmpty)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"aborted compaction at $path could not delete " +
              s"${failed.take(5).mkString(", ")}" +
              (if (failed.size > 5) ", ..." else "") +
              " — these are DUPLICATE copies of live rows; delete them " +
              "manually, do NOT adoptUnrecordedFiles them")
        throw e
    }
  }

  /** The compaction-vs-compaction guard: which of OUR snapshot files a
    * rival rewrite already claimed by the time we commit. TOMBSTONED
    * (removed >= 0) is the direct signal; ABSENT from the manifest
    * counts too — vacuum's tombstone compaction never drops a live
    * (removed = -1) entry, so a snapshot file can vanish only via a
    * rival rewrite whose tombstones were since compacted away (or a
    * manifest replacement), and committing our rewrite on top would
    * leave two live copies of every row at the head. */
  private[graft] def rivalTaken(liveSet: Set[String],
                                cur: GenState): Set[String] =
    liveSet.filter(f => cur.files.get(f).forall(_.removed >= 0))

  /** Retention dual of [[compactZOrderGeneration]]: keep the newest
    * `retain` generations BEHIND the head readable (retain=0 keeps
    * only the head) and physically delete every file visible in none
    * of them. The manifest commit advances `minGen` FIRST, so a crash
    * mid-delete leaves unreadable-but-present files that the next
    * vacuum finishes off (reads never see them: they are tombstoned).
    * Tombstone ENTRIES stay in the manifest as an audit trail — only
    * data files and their sidecar entries are reclaimed. Returns the
    * names of the files deleted. */
  def vacuumGenerations(spark: SparkSession, path: String,
                        retain: Int): Seq[String] = {
    require(retain >= 0, s"retain must be >= 0, got $retain")
    val conf = lakeConf(spark)
    val st0 = readGenState(path, conf).getOrElse(throw
      new IllegalArgumentException(s"no generation manifest at $path"))
    require(st0.files.nonEmpty,
      s"generation manifest at $path records no data files")
    val st = commitGenState(conf, path, {
      case Some(cur) => cur.copy(minGen =
        math.max(cur.minGen, math.max(0, cur.currentGen - retain)))
      case None => throw new IllegalStateException(
        s"generation manifest at $path vanished mid-vacuum")
    })
    // a file is invisible at EVERY readable generation g >= minGen
    // exactly when removed <= minGen (visibility needs removed > g)
    val root = new HadoopPath(path)
    val fs = root.getFileSystem(conf)
    // tombstones from an EARLIER vacuum recompute as dead every run;
    // intersecting with ONE directory listing (not one exists RPC per
    // tombstone — history grows forever) keeps the return value honest
    // (only what this call actually reclaims) and the step idempotent
    val present = listDataFiles(fs, root).toSet
    val dead = st.files.collect {
      case (f, e) if e.removed >= 0 && e.removed <= st.minGen &&
        present(f) => f
    }.toSeq.sorted
    val deleted =
      if (dead.isEmpty) Nil
      else {
        // retire the dead files' sidecar entries so the sidecar tracks
        // only readable files (pruning of remaining generations is
        // unaffected — per-file stats are independent)
        val deadSet = dead.toSet
        commitSidecar(conf, path, Map.empty, deadSet)
        // Hadoop FileSystem.delete signals failure by RETURNING false,
        // not throwing — silently trusting it reported ghosts as
        // reclaimed. A failed delete is warned and left out of the
        // return value; the file is still tombstoned (reads never see
        // it) and the next vacuum retries it (dead is recomputed from
        // the listing).
        val (ok, failed) = deleteQuietlyEach(fs, root, dead)
        if (failed.nonEmpty)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"vacuum at $path could not delete ${failed.size} dead file(s) " +
              s"(${failed.take(5).mkString(", ")}" +
              (if (failed.size > 5) ", ..." else "") +
              ") — invisible to reads (tombstoned); the next vacuum retries")
        ok
      }
    // TOMBSTONE COMPACTION — the manifest-scale bound. An entry with
    // removed <= minGen whose file is OFF DISK is invisible to every
    // readable generation (visibility needs removed > g >= minGen), to
    // reconcileListing (which only requires files with removed >
    // minGen), and to every changes window a reader is still allowed
    // to ask for (readZOrderChanges fails fast below minGen) — so it
    // is pure dead weight the old design kept forever, O(history) in
    // the one file every commit re-parses and re-renders. Dropping it
    // bounds the manifest at ~(live files + readable-window
    // tombstones). A dead entry whose DELETE FAILED is kept: its file
    // is still on disk, and dropping the entry would let it be
    // mistaken for an adoptable foreign append (duplicate rows).
    // On-disk derives from the listing already taken: `present` minus
    // what this call just deleted (failed deletes stay; names never
    // reappear) — no second paginated listing RPC per vacuum.
    val onDisk = present -- deleted
    val droppable = st.files.collect {
      case (f, e) if e.removed >= 0 && e.removed <= st.minGen &&
        !onDisk(f) => f
    }.toSet
    if (droppable.nonEmpty)
      commitGenState(conf, path, {
        case Some(cur) =>
          // re-check against the CURRENT state inside the CAS loop; a
          // racing vacuum may have advanced minGen further (harmless)
          // but never backwards
          val kept = cur.files.filterNot { case (f, e) =>
            droppable(f) && e.removed >= 0 && e.removed <= cur.minGen
          }
          // a rewrite generation none of whose added files survive is
          // below the horizon on every axis (its adds were themselves
          // tombstoned at <= minGen): readers can never list its files
          // or ask for its window, so its _rw marker is dead weight —
          // without this the _rw list grows O(compactions ever), the
          // same growth law the entry compaction just removed
          val addedGens = kept.valuesIterator.map(_.added).toSet
          cur.copy(files = kept, rewrites = cur.rewrites.filter(addedGens))
        case None => throw new IllegalStateException(
          s"generation manifest at $path vanished mid-vacuum")
      })
    deleted
  }

  /** Delete each name under `root`, partitioning into (deleted,
    * failed): Hadoop FileSystem.delete reports failure by returning
    * false OR throwing (filesystem-dependent) — both count as failed,
    * neither aborts the sweep. */
  private[graft] def deleteQuietlyEach(fs: org.apache.hadoop.fs.FileSystem,
      root: HadoopPath, names: Seq[String]): (Seq[String], Seq[String]) =
    names.partition { f =>
      try fs.delete(new HadoopPath(root, f), false)
      catch { case _: java.io.IOException => false }
    }

  /** Shared body of the range and at-generation reads: sidecar file
    * pruning restricted to `files` (None = whole-directory read, the
    * missing-sidecar fallback), then the exact residual filters.
    * Missing sidecar / unknown files degrade to keep — never to wrong
    * results. */
  private def readZOrderSubset(spark: SparkSession, conf: Configuration, path: String,
                               files: Option[Seq[String]],
                               ranges: Seq[(String, Double, Double)],
                               sidecar: Option[String])
      : DataFrame = {
    val norm = ranges.map { case (c, a, b) => (c, math.min(a, b), math.max(a, b)) }
    val df = files match {
      case None => spark.read.parquet(path)
      case Some(fl) =>
        val keep = sidecar match {
          case Some(text) if norm.nonEmpty =>
            val perCol = norm.map { case (c, lo, hi) => (parseSidecar(text, c), lo, hi) }
            fl.filter { name =>
              perCol.forall { case (m, lo, hi) =>
                m.get(name) match {
                  // degenerate box: vals(0)=min, vals(2)=max (NaN compares
                  // false on both arms -> conservative keep)
                  case Some(vals) if vals.length == 4 =>
                    !(vals(2) < lo || vals(0) > hi)
                  case _ => true
                }
              }
            }
          case _ => fl
        }
        readFiles(spark, conf, path, keep, fl)
    }
    norm.foldLeft(df) { case (d, (c, lo, hi)) =>
      // NaN bounds (e.g. min/max of an empty aggregate) match nothing,
      // exactly like SQL BETWEEN — without this, the integral branch's
      // ceil/floor would turn NaN into a spurious [0, 0] interval
      if (lo.isNaN || hi.isNaN) d.where(lit(false))
      else d.schema(c).dataType match {
        // integral columns: [lo, hi] ⇔ col >= ceil(lo) AND
        // col <= floor(hi) EXACTLY, in the column's own type — a
        // cast-to-double comparison would be equivalent but the cast
        // on the attribute blocks parquet predicate pushdown (no
        // PushedFilters → no row-group/page skipping inside kept files)
        case t @ (org.apache.spark.sql.types.ByteType |
                  org.apache.spark.sql.types.ShortType |
                  org.apache.spark.sql.types.IntegerType |
                  org.apache.spark.sql.types.LongType) =>
          // clamp to the type's own range too: every stored value lies
          // inside it, so clamping keeps the filter exact while the
          // literal cast below stays ANSI-safe
          val (tMin, tMax) = t match {
            case org.apache.spark.sql.types.ByteType => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
            case org.apache.spark.sql.types.ShortType => (Short.MinValue.toLong, Short.MaxValue.toLong)
            case org.apache.spark.sql.types.IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
            case _ => (Long.MinValue, Long.MaxValue)
          }
          // toLong saturates for |bound| >= 2^63, which would silently
          // WIDEN a lower bound above Long.MaxValue — catch those first
          if (lo >= Long.MaxValue.toDouble || hi < Long.MinValue.toDouble)
            d.where(lit(false))
          else {
            val loL = math.max(math.ceil(lo).toLong, tMin)
            val hiL = math.min(math.floor(hi).toLong, tMax)
            if (loL > hiL) d.where(lit(false))
            else d.where(col(c) >= lit(loL).cast(t) && col(c) <= lit(hiL).cast(t))
          }
        case _ =>
          d.where(col(c).cast("double").between(lo, hi))
      }
    }
  }

  private val ZCodeCol = "__zcode"

  /** Compute per-file bounds for the geometry columns and write the
    * sidecar JSON. One distributed aggregate per call. */
  def writeSidecar(spark: SparkSession, path: String, geomCols: Seq[String]): Unit =
    rebuildSidecar(spark, lakeConf(spark), path, geomCols)

  private def rebuildSidecar(spark: SparkSession, conf: Configuration,
                             path: String, geomCols: Seq[String]): Unit = {
    require(!geomCols.contains(RowCountCol),
      s"$RowCountCol is a reserved sidecar name")
    // full rebuild, but still through the versioned update path so a
    // concurrent incremental append can't be silently clobbered;
    // point-shaped files rebuild from footers (zero data IO), others
    // scan — per file, see pointBoundsForFiles
    val fresh = pointBoundsForFiles(spark, conf, path,
      listDataFileSet(conf, path).toSeq.sorted, geomCols)
    commitSidecar(conf, path, Map.empty, Set.empty, replace = Some(fresh))
  }

  /** Per-file bounds for each geometry column: one distributed
    * groupBy(input_file_name) aggregate over `df`. */
  private[graft] def boundsPerFile(df: DataFrame, geomCols: Seq[String])
      : Map[String, Map[String, Array[Double]]] = {
    // central guard: every geo pack/write path funnels here, and a
    // column literally named __rowcount would have its bounds block
    // clobbered by the counts (wrong pruning, not a fail-fast)
    require(!geomCols.contains(RowCountCol),
      s"$RowCountCol is a reserved sidecar name")
    val aggs = geomCols.flatMap { g =>
      val b = st_bounds(col(g))
      Seq(min(b.getField("x0")).as(s"${g}__x0"), min(b.getField("y0")).as(s"${g}__y0"),
          max(b.getField("x1")).as(s"${g}__x1"), max(b.getField("y1")).as(s"${g}__y1"))
    } :+ count(lit(1)).as("__n")
    val perFile = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    def fileName(uri: String): String = uri.substring(uri.lastIndexOf('/') + 1)
    geomCols.zipWithIndex.map { case (g, gi) =>
      g -> perFile.map { row =>
        val base = 1 + gi * 4
        val vals = (0 until 4).map { i =>
          if (row.isNullAt(base + i)) Double.NaN else row.getDouble(base + i)
        }.toArray
        fileName(row.getString(0)) -> vals
      }.toMap
    }.toMap + (RowCountCol -> perFile.map { row =>
      // geo lakes carry the per-file row counts too, so a spatial
      // dataset's COUNT at any generation is a metadata-only answer
      // exactly like the numeric lake's
      val n = row.getLong(1 + geomCols.length * 4).toDouble
      fileName(row.getString(0)) -> Array(n, n, n, n)
    }.toMap)
  }

  /** Render the sidecar JSON (NaN bounds serialize as null, the same
    * convention parseSidecar reads back). `version` is the FORMAT
    * version, frozen at 1; `_commit` is the CAS write ordinal the
    * update path bumps — conflating the two (the pre-r13 shape used
    * "version" as the counter) meant a format bump could never be
    * told apart from a busy writer. Legacy sidecars without "_commit"
    * read their "version" as the ordinal. */
  private[graft] def renderSidecar(m: Map[String, Map[String, Array[Double]]],
                            commit: Int = 0): String =
    s"""{"version":1,"_commit":$commit,"partition_bounds":{""" +
      renderBounds(m) + "}}"

  /** The bounds blocks both sidecar artifacts carry (the checkpoint's
    * `partition_bounds`, the delta's `ups`): `"<col>":{"<file>":[...]}`
    * sorted by column, then file; NaN renders as null. */
  private def renderBounds(m: Map[String, Map[String, Array[Double]]]): String =
    m.toSeq.sortBy(_._1).map { case (g, files) =>
      val entries = files.toSeq.sortBy(_._1).map { case (f, vals) =>
        "\"" + f + "\":[" +
          vals.map(v => if (v.isNaN) "null" else v.toString).mkString(",") + "]"
      }
      "\"" + g + "\":{" + entries.mkString(",") + "}"
    }.mkString(",")

  /** One column block's body (`"<file>":[v,...],...`) back to file ->
    * bounds, for both sidecar artifacts: `null` reads as NaN, and an
    * empty `[]` as an empty array — renderBounds emits it verbatim, and
    * split(',') on "" would fail the entry, turning a committed sidecar
    * into one no later read, commit or fold could parse. */
  private def parseEntries(block: String): Map[String, Array[Double]] =
    "\"([^\"]+)\":\\[([^\\]]*)\\]".r.findAllMatchIn(block).map { m =>
      val body = m.group(2).trim
      m.group(1) -> (if (body.isEmpty) Array.empty[Double]
        else body.split(',').map { s =>
          val t = s.trim
          if (t == "null") Double.NaN else t.toDouble
        })
    }.toMap

  /** Bounds maps compared by value (NaN-aware, unlike ==). */
  private def sameBounds(a: Map[String, Map[String, Array[Double]]],
                         b: Map[String, Map[String, Array[Double]]]): Boolean =
    a.keySet == b.keySet && a.forall { case (c, fa) =>
      val fb = b(c)
      fa.keySet == fb.keySet &&
        fa.forall { case (f, v) => java.util.Arrays.equals(v, fb(f)) }
    }

  /** The sidecar's CAS write ordinal: "_commit" in the current shape,
    * falling back to "version" for legacy sidecars that used it as the
    * counter. The key is anchored to the text head (both fields are
    * machine-rendered before "partition_bounds"), so a file named
    * `"_commit"` deep in a bounds block can never shadow it. */
  private[graft] def sidecarCommit(text: String): Option[Int] = {
    val head = text.substring(0, math.min(text.length,
      math.max(0, text.indexOf("\"partition_bounds\""))))
    "\"_commit\":(\\d+)".r.findFirstMatchIn(head)
      .orElse("\"version\":(\\d+)".r.findFirstMatchIn(head))
      .map(_.group(1).toInt)
  }

  /** One sidecar change: per-column per-file bounds UPSERTS plus file
    * REMOVALS (a removed file's entries leave every column, including
    * the row-count block). This is the unit a delta file records —
    * every update path (append / compaction / vacuum / abort-cleanup)
    * is expressible as one, and re-applying a change on top of a
    * concurrent writer's commit converges (upserts are per-file puts,
    * removals per-file deletes). Equality compares the bounds by value,
    * as the commit's self-round-trip needs. */
  private[graft] final case class ScDelta(
      ups: Map[String, Map[String, Array[Double]]], del: Set[String]) {
    override def equals(o: Any): Boolean = o match {
      case d: ScDelta => del == d.del && sameBounds(ups, d.ups)
      case _ => false
    }
    override def hashCode: Int = del.hashCode
  }

  /** `d` applied to bounds `st`: removals leave every column, then a
    * column-level outer + file-level inner merge of the upserts (an
    * upsert-only delta is how fresh per-file bounds merge into existing
    * ones; columns the change does not name stay untouched). */
  private[graft] def applyScDelta(
      st: Map[String, Map[String, Array[Double]]], d: ScDelta)
      : Map[String, Map[String, Array[Double]]] = {
    val removed =
      if (d.del.isEmpty) st
      else st.map { case (c, m) => c -> (m -- d.del) }
    if (d.ups.isEmpty) removed
    else (removed.keySet ++ d.ups.keySet).map { c =>
      c -> (removed.getOrElse(c, Map.empty) ++ d.ups.getOrElse(c, Map.empty))
    }.toMap
  }

  private[graft] def renderScDelta(d: ScDelta): String =
    """{"version":1,"del":[""" +
      d.del.toSeq.sorted.map("\"" + _ + "\"").mkString(",") +
      """],"ups":{""" + renderBounds(d.ups) + "}}"

  /** Strict parse of [[renderScDelta]]'s canonical shape (commit-time
    * self-round-trip guarantees nothing else is ever on disk). */
  private[graft] def parseScDelta(json: String, where: String): ScDelta = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"unparseable sidecar delta at $where: $msg")
    val delMarker = "\"del\":["
    val di = json.indexOf(delMarker)
    if (di < 0) fail("missing del block")
    val dEnd = json.indexOf(']', di + delMarker.length)
    if (dEnd < 0) fail("unterminated del block")
    val del = "\"([^\"]+)\"".r
      .findAllMatchIn(json.substring(di + delMarker.length, dEnd))
      .map(_.group(1)).toSet
    val upsMarker = "\"ups\":{"
    val ui = json.indexOf(upsMarker, dEnd)
    if (ui < 0) fail("missing ups block")
    var pos = ui + upsMarker.length
    val ups = Map.newBuilder[String, Map[String, Array[Double]]]
    while (pos < json.length && json.charAt(pos) == '"') {
      val nameEnd = json.indexOf("\":{", pos + 1)
      if (nameEnd < 0) fail("bad column block")
      val blockEnd = json.indexOf('}', nameEnd + 3)
      if (blockEnd < 0) fail("unterminated column block")
      ups += json.substring(pos + 1, nameEnd) ->
        parseEntries(json.substring(nameEnd + 3, blockEnd))
      pos = blockEnd + 1
      if (pos < json.length && json.charAt(pos) == ',') pos += 1
    }
    ScDelta(ups.result(), del)
  }

  /** The one sidecar update path (append / pack / compaction / vacuum /
    * abort-cleanup / full rebuild): one commit of [[scLog]], normally an
    * O(change) delta of `ups` and `dels`; `replace` (a full rebuild)
    * writes a checkpoint. The sidecar is advisory for PRUNING
    * (conservative-keep), but its row-count block is load-bearing for
    * metadata stats, hence the full commit protocol. A change already in
    * the sidecar (no removal hits a recorded file, every upsert matches
    * the recorded bounds) writes nothing; the test is O(change), not an
    * O(live) render. */
  private def commitSidecar(conf: Configuration, path: String,
      ups: Map[String, Map[String, Array[Double]]],
      dels: Set[String],
      replace: Option[Map[String, Map[String, Array[Double]]]] = None)
      : Unit = {
    val change = ScDelta(ups, dels)
    scLog.commit(conf, path, (cur, n) => {
      val next = replace.getOrElse(applyScDelta(
        cur.fold(Map.empty[String, Map[String, Array[Double]]])(_.bounds), change))
      val noop = cur match {
        case None => next.isEmpty // nothing to fabricate
        case Some(c) => replace match {
          case Some(r) => sameBounds(r, c.bounds)
          case None =>
            dels.forall(f => !c.bounds.exists(_._2.contains(f))) &&
              ups.forall { case (col, files) => files.forall { case (f, v) =>
                c.bounds.get(col).flatMap(_.get(f))
                  .exists(java.util.Arrays.equals(_, v)) } }
        }
      }
      if (noop) None
      else Some((new ScState(n, next), if (replace.isEmpty) Some(change) else None))
    })
  }

  /** Names of the data files directly under `root` (excludes metadata
    * and hidden files) — the single definition shared by the reader's
    * conservative pruning and the incremental append. */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                            root: HadoopPath): Array[String] =
    if (!fs.exists(root)) Array.empty
    // isFile: a hive-partitioned layout keeps its data in SUBDIRS —
    // those are not flat data files and must never enter the sidecar,
    // the append diff, or the generation manifest
    else fs.listStatus(root).filter(_.isFile).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))

  /** Append a batch to the dataset and update the sidecar INCREMENTALLY:
    * bounds are computed only over the files this append created (diff
    * of the directory listing) and merged into the existing sidecar —
    * the streaming-ingestion write path (use from foreachBatch; single
    * writer per dataset assumed, like any file-sink). */
  def appendWithSidecar(batch: DataFrame, path: String,
                        geomCols: Seq[String]): Unit = {
    require(geomCols.nonEmpty && geomCols.distinct == geomCols,
      s"need a non-empty distinct column list, got $geomCols")
    require(!geomCols.contains(RowCountCol),
      s"$RowCountCol is a reserved sidecar name")
    val missing = geomCols.filterNot(batch.columns.contains)
    require(missing.isEmpty, s"missing column(s): ${missing.mkString(", ")}")
    appendWithBoundsOf(batch, path, geomCols,
      (conf, files) => pointBoundsForFiles(batch.sparkSession, conf, path, files, geomCols))
  }

  /** The sidecar log's state: the CAS ordinal and the bounds blocks.
    * `text` is the canonical text: verbatim when the state was read
    * straight from one artifact (so a pre-delta-log root sidecar reads
    * back byte-identical), rendered once otherwise. Equality compares
    * the bounds by value, as the commit's self-round-trip needs. */
  private[graft] final class ScState(val commit: Int,
      val bounds: Map[String, Map[String, Array[Double]]],
      source: Option[String] = None) {
    lazy val text: String = source.getOrElse(renderSidecar(bounds, commit))
    override def equals(o: Any): Boolean = o match {
      case s: ScState => commit == s.commit && sameBounds(bounds, s.bounds)
      case _ => false
    }
    override def hashCode: Int = commit
  }

  /** The sidecar as a [[VersionedLog]] in `_sc/`: checkpoints are
    * [[renderSidecar]] texts (head `{"version":1,"_commit":`), deltas
    * [[renderScDelta]] texts (head `{"version":1,"del":[`); the root
    * `_spatial_metadata.json` is the pre-delta-log base. */
  private[graft] val scLog = new VersionedLog[ScState, ScDelta](
    dirName = "_sc", artPrefix = "_sc-", markerPrefix = ".sccommit-",
    idPrefix = "_scid-", label = "sidecar", legacyRoot = SidecarName,
    ordinal = _.commit,
    renderState = _.text,
    parseState = (t, _) =>
      new ScState(sidecarCommit(t).getOrElse(0), parseSidecarAll(t), Some(t)),
    renderDelta = renderScDelta,
    parseDelta = parseScDelta,
    kindOf = { text =>
      val t = text.trim
      if (t.startsWith("{\"version\":1,\"_commit\":")) Some(true)
      else if (t.startsWith("{\"version\":1,\"del\":[")) Some(false)
      else None
    },
    applyDelta = (s, d, n) => new ScState(n, applyScDelta(s.bounds, d)))

  /** Sidecar text via the Hadoop FileSystem API, so every helper works
    * on any supported filesystem (file:, hdfs://, s3a://, ...) exactly
    * like the planner rule. None when no sidecar exists. The text is
    * the MATERIALIZED current state: checkpoint plus deltas, rendered
    * as one canonical sidecar, so every consumer parses exactly what it
    * always did; a state read from one artifact returns its bytes. */
  private[graft] def readSidecarText(path: String, conf: Configuration): Option[String] =
    scLog.read(path, conf).map(_._1.text)

  /** Read a dataset, pruning files whose stored bounds do not intersect
    * `bounds` (x0, y0, x1, y1). Mirrors read_parquet_dask's partition
    * filtering: file-level pruning only, no residual row filter
    * (reference: io/parquet.py:411-446). Falls back to a plain read when
    * no sidecar exists.
    *
    * A dataset with a manifest, and a bounded read pruned by a sidecar,
    * read the pinned, reconciled file list through [[readFiles]]: the
    * schema comes from a footer on the driver (merged over the listed
    * footers under `spark.sql.parquet.mergeSchema`), so planning the
    * read runs no Spark job. A pruned-empty selection reads zero rows
    * with the schema of the pinned listing. Directory reads (no
    * manifest, or a non-flat layout) keep Spark's own listing and
    * schema inference, which runs one job, because they need partition
    * discovery. */
  def read(spark: SparkSession, path: String, geomCol: String, kind: String,
           bounds: Option[(Double, Double, Double, Double)] = None): GeoFrame = {
    val conf = lakeConf(spark)
    val sidecarText = bounds.flatMap(_ => readSidecarText(path, conf))
    // normalize inverted rects like GeoFrame.cx does: the residual
    // filters callers compose (cx, intersects_bounds) normalize, and a
    // raw inverted box here would prune files INSIDE the intended
    // range — silent row loss, not conservatism
    val normBounds = bounds.map { case (a, b, c, d) =>
      (math.min(a, c), math.min(b, d), math.max(a, c), math.max(b, d))
    }
    // files a compaction tombstoned are not part of the current
    // snapshot even though they stay on disk for time travel — every
    // read path must exclude them, not just readZOrderRange. Listing
    // PINNED before the manifest read, reconciled per rewrite
    // generation (see [[reconcileListing]]).
    val root = new HadoopPath(path)
    val fsH = root.getFileSystem(conf)
    val listed = listDataFiles(fsH, root).toSeq.sorted
    val stOpt = readGenState(path, conf)
    val current = reconcileListingProbed(fsH, root, listed, stOpt)
    // the no-pruning fallback: a MANIFESTED dataset always reads its
    // reconciled pinned listing (a whole-dir read would RE-LIST at
    // scan planning and pick up an in-flight compaction's rw-* output
    // the pin never saw — double-counting every rewritten row); the
    // whole directory only without a manifest, or for non-flat
    // layouts (manifests only ever name flat files)
    def unprunedRead(): DataFrame =
      if (stOpt.isEmpty || listed.isEmpty) spark.read.parquet(path)
      else readFiles(spark, conf, path, current, listed)
    val df = (normBounds, sidecarText) match {
      case (Some((qx0, qy0, qx1, qy1)), Some(text)) =>
        val perFile = parseSidecar(text, geomCol)
        // Conservative pruning, mirroring the planner rule: a sidecar
        // that doesn't cover this column prunes nothing, and data files
        // the sidecar doesn't mention (e.g. appended after the sidecar
        // was written) are always kept. NaN bounds compare false → kept.
        if (perFile.isEmpty) unprunedRead()
        else {
          val keep = current.filter { name =>
            perFile.get(name) match {
              case Some(Array(x0, y0, x1, y1)) =>
                !(x1 < qx0 || x0 > qx1 || y1 < qy0 || y0 > qy1)
              case _ => true // unknown file: conservative keep
            }
          }
          // an EMPTY listing with a non-empty sidecar means the data
          // does not live in flat top-level files (e.g. a partitioned
          // subdir layout someone attached a sidecar to) — degrade to
          // the full read, never to zero rows
          if (listed.isEmpty) spark.read.parquet(path)
          else readFiles(spark, conf, path, keep, listed)
        }
      case _ => unprunedRead()
    }
    GeoFrame(df, geomCol, kind)
  }

  /** Read a CSV (header, any options via `options`) whose `wktCol`
    * column holds WKT text, parsing it into a geometry column — the
    * text-format ingestion twin of the parquet reader (reference's
    * from_geopandas entry point over a different container). The parse
    * is a per-row expression, so it streams at scan parallelism. */
  def readCsvWkt(spark: SparkSession, path: String, wktCol: String,
                 kind: String, geomCol: String = "geometry",
                 options: Map[String, String] =
                   Map("header" -> "true", "inferSchema" -> "true")): GeoFrame = {
    val df = spark.read.options(options).csv(path)
      .withColumn(geomCol, st_geomfromtext(col(wktCol), kind))
      .drop(wktCol)
    GeoFrame(df, geomCol, kind)
  }

  /** Write a frame as CSV with the geometry serialized to WKT. */
  def writeCsvWkt(gf: GeoFrame, path: String, mode: String = "error",
                  wktCol: String = "wkt"): Unit =
    gf.df.withColumn(wktCol, st_astext(gf.geometry, gf.kind))
      .drop(gf.geometryCol)
      .write.mode(mode).option("header", "true").csv(path)

  /** Read a parquet dataset whose `wkbCol` holds WKB blobs — the
    * geopandas/GeoParquet interchange shape (their files store geometry
    * as WKB binary columns) — decoding into this engine's nested-array
    * geometry. The decode is a per-row expression at scan parallelism;
    * the binary column is dropped after decode. `kind` must name the
    * payloads' geometry type (kind="line" also accepts MultiLineString
    * payloads, rejoined as pen-up lines). */
  def readWkb(spark: SparkSession, path: String, wkbCol: String,
              kind: String, geomCol: String = "geometry"): GeoFrame = {
    val df = spark.read.parquet(path)
      .withColumn(geomCol, graft.Geo.st_geomfromwkb(col(wkbCol), kind))
      .drop(wkbCol)
    GeoFrame(df, geomCol, kind)
  }

  /** Write a frame as parquet with the geometry serialized to WKB — the
    * export half of the geopandas interchange shape. */
  def writeWkb(gf: GeoFrame, path: String, mode: String = "error",
               wkbCol: String = "wkb"): Unit =
    gf.df.withColumn(wkbCol, graft.Geo.st_aswkb(gf.geometry, gf.kind))
      .drop(gf.geometryCol)
      .write.mode(mode).parquet(path)

  /** Driver-side R-tree over the dataset's per-file bounds — the
    * reference's `partition_sindex` (dask.py:73-76, rtree over
    * partition_bounds). Returns the tree plus the file name per leaf
    * index, for interactive partition queries beyond the planner rule. */
  def partitionSindex(path: String, geomCol: String,
                      spark: SparkSession = SparkSession.active)
      : Option[(graft.geom.HilbertRtree, Array[String])] = {
    val text = readSidecarText(path, lakeConf(spark))
      .getOrElse(return None)
    val perFile = parseSidecar(text, geomCol)
    if (perFile.isEmpty) return None
    val files = perFile.keys.toArray.sorted
    val bounds = new Array[Double](files.length * 4)
    files.zipWithIndex.foreach { case (f, i) =>
      val b = perFile(f)
      bounds(i * 4) = b(0); bounds(i * 4 + 1) = b(1)
      bounds(i * 4 + 2) = b(2); bounds(i * 4 + 3) = b(3)
    }
    Some((graft.geom.HilbertRtree.build(bounds), files))
  }

  /** The names of the data files directly under `path`, as a set. */
  private def listDataFileSet(conf: Configuration, path: String): Set[String] = {
    val root = new HadoopPath(path)
    listDataFiles(root.getFileSystem(conf), root).toSet
  }

  /** Shared tail of the pack functions: compute sidecar bounds over
    * ONLY the files this pack created (the before/after listing diff,
    * same as the incremental append — an append-mode pack never
    * rescans the existing files), merge them over any surviving
    * sidecar (other columns' entries are preserved; a replaced
    * directory has no surviving sidecar, so the merge degrades to a
    * plain write exactly when it should), and record the commit in the
    * generation log:
    *  - a NO-OP write (mode="ignore" onto an existing dir — no new
    *    files) touches NOTHING: no scan, no sidecar, no manifest;
    *  - "append" onto a dataset with a manifest records the new files
    *    as max+1 (files that appeared OUTSIDE the API stay unrecorded
    *    and invisible to time travel, like the incremental append);
    *    without a manifest, the pre-pack files back-fill as
    *    generation 0 and the pack's files as 1;
    *  - "error" / "overwrite" / first write: everything records as 0.
    *
    * 0-row parts never enter the dataset (see [[dropEmptyNewFiles]] —
    * `repartitionByRange` emits an empty partition whenever
    * numPartitions exceeds the distinct range keys, so SMALL or skewed
    * packs reliably produce them): a fresh exclusive pack of an
    * all-empty frame keeps ONE schema-preserving file with explicit
    * zero-count entries so the dataset stays readable and countable;
    * an append-mode pack whose parts are all empty appends NOTHING —
    * no sidecar write, no generation (same contract as
    * [[appendWithBoundsOf]]). */
  private def finishPack(spark: SparkSession, conf: Configuration,
      path: String, mode: String, before: Set[String],
      boundsOf: Seq[String] => Map[String, Map[String, Array[Double]]],
      cols: Seq[String],
      knownNew: Option[Seq[String]] = None)
      : Unit = {
    val root = new HadoopPath(path)
    val fs = root.getFileSystem(conf)
    // a STAGED write knows its files exactly; the listing (one RPC on
    // an object store) is only taken for the exclusive modes, where no
    // concurrent writer can pollute the diff
    lazy val after = listDataFileSet(conf, path)
    val rawNew = knownNew.getOrElse((after -- before).toSeq.sorted)
    val m = mode.toLowerCase
    if (m == "ignore" && rawNew.isEmpty) return
    val (newFiles, dropped) =
      if (rawNew.nonEmpty) {
        // bounds computed ONCE outside the update closure (it runs a
        // Spark aggregate; the retry loop must not repeat it)
        val freshAll = boundsOf(rawNew)
        // an append onto existing data behaves like the incremental
        // append (all-empty → nothing); every other mode owns the
        // directory fresh and must leave it readable
        val (kept, fresh, droppedSet) = dropEmptyNewFiles(
          fs, root, rawNew, freshAll, cols,
          keepSchemaFileIfAllEmpty = m != "append" || before.isEmpty)
        if (kept.nonEmpty)
          commitSidecar(conf, path, fresh, Set.empty)
        (kept, droppedSet)
      } else (rawNew, Set.empty[String])
    if (m == "append") {
      // commit only what was actually appended; an all-empty (or
      // no-op) append touches neither the sidecar nor the manifest
      if (newFiles.nonEmpty)
        commitGenState(conf, path, appendCommit(path, before, newFiles))
    } else if (m == "ignore") {
      // a write happened (dir was absent): record it unless some other
      // writer's manifest already exists
      if (readGenState(path, conf).isEmpty)
        commitGenState(conf, path, _ =>
          GenState(0, 0, (after -- dropped).map(_ -> GenEntry(0, -1)).toMap))
    }
    else commitGenState(conf, path, _ =>
      GenState(0, 0, (after -- dropped).map(_ -> GenEntry(0, -1)).toMap))
  }

  /** One data file's lifecycle in the generation log: visible at
    * every generation g with added <= g < removed (removed == -1 means
    * live — visible through the current generation). */
  private[graft] final case class GenEntry(added: Int, removed: Int)

  /** The generation manifest's full state. `commit` is the CAS
    * ordinal (every successful manifest write increments it — it
    * counts WRITES, not generations); `minGen` is the oldest still-
    * readable generation (vacuum advances it); `files` keeps one entry
    * per data file of the READABLE history: tombstones of files whose
    * bytes a vacuum reclaimed are compacted away by the vacuum's final
    * commit (they are invisible to every readable generation and every
    * reconciliation rule), bounding the manifest at ~(live files +
    * readable-window tombstones) instead of all history — the
    * O(history) growth of the one file every commit re-parses was the
    * named 100×-scale killer. Tombstones of files still ON DISK are
    * always kept (dropping one would let the file be mistaken for an
    * adoptable foreign append). */
  private[graft] final case class GenState(commit: Int, minGen: Int,
                                           files: Map[String, GenEntry],
                                           rewrites: Set[Int] = Set.empty) {
    def currentGen: Int =
      if (files.isEmpty) -1
      else files.valuesIterator.map(e => math.max(e.added, e.removed)).max
    def liveAt(g: Int): Seq[String] =
      files.collect { case (f, e)
        if e.added <= g && (e.removed < 0 || e.removed > g) => f }.toSeq.sorted
    // NOTE: there is deliberately no "removedSet" helper — reads must
    // reconcile tombstones against a PINNED listing per rewrite
    // generation (reconcileListing); a bulk exclude-all-tombstones set
    // loses rows on a listing pinned before the compaction.
  }

  private[graft] def renderGenState(st: GenState): String =
    s"""{"_commit":${st.commit},"_min":${st.minGen},"_rw":[""" +
      st.rewrites.toSeq.sorted.mkString(",") + """],"files":{""" +
      st.files.toSeq.sortBy(_._1)
        .map { case (f, e) => "\"" + f + "\":[" + e.added + "," + e.removed + "]" }
        .mkString(",") + "}}"

  /** Legacy (round-10) manifest shape: {"file":gen,...} — every file
    * live, nothing vacuumed. Still parsed so existing datasets keep
    * their history; the next commit rewrites in the current shape. */
  private def renderLegacyGenerations(m: Map[String, Int]): String =
    m.toSeq.sortBy(_._1)
      .map { case (f, g) => "\"" + f + "\":" + g }
      .mkString("{", ",", "}")

  /** STRICT manifest parse: the reconstructed state must re-render to
    * the exact stored text (both shapes are machine-written with a
    * canonical key order), so a hand-edited / truncated / future-format
    * manifest is an ERROR — never a silently smaller snapshot. */
  private[graft] def parseGenState(text: String, where: String): GenState = {
    val t = text.trim
    if (t.startsWith("{\"_commit\":")) {
      val commit = "\"_commit\":(\\d+)".r.findFirstMatchIn(t).map(_.group(1).toInt)
      val minG = "\"_min\":(\\d+)".r.findFirstMatchIn(t).map(_.group(1).toInt)
      val rw = "\"_rw\":\\[([0-9,]*)\\]".r.findFirstMatchIn(t)
        .map(_.group(1)).map(s =>
          if (s.isEmpty) Set.empty[Int] else s.split(',').map(_.toInt).toSet)
      // scope the file-entry regex to the "files" block: run on the
      // WHOLE text it also matches a two-element "_rw":[a,b] list as a
      // phantom file, which then fails the strict round-trip and
      // bricks the dataset on its second compaction
      val filesBody = {
        val marker = "\"files\":{"
        val i = t.indexOf(marker)
        if (i < 0) "" else t.substring(i + marker.length)
      }
      val entries = "\"([^\"]+)\":\\[(-?\\d+),(-?\\d+)\\]".r
        .findAllMatchIn(filesBody)
        .map(m => m.group(1) -> GenEntry(m.group(2).toInt, m.group(3).toInt)).toMap
      require(commit.isDefined && minG.isDefined,
        s"malformed generation manifest at $where: missing _commit/_min")
      // _rw absent (an early-v2 manifest) = no rewrites — still strict:
      // the round-trip below re-renders WITH _rw, so only texts whose
      // entries reproduce exactly pass; early-v2 text fails the
      // round-trip against the _rw render, so compare against both
      val st = GenState(commit.get, minG.get, entries, rw.getOrElse(Set.empty))
      val earlyV2 =
        s"""{"_commit":${st.commit},"_min":${st.minGen},"files":{""" +
          st.files.toSeq.sortBy(_._1)
            .map { case (f, e) => "\"" + f + "\":[" + e.added + "," + e.removed + "]" }
            .mkString(",") + "}}"
      if (rw.isEmpty && earlyV2 == t) return st
      require(renderGenState(st) == t,
        s"malformed generation manifest at $where: entries do not " +
          "round-trip the stored text (hand edit, truncation, or an " +
          "unsupported future format)")
      st
    } else {
      val entries = "\"([^\"]+)\":(\\d+)".r.findAllMatchIn(t)
        .map(m => m.group(1) -> m.group(2).toInt).toMap
      require(renderLegacyGenerations(entries) == t,
        s"malformed generation manifest at $where: entries do not " +
          "round-trip the stored text")
      GenState(
        commit = if (entries.isEmpty) 0 else entries.values.max + 1,
        minGen = 0,
        files = entries.map { case (f, g) => f -> GenEntry(g, -1) })
    }
  }

  /** One commit's INCREMENTAL manifest change (the Delta-log shape):
    * `set` upserts file entries, `del` drops them (tombstone
    * compaction), `minGen` is the absolute new horizon, rwAdd/rwDel
    * adjust the rewrite-generation set. Written as
    * `_gen-<commit>.json`, O(change) bytes — the full-state
    * checkpoint (`_generations.json`) is rewritten only every
    * [[DeltaFoldEvery]] commits, so per-commit driver work no longer
    * scales with the file count. */
  private[graft] final case class GenDelta(commit: Int, minGen: Int,
      rwAdd: Set[Int], rwDel: Set[Int],
      set: Map[String, GenEntry], del: Set[String])

  private[graft] val DeltaFoldEvery = VersionedLog.DeltaFoldEvery

  /** The manifest as a [[VersionedLog]] in `_gen/`: checkpoints are
    * [[renderGenState]] texts (head `{"_commit":`), deltas
    * [[renderGenDelta]] texts (head `{"_dcommit":`); the root
    * `_generations.json` is the pre-delta-log base (both of its shapes
    * parse through [[parseGenState]]). */
  private[graft] val genLog = new VersionedLog[GenState, GenDelta](
    dirName = "_gen", artPrefix = "_gen-", markerPrefix = ".gencommit-",
    idPrefix = "_genid-", label = "generation", legacyRoot = GenerationsName,
    ordinal = _.commit,
    renderState = renderGenState,
    parseState = parseGenState,
    renderDelta = renderGenDelta,
    parseDelta = parseGenDelta,
    kindOf = { text =>
      val t = text.trim
      if (t.startsWith("{\"_commit\":")) Some(true)
      else if (t.startsWith("{\"_dcommit\":")) Some(false)
      else None
    },
    applyDelta = (s, d, _) => applyGenDelta(s, d))

  private[graft] def genArtName(commit: Int): String = genLog.artName(commit)

  private[graft] def renderGenDelta(d: GenDelta): String =
    s"""{"_dcommit":${d.commit},"_min":${d.minGen},"_rwa":[""" +
      d.rwAdd.toSeq.sorted.mkString(",") + """],"_rwd":[""" +
      d.rwDel.toSeq.sorted.mkString(",") + """],"set":{""" +
      d.set.toSeq.sortBy(_._1)
        .map { case (f, e) => "\"" + f + "\":[" + e.added + "," + e.removed + "]" }
        .mkString(",") + """},"del":[""" +
      d.del.toSeq.sorted.map("\"" + _ + "\"").mkString(",") + "]}"

  /** STRICT delta parse — same philosophy as [[parseGenState]]: the
    * reconstruction must re-render to the exact stored text, block
    * regexes scoped to their substring (the r11 phantom-entry lesson). */
  private[graft] def parseGenDelta(text: String, where: String): GenDelta = {
    val t = text.trim
    val commit = "\"_dcommit\":(\\d+)".r.findFirstMatchIn(t).map(_.group(1).toInt)
    val minG = "\"_min\":(\\d+)".r.findFirstMatchIn(t).map(_.group(1).toInt)
    require(commit.isDefined && minG.isDefined,
      s"malformed generation delta at $where: missing _dcommit/_min")
    def intList(key: String): Set[Int] =
      ("\"" + key + "\":\\[([0-9,]*)\\]").r.findFirstMatchIn(t).map(_.group(1))
        .map(s => if (s.isEmpty) Set.empty[Int]
                  else s.split(',').map(_.toInt).toSet)
        .getOrElse(Set.empty)
    // block boundaries use the canonical inter-block marker, located
    // AFTER the set block's start (a file literally NAMED "del" must
    // not hijack the del block), and the del block runs to the LAST
    // ']' (the canonical text ends "]}")  — a pathological name
    // containing the marker itself mis-scopes, which the round-trip
    // check below turns into an error the WRITE path already refused
    // to produce (see the self-round-trip guard in commitGenState)
    val setStart = t.indexOf("\"set\":{")
    val delMarker = "},\"del\":["
    val delStart = if (setStart < 0) -1 else t.indexOf(delMarker, setStart)
    val setBody =
      if (setStart < 0 || delStart < 0) ""
      else t.substring(setStart + "\"set\":{".length, delStart)
    val set = "\"([^\"]+)\":\\[(-?\\d+),(-?\\d+)\\]".r.findAllMatchIn(setBody)
      .map(m => m.group(1) -> GenEntry(m.group(2).toInt, m.group(3).toInt)).toMap
    val delBody =
      if (delStart < 0) ""
      else t.substring(delStart + delMarker.length,
        math.max(delStart + delMarker.length, t.lastIndexOf(']')))
    val del = "\"([^\"]+)\"".r.findAllMatchIn(delBody).map(_.group(1)).toSet
    val d = GenDelta(commit.get, minG.get, intList("_rwa"), intList("_rwd"),
      set, del)
    require(renderGenDelta(d) == t,
      s"malformed generation delta at $where: entries do not round-trip " +
        "the stored text (hand edit, truncation, or an unsupported " +
        "future format)")
    d
  }

  /** The mechanical diff a commit writes: apply(prev, diff(prev, next))
    * == next for ANY pair (GenStateProperties pins it). */
  private[graft] def diffGenState(prev: GenState, next: GenState): GenDelta =
    GenDelta(
      commit = next.commit,
      minGen = next.minGen,
      rwAdd = next.rewrites -- prev.rewrites,
      rwDel = prev.rewrites -- next.rewrites,
      set = next.files.filter { case (f, e) => !prev.files.get(f).contains(e) },
      del = prev.files.keySet -- next.files.keySet)

  private[graft] def applyGenDelta(prev: GenState, d: GenDelta): GenState =
    GenState(
      commit = d.commit,
      minGen = d.minGen,
      files = (prev.files -- d.del) ++ d.set,
      rewrites = prev.rewrites -- d.rwDel ++ d.rwAdd)

  private[graft] def readGenState(path: String, conf: Configuration)
      : Option[GenState] =
    genLog.read(path, conf).map(_._1)

  /** Single-winner manifest commit: one commit of [[genLog]] (the
    * protocol is stated there). `update` maps the current manifest
    * (None = none yet) to the next; the commit ordinal is the log's.
    * A retry that re-applies an update which already landed (an
    * adoption or success-path cleanup voided our marker after the
    * write) finds it CONVERGED and commits nothing: an empty delta
    * would inflate the ordinals and break exact commit counting. */
  private[graft] def commitGenState(conf: Configuration, path: String,
      update: Option[GenState] => GenState): GenState =
    genLog.commit(conf, path, (cur, n) => {
      val next = update(cur).copy(commit = n)
      if (cur.exists(_.copy(commit = n) == next)) None
      else Some((next, cur.map(diffGenState(_, next))))
    }).get

  /** [[commitGenState]] on a fresh [[LakeFs.lakeConf]] of `spark`. */
  private[graft] def commitGenState(spark: SparkSession, path: String,
      update: Option[GenState] => GenState): GenState =
    commitGenState(lakeConf(spark), path, update)

  /** Every geometry column recorded in a sidecar, with its per-file
    * bounds (column blocks are flat `{file:[...],...}` objects, so the
    * column names are exactly the keys directly followed by '{'). */
  private[graft] def parseSidecarAll(json: String): Map[String, Map[String, Array[Double]]] = {
    val marker = "\"partition_bounds\":{"
    val start = json.indexOf(marker)
    if (start < 0) return Map.empty
    val body = json.substring(start + marker.length)
    "\"([^\"]+)\":\\{".r.findAllMatchIn(body)
      .map(_.group(1))
      .map(g => g -> parseSidecar(json, g))
      .toMap
  }

  /** Minimal JSON extraction of {file -> [x0,y0,x1,y1]} for one geometry
    * column (sidecar is machine-written; no general JSON parser needed).
    * Shared with the planner rule graft.plans.SpatialFilePruning. */
  private[graft] def parseSidecar(json: String, geomCol: String): Map[String, Array[Double]] = {
    val colKey = "\"" + geomCol + "\":{"
    val start = json.indexOf(colKey)
    if (start < 0) return Map.empty
    // entries look like: "file1":[1.0,2.0,3.0,4.0],"file2":[...]
    val from = start + colKey.length
    parseEntries(json.substring(from, json.indexOf('}', from)))
  }
}
