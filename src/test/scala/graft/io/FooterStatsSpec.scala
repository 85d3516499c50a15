package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The commit path's footer-derived bounds (numericBoundsForFiles) must
  * EQUAL the scan-based aggregate (numericBoundsPerFile) on every shape
  * — equal, not just conservative: the sidecar values surface verbatim
  * through statsAtGeneration into oracle-gated query output. Shapes
  * where the footer cannot be trusted (NaN data, ±0.0 endpoints,
  * decimals) must silently take the scan fallback and still agree. */
class FooterStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def dataFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".") &&
        !n.startsWith("_")).sorted.toSeq

  /** Write df as parquet, then assert footer-path == scan-path for
    * `cols` over exactly the written files (keys, row counts, and every
    * bound, with NaN == NaN). */
  private def assertAgree(df: DataFrame, cols: Seq[String]): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("footerstats").toFile
    try {
      df.write.mode("overwrite").parquet(dir.getPath)
      val files = dataFiles(dir.getPath)
      val viaFooter = GeoParquet.numericBoundsForFiles(
        spark, LakeFs.lakeConf(spark), dir.getPath, files, cols)
      val viaScan = GeoParquet.numericBoundsPerFile(
        spark.read.parquet(files.map(f => s"$dir/$f"): _*), cols)
      assert(viaFooter.keySet == viaScan.keySet)
      viaScan.foreach { case (c, perFile) =>
        val got = viaFooter(c)
        assert(got.keySet == perFile.keySet, s"file sets differ for $c")
        perFile.foreach { case (f, want) =>
          val g = got(f)
          assert(g.length == want.length &&
            g.zip(want).forall { case (a, b) =>
              (a.isNaN && b.isNaN) || a == b },
            s"$c/$f: footer ${g.mkString(",")} vs scan ${want.mkString(",")}")
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("plain doubles and longs agree with the scan") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, i * 1.5 + 1, (i % 7) + 1))
      .toDF("k", "d", "m").repartition(3)
    assertAgree(df, Seq("k", "d", "m"))
  }

  test("nulls, an all-null column, and int32 agree with the scan") {
    import spark.implicits._
    val df = (1 to 200).map { i =>
      (i, if (i % 3 == 0) None else Some(i * 2.0),
        Option.empty[Double])
    }.toDF("i", "some_null", "all_null").repartition(2)
    assertAgree(df, Seq("i", "some_null", "all_null"))
  }

  test("NaN values take the scan fallback and agree (NaN max convention)") {
    import spark.implicits._
    val df = (1 to 100)
      .map(i => (i.toLong, if (i % 10 == 0) Double.NaN else i * 1.0))
      .toDF("k", "v").repartition(2)
    // scan: Spark orders NaN largest, so max is NaN; min is the real min
    assertAgree(df, Seq("k", "v"))
  }

  test("±0.0 endpoints take the scan fallback and agree") {
    import spark.implicits._
    val df = Seq((1L, 0.0, -3.0), (2L, 5.0, -0.0), (3L, 2.0, -1.0))
      .toDF("k", "zero_min", "zero_max").coalesce(1)
    assertAgree(df, Seq("k", "zero_min", "zero_max"))
  }

  test("mixed trust: one untrusted column falls back PER COLUMN and agrees") {
    import spark.implicits._
    // the 3-col zorder pack shape: two clean columns plus a column whose
    // minimum is a legitimate 0.0 (l_discount's case) — r18's per-column
    // fallback must keep the footers for the clean columns, scan only
    // the ambiguous one, and still equal the full scan on every value.
    // Include NaN rows in a FOURTH column so two different untrusted
    // column sets coexist across files.
    val df = (1 to 900).map { i =>
      (i.toLong, i * 1.25 + 3,
        if (i % 4 == 0) 0.0 else (i % 10) / 10.0,
        if (i % 111 == 0) Double.NaN else i * 2.0)
    }.toDF("k", "clean", "zero_min", "nan_col").repartition(3)
    assertAgree(df, Seq("k", "clean", "zero_min", "nan_col"))
  }

  test("decimal columns take the scan fallback and agree") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, BigDecimal(i) / 4))
      .toDF("k", "dec").coalesce(1)
    assertAgree(df, Seq("k", "dec"))
  }

  test("multiple row groups per file merge like the scan") {
    import spark.implicits._
    // tiny row groups force several blocks into one file
    val prev = spark.conf.getOption("spark.hadoop.parquet.block.size")
    try {
      val dir = java.nio.file.Files.createTempDirectory("footerrg").toFile
      try {
        (1 to 50000).map(i => (i.toLong, (i % 997) * 1.0)).toDF("k", "v")
          .coalesce(1).write
          .option("parquet.block.size", "65536")
          .mode("overwrite").parquet(dir.getPath)
        val files = dataFiles(dir.getPath)
        val viaFooter = GeoParquet.numericBoundsForFiles(
          spark, LakeFs.lakeConf(spark), dir.getPath, files, Seq("k", "v"))
        val viaScan = GeoParquet.numericBoundsPerFile(
          spark.read.parquet(dir.getPath), Seq("k", "v"))
        assert(viaFooter.keySet == viaScan.keySet)
        viaScan.foreach { case (c, perFile) =>
          assert(viaFooter(c).keySet == perFile.keySet)
          perFile.foreach { case (f, want) =>
            assert(viaFooter(c)(f).toSeq == want.toSeq, s"$c/$f")
          }
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
    } finally prev.foreach(
      spark.conf.set("spark.hadoop.parquet.block.size", _))
  }

  /** Point twin of [[assertAgree]]: pointBoundsForFiles == boundsPerFile. */
  private def assertPointAgree(df: DataFrame, geomCols: Seq[String]): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("footerpt").toFile
    try {
      df.write.mode("overwrite").parquet(dir.getPath)
      val files = dataFiles(dir.getPath)
      val viaFooter = GeoParquet.pointBoundsForFiles(
        spark, LakeFs.lakeConf(spark), dir.getPath, files, geomCols)
      val viaScan = GeoParquet.boundsPerFile(
        spark.read.parquet(files.map(f => s"$dir/$f"): _*), geomCols)
      assert(viaFooter.keySet == viaScan.keySet)
      viaScan.foreach { case (c, perFile) =>
        assert(viaFooter(c).keySet == perFile.keySet, s"file sets for $c")
        perFile.foreach { case (f, want) =>
          val g = viaFooter(c)(f)
          assert(g.zip(want).forall { case (a, b) =>
            (a.isNaN && b.isNaN) || a == b },
            s"$c/$f: footer ${g.mkString(",")} vs scan ${want.mkString(",")}")
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("point bounds from footers agree with the st_bounds scan") {
    val pts = spark.range(1, 2001)
      .select(col("id"),
        graft.Geo.st_point(((col("id") * 7 % 999) + 1).cast("double"),
          ((col("id") * 13 % 999) + 1).cast("double")).as("pt"))
      .repartition(3)
    assertPointAgree(pts, Seq("pt"))
  }

  test("point bounds with zero coords and nulls fall back and agree") {
    val pts = spark.range(0, 500)
      .select(col("id"),
        graft.Geo.st_point((col("id") % 100).cast("double"),
          (col("id") % 77).cast("double")).as("pt"),
        when(col("id") % 5 === 0, graft.Geo.st_point(
            (col("id") % 9).cast("double"), lit(2.5)))
          .as("maybe_pt"))
      .repartition(2)
    assertPointAgree(pts, Seq("pt", "maybe_pt"))
  }

  test("non-point geometry columns fall back to the scan and agree") {
    import spark.implicits._
    // a LINE column (array of coords) — no x/y leaves in the schema
    val df = Seq(
      (1L, Seq(0.5, 1.0, 3.5, 2.0, 4.0, 6.0)),
      (2L, Seq(-1.0, -2.0, 7.5, 3.25))).toDF("id", "line").coalesce(1)
    val dir = java.nio.file.Files.createTempDirectory("footerline").toFile
    try {
      df.write.mode("overwrite").parquet(dir.getPath)
      val files = dataFiles(dir.getPath)
      val viaFooter = GeoParquet.pointBoundsForFiles(
        spark, LakeFs.lakeConf(spark), dir.getPath, files, Seq("line"))
      val viaScan = GeoParquet.boundsPerFile(
        spark.read.parquet(dir.getPath), Seq("line"))
      assert(viaFooter("line").keySet == viaScan("line").keySet)
      viaScan("line").foreach { case (f, want) =>
        assert(viaFooter("line")(f).toSeq == want.toSeq) }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("appendWithSidecar point commits read back exactly (cx shape)") {
    val dir = java.nio.file.Files.createTempDirectory("footercx").toFile
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    try {
      val pts = spark.range(1, 1501)
        .select(col("id"),
          graft.Geo.st_point(((col("id") * 7919) % 1000).cast("double"),
            ((col("id") * 104729) % 1000).cast("double")).as("pt"))
      (0 until 4).foreach { b =>
        GeoParquet.appendWithSidecar(
          pts.where(floor(graft.Geo.st_x(col("pt")) / 250)
            .cast("int") === b).coalesce(1), dir.getPath, Seq("pt"))
      }
      val got = GeoParquet.read(spark, dir.getPath, "pt", "point",
          bounds = Some((300.0, 0.0, 600.0, 1000.0)))
        .cx(300, 0, 600, 1000).df.select(col("id"))
        .collect().map(_.getLong(0)).sorted
      val want = pts.where(graft.Geo.st_x(col("pt")).between(300, 600))
        .select(col("id")).collect().map(_.getLong(0)).sorted
      assert(got.toSeq == want.toSeq && got.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("append + pack + compact end-to-end sidecar equals the r16 scan path") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("footerlake").toFile
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    try {
      val zcols = Seq("q", "p")
      val rows = (1 to 3000).map(i =>
        (i.toLong, (i % 50) + 1.0, 900.0 + (i % 1000) * 7))
      val df = rows.toDF("k", "q", "p")
      GeoParquet.packZOrderToParquet(
        df.where(col("k") % 3 === 0), zcols, dir.getPath, numPartitions = 3)
      GeoParquet.appendNumericWithSidecar(
        df.where(col("k") % 3 === 1), dir.getPath, zcols)
      GeoParquet.appendNumericWithSidecar(
        df.where(col("k") % 3 === 2), dir.getPath, zcols)
      assert(GeoParquet.compactZOrderGeneration(
        spark, dir.getPath, zcols, numPartitions = 1) == 3)
      // the metadata-only stats (sourced from the footer-derived
      // sidecar) must equal the truth computed from the input rows
      val (n, stats) = GeoParquet.statsAtGeneration(
        spark, dir.getPath, 3, zcols)
      assert(n == 3000)
      assert(stats("q") == ((rows.map(_._2).min, rows.map(_._2).max)))
      assert(stats("p") == ((rows.map(_._3).min, rows.map(_._3).max)))
      // range read over the footer-stated sidecar equals the plain
      // in-memory filter (the head snapshot, not the raw directory —
      // compaction leaves superseded files on disk for time travel)
      val got = GeoParquet.readZOrderRange(spark, dir.getPath,
          Seq(("q", 10.0, 30.0))).agg(count(lit(1)).as("n"),
          sum(col("p")).as("s")).head()
      val keep = rows.filter(r => r._2 >= 10.0 && r._2 <= 30.0)
      assert(got.getLong(0) == keep.size.toLong)
      assert(got.getDouble(1) == keep.map(_._3).sum)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
