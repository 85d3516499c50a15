package graft.io

import graft.Geo._
import graft.api.GeoFrame
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `GeoParquet.readFiles` takes its schema from footers on the driver.
  * That schema must be exactly the one Spark's own inference gives for
  * the same file list under the same session, and the rows must match
  * too. */
class ReadFilesSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private lazy val dir = java.nio.file.Files.createTempDirectory("readfiles").toFile

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(dir)

  private def withConfs[T](kvs: (String, String)*)(f: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def dataFiles(path: String): Seq[String] =
    new java.io.File(path).listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
      .sorted.toSeq

  /** readFiles against spark.read.parquet over the same names: schema
    * (field metadata included) and rows. */
  private def assertParity(path: String, names: Seq[String]): Unit = {
    val ours = GeoParquet.readFiles(spark, LakeFs.lakeConf(spark), path, names)
    val inferred = spark.read.parquet(names.map(f => s"$path/$f"): _*)
    assert(ours.schema == inferred.schema)
    assert(ours.collect().map(_.toString).sorted.toSeq ==
      inferred.collect().map(_.toString).sorted.toSeq)
  }

  test("point, line, polygon and multipolygon columns, with column metadata") {
    val s = spark
    import s.implicits._
    val md = new MetadataBuilder().putString("crs", "EPSG:4326").putLong("srid", 4326L).build()
    val df = (0 until 40).map { i =>
      val c = i.toDouble
      (i.toLong, c, c + 1, Seq(c, c, c + 1, c + 2),
        Seq(Seq(c, c, c + 1, c, c + 1, c + 1, c, c)),
        Seq(Seq(Seq(c, c, c + 1, c, c + 1, c + 1, c, c)),
          Seq(Seq(c + 5, c + 5, c + 6, c + 5, c + 6, c + 6, c + 5, c + 5))))
    }.toDF("id", "x", "y", "line", "poly", "mpoly")
      .select(col("id"), st_point(col("x"), col("y")).as("pt"), col("line"),
        col("poly"), col("mpoly"))
      .withMetadata("poly", md)
    val path = s"$dir/geoms"
    GeoParquet.write(GeoFrame(df.repartition(4), "pt", "point"), path,
      extraGeomCols = Seq("poly"))
    val files = dataFiles(path)
    assert(files.size >= 2)
    assertParity(path, files)
    assertParity(path, files.reverse)
    assertParity(path, files.takeRight(1))
    assert(GeoParquet.readFiles(spark, LakeFs.lakeConf(spark), path, files).schema("poly").metadata == md)
  }

  test("TIMESTAMP(NANOS) under spark.sql.legacy.parquet.nanosAsLong") {
    import org.apache.hadoop.fs.{Path => HadoopPath}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // Spark cannot write TIMESTAMP(NANOS); other writers do (the kind
    // of file a foreign append can bring into a lake)
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val path = s"$dir/nanos"
    val names = Seq("a.parquet", "b.parquet")
    names.zipWithIndex.foreach { case (n, k) =>
      val w = ExampleParquetWriter.builder(new HadoopPath(s"$path/$n"))
        .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
      val g = new SimpleGroupFactory(schema)
      try (0 until 5).foreach(i =>
        w.write(g.newGroup().append("id", (10 * k + i).toLong)
          .append("ts", 1700000000000000000L + i * 1000L + k)))
      finally w.close()
    }
    withConfs("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assertParity(path, names)
      assert(GeoParquet.readFiles(spark, LakeFs.lakeConf(spark), path, names).schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
    }
  }

  test("files with different columns under spark.sql.parquet.mergeSchema") {
    val s = spark
    import s.implicits._
    val path = s"$dir/merge"
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "a").coalesce(1)
      .write.parquet(s"$path/one")
    Seq((3L, "x", 3), (4L, "y", 4)).toDF("id", "b", "c").coalesce(1)
      .write.parquet(s"$path/two")
    // flatten into one directory, one name per shape
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("one", "two").foreach { sub =>
      val f = dataFiles(s"$path/$sub").head
      fs.rename(new org.apache.hadoop.fs.Path(s"$path/$sub/$f"),
        new org.apache.hadoop.fs.Path(s"$path/$sub.parquet"))
    }
    val names = Seq("one.parquet", "two.parquet")
    withConfs("spark.sql.parquet.mergeSchema" -> "true") {
      assertParity(path, names)
      assertParity(path, names.reverse)
      assert(GeoParquet.readFiles(spark, LakeFs.lakeConf(spark), path, names).columns.toSeq ==
        Seq("id", "a", "b", "c"))
    }
    withConfs("spark.sql.parquet.mergeSchema" -> "false") {
      // without merging, both pick the first file by path
      assertParity(path, names.reverse)
      assert(GeoParquet.readFiles(spark, LakeFs.lakeConf(spark), path, names.reverse).columns.toSeq ==
        Seq("id", "a"))
    }
  }

  test("an empty pruned selection reads zero rows with the directory's schema") {
    val s = spark
    import s.implicits._
    val path = s"$dir/empty"
    val pts = (0 until 100).map(i => (i.toLong, (i % 10).toDouble, (i / 10).toDouble))
      .toDF("id", "x", "y").select(col("id"), st_point(col("x"), col("y")).as("pt"))
    GeoParquet.packPartitionsToParquet(GeoFrame(pts, "pt", "point"), path, 4)
    val gf = GeoParquet.read(spark, path, "pt", "point", Some((50.0, 50.0, 60.0, 60.0)))
    assert(gf.df.schema == spark.read.parquet(path).schema)
    assert(gf.df.count() == 0L)
    val none: DataFrame = GeoParquet.readFiles(spark, LakeFs.lakeConf(spark), path, Nil, dataFiles(path))
    assert(none.schema == spark.read.parquet(path).schema)
    assert(none.count() == 0L)
    // nothing at all to take a schema from: the directory read answers
    val fromDir = GeoParquet.readFiles(spark, LakeFs.lakeConf(spark), path, Nil)
    assert(fromDir.schema == spark.read.parquet(path).schema)
    assert(fromDir.count() == 0L)
  }
}
