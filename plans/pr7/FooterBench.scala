package graft.io

import graft.Geo.st_point
import graft.api.GeoFrame
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

/** Microbenchmark of the ways to get one data file's footer or schema,
  * on a 1 000-point file of a packed lake, in one driver JVM on local[4]:
  *  - `spark.read.parquet(f).schema` (Spark's schema inference, one job);
  *  - `ParquetFileReader.open(InputFile)`, whose read options come from a
  *    fresh default Hadoop Configuration;
  *  - the same open with `HadoopReadOptions.builder(conf, file)`, which
  *    `GeoParquet.footer` uses;
  *  - the schema from that footer with Spark's converter;
  *  - `spark.read.schema(s).parquet(f)` (planning only) and
  *    `GeoParquet.readFiles` (footer plus that read).
  * Each is run 50 times after 20 warm-up calls; the median, p10 and p90
  * are printed in ms.
  *
  *   cp plans/pr7/FooterBench.scala src/test/scala/graft/io/
  *   sbt "Test/runMain graft.io.FooterBench <out.txt>"
  */
object FooterBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("footerbench").toFile
    val lake = s"$dir/lake"
    val rnd = new scala.util.Random(5)
    GeoParquet.packPartitionsToParquet(GeoFrame((0 until 8000)
      .map(i => (i.toLong, rnd.nextInt(1000), rnd.nextDouble() * 1e4, rnd.nextDouble() * 1e4))
      .toDF("id", "v", "x", "y").select($"id", $"v", st_point($"x", $"y").as("geometry")),
      "geometry", "point"), lake, 8)
    val name = new java.io.File(lake).listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).min
    val file = new HadoopPath(s"$lake/$name")
    val conf = spark.sessionState.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val schema = spark.read.parquet(file.toString).schema

    def time(label: String)(f: => Any): String = {
      (0 until 20).foreach(_ => f)
      val ms = (0 until 50).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      f"$label%-58s median ${ms(25)}%8.2f ms  p10 ${ms(5)}%8.2f  p90 ${ms(45)}%8.2f"
    }
    val lines = Seq(
      time("spark.read.parquet(f).schema")(spark.read.parquet(file.toString).schema),
      time("ParquetFileReader.open(InputFile), default options") {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        try r.getFooter finally r.close()
      },
      time("ParquetFileReader.open with HadoopReadOptions(conf)") {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
          HadoopReadOptions.builder(conf, file).build())
        try r.getFooter finally r.close()
      },
      time("GeoParquet.footer + readSchemaFromFooter")(
        ParquetFileFormat.readSchemaFromFooter(new Footer(file, GeoParquet.footer(conf, file)),
          converter)),
      time("spark.read.schema(s).parquet(f)")(spark.read.schema(schema).parquet(file.toString)),
      time("GeoParquet.readFiles(Seq(f))")(GeoParquet.readFiles(spark, lake, Seq(name))))
    val text = lines.mkString("", "\n", "\n")
    print(text)
    if (args.nonEmpty) java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), text)
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
