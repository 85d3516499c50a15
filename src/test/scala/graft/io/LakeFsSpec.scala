package graft.io

import java.nio.file.{Files, Path => NioPath}
import org.apache.hadoop.fs.{LocalFileSystem, Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The lake's `file:` filesystem ([[LakeFs]]): the same permission bits
  * as Hadoop's LocalFileSystem without forking `chmod`, the session's
  * own `fs.file.impl` respected, and the same lake contents either way. */
class LakeFsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def withDir(f: java.io.File => Unit): Unit = {
    val dir = Files.createTempDirectory("lakefs").toFile
    try f(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  private def points(from: Int, n: Int): DataFrame = {
    import spark.implicits._
    (from until from + n).map(i => (i.toLong, (i * 37) % 1000 / 10.0, (i * 91) % 1000 / 10.0))
      .toDF("id", "x", "y").coalesce(1)
      .select($"id", graft.Geo.st_point($"x", $"y").as("geometry"))
  }

  /** Full mode bits (sticky included) of every entry under `root`,
    * by path relative to it. */
  private def modes(root: NioPath): Map[String, Int] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
    }.toMap

  /** Run `f` with `fs.file.impl` (uncached) set on the context's Hadoop
    * conf, which is where `spark.hadoop.fs.file.impl` lands. */
  private def withSessionImpl(cls: Class[_])(f: => Unit): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", cls.getName)
    hc.set("fs.file.impl.disable.cache", "true")
    try f finally { hc.unset("fs.file.impl"); hc.unset("fs.file.impl.disable.cache") }
  }

  test("files and dirs created through lakeConf carry LocalFileSystem's bits under umask 022 and 077") {
    Seq("022", "077").foreach { umask =>
      withDir { dir =>
        val conf = LakeFs.lakeConf(spark)
        conf.set("fs.permissions.umask-mode", umask)
        val lake = new HadoopPath(dir.getPath).getFileSystem(conf)
        assert(lake.isInstanceOf[LakeLocalFileSystem])
        val plain = new LocalFileSystem()
        plain.initialize(java.net.URI.create("file:///"), conf)
        def make(fs: org.apache.hadoop.fs.FileSystem, root: String): Unit = {
          fs.mkdirs(new HadoopPath(root, "d/e"))
          val out = fs.create(new HadoopPath(root, "d/f.bin"))
          out.write(1); out.close()
          fs.create(new HadoopPath(root, "g/h.bin"),
            new org.apache.hadoop.fs.permission.FsPermission("640"), true, 4096,
            1.toShort, 1L << 20, null).close()
          fs.mkdirs(new HadoopPath(root, "s"),
            new org.apache.hadoop.fs.permission.FsPermission("1777"))
        }
        make(lake, s"$dir/lake")
        make(plain, s"$dir/plain")
        val got = modes(new java.io.File(dir, "lake").toPath)
        val want = modes(new java.io.File(dir, "plain").toPath)
        assert(got.keySet.exists(_.endsWith(".f.bin.crc")),
          s"no checksum file: ${got.keySet}")
        assert(got == want, s"umask $umask: lake $got vs LocalFileSystem $want")
      }
    }
  }

  test("a session's own fs.file.impl is kept for the lake's handles and its write options") {
    assert(LakeFs.writeOptions(LakeFs.lakeConf(spark)) == Map(
      "fs.file.impl" -> classOf[LakeLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true"))
    withSessionImpl(classOf[CountingLocalFs]) {
      val conf = LakeFs.lakeConf(spark)
      assert(conf.get("fs.file.impl") == classOf[CountingLocalFs].getName)
      assert(LakeFs.writeOptions(conf).isEmpty)
      withDir { dir =>
        val path = s"$dir/lake"
        assert(new HadoopPath(path).getFileSystem(conf).isInstanceOf[CountingLocalFs])
        GeoParquet.packPartitionsToParquet(graft.api.GeoFrame(points(0, 200),
          "geometry", "point"), path, 2)
        CountingLocalFs.created.clear()
        GeoParquet.appendWithSidecar(points(200, 50), path, Seq("geometry"))
        val created = CountingLocalFs.created.asScala.toSeq
        // the executor's part file and the log commits both went
        // through the session's class
        assert(created.exists(_.endsWith(".parquet")), created)
        assert(created.exists(_.contains("/_gen/")), created)
      }
    }
  }

  test("appendWithSidecar on a local lake starts no chmod process") {
    withDir { dir =>
      val path = s"$dir/lake"
      GeoParquet.packPartitionsToParquet(graft.api.GeoFrame(points(0, 200),
        "geometry", "point"), path, 2)
      val control = new java.io.File(dir, "control")
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try {
        GeoParquet.appendWithSidecar(points(200, 50), path, Seq("geometry"))
        // the control: one file through Hadoop's own LocalFileSystem
        val plain = new LocalFileSystem()
        plain.initialize(java.net.URI.create("file:///"), spark.sessionState.newHadoopConf())
        plain.create(new HadoopPath(control.getPath)).close()
      } finally rec.stop()
      val jfr = new java.io.File(dir, "rec.jfr").toPath
      rec.dump(jfr)
      rec.close()
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
      val chmods = commands.filter(_.contains("chmod"))
      assert(!chmods.exists(_.contains(path)), s"the append forked: $chmods")
      // without Hadoop's native library the control forks, so the
      // recording does see chmod starts
      if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
        assert(chmods.exists(_.contains(control.getPath)), s"no control chmod in $commands")
      assert(GeoParquet.read(spark, path, "geometry", "point").df.count() == 250)
    }
  }

  test("an append and a pruned read return what they return on Hadoop's LocalFileSystem") {
    def run(path: String): (Seq[Long], Seq[(String, Int)]) = {
      GeoParquet.packPartitionsToParquet(graft.api.GeoFrame(points(0, 400),
        "geometry", "point"), path, 4)
      GeoParquet.appendWithSidecar(points(400, 100), path, Seq("geometry"))
      GeoParquet.appendWithSidecar(points(500, 100), path, Seq("geometry"))
      val ids = GeoParquet.read(spark, path, "geometry", "point",
        Some((0.0, 0.0, 40.0, 40.0))).cx(0.0, 0.0, 40.0, 40.0).df
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      // names without their random ids, with each entry's mode bits
      val anon = "[0-9a-f]{8}(-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}|-[0-9a-f]{3})?"
      val layout = modes(new java.io.File(path).toPath).toSeq
        .map { case (n, m) => (n.replaceAll(anon, "#"), m) }.sorted
      (ids, layout)
    }
    withDir { dir =>
      val lake = run(s"$dir/lake")
      var plain: (Seq[Long], Seq[(String, Int)]) = null
      withSessionImpl(classOf[LocalFileSystem]) { plain = run(s"$dir/plain") }
      assert(lake._1.nonEmpty && lake._1 == plain._1)
      assert(lake._2 == plain._2)
      assert(lake._2.exists(_._1 == "_SUCCESS"), "a direct write keeps its marker")
    }
  }
}

/** The session's own `file:` class in the spec above: a LocalFileSystem
  * that records every path it creates. */
class CountingLocalFs extends LocalFileSystem {
  override def create(f: HadoopPath, permission: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    CountingLocalFs.created.add(f.toUri.getPath)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFs {
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
