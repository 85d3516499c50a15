package graft.io

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The r16 single-name-per-ordinal log format, on both instances of
  * the lake's commit log (the generation manifest in `_gen/`, the
  * bounds sidecar in `_sc/`): the fold-vs-adopter interleaving FORCED
  * through the race seam costs the fold a lost-race retry instead of
  * shadowing the adopter's commit; damaged artifacts are dead below the
  * checkpoint and loud above it; the read memo never aliases a
  * same-path rebuild; and a pre-r16 twin-name layout fails loudly
  * instead of reading as "no log". */
class LogFormatSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  import GeoParquet.{GenDelta, GenEntry, GenState, ScDelta, ScState}

  private def writeGen(path: String, name: String, text: String): Unit =
    writeLog(path, "_gen", name, text)

  private def writeLog(path: String, dir: String, name: String,
                       text: String): Unit = {
    val d = new java.io.File(s"$path/$dir")
    d.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(d, name).toPath, text)
  }

  /** One log under test: commit "file `f` is recorded" through the
    * log's own commit (converged when already there), the delta text a
    * competitor publishes for it at ordinal n, and whether a read state
    * records it. */
  private final class LogCase(val log: VersionedLog[_, _],
      val commitFile: (String, String) => Unit,
      val competitor: (Int, String) => String,
      val records: (String, String) => Boolean)

  private def conf = spark.sessionState.newHadoopConf()

  private val genCase = new LogCase(GeoParquet.genLog,
    (path, f) => GeoParquet.commitGenState(spark, path, cur => cur.get.copy(
      files = cur.get.files + (f -> GenEntry(0, -1)))),
    (n, f) => GeoParquet.renderGenDelta(GenDelta(n, 0, Set.empty, Set.empty,
      Map(f -> GenEntry(0, -1)), Set.empty)),
    (path, f) => GeoParquet.readGenState(path, conf).exists(_.files.contains(f)))

  private def upsert(f: String) =
    ScDelta(Map("a" -> Map(f -> Array(0.0, 0.0, 1.0, 1.0))), Set.empty)

  private val scCase = new LogCase(GeoParquet.scLog,
    (path, f) => GeoParquet.scLog.commit(conf, path, (cur, n) =>
      if (cur.exists(_.bounds.get("a").exists(_.contains(f)))) None
      else Some((new ScState(n,
        GeoParquet.applyScDelta(cur.get.bounds, upsert(f))), Some(upsert(f))))),
    (n, f) => GeoParquet.renderScDelta(upsert(f)),
    (path, f) => GeoParquet.readSidecarText(path, conf).exists(t =>
      GeoParquet.parseSidecar(t, "a").contains(f)))

  test("r16 format: the SAME fold-vs-adopter interleaving is a lost race, never a shadow — both commits land") {
    Seq(genCase, scCase).foreach { c =>
      val dir = java.nio.file.Files.createTempDirectory("shadow-closed").toFile
      try {
        import spark.implicits._
        val path = s"$dir/z"
        GeoParquet.packZOrderToParquet(
          Seq((1L, 0, 0), (2L, 1, 1)).toDF("id", "a", "b").coalesce(1),
          Seq("a", "b"), path, 1)
        // drive to the brink of the fold: commits 2..16 are deltas, the
        // NEXT commit (17) folds (DeltaFoldEvery deltas on top)
        (2 to GeoParquet.DeltaFoldEvery).foreach(i =>
          c.commitFile(path, s"pad-$i.parquet"))
        val foldOrd = GeoParquet.DeltaFoldEvery + 1
        // the adopter's competitor delta lands at the fold's ordinal in
        // the exact publish window — at the SAME NAME the fold wants,
        // because the format has only one name per ordinal
        val competitor = c.competitor(foldOrd, "competitor.parquet")
        val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
        LogFs.raceInjection = Some { (dst: HadoopPath) =>
          if (dst.getParent.getName == c.log.dirName &&
              dst.getName == c.log.artName(foldOrd) &&
              fired.compareAndSet(false, true))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dst.toUri.getPath),
              competitor.getBytes("UTF-8"))
        }
        // our writer walks into the fold at ordinal 17 and loses the
        // publish; the retry re-reads (the competitor's delta INCLUDED)
        // and folds at 18 on top of BOTH changes
        c.commitFile(path, "mine.parquet")
        assert(fired.get(), s"${c.log.dirName}: the race was never injected")
        assert(c.records(path, "competitor.parquet"),
          s"${c.log.dirName}: the fold SHADOWED the adopter's commit")
        assert(c.records(path, "mine.parquet"),
          s"${c.log.dirName}: the writer lost its commit")
        // the retry folded at 18: one checkpoint, nothing below it
        val arts = new java.io.File(s"$path/${c.log.dirName}").list().toSeq
          .filter(n => n.startsWith(c.log.artPrefix) && n.endsWith(".json"))
        assert(arts == Seq(c.log.artName(foldOrd + 1)), s"log after the fold: $arts")
      } finally {
        LogFs.raceInjection = None
        org.apache.commons.io.FileUtils.deleteQuietly(dir)
      }
    }
  }

  test("a damaged DEAD unified artifact (covered by the checkpoint) is ignored; a damaged LIVE one is a loud error (both logs)") {
    val dir = java.nio.file.Files.createTempDirectory("dead-malformed").toFile
    try {
      import spark.implicits._
      val path = s"$dir/z"
      val conf = spark.sessionState.newHadoopConf()
      def batch(lo: Int) = Seq((lo.toLong, lo % 10, (lo * 3) % 10))
        .toDF("id", "a", "b").coalesce(1)
      GeoParquet.packZOrderToParquet(batch(0), Seq("a", "b"), path, 1)
      GeoParquet.appendNumericWithSidecar(batch(1), path, Seq("a", "b"))
      val st = GeoParquet.readGenState(path, conf).get
      val sc = GeoParquet.readSidecarText(path, conf).get
      // DEAD: ordinal 0 sits below the checkpoint (ordinal 1) in both
      // logs — a 0-byte straggler there must not brick reads the
      // legacy layout (which never opened covered artifacts) survived
      writeGen(path, GeoParquet.genArtName(0), "")
      java.nio.file.Files.writeString(new java.io.File(
        s"$path/_sc/${GeoParquet.scLog.artName(0)}").toPath, "")
      assert(GeoParquet.readGenState(path, conf).contains(st))
      assert(GeoParquet.readSidecarText(path, conf).contains(sc))
      // LIVE: the same damage ABOVE the checkpoint would participate
      // in the state — strict-parse loud error, never a guess
      writeGen(path, GeoParquet.genArtName(3), "{broken}")
      val e = intercept[IllegalArgumentException] {
        GeoParquet.readGenState(path, conf) }
      assert(e.getMessage.contains("malformed"))
      assert(new java.io.File(s"$path/_gen/${GeoParquet.genArtName(3)}").delete())
      java.nio.file.Files.writeString(new java.io.File(
        s"$path/_sc/${GeoParquet.scLog.artName(3)}").toPath, "{broken}")
      val e2 = intercept[IllegalArgumentException] {
        GeoParquet.readSidecarText(path, conf) }
      assert(e2.getMessage.contains("malformed"))
      assert(new java.io.File(s"$path/_sc/${GeoParquet.scLog.artName(3)}").delete())
      // healthy again, and the next fold sweeps the dead stragglers
      assert(GeoParquet.readGenState(path, conf).contains(st))
      (2 to GeoParquet.DeltaFoldEvery + 1).foreach(i =>
        GeoParquet.appendNumericWithSidecar(batch(i), path, Seq("a", "b")))
      assert(!new java.io.File(s"$path/_gen/${GeoParquet.genArtName(0)}").exists(),
        "fold did not sweep the dead damaged artifact")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }


  test("classify vanish policy: a DEAD artifact vanishing mid-read is ignored; a LIVE one forces a re-list") {
    // the racing-fold sweep at the classifier seam: the listing shows
    // ordinals {1 (ckpt), 2, 3}, but ordinal 2's read returns None
    // (deleted between listStatus and open)
    val ckpt1 = GeoParquet.renderGenState(
      GenState(1, 0, Map("f.parquet" -> GenEntry(0, -1))))
    val delta3 = GeoParquet.renderGenDelta(GenDelta(3, 0, Set.empty,
      Set.empty, Map("g.parquet" -> GenEntry(1, -1)), Set.empty))
    def readOf(m: Map[String, String])(n: String): Option[String] = m.get(n)
    val log = GeoParquet.genLog
    // dead vanish: ckpt at 3 covers ordinal 2 — classification proceeds
    val deadOk = log.classify(
      Seq("_gen-1.json", "_gen-2.json", "_gen-3.json"), "spec",
      readOf(Map(
        "_gen-1.json" -> ckpt1,
        "_gen-3.json" -> GeoParquet.renderGenState(
          GenState(3, 0, Map("f.parquet" -> GenEntry(0, -1)))))))
    assert(deadOk.exists(u => u.ckpts == Seq(1, 3) && u.deltas.isEmpty),
      s"dead vanish was not tolerated: $deadOk")
    // live vanish: ordinal 3 (above the max checkpoint 1) is missing —
    // the caller must re-list, never assemble around a live hole
    val liveGone = log.classify(Seq("_gen-1.json", "_gen-3.json"), "spec",
      readOf(Map("_gen-1.json" -> ckpt1)))
    assert(liveGone.isEmpty, "a LIVE vanished artifact must force a re-list")
    // and the delta variant still classifies
    val both = log.classify(Seq("_gen-1.json", "_gen-3.json"), "spec",
      readOf(Map("_gen-1.json" -> ckpt1, "_gen-3.json" -> delta3)))
    assert(both.exists(u => u.ckpts == Seq(1) && u.deltas == Seq(3)))
  }

  test("log-read memo: a same-path rebuild of the SIDECAR never serves the dead dataset's state") {
    // the sidecar twin of GeoPruneSpec's manifest case: the memo keys on
    // the (name, length, mtime) listing of `_sc/`, so a rebuilt dataset
    // whose checkpoint collides in all three would alias — only the
    // `_scid-*` identity file, carried in the signature, tells them apart
    val dir = java.nio.file.Files.createTempDirectory("scmemoalias").toFile
    try {
      val path = s"$dir/d"
      val scDir = new java.io.File(s"$path/_sc")
      def sidecar(f: String) = GeoParquet.renderSidecar(
        Map("geom" -> Map(f -> Array(0.0, 0.0, 1.0, 1.0))), 1)
      val (t1, t2) = (sidecar("part-aaaaaaaa.parquet"), sidecar("part-bbbbbbbb.parquet"))
      assert(t1 != t2 && t1.length == t2.length,
        "precondition: distinct same-length checkpoint texts")
      val mt = 1700000000000L
      def build(text: String, id: String): Seq[(String, Long, Long)] = {
        assert(scDir.mkdirs())
        val ckpt = new java.io.File(scDir, GeoParquet.scLog.artName(1))
        java.nio.file.Files.writeString(ckpt.toPath, text)
        val idFile = new java.io.File(scDir, s"_scid-$id")
        assert(idFile.createNewFile())
        assert(ckpt.setLastModified(mt) && idFile.setLastModified(mt))
        scDir.listFiles().filterNot(_.getName.startsWith("_scid-"))
          .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted
      }
      val oldListing = build(t1, "aaaaaaaaaaaa")
      assert(GeoParquet.readSidecarText(path, conf).contains(t1))
      // second read is memo-hot (same signature) and must still be t1
      assert(GeoParquet.readSidecarText(path, conf).contains(t1))
      // adversarial rebuild: same checkpoint name/length/mtime, other
      // content, plus the fresh identity a real fold writes
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      val newListing = build(t2, "bbbbbbbbbbbb")
      assert(oldListing == newListing,
        "precondition: without the identity file the signatures collide")
      assert(GeoParquet.readSidecarText(path, conf).contains(t2),
        "memo served the dead dataset's sidecar after a same-path rebuild")

      // the real write path plants the identity at the first commit
      import spark.implicits._
      val real = s"$dir/real"
      GeoParquet.packZOrderToParquet(Seq((1L, 0, 0)).toDF("id", "a", "b"),
        Seq("a", "b"), real, 1)
      assert(new java.io.File(s"$real/_sc").list().exists(_.startsWith("_scid-")),
        "pack (first fold) must plant _scid-*")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("pre-r16 layouts fail loudly: a log dir holding only twin names throws and names the layout (both logs)") {
    val dir = java.nio.file.Files.createTempDirectory("pre-r16").toFile
    try {
      val st = GenState(1, 0, Map("f.parquet" -> GenEntry(0, -1)))
      val d2 = GeoParquet.renderGenDelta(GenDelta(2, 0, Set.empty, Set.empty,
        Map("g.parquet" -> GenEntry(1, -1)), Set.empty))
      val sc = GeoParquet.renderSidecar(
        Map("geom" -> Map("f.parquet" -> Array(0.0, 0.0, 1.0, 1.0))), 1)
      val scD2 = GeoParquet.renderScDelta(upsert("g.parquet"))
      def loud(read: => Any, layout: String): Unit = {
        val e = intercept[IllegalStateException](read)
        assert(e.getMessage.contains("pre-r16 twin-name layout") &&
          e.getMessage.contains(layout), e.getMessage)
      }
      // a twin-named checkpoint and delta, nothing unified
      val twin = s"$dir/twin"
      writeGen(twin, "_genckpt-1.json", GeoParquet.renderGenState(st))
      writeGen(twin, "_gendelta-2.json", d2)
      writeLog(twin, "_sc", "_scckpt-1.json", sc)
      writeLog(twin, "_sc", "_scdelta-2.json", scD2)
      loud(GeoParquet.readGenState(twin, conf), "_gendelta-N")
      loud(GeoParquet.readSidecarText(twin, conf), "_scdelta-N")
      // a commit must not build a fresh base under the live history
      loud(GeoParquet.commitGenState(spark, twin, _ => st), "_gendelta-N")
      assert(!new java.io.File(s"$twin/_gen").list().exists(_.startsWith("_gen-")))
      // twin deltas over a pre-delta-log ROOT base: never the older root
      val rooted = s"$dir/rooted"
      writeGen(rooted, "_gendelta-2.json", d2)
      writeLog(rooted, "_sc", "_scdelta-2.json", scD2)
      java.nio.file.Files.writeString(
        new java.io.File(rooted, GeoParquet.GenerationsName).toPath,
        GeoParquet.renderGenState(st))
      java.nio.file.Files.writeString(
        new java.io.File(rooted, GeoParquet.SidecarName).toPath, sc)
      loud(GeoParquet.readGenState(rooted, conf), "_gendelta-N")
      loud(GeoParquet.readSidecarText(rooted, conf), "_scdelta-N")
      // the one pre-r16 build that kept its deltas at the dataset root
      val rootDeltas = s"$dir/root-deltas"
      new java.io.File(rootDeltas).mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(rootDeltas, GeoParquet.GenerationsName).toPath,
        GeoParquet.renderGenState(st))
      java.nio.file.Files.writeString(
        new java.io.File(rootDeltas, "_gendelta-2.json").toPath, d2)
      loud(GeoParquet.readGenState(rootDeltas, conf), "_gendelta-N")
      // stale twin names BESIDE a unified checkpoint stay ignored
      writeGen(twin, GeoParquet.genArtName(1), GeoParquet.renderGenState(st))
      writeLog(twin, "_sc", GeoParquet.scLog.artName(1), sc)
      assert(GeoParquet.readGenState(twin, conf).contains(st))
      assert(GeoParquet.readSidecarText(twin, conf).contains(sc))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
