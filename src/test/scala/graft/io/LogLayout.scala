package graft.io

/** Test-side view of the single-name-per-ordinal log layout (r16):
  * ordinal N is exactly ONE artifact (`_gen-N.json` / `_sc-N.json`)
  * whose KIND lives in the canonical text head, classified through
  * the log's own [[VersionedLog.kindOf]]. */
object LogLayout {

  /** (ordinal, isCheckpoint, file) for every unified artifact in the
    * given log dir (`<dataset>/_gen` or `<dataset>/_sc`). */
  private def arts(log: VersionedLog[_, _],
                   path: String): Seq[(Int, Boolean, java.io.File)] =
    Option(new java.io.File(s"$path/${log.dirName}").listFiles())
      .getOrElse(Array.empty).toSeq
      .flatMap { f =>
        val n = f.getName
        if (n.startsWith(log.artPrefix) && n.endsWith(".json"))
          n.stripPrefix(log.artPrefix).stripSuffix(".json").toIntOption
            .map(o => (o, log.kindOf(java.nio.file.Files.readString(f.toPath))
              .getOrElse(throw new IllegalArgumentException(s"malformed log artifact $f")), f))
        else None
      }.sortBy(_._1)

  def genArts(path: String): Seq[(Int, Boolean, java.io.File)] =
    arts(GeoParquet.genLog, path)

  def genCkpts(path: String): Seq[(Int, java.io.File)] =
    genArts(path).collect { case (o, true, f) => (o, f) }

  def genDeltas(path: String): Seq[(Int, java.io.File)] =
    genArts(path).collect { case (o, false, f) => (o, f) }

  def scArts(path: String): Seq[(Int, Boolean, java.io.File)] =
    arts(GeoParquet.scLog, path)

  def scCkpts(path: String): Seq[(Int, java.io.File)] =
    scArts(path).collect { case (o, true, f) => (o, f) }

  def scDeltas(path: String): Seq[(Int, java.io.File)] =
    scArts(path).collect { case (o, false, f) => (o, f) }
}
