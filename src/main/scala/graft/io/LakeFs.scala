package graft.io

import java.nio.file.{Files, attribute}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path => HadoopPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The lake's Hadoop conf: one per lake call, shared by every handle,
  * footer open and log commit the call makes, and mirrored into the
  * options of every write the call starts ([[writeOptions]]).
  *
  * WHY. Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process for every local file and directory it
  * creates: the log commits' tmp files and `.crc`s, the committer's
  * mkdirs, every part file and marker, about 2.8 ms each against 0.03 ms
  * for the create itself. On `file:` the lake therefore uses
  * [[LakeLocalFileSystem]], which applies the same permission bits
  * through java.nio. It is still Hadoop's checksummed LocalFileSystem,
  * and its rename still refuses an existing file: file contents, names,
  * `.crc` files, permission bits and rename semantics are those of the
  * default, so [[LogFs]]'s P1-P3 hold as stated.
  *
  * A session that sets `fs.file.impl` itself (e.g. through
  * `spark.hadoop.fs.file.impl`) keeps its class everywhere: [[lakeConf]]
  * adds nothing then, and [[writeOptions]] is empty. */
private[graft] object LakeFs {

  private val ImplKey = "fs.file.impl"

  /** The keys [[lakeConf]] adds. `disable.cache` matters: the FileSystem
    * cache is keyed by scheme and user, not by conf, so without it
    * `file:` would resolve to whatever instance an earlier caller
    * cached. */
  private val LakeKeys = Seq(
    ImplKey -> classOf[LakeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The session's Hadoop conf plus [[LakeKeys]], unless the session
    * names its own `file:` implementation. */
  def lakeConf(spark: SparkSession): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    if (conf.getTrimmed(ImplKey, "").isEmpty)
      LakeKeys.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** The write options that carry `conf`'s lake keys into Spark's
    * writer, which builds its job conf from the session and the options,
    * not from `conf`; empty when the session kept its own class. */
  def writeOptions(conf: Configuration): Map[String, String] =
    if (conf.get(ImplKey) == LakeKeys.head._2) LakeKeys.toMap else Map.empty
}

/** Hadoop's checksummed LocalFileSystem over a raw layer that sets
  * permissions without forking (see [[LakeFs]]). Its rename refuses an
  * existing file target, as the Hadoop FileSystem specification asks and
  * as Hive's ProxyLocalFileSystem does, which is the `file:` default
  * wherever Spark ships with Hive's jars; the raw layer's rename(2)
  * would replace it. */
class LakeLocalFileSystem extends LocalFileSystem(new NioPermissionRawLocalFs) {
  override def rename(src: HadoopPath, dst: HadoopPath): Boolean =
    !(try getFileStatus(dst).isFile
      catch { case _: java.io.FileNotFoundException => false }) &&
      super.rename(src, dst)
}

/** RawLocalFileSystem whose `setPermission` applies the nine rwx bits
  * through `Files.setPosixFilePermissions`, as `chmod` would. Bits it
  * cannot express (sticky) and stores without POSIX attributes take
  * Hadoop's own path. */
class NioPermissionRawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: HadoopPath, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xffff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioPermissionRawLocalFs.posix(bits))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

private object NioPermissionRawLocalFs {
  import attribute.PosixFilePermission._
  // owner rwx, group rwx, others rwx: bit 8 down to bit 0
  private val ByBit = Array(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
    GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
    OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)

  def posix(bits: Int): java.util.Set[attribute.PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    for (i <- 0 until 9 if (bits & (1 << (8 - i))) != 0) s.add(ByBit(i))
    s
  }
}
