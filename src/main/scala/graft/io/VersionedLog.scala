package graft.io

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HadoopPath}

/**
 * THE LAKE COMMIT LOG: one versioned log of a state `S` and its
 * O(change) deltas `D`, kept in a dedicated subdirectory of the dataset
 * (`<dataset>/<dirName>/`). The generation manifest (`_gen/`) and the
 * bounds sidecar (`_sc/`) are two instances of this class; everything
 * below is the protocol they share, stated and implemented once. The
 * filesystem facts it relies on are [[LogFs]]'s P1-P3.
 *
 * LAYOUT. Ordinal N is exactly ONE artifact `<artPrefix>N.json`: a
 * full-state checkpoint or a delta, told apart by the canonical text
 * head (`kindOf`), so the never-replace publish (P3) arbitrates the
 * whole ordinal. A reader takes the highest-ordinal checkpoint and
 * applies the contiguous deltas above it. Before the first versioned
 * checkpoint the base is the dataset root's `legacyRoot` file (the
 * pre-delta-log layout), swept by the first fold. An empty
 * `<idPrefix><uuid>` file is the log's identity (see [[read]]).
 *
 * COMMIT ([[commit]]), one loop of at most 24 attempts:
 *  1. read the state; the caller's change maps it to the next state
 *     and its delta, or to None when the change is already in it;
 *  2. claim ordinal N+1 by exclusively creating the marker
 *     `<markerPrefix>(N+1)` holding a fresh nonce (P1). A loser waits
 *     and retries on fresh state; a marker whose artifact never lands
 *     (its owner died) is ADOPTED (deleted) once the state has stood
 *     still for 2 s, so a merely slow owner keeps its claim;
 *  3. re-check ownership before writing: the marker still holds OUR
 *     nonce (no adopter re-created it) and the state has not reached
 *     N+1 (success-path cleanup deletes committed markers, so a writer
 *     stalled across several commits can re-claim an old ordinal);
 *  4. render the artifact — a checkpoint on the first commit, when the
 *     change has no delta (a full rebuild), or when [[DeltaFoldEvery]]
 *     deltas have piled up; a delta otherwise — and require it to
 *     parse back to the same value (SELF-ROUND-TRIP): a name the text
 *     cannot represent fails THIS commit with the dataset untouched,
 *     never a log no later read can parse;
 *  5. publish with [[writeTextNoReplace]] (P3): artifacts are immutable,
 *     so a writer resuming after a >2 s stall LOSES to the adopter that
 *     already committed its ordinal and retries, and never clobbers it;
 *  6. read the artifact back. Our artifact gone while the state is past
 *     N+1 means a later fold read and covered it (landed); gone with
 *     the state AT N+1 means a same-ordinal fold covered it without
 *     reading it (retry on fresh state); anything else is a writer
 *     outside the protocol — an IOException, never lost history;
 *  7. re-check the marker AFTER the write: a writer stalled past the
 *     adoption window between steps 3 and 5 can land at an ordinal an
 *     adopter owns; a marker that no longer holds our nonce is that
 *     fingerprint, and the commit retries (the change's no-op test
 *     returns quietly when it did land);
 *  8. sweep: a fold creates the new checkpoint before deleting the
 *     older artifacts, so a max-ordinal checkpoint always exists and a
 *     crash mid-fold never leaves deltas uncovered. Dead markers and
 *     crashed writers' tmp files go in the same one-listing pass.
 *
 * LOUD FAILURES. A live artifact that is malformed, deltas without a
 * readable base, a delta gap that persists, or a live artifact that
 * keeps vanishing are ERRORS ("torn dataset"), never a silently older
 * state or "no log" — the next commit would then build a fresh base
 * under the live history. A log directory holding only the pre-r16
 * twin names (kind in the file name) fails the same way and names the
 * layout: this version does not read it.
 */
private[graft] final class VersionedLog[S, D](
    val dirName: String,
    val artPrefix: String,
    markerPrefix: String,
    idPrefix: String,
    label: String,
    legacyRoot: String,
    ordinal: S => Int,
    renderState: S => String,
    parseState: (String, String) => S,
    renderDelta: D => String,
    parseDelta: (String, String) => D,
    val kindOf: String => Option[Boolean],
    applyDelta: (S, D, Int) => S) {
  import VersionedLog._

  def artName(n: Int): String = s"$artPrefix$n.json"

  private def ordinalOf(name: String): Option[Int] =
    if (name.startsWith(artPrefix) && name.endsWith(".json"))
      name.stripPrefix(artPrefix).stripSuffix(".json").toIntOption
    else None

  private def logDir(path: String) = new HadoopPath(path, dirName)

  private def malformed(where: String) = new IllegalArgumentException(
    s"malformed $label log artifact at $where: head is neither a " +
      "checkpoint nor a delta")

  /** The pre-r16 layout carried the kind in the NAME (`_gendelta-N` /
    * `_genckpt-N`, `_scdelta-N` / `_scckpt-N`); it is only ever
    * detected, to fail loudly. */
  private val twinStem = artPrefix.stripSuffix("-")

  private def isPreR16(name: String): Boolean =
    name.endsWith(".json") &&
      (name.startsWith(s"${twinStem}delta-") || name.startsWith(s"${twinStem}ckpt-"))

  private def preR16(path: String) = new IllegalStateException(
    s"$label log at $path is in the pre-r16 twin-name layout " +
      s"(${twinStem}delta-N / ${twinStem}ckpt-N artifacts and no unified " +
      "checkpoint), which this version does not read; rewrite the " +
      "dataset with a current writer")

  /** One listing's artifacts, each read once: the checkpoint and delta
    * ordinals and their texts. An artifact that vanished between the
    * listing and its read, or whose head is malformed, is DEAD (ignored;
    * the next fold sweeps it) at or below the highest checkpoint, where
    * nothing reads it. Above it, a vanished one means a racing fold —
    * None, the caller re-lists — and a malformed one is an error. */
  private[graft] def classify(listedNames: Seq[String], dirWhere: String,
      read: String => Option[String]): Option[Arts] = {
    val ords = listedNames.flatMap(ordinalOf).sorted
    val texts = ords.flatMap(o => read(artName(o)).map(o -> _)).toMap
    val present = ords.filter(texts.contains)
    val ckpts = present.filter(o => kindOf(texts(o)).contains(true))
    val deltas = present.filter(o => kindOf(texts(o)).contains(false))
    def live(os: Seq[Int]) = ckpts.maxOption.fold(os)(b => os.filter(_ > b))
    if (live(ords.filterNot(texts.contains)).nonEmpty) return None
    live(present.filter(o => kindOf(texts(o)).isEmpty)).headOption
      .foreach(o => throw malformed(s"$dirWhere/${artName(o)}"))
    Some(Arts(ckpts, deltas, texts))
  }

  /** Per-process memo of the last assembled state per dataset, keyed by
    * the LISTING SIGNATURE: (name, length, mtime) of every artifact plus
    * the identity file names. Artifacts are immutable once published, so
    * an identical signature means identical content and a hit costs the
    * one listing and no opens. The identity file, created at fold time,
    * is what tells a dataset deleted and rebuilt at the same path apart
    * (fixed-width names make lengths collide, object-store mtimes are
    * coarse). Only conclusions from a versioned checkpoint are stored.
    * Cleared wholesale past 64 datasets. */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(String, Long, Long)], (S, Int))]()

  /** The state plus how many deltas sit on its checkpoint (the fold
    * trigger); None when the dataset has no log. A file vanishing
    * between the listing and its read, or a delta gap, is a racing
    * fold's cleanup: re-list. Either persisting is a torn dataset.
    * `claimed` is the marker of ordinal 1 the caller holds (the first
    * commit's re-check): a log dir listing nothing else is that commit
    * in progress, not a readdir racing a fold, see the empty-dir rule
    * below. */
  def read(path: String, conf: Configuration,
           claimed: Option[String] = None): Option[(S, Int)] = {
    val dir = logDir(path)
    val fs = dir.getFileSystem(conf)
    val dirWhere = dir.toString
    // (artifact statuses, dir exists): existence is free here (FNF vs
    // an empty success), no separate exists() call
    def list(): (Seq[(String, Long, Long)], Boolean) =
      try (fs.listStatus(dir).map(st => (st.getPath.getName, st.getLen,
        st.getModificationTime)).toSeq.sortBy(_._1), true)
      catch { case _: java.io.FileNotFoundException => (Nil, false) }
    def readArt(name: String) = readText(fs, new HadoopPath(dir, name))
    // every conclusion that did NOT come from a versioned checkpoint (a
    // legacy-root base, or "no log at all") is CONFIRMED by re-listing:
    // the migration fold writes its checkpoint BEFORE sweeping the root,
    // so if none exists now, no sweep raced this attempt's root read.
    // An artifact vanishing mid-confirm, or with an unknown head, counts
    // as maybe-a-checkpoint: not confirmed.
    def confirmedNoCkpt(): Boolean =
      !list()._1.flatMap(e => ordinalOf(e._1)).exists(o =>
        readArt(artName(o)).flatMap(kindOf).forall(identity))
    var attempts = 0
    var emptySeen = 0
    while (attempts < 50) {
      attempts += 1
      val (statuses, dirExists) = list()
      val sig = statuses.filter(e =>
        ordinalOf(e._1).isDefined || e._1.startsWith(idPrefix))
      val hit = memo.get(path)
      if (hit != null && hit._1 == sig) return Some(hit._2)
      val names = statuses.map(_._1)
      classify(names, dirWhere, readArt) match {
        case None =>
          if (attempts >= 8) throw new java.io.IOException(
            s"$label log artifact at $path vanished across retries — " +
              "torn dataset")
        case Some(arts) =>
          if (arts.ckpts.isEmpty && names.exists(isPreR16))
            throw preR16(path)
          val base = arts.ckpts.lastOption match {
            case Some(n) => Some(parseState(arts.texts(n), s"$dirWhere/${artName(n)}"))
            case None =>
              val root = new HadoopPath(path, legacyRoot)
              readText(fs, root).map { t =>
                // one pre-r16 build kept its deltas beside the root base
                if (fs.listStatus(new HadoopPath(path))
                    .exists(st => isPreR16(st.getPath.getName)))
                  throw preR16(path)
                parseState(t, root.toString)
              }
          }
          val legacyBased = arts.ckpts.isEmpty && base.isDefined
          base match {
            case None if arts.deltas.isEmpty =>
              // "no log" must be confirmed (a migration fold may have
              // swept the root between our listing and our read). A log
              // dir that EXISTS without artifacts is a torn first commit
              // or a readdir racing a fold: retried on its own counter.
              // Not when it lists only the caller's claimed marker: every
              // log holds an identity file from its first commit on,
              // which no sweep deletes, so a readdir racing a later fold
              // still lists it
              if (confirmedNoCkpt()) {
                if (!dirExists || claimed.exists(names == Seq(_))) return None
                emptySeen += 1
                if (emptySeen >= 3) return None
              }
            case None =>
              if (attempts >= 8) throw new java.io.IOException(
                s"$label log at $path has deltas but no readable " +
                  "checkpoint — torn dataset")
            case Some(b) =>
              val v = ordinal(b)
              val applicable = arts.deltas.filter(_ > v)
              if (applicable == (v + 1 to v + applicable.length)) {
                if (!legacyBased || confirmedNoCkpt()) {
                  val result = (applicable.foldLeft(b) { (s, n) =>
                    applyDelta(s, parseDelta(arts.texts(n), s"$dirWhere/${artName(n)}"), n)
                  }, applicable.length)
                  if (!legacyBased) {
                    if (memo.size > 64) memo.clear()
                    memo.put(path, (sig, result))
                  }
                  return Some(result)
                }
                // else a versioned checkpoint appeared while this attempt
                // read the root base: retry into it
              } else if (attempts >= 8) throw new java.io.IOException(
                s"$label log at $path has a delta gap above ordinal $v " +
                  s"(${applicable.mkString(",")}) — torn dataset")
          }
      }
      Thread.sleep(25L * math.min(attempts, 8))
    }
    throw new java.io.IOException(
      s"unable to obtain a consistent $label log read at $path after " +
        "50 attempts")
  }

  /** Commit one change (the protocol in the class doc). `change` gets
    * the current state (None = no log yet) and the ordinal being
    * claimed, and returns None when the change is already in the state
    * (nothing is written), or the next state with its delta from the
    * current one (None = write a checkpoint). It runs once per attempt,
    * on fresh state, so re-applying it on top of a racing writer's
    * commit must converge. Returns the state the log holds after the
    * call. */
  def commit(conf: Configuration, path: String,
             change: (Option[S], Int) => Option[(S, Option[D])]): Option[S] = {
    val dir = logDir(path)
    val fs = dir.getFileSystem(conf)
    var lastSeen = -1
    var staleSinceNanos = 0L
    var attempts = 0
    while (attempts < 24) {
      attempts += 1
      val full = read(path, conf)
      val cur = full.map(_._1)
      val seen = cur.map(ordinal).getOrElse(0)
      val n = seen + 1
      val (next, delta) = change(cur, n) match {
        case Some(step) => step
        case None => return cur
      }
      val marker = new HadoopPath(dir, s"$markerPrefix$n")
      val nonce = java.util.UUID.randomUUID().toString
      if (!LogFs.exclusiveCreate(fs, marker, nonce.getBytes(StandardCharsets.UTF_8))) {
        if (seen != lastSeen || staleSinceNanos == 0L) {
          lastSeen = seen
          staleSinceNanos = System.nanoTime()
        } else if (System.nanoTime() - staleSinceNanos > 2000000000L) {
          try fs.delete(marker, false)
          catch { case _: java.io.IOException => () }
          staleSinceNanos = 0L
        }
      } else if (markerHolds(fs, marker, nonce) &&
          !read(path, conf, Some(marker.getName).filter(_ => n == 1))
            .exists(s => ordinal(s._1) >= n)) {
        val fold = delta.isEmpty || full.forall(_._2 + 1 >= DeltaFoldEvery)
        // before the checkpoint lands; a crash in between leaves an
        // extra identity file, which the signature just carries
        if (fold) ensureId(fs, dir)
        val text = delta match {
          case Some(d) if !fold => selfChecked(path, renderDelta(d), parseDelta, d)
          case _ => selfChecked(path, renderState(next), parseState, next)
        }
        val name = artName(n)
        if (!writeTextNoReplace(fs, dir, name, text)) {
          // a refused publish can recur at the SAME ordinal: release the
          // marker while it still holds OUR nonce, or the retry blocks
          // on its own claim (check-then-delete: the same residual as
          // the adoption delete, caught by steps 3 and 5 like it)
          if (markerHolds(fs, marker, nonce))
            try fs.delete(marker, false)
            catch { case _: java.io.IOException => () }
        } else {
          val back = readText(fs, new HadoopPath(dir, name))
          val covered = !back.contains(text) && {
            var failure: Throwable = null
            val now =
              try read(path, conf).map(s => ordinal(s._1))
              catch { case scala.util.control.NonFatal(e) => failure = e; None }
            if (back.nonEmpty || !now.exists(_ >= n)) {
              val ex = new java.io.IOException(
                s"$label log commit at $path interleaved with a writer " +
                  "outside the commit protocol (read-back mismatch on " +
                  s"ordinal $n) — refusing to continue with lost history")
              if (failure != null) ex.addSuppressed(failure)
              throw ex
            }
            now.contains(n)
          }
          if (!covered && markerHolds(fs, marker, nonce)) {
            sweep(fs, dir, path, n, fold)
            return Some(next)
          }
        }
      }
      Thread.sleep(25L * math.min(attempts, 8))
    }
    throw new java.io.IOException(
      s"$label log commit contention at $path: 24 attempts lost")
  }

  private def selfChecked[T](path: String, text: String,
                             parse: (String, String) => T, value: T): String = {
    val ok = try parse(text, "self-check") == value
      catch { case _: IllegalArgumentException => false }
    require(ok, s"$label log commit at $path aborted: the change does not " +
      "survive the canonical log text (a name the format cannot " +
      "represent?) — dataset left untouched")
    text
  }

  /** Create the identity file if none exists. Best effort: a racer's
    * create or any IO failure is fine, the id only invalidates memos. */
  private def ensureId(fs: FileSystem, dir: HadoopPath): Unit =
    try {
      val has =
        try fs.listStatus(dir).exists(_.getPath.getName.startsWith(idPrefix))
        catch { case _: java.io.FileNotFoundException => false }
      if (!has)
        fs.create(new HadoopPath(dir,
          idPrefix + java.util.UUID.randomUUID().toString.take(12)), false)
          .close()
    } catch { case _: java.io.IOException => () }

  /** Step 8, inside the log dir (one listing): after a verified fold,
    * every artifact below its ordinal is dead (deltas covered,
    * checkpoints superseded) and so is the root base; dead markers and
    * crashed writers' `.<artifact>.tmp-<uuid>` files go in the same
    * pass. Failures are harmless: the next fold re-deletes. */
  private def sweep(fs: FileSystem, dir: HadoopPath, path: String,
                    n: Int, fold: Boolean): Unit =
    try {
      def tmpOrdinal(name: String): Option[Int] = {
        val i = name.indexOf(".json.tmp-")
        if (!name.startsWith(".") || i <= 1) None
        else ordinalOf(name.substring(1, i) + ".json")
      }
      fs.listStatus(dir).map(_.getPath.getName).filter { name =>
        (fold && ordinalOf(name).exists(_ < n)) ||
          (name.startsWith(markerPrefix) &&
            name.stripPrefix(markerPrefix).toIntOption.exists(_ < n)) ||
          tmpOrdinal(name).exists(_ < n)
      }.foreach(name => fs.delete(new HadoopPath(dir, name), false))
      if (fold) fs.delete(new HadoopPath(path, legacyRoot), false)
    } catch { case _: java.io.IOException => () }
}

private[graft] object VersionedLog {

  /** A commit writes a full checkpoint instead of a delta once this many
    * deltas sit on the current one. */
  val DeltaFoldEvery = 16

  /** [[VersionedLog.classify]]'s view of one listing. */
  final case class Arts(ckpts: Seq[Int], deltas: Seq[Int], texts: Map[Int, String])

  /** The whole file at `p` in one open, read to EOF; None when it does
    * not exist (a racing fold's sweep or a never-written name). */
  def readText(fs: FileSystem, p: HadoopPath): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Does the marker still hold OUR nonce? (false on missing,
    * unreadable, or someone else's nonce: an adopter took over) */
  private def markerHolds(fs: FileSystem, marker: HadoopPath,
                          nonce: String): Boolean =
    try {
      val in = fs.open(marker)
      try {
        val bytes = new Array[Byte](nonce.length)
        in.readFully(bytes)
        new String(bytes, StandardCharsets.UTF_8) == nonce
      } finally in.close()
    } catch { case _: java.io.IOException => false }

  /** Atomic-visibility, NEVER-REPLACE write of a log artifact: tmp write,
    * then publish only if `name` does not exist, returning false instead
    * of clobbering (a lost race). The publish is [[LogFs]] primitive P3:
    * an atomic no-replace hard link on local filesystems, a registered
    * conditional put on object stores, and only without either the
    * guarded probe+rename, whose residual LogFsSpec forces and pins. */
  private[graft] def writeTextNoReplace(fs: FileSystem, dir: HadoopPath,
                                        name: String, text: String): Boolean = {
    val p = new HadoopPath(dir, name)
    // probed before the upload (a checkpoint is O(live-files) bytes:
    // don't pay it on the common refusal path) and again after it. A
    // TRANSIENT probe failure retries once; the second verdict is
    // trusted only where an atomic primitive arbitrates the publish
    // anyway (a spurious "absent" then just loses the race). On the
    // probe+rename fallback the probe is the only defense against a
    // clobber, so a failure reads as taken. A failure that REPEATS is a
    // broken filesystem: the second exception propagates.
    def taken: Boolean =
      try fs.exists(p)
      catch {
        case _: java.io.IOException =>
          val second = fs.exists(p)
          if (LogFs.publishArbitrates(fs)) second else true
      }
    if (taken) return false
    val tmp = new HadoopPath(dir,
      s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    def dropTmp(): Unit =
      try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
    try {
      val out = fs.create(tmp, true)
      try out.write(text.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (taken) { dropTmp(); false }
      else {
        LogFs.raceInjection.foreach(_(p)) // test seam: competitor lands HERE
        LogFs.linkNoReplace(fs, tmp, p) match {
          case Some(published) => dropTmp(); published
          case None => // no atomic primitive: guarded rename fallback
            fs.rename(tmp, p) || { dropTmp(); false }
        }
      }
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw e
    }
  }
}
