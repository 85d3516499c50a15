package graft.io

import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import org.apache.hadoop.fs.{FileSystem, Path => HadoopPath}

/**
 * THE FILESYSTEM CONTRACT of the lake's one commit log
 * ([[VersionedLog]], whose two instances are the `_gen/` manifest and
 * the `_sc/` sidecar), stated once, with the primitives implemented in
 * one place. Everything the CAS design assumes about the storage layer
 * is one of these three facts; anything weaker degrades exactly as
 * documented per primitive. SCOPE OF THE GUARANTEE: each primitive
 * arbitrates ONE name. The log is SINGLE-NAME-PER-ORDINAL
 * (`_gen-N.json` / `_sc-N.json`, kind tagged in the canonical text
 * head), so the publish arbitration covers the WHOLE ordinal: a
 * >2s-stalled fold's checkpoint and an adopter's delta at the same
 * ordinal collide on the name and one of them loses. MIXED VERSIONS
 * ARE NOT SUPPORTED ON A SHARED DATASET: the pre-r16 layout carried
 * the kind in the name, and this version does not read it — a log
 * directory holding only such names fails loudly, naming the layout,
 * rather than reading as "no log" (a commit would then build a fresh
 * base under the live history); stray pre-r16 names beside a current
 * checkpoint are ignored. Upgrade every JVM touching a dataset
 * together.
 *
 * P1 EXCLUSIVE CREATE (load-bearing for the marker CAS): creating a
 *    file that must not already exist ([[exclusiveCreate]]) fails when
 *    it does, ATOMICALLY — two racing claimants of `.gencommit-N` /
 *    `.sccommit-N` must never both win. On `file://` this is
 *    open(O_CREAT|O_EXCL) via java.nio CREATE_NEW (kernel-atomic); on
 *    other schemes it is Hadoop `create(p, overwrite = false)`, which
 *    HDFS makes atomic at the NameNode but a bare object store may
 *    implement as check-then-act — there, two same-ordinal claims can
 *    BOTH win and safety falls back to the marker-nonce + read-back
 *    re-checks (which catch most but not all orderings; see P3).
 *
 * P2 LIST/READ-AFTER-WRITE VISIBILITY (load-bearing for adoption and
 *    folds): a completed [[exclusiveCreate]] / publish is visible to a
 *    subsequent `listStatus`/`open` by ANY process. Local FS and HDFS
 *    give this outright; S3-consistent stores do since 2020. A store
 *    with delayed listing visibility can double-adopt an ordinal —
 *    the never-replace publish (P3) then turns the collision into a
 *    lost race for one writer instead of a lost commit.
 *
 * P3 PUBLISH-NO-REPLACE (load-bearing for artifact immutability): a
 *    log artifact (`_gen-N.json` / `_sc-N.json`), once committed, is
 *    never silently overwritten — a stale writer publishing at an
 *    ordinal an adopter re-claimed must LOSE (and retry on fresh
 *    state), not clobber. On `file://` the
 *    publish is a POSIX hard link ([[linkNoReplace]]): link(2) fails
 *    EEXIST atomically, so the probe-to-rename window of a plain
 *    exists+rename DOES NOT EXIST here. On filesystems without any
 *    no-replace primitive the caller falls back to probe+rename,
 *    whose safety then rests on the FS's OWN rename semantics:
 *    the lake's `file:` class and HDFS refuse an existing file target
 *    (LogFsSpec forces the race and pins the refusal),
 *    but a bare rename(2) (RawLocalFileSystem's fast path, POSIX
 *    mounts) silently REPLACES — pinned at the primitive level in
 *    LogFsSpec — which is exactly why the atomic link path is the
 *    default wherever the scheme provides one. The lake's `file:`
 *    class ([[LakeLocalFileSystem]], see [[LakeFs]]) is still Hadoop's
 *    checksummed LocalFileSystem, with a rename that refuses an
 *    existing file as Hive's ProxyLocalFileSystem (the session default
 *    where Spark ships Hive's jars) does; only its permission setting
 *    changed, so P1-P3 are unchanged. An object-store
 *    deployment restores P3 (and P1) by registering its store's
 *    conditional put ([[ConditionalPut]] via
 *    [[registerConditionalPut]] — the seam AdversarialFsSpec proves
 *    out); absent that, single-writer-per-dataset is the documented
 *    mode.
 */
// The object is PUBLIC solely so deployments can reach the
// [[LogFs.ConditionalPut]] registration ([[LogFs.registerConditionalPut]])
// the P3 contract above prescribes for object stores; every other
// member stays private[graft].
object LogFs {

  /** THE OBJECT-STORE ADAPTER SEAM (P1 + P3 restored on stores with a
    * conditional put): one method — write `bytes` at `p` atomically
    * IFF nothing exists there (HTTP `If-None-Match: *`; S3
    * conditional PUT, GCS `ifGenerationMatch=0`, ABFS ETag create).
    * `true` = created; `false` = something already exists (lost race,
    * loudly NOT a clobber). Implementations must be store-atomic: a
    * client-side exists+put is exactly the check-then-act window this
    * seam exists to remove. Register per URI scheme at session start
    * ([[registerConditionalPut]]); when registered, BOTH the marker
    * CAS (P1) and the artifact publish (P3) route through it, which
    * upgrades that scheme from the documented
    * single-writer-per-dataset mode to full multi-writer safety.
    * AdversarialFsSpec drives both commit protocols through a
    * deliberately broken filesystem (replace-on-rename, delayed
    * listing visibility) and proves safety holds through an adapter
    * and degrades LOUDLY without one. */
  trait ConditionalPut {
    def putIfAbsent(fs: FileSystem, p: HadoopPath,
                    bytes: Array[Byte]): Boolean
  }

  private val conditionalPuts =
    new java.util.concurrent.ConcurrentHashMap[String, ConditionalPut]()

  /** Register a store's conditional-put for a URI scheme (e.g. "s3a").
    * Idempotent per scheme — last registration wins. */
  def registerConditionalPut(scheme: String, put: ConditionalPut): Unit =
    conditionalPuts.put(scheme, put)

  /** Test hygiene: drop a registration (never needed in production —
    * an adapter outliving its store client is harmless). */
  private[graft] def unregisterConditionalPut(scheme: String): Unit =
    conditionalPuts.remove(scheme)

  private def adapterFor(fs: FileSystem): Option[ConditionalPut] =
    Option(fs.getUri).map(_.getScheme).flatMap(s =>
      Option(conditionalPuts.get(s)))

  /** Test seam (LogFsSpec): force the probe+rename fallback even where
    * the atomic hard-link primitive exists, to prove the fallback's
    * residual is real and the link path closes it. Never set outside
    * tests. */
  @volatile private[graft] var disableAtomicLink: Boolean = false

  /** Test seam (LogFsSpec): invoked with the publish target right
    * before the no-replace attempt — the adversarial spec lands a
    * competitor's artifact in exactly the probe-to-publish window. */
  @volatile private[graft] var raceInjection: Option[HadoopPath => Unit] = None

  private def isLocal(fs: FileSystem): Boolean =
    fs.getUri != null && fs.getUri.getScheme == "file"

  /** True when [[linkNoReplace]] will arbitrate the publish target
    * with an atomic no-replace primitive (a registered
    * [[ConditionalPut]], or the local hard-link path): a caller's
    * existence probe may then retry a transient failure and trust the
    * second verdict — a spurious "absent" just loses the race at
    * publish time, it cannot clobber. On the probe+rename fallback
    * (no adapter, non-local scheme, or the link seam disabled) the
    * probe is the ONLY defense against replace-on-rename, so callers
    * must treat a probe failure as taken. Conservative: the local
    * link path can still degrade to rename on an exotic-mount
    * IOException, but that fallback shares the probe's failure cause
    * so the residual window needs two independent faults. */
  private[graft] def publishArbitrates(fs: FileSystem): Boolean =
    !disableAtomicLink && (adapterFor(fs).nonEmpty || isLocal(fs))

  /** The lost-race-vs-broken-store discriminator shared by every
    * create/publish refusal handler (exclusiveCreate's two default
    * branches and the shipped adapter's build-time branch): after an
    * ambiguous IOException `orig` from a create-like operation, probe
    * the target — visible = lost race. The probe itself retries once
    * on a transient fault and TRUSTS the retry's verdict; a REPEATING
    * fault is a broken store and propagates the ORIGINAL error with
    * BOTH probe faults attached as suppressed — loud on the first
    * attempt with the real cause, never a guessed verdict that burns
    * the caller's retry budget on fake contention. Deliberate trade:
    * a flaky probe whose retry spuriously reads "absent" crashes a
    * healthy lost race LOUDLY (the caller's commit fails with the
    * refusal cause) — acceptable, because the alternative (assume
    * visible) would mislabel every broken store as contention. Do NOT
    * use this where an "absent" verdict skips load-bearing cleanup —
    * the adapter's post-build read-back deliberately probes by
    * reading the target instead. */
  private[io] def probeVisible(fs: FileSystem, p: HadoopPath,
                               orig: java.io.IOException): Boolean =
    retryOnce(orig)(fs.exists(p))

  /** Shared retry-once shape for post-failure probes/read-backs: run
    * `body`, retry it once on an IOException (trusting the retry's
    * result), and on a REPEATING failure propagate the ORIGINAL error
    * with both faults attached as suppressed — loud with the real
    * cause, never a guessed verdict. */
  private[io] def retryOnce[T](orig: java.io.IOException)(body: => T): T =
    try body
    catch {
      case e1: java.io.IOException =>
        try body
        catch {
          case e2: java.io.IOException =>
            orig.addSuppressed(e1); orig.addSuppressed(e2); throw orig
        }
    }

  /** P1: atomically create `p` holding `bytes`; false when it already
    * exists (or a racer won). Refusal-time IOExceptions with the file
    * absent propagate — a broken filesystem must be loud, not a lost
    * claim. One deliberate exception on the generic-Hadoop branch: a
    * WON create whose own write then fails maps through
    * [[ownClaimVerdict]] — an absent/partial target there is OUR
    * failed claim, so the first such failure self-heals to `false`
    * (in-loop retry) and only a repeating one (or a failed cleanup)
    * propagates, with the cause. */
  private[graft] def exclusiveCreate(fs: FileSystem, p: HadoopPath,
                                     bytes: Array[Byte]): Boolean =
    adapterFor(fs) match {
      case Some(a) => a.putIfAbsent(fs, p, bytes)
      case None => exclusiveCreateDefault(fs, p, bytes)
    }

  private def exclusiveCreateDefault(fs: FileSystem, p: HadoopPath,
                                     bytes: Array[Byte]): Boolean =
    if (isLocal(fs)) {
      val nio = Paths.get(p.toUri.getPath)
      // Hadoop create() makes parent dirs implicitly; nio does not —
      // the first marker of a fresh log dir needs them (idempotent).
      // OUTSIDE the lost-race handler: a parent component existing as
      // a regular file is a broken layout that must fail loudly, not
      // read as "marker already exists" and spin the retry loop
      if (nio.getParent != null)
        try Files.createDirectories(nio.getParent)
        catch {
          case e: FileAlreadyExistsException => throw new java.io.IOException(
            s"cannot create log dir for $p: a parent component exists " +
              "as a regular file", e)
        }
      try {
        // CREATE_NEW = open(O_CREAT|O_EXCL): the kernel arbitrates the
        // race; Hadoop's local create(p, false) is exists-then-create
        // and two processes can BOTH win inside its check window.
        Files.write(nio, bytes, java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: FileAlreadyExistsException => false
        // a generic IOException from the one-shot Files.write cannot
        // distinguish refused-create from won-create-then-failed-write
        // (whose partial the probe would read as "taken"); the
        // misclassification only costs a TRANSIENT stall here — this
        // primitive serves the marker CAS alone, and the caller's
        // 2-second stale-marker sweep deletes a marker that never
        // advances, so a stray partial self-heals
        case e: java.io.IOException => if (probeVisible(fs, p, e)) false else throw e
      }
    } else {
      var won = false
      try {
        val out = fs.create(p, false)
        won = true
        // a write fault must not be masked by the follow-up close's
        // failure — the root cause rides the thrown error, the close
        // fault attaches as suppressed
        try out.write(bytes)
        catch {
          case we: Throwable =>
            try out.close()
            catch { case ce: Throwable => we.addSuppressed(ce) }
            throw we
        }
        out.close()
        // a clean claim ends the failure episode: the consecutive
        // self-heal count must not leak into a later legitimate
        // re-claim of the same path (long-running driver, rebuilt
        // dataset at the same location)
        selfHeals.remove(p.toString)
        true
      } catch {
        // refusals do NOT touch the self-heal counter: the recency
        // horizon retires stale episodes on its own, and clearing here
        // would let our own undeletable leftover (which refuses the
        // next create) reset the persistent-fault bound every cycle
        case _: org.apache.hadoop.fs.FileAlreadyExistsException if !won => false
        case e: java.io.IOException if !won =>
          if (probeVisible(fs, p, e)) false else throw e
        case e: java.io.IOException =>
          // the create "won" but the write/close failed. Ownership is
          // NOT implied on a check-then-act store (both creates can
          // win; the visible file may be a COMPETITOR's committed
          // claim), so discriminate by content read-back exactly like
          // the adapter: byte-equal = our claim actually committed
          // (true); empty/strict prefix = our partial — delete it
          // (self-heal: the caller's retry loop re-claims the freed
          // name) and warn with the cause so a persistent fault never
          // reads as cause-less contention; anything else = a
          // competitor's claim — lost race, NEVER deleted
          ownClaimVerdict(fs, p, bytes, e)
      }
    }

  /** The content read-back discriminator shared by [[ownClaimVerdict]]
    * and the shipped adapter's post-build gate: compare what is AT the
    * name with what WE tried to put there. Some(false) = a
    * competitor's artifact (longer or different content), Some(true) =
    * byte-equal — our put actually committed (ack lost), None = our
    * strict-prefix partial. Throws FileNotFoundException when the name
    * is absent — each caller maps absence per its own contract. */
  private[io] def contentVerdict(fs: FileSystem, p: HadoopPath,
                                 bytes: Array[Byte]): Option[Boolean] = {
    val len = fs.getFileStatus(p).getLen
    if (len > bytes.length) Some(false) // longer: competitor's
    else {
      val b = new Array[Byte](len.toInt)
      val in = fs.open(p)
      try in.readFully(b) finally in.close()
      if (!java.util.Arrays.equals(b,
          java.util.Arrays.copyOfRange(bytes, 0, b.length)))
        Some(false) // different content: competitor's
      else if (len == bytes.length) Some(true) // ours, committed
      else None // our strict-prefix partial
    }
  }

  /** Consecutive self-healed own-write failures per marker path
    * (either shape: partial landed, or nothing landed): the SECOND
    * one within an episode rethrows the cause instead of letting a
    * persistent fault burn the caller's whole retry budget into a
    * cause-less "contention" error. An "episode" is RECENCY-bounded —
    * an entry only accumulates when the previous failure was under
    * [[EpisodeNanos]] ago — so stale state from any ending the
    * bookkeeping cannot observe (thrown endings, lost races to a
    * rival) retires on its own instead of poisoning a later
    * legitimate re-claim of the same path; entries also clear on a
    * committed/competitor verdict and on the next clean claim.
    * Deliberately NOT cleared on a create refusal: our own
    * undeletable leftover can refuse the next create, and clearing
    * there would reset the bound every cycle of a persistent fault.
    * KNOWN RESIDUALS of the horizon, both loud-with-cause rather than
    * silent: (a) a persistent fault whose per-attempt cycle exceeds
    * the horizon (e.g. 60s+ RPC timeouts) resets the count each time,
    * so it surfaces as the caller's budget-exhaustion error while the
    * real cause lives in the per-heal WARN logs; (b) two DISTINCT
    * legitimate episodes of the same path within one horizon can
    * merge, making the second throw its (real, transient) cause on
    * its first fault instead of healing — a retryable loud failure.
    * Threading a per-claim episode token through the caller's retry
    * loop would remove both at the cost of widening the P1 API;
    * revisit if either residual is ever observed in practice.
    * Bounded by a wholesale guard (distinct failing paths only —
    * never hot-path state). */
  private val selfHeals =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()
  private val EpisodeNanos = 60L * 1000 * 1000 * 1000

  /** The won-create-then-failed-write discriminator of
    * [[exclusiveCreateDefault]]'s generic branch (see the call site).
    * Read-back failures attach to the original error and rethrow it —
    * loud, never a guessed verdict. A target absent on read-back is
    * OUR failed write with nothing landed: it self-heals to false
    * (name free for the caller's in-loop retry) and counts toward the
    * same consecutive bound as the partial shape — the second
    * consecutive failure of either shape throws the cause. The
    * residual of a SPURIOUS FileNotFound leaving the partial behind
    * is a bounded stall, because the marker stale-sweep frees a claim
    * that never advances. */
  private def ownClaimVerdict(fs: FileSystem, p: HadoopPath,
                              bytes: Array[Byte],
                              e: java.io.IOException): Boolean = {
    val verdict: Option[Option[Boolean]] = retryOnce(e) {
      try Some(contentVerdict(fs, p, bytes))
      catch { case _: java.io.FileNotFoundException => None } // absent
    }
    verdict match {
      case Some(Some(v)) => selfHeals.remove(p.toString); v
      case other =>
        // None (absent — nothing landed, e.g. a lost PUT at close) and
        // Some(None) (our strict-prefix partial) are BOTH our own
        // failed write: both self-heal, and both count toward the
        // consecutive-failure bound — a persistent fault of either
        // shape (or alternating shapes) throws its real cause on the
        // second IN-HORIZON attempt instead of burning the caller's
        // budget (see the selfHeals doc for the horizon's residuals).
        val cleaned = other match {
          case Some(None) =>
            (try fs.delete(p, false)
             catch { case de: java.io.IOException =>
               e.addSuppressed(de); false }) || {
              // a rival's stale sweep may have freed the name between
              // read-back and delete — cleanup is then MOOT, not
              // failed; the probe tolerates one transient fault like
              // every other post-failure probe here (a double fault
              // throws e with both attached)
              retryOnce(e)(!fs.exists(p))
            }
          case _ => true // absent: nothing to clean
        }
        if (selfHeals.size > 1024) selfHeals.clear()
        val now = System.nanoTime()
        val heals = selfHeals.compute(p.toString, (_, prev) =>
          if (prev != null && now - prev._2 < EpisodeNanos) (prev._1 + 1, now)
          else (1, now))._1
        if (!cleaned || heals >= 2) {
          // a cleanup that genuinely failed (partial still visible), or
          // a SECOND consecutive self-heal of the same claim: loud now
          selfHeals.remove(p.toString)
          throw e
        }
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"marker write at $p failed after winning the create; the " +
            "name is free again and the claim will retry", e)
        false
    }
  }

  /** P3: atomically publish the fully-written `tmp` at `dst` without
    * ever replacing an existing `dst`. Some(true) = published (tmp
    * still present — caller removes it), Some(false) = dst already
    * exists (lost race, loudly NOT a clobber), None = no atomic
    * primitive on this filesystem — caller falls back to the guarded
    * probe+rename with its documented residual. */
  private[graft] def linkNoReplace(fs: FileSystem, tmp: HadoopPath,
                                   dst: HadoopPath): Option[Boolean] =
    (if (disableAtomicLink) None else adapterFor(fs)) match {
      case Some(adapter) =>
        // conditional-put adapter: the store itself arbitrates the
        // name. The fully-written tmp is re-read and pushed as one
        // atomic if-absent put — the caller deletes tmp on Some(_)
        // either way. (Single registry lookup: a concurrent
        // unregister must fall back cleanly, never NoSuchElement.)
        // A tmp that VANISHED before the re-read was swept by a
        // rival's cleanup after we stalled past the adoption window —
        // the same lost race the local link path reports (its rename
        // of a missing tmp returns false); map it to Some(false)
        // instead of failing the whole commit with FileNotFound.
        // the FNF catch covers ONLY the tmp re-read: a missing tmp is
        // ALWAYS a lost race (Some(false)) — exactly what the local
        // link path reports when its rename finds the tmp gone. The
        // tempting "dst absent too = broken store, rethrow"
        // discriminator is WRONG: a fold at a higher ordinal sweeps
        // the adopted dst and our tmp in the same cleanup pass, so a
        // perfectly healthy deep race also presents as tmp+dst both
        // absent. A store that genuinely cannot read back its own
        // fresh create fails every retry and surfaces as the caller's
        // bounded retry-budget IOException (~24 attempts) — loud,
        // just less precise; never failing a healthy race outranks
        // naming the broken store on the first attempt. Adapter-side
        // errors (S3A maps 404s to FNF) are outside the catch and
        // stay loud.
        val bytesOpt =
          try {
            val in = fs.open(tmp)
            try {
              val len = fs.getFileStatus(tmp).getLen
              // log artifacts are O(change)/O(live-files) metadata; a
              // ~2 GiB one means something else went wrong — name the
              // real limit instead of dying in the array allocation
              // (the JVM cap is slightly under Int.MaxValue)
              require(len < Int.MaxValue - 8,
                s"log artifact $tmp is $len bytes — too large for a " +
                  "single conditional put")
              val b = new Array[Byte](len.toInt); in.readFully(b); Some(b)
            } finally in.close()
          } catch {
            case _: java.io.FileNotFoundException => None
          }
        Some(bytesOpt.exists(adapter.putIfAbsent(fs, dst, _)))
      case None if disableAtomicLink || !isLocal(fs) => None
      case None =>
    {
      try {
        // link(2): EEXIST-atomic, same-directory so same-device always
        Files.createLink(Paths.get(dst.toUri.getPath),
          Paths.get(tmp.toUri.getPath))
        // carry Hadoop's checksum sidecar along (the rename publish
        // moved it implicitly; without it ChecksumFileSystem reads the
        // artifact unverified and bit-rot that still parses would pass
        // silently). Same bytes => same crc, so a hard link is exact;
        // best-effort — a raw fs has no crc to carry, and the data
        // link above is the commit point either way
        def crcOf(p: HadoopPath) = Paths.get(
          new HadoopPath(p.getParent, s".${p.getName}.crc").toUri.getPath)
        if (Files.exists(crcOf(tmp)))
          try Files.createLink(crcOf(dst), crcOf(tmp))
          catch {
            case _: java.io.IOException =>
              // a STALE orphaned dst crc (out-of-band partial delete)
              // must not pair the freshly committed artifact with a
              // mismatched checksum — every later ChecksumFileSystem
              // read would fail ChecksumException on a good artifact.
              // The data link above is already the commit point, so
              // delete-and-retry-once stays safe; a second failure
              // leaves no crc (unverified read, not a poisoned one).
              try {
                Files.deleteIfExists(crcOf(dst))
                Files.createLink(crcOf(dst), crcOf(tmp))
              } catch { case _: java.io.IOException => () }
          }
        Some(true)
      } catch {
        case _: FileAlreadyExistsException => Some(false)
        case _: UnsupportedOperationException => None
        // anything else (parent vanished, exotic mount): fall back to
        // the rename path rather than failing a commit a plain rename
        // would have carried
        case _: java.io.IOException => None
      }
    }
    }
}
