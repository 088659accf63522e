package graft.store

import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path}

import SnapshotStore.{manifestArbiter, schemeOf}

/** Exclusive-create claims: the one primitive every arbitration in the
  * store (manifest commits, identity-block claims, tag creates,
  * checkpoint work-dedup claims) rests on, and the zombie fence of the
  * external [[ClaimArbiter]].
  */
private[store] object Claims {

  /** Exclusive-create arbitration primitive: a stream is returned ONLY
    * to the one caller that atomically claimed `target`; every loser
    * gets None. The correctness of every arbitration in the store (manifest
    * commits, identity block claims, tag creation) rests on this being
    * genuinely atomic.
    *
    * On cluster filesystems (HDFS, ABFS, GCS) `create(overwrite=false)`
    * IS atomic (lease / precondition) and is used directly. On the
    * LOCAL filesystem it is CHECK-THEN-ACT (RawLocalFileSystem tests
    * existence, then opens a plain FileOutputStream): two racing
    * threads can BOTH pass the check and open the same path, and the
    * later writer silently clobbers the earlier one AFTER its
    * successful terminator readback — a reported-committed manifest
    * vanishes (the scale-10 OCC soak reproduced it: two writers
    * "won" the same version, one fleet commit lost). Local claims
    * therefore go through java.nio `Files.createFile` — O_CREAT|O_EXCL,
    * atomic at the syscall — before opening the Hadoop stream over the
    * claimed path. S3A has no atomic create-no-overwrite by default:
    * deploy the commit log on a filesystem that has one (or enable S3
    * conditional writes).
    */
  def createExclusive(fs: FileSystem, target: Path)
      : Option[FSDataOutputStream] = {
    if (schemeOf(fs) == "file") {
      val local = java.nio.file.Paths.get(target.toUri.getPath)
      def claim(): Option[FSDataOutputStream] = {
        java.nio.file.Files.createFile(local)
        Some(fs.create(target, true)) // we own the path; truncate-open
      }
      try claim()
      catch {
        case _: java.nio.file.FileAlreadyExistsException => None
        case _: java.nio.file.NoSuchFileException => // parent missing
          fs.mkdirs(target.getParent)
          try claim()
          catch { case _: java.nio.file.FileAlreadyExistsException => None }
      }
    } else {
      try Some(fs.create(target, false))
      catch { case _: java.io.IOException if fs.exists(target) => None }
    }
  }

  /** [[createExclusive]] with the external [[ClaimArbiter]] (when one
    * is configured) serializing the create where the store cannot —
    * plain-PUT object stores, where `create(overwrite=false)` is only
    * a client-side check before a clobbering PUT. The claim is gated
    * on the target being ABSENT (a stale-row supersede must never race
    * an already-landed object), and the file then opens as an
    * overwrite PUT: the arbiter granted exclusivity. Used by EVERY
    * exclusive-claim site — manifest commits, identity-block claims,
    * tag creates, checkpoint work-dedup claims — because each is the
    * same broken primitive on such a store (SURVEY §5 matrix row 2).
    */
  def arbitratedCreate(fs: FileSystem, target: Path, token: String)
      : Option[FSDataOutputStream] =
    manifestArbiter match {
      case Some(arb) =>
        if (fs.exists(target)) None
        else if (arb.claim(fs.makeQualified(target).toString, token))
          Some(fs.create(target, true))
        else None
      case None => createExclusive(fs, target)
    }

  /** The ZOMBIE FENCE's question, shared by every arbitrated claim
    * site: does `token` still hold the arbiter row for `target`?
    * Returns the superseding holder when it does not. A claimer
    * suspended past the arbiter's staleness grace whose unconditional
    * PUT completes AFTER a superseder's acknowledged write clobbers it
    * — and a readback of its own payload would bless the zombie. The
    * row is the only fence plain PUT leaves standing, so a superseded
    * token must report INDETERMINATE, never success and never a clean
    * loss. Always None without an arbiter (the store-level fences —
    * POSIX O_EXCL, conditional-PUT close — already killed the zombie).
    */
  def supersededBy(fs: FileSystem, target: Path, token: String)
      : Option[String] =
    manifestArbiter.flatMap { arb =>
      val holder = arb.owner(fs.makeQualified(target).toString)
      if (holder.contains(token)) None else Some(holder.getOrElse("nobody"))
    }
}
