package graft.store

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import SnapshotStore.{BucketEntry, Manifest, ReclaimGraceMs, attemptDir, contractsHeartbeatHook,
  contractsReclaimHook, dataPath, fileSystem, isObjectStore, latestVersion, manifestArbiter,
  manifestPath, manifestWriteHook, newToken, readManifest, replaceSwapHook, versions}
import Claims.{arbitratedCreate, createExclusive, supersededBy}
import ManifestLog.{manifestText, maybeCheckpoint, parseManifestFile, readTerminator,
  readTerminatorEither}
import Contracts.{ContractBundle, bundleText, executeContractSwap, pendingContractsName}

/** The optimistic commit protocol every write verb of [[SnapshotStore]]
  * runs: the OCC loop ([[Commit.occ]]), publish-or-withdraw, rebase
  * across disjoint winners, the stale-snapshot and lost-generation
  * refusals, and the exclusive-create arbitration the manifest commit
  * ([[Commit.writeManifestAtomic]]) and every other claim rest on.
  * Also the `_contracts_lock` that serializes version-less contract
  * writes ([[Commit.withContractsLock]]).
  */
private[graft] object Commit {

  // ------------------------------------------------------------------
  // the OCC loop
  // ------------------------------------------------------------------

  /** Lost-race REBASE: when every version committed since `baseM` (the
    * manifest the loser computed against) touched buckets DISJOINT
    * from the loser's, the loser's already-written data is still the
    * correct replacement state — the current state of its buckets is
    * bit-identical to what it read — so re-point it onto the new
    * latest instead of recomputing. Returns the re-targeted (version,
    * attemptRel, buckets) after atomically RENAMING the attempt dir to
    * the new version's name (keeping it above vacuum's in-flight
    * line: an unreferenced dir numbered ≤ latest is vacuum food, and
    * a vacuum racing the rebase must take the dir — making the rename
    * fail and the caller fall back to a re-merge — never the commit).
    * None = winners overlap (or changed the layout): recompute.
    */
  private[store] def tryRebase(spark: SparkSession, fs: FileSystem, root: String,
                        baseM: Manifest, touched: Set[Int],
                        v: Long, token: String)
      : Option[(Long, Manifest)] = {
    val latest = {
      var l = latestVersion(spark, root).getOrElse(return None)
      // we lost the create at v, so a manifest FILE for v exists — but
      // an unterminated one is not yet a committed version, and
      // [[SnapshotStore.versions]] rightly refuses to count it. The winner is
      // mid-write with its terminator one flush away: wait a beat for
      // it instead of discarding the whole attempt into a merge
      // RECOMPUTE (touched-bucket reread + rewrite — the expensive
      // path rebase exists to avoid) over a millisecond race. The
      // scale-10 OCC soak measured 3/8 disjoint writers falling into
      // recompute exactly here before this wait.
      val deadline = System.currentTimeMillis() + 2000
      while (l < v && System.currentTimeMillis() < deadline) {
        Thread.sleep(10)
        l = latestVersion(spark, root).getOrElse(return None)
      }
      l
    }
    if (latest < v) return None // competitor crashed mid-write; recompute
    // a winner that STARTED a contract epoch (REPLACE, cross-epoch
    // restore) displaced the whole table — bucket disjointness is
    // meaningless across it, and re-pointing the loser's old-epoch
    // data onto the replacement's manifest would mint a MIXED-epoch
    // version (the contract-op chaos hunt caught exactly that
    // three-column union). Refuse; the recompute path's
    // lost-generation guard then surfaces the documented conflict.
    if (epochCrossedSince(spark, root, baseM.version, latest)) return None
    val winners = readManifest(spark, root, latest)
    if (winners.numBuckets != baseM.numBuckets ||
        changedBuckets(baseM, winners).intersect(touched).nonEmpty) return None
    // rebase rides on ATOMIC directory rename twice over: the rename
    // must either fully move the attempt or fully fail (a racing
    // vacuum taking the dir makes it fail — never half-move), and the
    // failure signal is what demotes this path to a recompute. An
    // object store's copy+delete "rename" gives neither; fall back to
    // the always-correct re-merge there (same result, more work).
    if (isObjectStore(fs)) return None
    val newV = latest + 1
    if (!fs.rename(new Path(root, attemptDir(v, token)),
        new Path(root, attemptDir(newV, token)))) return None
    Some((newV, winners))
  }

  /** Re-home an attempt-relative dir string after [[tryRebase]]'s
    * rename (`v=<old>-tok/...` → `v=<new>-tok/...`).
    */
  private[store] def rebased(rel: String, v: Long, newV: Long, token: String): String =
    attemptDir(newV, token) + rel.stripPrefix(attemptDir(v, token))

  /** Buckets whose entry differs between two manifests of one table —
    * what the commits between them touched (re-pointed, rewritten,
    * emptied or newly filled).
    */
  private[store] def changedBuckets(a: Manifest, b: Manifest): Set[Int] =
    (a.buckets.keySet ++ b.buckets.keySet).filter(k => a.buckets.get(k) != b.buckets.get(k))

  /** Whether `m` already records `txn`'s batch (or a later one) for its
    * writer: the commit is a redelivery and must not apply twice.
    */
  private[store] def applied(txn: Option[(String, Long)], m: Manifest): Boolean =
    txn.exists { case (id, batchId) => m.txns.get(id).exists(_ >= batchId) }

  /** One lap of [[occ]]: the head version `base` (last of the listing
    * `vs`) with its manifest `m`, the version `v` this lap tries to
    * publish, and its private data dir `dir` (`v=<v>-<token>`).
    * `firstBase` is the head the first lap saw. `mayRetry`/`spendRetry`
    * are the loop's budget, which a rebase inside the lap spends too.
    */
  private[store] final class Attempt(val vs: Seq[Long], val m: Manifest, val firstBase: Long,
                              val mayRetry: () => Boolean, val spendRetry: () => Unit) {
    val base: Long = vs.last
    val v: Long = base + 1
    val token: String = newToken()
    val dir: String = attemptDir(v, token)
  }

  /** The committed versions and the head's manifest; refuses a
    * missing table.
    */
  private[store] def head(spark: SparkSession, root: String): (Seq[Long], Manifest) = {
    val vs = versions(spark, root)
    if (vs.isEmpty) throw new IllegalStateException(s"no table at $root — call init first")
    (vs, readManifest(spark, root, vs.last))
  }

  /** THE optimistic commit every write verb runs: read the head and its
    * manifest, refuse a missing table, skip a redelivered `txn`, then
    * run the verb's `lap` against that head. A lap returns the version
    * it committed (or the head it found nothing to do on), or None
    * after losing the race and withdrawing, and the loop retries on the
    * new head. `maxAttempts` laps (rebases included) are the budget;
    * exhausting it throws `exhausted`, by default the
    * "`op` lost N consecutive commit races" failure.
    */
  private[store] def occ(spark: SparkSession, root: String, op: String,
                  txn: Option[(String, Long)] = None, maxAttempts: Int = 5,
                  exhausted: Option[Int => Exception] = None)(
                  lap: Attempt => Option[Long]): Long = {
    var attempt = 0
    var firstBase = -1L
    while (attempt < maxAttempts) {
      attempt += 1
      val (vs, m) = head(spark, root)
      if (applied(txn, m)) return vs.last
      if (firstBase < 0) firstBase = vs.last
      val done = lap(new Attempt(vs, m, firstBase, () => attempt < maxAttempts, () => attempt += 1))
      if (done.nonEmpty) return done.get
    }
    throw exhausted.fold[Exception](new IllegalStateException(
      s"$op lost $maxAttempts consecutive commit races at $root"))(_(maxAttempts))
  }

  /** Publish-or-withdraw, the step every commit ends in: `write` (the
    * commit's [[writeManifestAtomic]]) either wins, and the committed
    * manifest is cached and maybe checkpointed, or loses, and
    * `withdraw` removes what the attempt left behind.
    */
  private[store] def publish(spark: SparkSession, root: String, withdraw: => Unit)(
                      write: => Option[Manifest]): Option[Manifest] = {
    val won = write
    won.fold(withdraw)(maybeCheckpoint(spark, root, _))
    won
  }

  /** [[publish]] for a commit that may swap the table's contracts (a
    * REPLACE, a restore across an epoch): the write-ahead `bundle` is
    * published as the pending intent `_pending_contracts-<v>-<token>`
    * before the `epoch:` manifest, and a win executes the swap from it
    * ([[Contracts.executeContractSwap]], after [[SnapshotStore.replaceSwapHook]]) before the
    * intent and the `scratch` paths are cleared; a loss clears them
    * right away. `write` must commit with `commitToken = token`, which
    * binds the manifest to its bundle for roll-forward. Without a
    * bundle this is plain [[publish]].
    */
  private[store] def publishSwap(spark: SparkSession, root: String, v: Long, token: String,
                          bundle: Option[ContractBundle], scratch: Seq[Path] = Nil)(
                          write: => Option[Manifest]): Option[Manifest] = {
    val fs = fileSystem(spark, root)
    val pend = new Path(root, pendingContractsName(v, token))
    def clear(): Unit = if (bundle.nonEmpty) {
      fs.delete(pend, false)
      scratch.foreach(fs.delete(_, true))
    }
    bundle.foreach(b => Breadcrumbs.publish(spark, root, pend.getName, bundleText(b)))
    val won = publish(spark, root, clear())(write)
    if (won.nonEmpty) bundle.foreach { b =>
      replaceSwapHook(root, v)
      executeContractSwap(spark, root, b)
      clear()
    }
    won
  }

  /** Stale-snapshot refusal for a write computed by a scan of
    * `scanVersion`: a commit since then that changed the bucket layout
    * or any of `buckets` invalidates it, and `conflict` raises the
    * verb's documented [[java.util.ConcurrentModificationException]]
    * with the reason.
    */
  private[store] def refuseStale(spark: SparkSession, root: String, scanVersion: Option[Long],
                          m: Manifest, buckets: Set[Int])(conflict: String => Nothing): Unit =
    scanVersion.filter(_ != m.version).foreach { sv =>
      val scanM = readManifest(spark, root, sv)
      if (scanM.numBuckets != m.numBuckets) conflict("bucket layout changed")
      val hit = changedBuckets(scanM, m).intersect(buckets)
      if (hit.nonEmpty) conflict(s"buckets ${hit.toSeq.sorted.mkString(",")} changed")
    }

  /** LOST-GENERATION guard: a REPLACE TABLE (or cross-epoch restore)
    * that landed after this write was planned displaced the table's
    * whole contract epoch — its schema, key layout, and contents.
    * Committing the old-shape write anyway would pollute the fresh
    * epoch with rows of the displaced shape (a 4-column footer union
    * under time travel — found live by the contract-op chaos soak).
    * Two detectors, both surfacing the documented concurrent-
    * modification conflict: the manifest's persisted merge keys moved
    * away from the caller's (keys-changing REPLACE), or an
    * epoch-flagged version exists between the version the write was
    * planned against (`plannedVersion`, else the loop's first base)
    * and the current base. Zero cost on the uncontended path (base ==
    * planned → no scan). `what` names the write in the message
    * ("commit", "delete") and `planned` the thing that was planned.
    */
  private[store] def refuseLostGeneration(spark: SparkSession, root: String, keys: Seq[String],
                                   a: Attempt, plannedVersion: Option[Long],
                                   what: String, planned: String): Unit = {
    if (keys.nonEmpty && a.m.keys.nonEmpty && keys != a.m.keys)
      throw new java.util.ConcurrentModificationException(
        s"$what at $root planned for merge keys (${keys.mkString(", ")}) " +
          s"but the table now declares (${a.m.keys.mkString(", ")}) — it was " +
          "REPLACED concurrently; re-run the statement")
    val sinceV = plannedVersion.fold(a.firstBase)(math.min(_, a.firstBase))
    if (a.base > sinceV && epochCrossedSince(spark, root, sinceV, a.base))
      throw new java.util.ConcurrentModificationException(
        s"$what at $root crosses a contract-epoch boundary: the table " +
          s"was REPLACED after this $planned was planned (v$sinceV) — " +
          "re-run the statement")
  }

  /** True when any retained version in `(sinceV, upToV]` is an epoch
    * start — a REPLACE TABLE or cross-epoch restore landed there. The
    * boundary a write planned at `sinceV` must refuse to commit
    * across: its schema, layout, and key semantics belong to the
    * displaced epoch. Header-flag manifest reads over an OCC retry
    * window (normally zero or one version) — metadata-cheap.
    */
  private def epochCrossedSince(spark: SparkSession, root: String,
                                sinceV: Long, upToV: Long): Boolean = {
    val fs = fileSystem(spark, root)
    versions(spark, root).filter(v => v > sinceV && v <= upToV).exists { v =>
      try parseManifestFile(fs, root, v).epochStart
      // ONLY a vanished manifest (vacuumed to its checkpoint between
      // the listing and this read — provably ancient relative to an
      // OCC retry window) is "not a boundary". Every other failure
      // (torn read, IO error) propagates: the unreadable manifest
      // could BE the boundary, and answering `false` would fail this
      // guard OPEN — letting a stale-planned delta land old-shape rows
      // inside a replacement epoch, the exact corruption it exists to
      // stop. Mirrors vacuum's strict readTerminatorEither handling.
      catch { case _: java.io.FileNotFoundException => false }
    }
  }

  /** The lost-race step of every delta-shaped lap: publish `a`'s
    * manifest; on loss, rebase across disjoint winners ([[tryRebase]])
    * while the loop's budget lasts — spent ONLY when a rebase actually
    * happens (a failed rebase falls straight through to the lap's
    * recompute, which spends its own lap; double-charging here would
    * halve resilience under sustained overlap) — carrying caller state
    * `S` (the written entries / sidecar dirs) through `rehome` on each
    * rename and rebuilding the manifest via `nextOf` against each new
    * winner. Returns Some(version) when committed (or when a
    * same-writer txn redelivery is found already applied — attempt data
    * discarded); None when the lap must recompute against the new base
    * (the attempt dir is already deleted here).
    */
  private[store] def commitOrRebase[S](spark: SparkSession, fs: FileSystem, root: String,
                                a: Attempt, touched: Set[Int],
                                txn: Option[(String, Long)],
                                state0: S,
                                nextOf: (Manifest, S) => Map[Int, BucketEntry],
                                rehome: (S, Long, Long) => S,
                                keys: Seq[String] = Nil): Option[Long] = {
    val baseM = a.m
    var curV = a.v
    var st = state0
    var winnersM = baseM
    while (true) {
      val next = nextOf(winnersM, st)
      val committed = publish(spark, root, ())(writeManifestAtomic(fs, root, curV,
        baseM.numBuckets, baseM.statsCols, winnersM.txns ++ txn, next,
        base = Some(winnersM), keys = keys))
      if (committed.nonEmpty) return Some(curV)
      val rebase =
        if (a.mayRetry()) tryRebase(spark, fs, root, baseM, touched, curV, a.token)
        else None
      rebase match {
        case Some((newV, winners)) =>
          a.spendRetry()
          if (applied(txn, winners)) { // a same-writer redelivery won meanwhile
            fs.delete(new Path(root, attemptDir(newV, a.token)), true)
            return Some(winners.version)
          }
          st = rehome(st, curV, newV)
          // post-rename re-verify: a vacuum that started deleting the
          // attempt dir before the rename could leave the renamed dir
          // incomplete (recursive delete is not atomic) — confirm every
          // rehomed directory still exists before committing a manifest
          // that references it; the vacuum grace window makes this
          // all-but-unreachable, the check catches the residue
          val expected = nextOf(winners, st).values
            .flatMap(e => e.dir +: e.tombstones)
            .filter(_.startsWith(attemptDir(newV, a.token)))
          if (!expected.forall(d => fs.exists(dataPath(root, d)))) {
            fs.delete(new Path(root, attemptDir(newV, a.token)), true)
            return None
          }
          winnersM = winners
          curV = newV
        case None =>
          // overlapping winners (or the rebase rename lost to vacuum,
          // or budget exhausted): discard OUR OWN attempt dir; the
          // lap recomputes on the new base
          fs.delete(new Path(root, attemptDir(curV, a.token)), true)
          return None
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ------------------------------------------------------------------
  // the manifest commit
  // ------------------------------------------------------------------

  /** Atomically publish version `v`. Returns false when another writer
    * already committed `v`.
    *
    * The commit arbiter is EXCLUSIVE CREATE of the manifest file
    * ([[Claims.createExclusive]] — the loser of a race fails to create), not
    * check-then-rename: POSIX/RawLocalFileSystem
    * rename OVERWRITES an existing destination, so two concurrent
    * committers of the same version could both pass an exists check
    * and both "succeed", silently replacing one manifest (and its txn
    * high-water marks — a double-apply). With exclusive create only
    * one stream for `target` can be opened.
    *
    * Torn writes are handled by a terminator line (`end:<token>`,
    * written last): readers treat a terminator-less manifest as
    * uncommitted, and a committer that finds one (a crashed writer's
    * leftover) deletes it and takes the version over. Because that
    * takeover introduces a delete/re-create window, every committer
    * re-reads the terminator AFTER closing its stream and claims
    * success only if the token on disk is its own — a writer whose
    * bytes went to an unlinked inode reports failure and retries via
    * the normal OCC path.
    *
    * @param base when Some, write a DELTA against it (must be the
    *   immediate predecessor version): only the bucket entries that
    *   differ, plus `del:` lines — O(touched buckets' files) metadata
    *   per commit. None writes the full state (init, clone, and the
    *   retention-floor path).
    * @param keys the table's merge-identity columns; carried forward
    *   from `base` when not supplied (so every commit re-persists them
    *   once a creation recorded them)
    * @return the committed [[SnapshotStore.Manifest]] (carrying the commit's
    *   in-manifest timestamp) on success; None when another writer
    *   already committed `v`.
    */
  private[store] def writeManifestAtomic(fs: FileSystem, root: String, v: Long,
                                  numBuckets: Int,
                                  statsCols: Seq[(String, String)],
                                  txns: Map[String, Long],
                                  buckets: Map[Int, BucketEntry],
                                  base: Option[Manifest] = None,
                                  keys: Seq[String] = Nil,
                                  epochStart: Boolean = false,
                                  commitToken: Option[String] = None)
      : Option[Manifest] = {
    base.foreach(b => require(b.version == v - 1,
      s"delta manifest for $v must base on ${v - 1}, got ${b.version}"))
    val target = manifestPath(root, v)
    // contract-swapping commits pass their own token so the terminator
    // binds the committed version to its `_pending_contracts-<v>-<tok>`
    // write-ahead bundle (the roll-forward lookup key)
    val token = commitToken.getOrElse(UUID.randomUUID().toString)
    val effKeys = if (keys.nonEmpty) keys else base.map(_.keys).getOrElse(Nil)
    // monotonic per table even under wall-clock skew (the Delta
    // in-commit-timestamp rule): TIMESTAMP AS OF binary-searches this
    val commitTs = math.max(System.currentTimeMillis(),
      base.map(_.commitTsMillis + 1).getOrElse(Long.MinValue))
    val committed = Manifest(v, numBuckets, statsCols, txns, buckets, effKeys, commitTs)
    val body = manifestText(committed, base, epochStart, token)

    // With an external arbiter configured (plain-PUT stores — see
    // [[ClaimArbiter]]), the claim row serializes the create where the
    // store cannot, and the file itself opens as an overwrite PUT (the
    // arbiter granted exclusivity). Everything downstream is shared:
    // torn-leftover reclaim, terminator readback, token ownership.
    // The claim is gated on the target being ABSENT: a stale-row
    // supersede must never race an already-landed PUT (the torn-file
    // reclaim path below deletes a demonstrably-stale leftover FIRST,
    // then re-claims an absent key). Residual window: a claimer
    // suspended past the arbiter's staleness grace BEFORE its PUT —
    // the same grace-defying-suspension tradeoff as the POSIX
    // torn-file reclaim, fenced the same way (only the token that
    // survives the readback reports success).
    val qualified = fs.makeQualified(target).toString
    def tryCreate(): Option[org.apache.hadoop.fs.FSDataOutputStream] =
      try arbitratedCreate(fs, target, token)
      catch {
        // local FileSystems chmod the just-created file as a second
        // step: a racing manifests-prune (this version slot sits below
        // the vacuum floor — exactly the condition the stale-claim
        // fence below refuses) can delete the file between the open
        // and the chmod, and the raw shell error then leaked past the
        // fence (found by ChaosBlast 4x8x22 seed 1002 after the r18
        // ops raised commit pressure). Same refusal, earlier.
        case e: java.io.IOException
            if e.getMessage != null && (e.getMessage.contains("No such file")
              || e.isInstanceOf[java.io.FileNotFoundException]) =>
          throw new java.util.ConcurrentModificationException(
            s"commit of version $v at $root raced a vacuum reclaiming " +
              "its version slot (the manifest vanished mid-create) — " +
              "the head has advanced past this writer's base snapshot; " +
              "re-run the statement")
      }

    var out = tryCreate()
    if (out.isDefined) manifestWriteHook(root, v)
    if (out.isEmpty) {
      // target exists: a complete manifest means a genuine loss; an
      // incomplete one is a crashed committer's leftover — reclaim it,
      // but ONLY once it is demonstrably stale (a live committer's
      // file has a fresh mtime while it is being written): deleting a
      // file another writer is actively writing — or just finished —
      // is the one way a reported-successful commit could be lost.
      // A genuinely crashed writer's leftover ages past the grace
      // period and is reclaimed then; until that, this committer
      // simply loses and retries through the normal OCC path.
      if (readTerminator(fs, target).isDefined) return None
      // under an arbiter a lost claim can precede any PUT (the winner
      // uploads on close): no file on disk = an in-flight rival, a
      // plain loss — the arbiter's own staleness grace governs reclaim
      val age =
        try Some(System.currentTimeMillis() - fs.getFileStatus(target).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      if (age.exists(_ >= ReclaimGraceMs)) {
        fs.delete(target, false)
        out = tryCreate()
        if (out.isEmpty) return None
      } else {
        // the winner is still WRITING (young file, or no file yet —
        // arbiter-held upload). Its manifest is un-listable until the
        // terminator lands, so an immediate loss would send the
        // caller's retry at the SAME version — re-deriving the whole
        // delta each lap until attempts run out. Await the terminator
        // briefly (the bounded await tryRebase already uses), then
        // lose: the retry now probes the winner's version.
        val deadline = System.currentTimeMillis() + 2000L
        while (readTerminator(fs, target).isEmpty &&
               System.currentTimeMillis() < deadline) Thread.sleep(25)
        return None
      }
    }
    // STALE-CLAIM FENCE vs vacuumed history: winning the exclusive
    // create is only authoritative while version numbers are never
    // re-claimable — but vacuum deletes below-floor manifests, which
    // makes a reclaimed version's NUMBER claimable again by a writer
    // whose base snapshot is very stale. Without this fence such a
    // writer "commits" v BEHIND the live head — a silently lost update
    // plus resurrected history under a recycled version number
    // (reachable live: the R15.2 widened chaos vocabulary produced the
    // create). v's predecessor must exist as a TERMINATED manifest
    // (terminators are immutable; only vacuum removes them), so its
    // absence proves v-1 — and therefore v — is below the vacuum
    // floor. Abort before any body bytes land; the abandoned arbiter
    // row (if any) guards a version slot no legitimate writer targets
    // again.
    if (v > 0 && readTerminator(fs, manifestPath(root, v - 1)).isEmpty) {
      try out.get.close() catch { case _: java.io.IOException => () }
      try { fs.delete(target, false): Unit }
      catch { case _: java.io.IOException => () }
      throw new java.util.ConcurrentModificationException(
        s"commit of version $v at $root raced a vacuum that reclaimed " +
          s"version ${v - 1}: the table head has advanced past this " +
          "writer's base snapshot and the version slot was recycled — " +
          "re-run the statement")
    }
    // On conditional-PUT object stores the create-if-absent condition
    // is evaluated when the upload COMPLETES, so a lost race surfaces
    // as an exception from close(), not from create(). Ownership is
    // decided by the terminator readback below in every case — so a
    // write/close failure must fall THROUGH to it, never abort: the
    // readback classifies it as a clean loss (another token / no
    // file), a win (our token — e.g. a spurious close error after the
    // bytes landed), or indeterminate. The exception is KEPT: when the
    // readback shows no rival terminator either, nothing arbitrated
    // this commit away — the write itself failed (disk full, quota)
    // and the root cause must surface instead of a silent clean loss.
    var writeErr: Option[java.io.IOException] = None
    try { try out.get.write(body.getBytes(StandardCharsets.UTF_8)) finally out.get.close() }
    catch { case e: java.io.IOException => writeErr = Some(e) }
    // Post-write ownership check (see scaladoc): success only if OUR
    // terminator survived any concurrent reclaim of the same version.
    // A definitive readback of a DIFFERENT token (or a vanished file)
    // is a genuine loss — the caller may safely delete its attempt
    // dir. A transient READ error is not: the manifest may well be
    // committed, and returning false would make the caller delete data
    // files a committed manifest references. Retry the read; if it
    // keeps failing, fail the commit as INDETERMINATE (exception, not
    // false) so no caller treats it as a clean loss — the attempt dir
    // is left for [[SnapshotStore.vacuum]], which only removes UNreferenced dirs.
    var verdict = readTerminatorEither(fs, target)
    var retries = 0
    while (verdict.isLeft && retries < 3) {
      retries += 1
      Thread.sleep(20L * retries)
      verdict = readTerminatorEither(fs, target)
    }
    verdict match {
      case Right(t) =>
        if (t.contains(token)) {
          // ZOMBIE FENCE (arbiter mode): a claimer suspended past the
          // arbiter's staleness grace can complete its unconditional
          // PUT after a superseder's acknowledged commit — its
          // readback then sees its OWN token (it clobbered the rival),
          // and without this check BOTH would report success for one
          // version. The row outlives the race: a superseded token
          // must report INDETERMINATE, never success and never a clean
          // loss (its PUT may have replaced acknowledged bytes — the
          // table needs the superseder's commit re-driven or manual
          // repair, loudly).
          supersededBy(fs, target, token).foreach { holder =>
            throw new IllegalStateException(
              s"commit of version $v at $root is INDETERMINATE: this " +
                s"committer was superseded (claim now held by $holder) " +
                "while suspended, and its late upload may have replaced " +
                "the superseder's acknowledged manifest — repair by " +
                "re-driving the superseding commit; do NOT treat as a " +
                "clean loss")
          }
          Some(committed)
        } else if (t.isEmpty && writeErr.isDefined &&
            { try fs.exists(target) catch { case _: java.io.IOException => false } }) {
          // no terminator anywhere, our write threw, and the target
          // exists TORN: on every store whose writes are unconditional
          // for us (POSIX/HDFS after a won O_EXCL create, arbiter mode
          // after a won claim) that torn file is OURS — a genuine
          // write failure, not a lost race. Reported as a clean loss
          // it would bury the root cause AND block this version for
          // the reclaim grace while the caller burns OCC retries
          // against its own leftover. Clear the leftover (no rival can
          // be writing this file — we won its create) and rethrow.
          // A lost CONDITIONAL put leaves the target ABSENT (nothing
          // of ours ever became visible; the rival arbitrated us away
          // at close) and keeps taking the clean-loss branch below.
          fs.delete(target, false): Unit
          throw new IllegalStateException(
            s"commit of version $v at $root failed writing the manifest " +
              "(no rival terminator present — a write failure, not a " +
              "lost race); the torn leftover was cleared so a retry may " +
              "proceed", writeErr.get)
        } else None
      case Left(e) => throw new IllegalStateException(
        s"commit of version $v at $root is INDETERMINATE: the manifest " +
          "was written but its readback keeps failing — do NOT treat as " +
          "a lost race; attempt data is vacuum-safe either way", e)
    }
  }

  // ------------------------------------------------------------------
  // the contracts lock
  // ------------------------------------------------------------------

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.store.SnapshotStore")

  /** FileSystem classes observed to reject setTimes — logged once each
    * so an inoperative heartbeat (r16 advice #2) is visible, not
    * silent; the heartbeat itself falls back to a content rewrite.
    */
  private val setTimesUnsupported =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** How old an abandoned `_contracts_lock` must be before a waiter
    * reclaims it. Contract writes are milliseconds (a handful of
    * small-file publishes), so — like the checkpoint claim — a short
    * grace beats stalling every DDL statement for the manifest lease.
    * A LIVE holder is never reclaimed regardless of how long its body
    * runs: the holder heartbeats the lock's mtime (arbiter mode: its
    * claim row) at grace/3 while held, so age only ever accumulates on
    * a genuinely crashed holder. Read per call (a `def`) so specs can
    * shrink the grace around a single test.
    */
  private def ContractsLockGraceMs: Long =
    sys.props.get("graft.snapshot.contractsLockGraceMs").map(_.toLong).getOrElse(15000L)

  /** Contract-write mutual exclusion: version-less metadata writers —
    * ALTER's `_schema`/`_props` writes and a swap's
    * [[Contracts.executeContractSwap]] — serialize on `_contracts_lock`. Without
    * it two ALTERs are last-writer-wins (one change silently lost) and
    * an ALTER racing a REPLACE/restore swap can overwrite the NEW
    * epoch's just-installed breadcrumb with the displaced epoch's —
    * the metadata-side door of the frankenschema class the R15.2
    * resolver work closed on the read side. POSIX: O_EXCL create,
    * deleted on exit, aged holders reclaimed
    * ([[ContractsLockGraceMs]]); conditional-PUT object stores: the
    * create arbitrates at close; plain-PUT: the configured
    * [[ClaimArbiter]] row, RELEASED on exit (unlike commit claims,
    * which the zombie fence keeps).
    */
  private[graft] def withContractsLock[A](spark: SparkSession, root: String)
                                         (body: => A): A = {
    val fs = fileSystem(spark, root)
    val p = new Path(root, "_contracts_lock")
    val key = fs.makeQualified(p).toString
    val token = newToken()
    val deadline = System.currentTimeMillis() + 120000L
    var held = false
    while (!held) {
      manifestArbiter match {
        case Some(arb) => held = arb.claim(key, token)
        case None =>
          createExclusive(fs, p) match {
            case Some(out) =>
              // conditional-PUT stores arbitrate at close(): a loss
              // lands here as an IOException — treat as not-held.
              // The readback also catches a racing reclaimer that
              // deleted THIS fresh file between create and now (two
              // waiters both saw the previous holder's lock as aged):
              // hold only a lock the store confirms carries our token.
              try {
                try out.write(token.getBytes(StandardCharsets.UTF_8))
                finally out.close()
                held = Breadcrumbs.text(fs, p).map(_.trim).contains(token)
              } catch { case _: java.io.IOException => () }
            case None => ()
          }
      }
      if (!held) {
        val age =
          try Some(System.currentTimeMillis() -
            fs.getFileStatus(p).getModificationTime)
          catch { case _: java.io.FileNotFoundException => None }
        if (age.exists(_ > ContractsLockGraceMs)) {
          // re-check IMMEDIATELY before the delete (r15 advice #1): a
          // reclaimed-and-re-created lock is FRESH, and blindly
          // deleting it here would admit a third writer alongside the
          // reclaimer. A live holder's heartbeat keeps refreshing the
          // mtime, so only a genuinely crashed holder ever ages out.
          // Compare-content-then-delete (r16 advice #3): mtime alone
          // leaves a TOCTOU — a rival waiter can reclaim and confirm
          // its own FRESH lock between our re-check and our delete, and
          // our delayed delete then removes the rival's live lock,
          // admitting a third holder. Tokens are unique per holder, so
          // requiring the content to still be the AGED holder's token
          // makes a rival's fresh lock unmistakable however stale our
          // mtime read was; the residual read→delete window is the
          // irreducible one of mtime locks.
          val agedToken =
            try Breadcrumbs.text(fs, p).map(_.trim)
            catch { case _: java.io.IOException => None }
          val stillAged =
            try System.currentTimeMillis() -
              fs.getFileStatus(p).getModificationTime > ContractsLockGraceMs
            catch { case _: java.io.FileNotFoundException => false }
          contractsReclaimHook(p)
          val sameHolder = agedToken.nonEmpty && {
            try Breadcrumbs.text(fs, p).map(_.trim) == agedToken
            catch { case _: java.io.IOException => false }
          }
          if (stillAged && sameHolder) {
            try { fs.delete(p, false): Unit }
            catch { case _: java.io.IOException => () }
          }
        } else if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"contracts lock at $root has been held for over 120s — " +
              "crashed holder past repair? delete _contracts_lock to recover")
        else Thread.sleep(15)
      }
    }
    // HEARTBEAT while held: the lock body can include long-running
    // Spark jobs (ALTER's mergeSchema footer read; delta-mode null-key
    // validation scans), and a live holder outliving the grace used to
    // get its lock reclaimed by a waiter — re-opening the concurrent-
    // contract-writer lost-update race this lock exists to close (r15
    // advice #1). Refreshing the mtime (arbiter mode: the claim row's
    // timestamp, via idempotent re-claim) at grace/3 keeps a live
    // holder permanently fresh; the grace then only gates how fast a
    // CRASHED holder's lock is reclaimed.
    val hbStop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // set when the heartbeat OBSERVES this holder reclaimed while alive
    // (r17 advice #3): the release path fails on it even if the lock
    // file happens to carry our token again by then (a rival cycle
    // ending back on our clobbered content would otherwise read as a
    // clean release — the one interleave the release-time readback
    // alone cannot see).
    val hbReclaimed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hb = new Thread({ () =>
      while (!hbStop.get()) {
        val next = System.currentTimeMillis() + math.max(ContractsLockGraceMs / 3, 50L)
        while (!hbStop.get() && System.currentTimeMillis() < next) Thread.sleep(10)
        if (!hbStop.get()) {
          try {
            manifestArbiter match {
              case Some(arb) => arb.claim(key, token): Unit
              case None =>
                if (Breadcrumbs.text(fs, p).map(_.trim).contains(token)) {
                  val now = System.currentTimeMillis()
                  // setTimes is unsupported on several FileSystem
                  // implementations (object-store adapters throw
                  // UnsupportedOperationException) — swallowing that
                  // permanently left the heartbeat inoperative there,
                  // so a body longer than the grace was still
                  // reclaimed (r16 advice #2). Fall back to re-writing
                  // the lock content (same token — a whole-object PUT
                  // on such stores, which bumps mtime); the write is
                  // token-guarded by the contains-check above and the
                  // release path re-verifies the token, so a racing
                  // reclaimer still surfaces loudly, never silently.
                  try fs.setTimes(p, now, -1)
                  catch { case _: UnsupportedOperationException =>
                    if (setTimesUnsupported.add(fs.getClass.getName))
                      log.warn(s"contracts-lock heartbeat: setTimes " +
                        s"unsupported on ${fs.getClass.getName} — " +
                        "falling back to token-guarded content rewrite")
                    val out = fs.create(p, true)
                    try out.write(token.getBytes(StandardCharsets.UTF_8))
                    finally out.close()
                    // the rewrite is check-then-overwrite (r17 advice
                    // #3): a waiter reclaiming between the contains
                    // check and the create(overwrite) got its fresh
                    // lock clobbered. Read back: if the file no longer
                    // carries OUR token, a rival moved after/under the
                    // rewrite — mark this holder reclaimed and STOP
                    // heartbeating (never clobber the rival again);
                    // the release path turns the flag into the loud
                    // reclaimed-while-alive error. This shrinks the
                    // silent window to the irreducible mtime-lock one.
                    contractsHeartbeatHook(p)
                    val back =
                      try Breadcrumbs.text(fs, p).map(_.trim)
                      catch { case _: Throwable => Some(token) }
                    if (!back.contains(token)) {
                      hbReclaimed.set(true)
                      hbStop.set(true)
                    }
                  }
                }
            }
          } catch { case _: Throwable => () } // transient store error: skip a beat
        }
      }
    }: Runnable, "graft-contracts-lock-heartbeat")
    hb.setDaemon(true)
    hb.start()
    var bodyOk = false
    try { val r = body; bodyOk = true; r }
    finally {
      hbStop.set(true)
      hb.join(2000)
      // TOKEN-COMPARED release (r15 advice #1): delete the lock file
      // only when it still carries OUR token. An unconditional delete
      // here let a slow holder (pre-heartbeat) remove the RECLAIMER's
      // fresh lock and admit a third concurrent writer. If the lock is
      // no longer ours, this holder was reclaimed while alive — its
      // contract writes may have interleaved with the reclaimer's, so
      // after a SUCCESSFUL body that must surface loudly, never as a
      // silent success (a failed body propagates its own error).
      val ownerNow: Option[String] = manifestArbiter match {
        case Some(arb) => arb.owner(key)
        case None =>
          try Breadcrumbs.text(fs, p).map(_.trim)
          catch { case _: Throwable => Some(token) } // unreadable: assume ours
      }
      val stillMine = ownerNow.contains(token) && !hbReclaimed.get()
      manifestArbiter match {
        case Some(arb) => arb.release(key, token) // token-conditional by contract
        case None =>
          if (stillMine) {
            try { fs.delete(p, false): Unit }
            catch { case _: java.io.IOException => () }
          }
      }
      if (!stillMine && bodyOk)
        throw new IllegalStateException(
          s"contracts lock at $root was reclaimed while this holder was " +
            s"alive (now held by ${ownerNow.getOrElse("<nobody>")}): its " +
            "version-less contract writes may have interleaved with the " +
            "reclaimer's — re-verify and re-apply this DDL")
    }
  }
}
