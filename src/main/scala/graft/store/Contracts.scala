package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import SnapshotStore.{fileSystem, isEpochStart, latestVersion, ledgerMoveHook, manifestArbiter,
  manifestPath, newToken, readManifest, readProps, schemaEpoch}
import ManifestLog.{dec, enc, manifestFingerprint, readTerminator}
import Commit.{occ, publishSwap, withContractsLock, writeManifestAtomic}

/** Contract epochs: atomic RTAS adoption ([[Contracts.adoptAsReplace]]),
  * the write-ahead contract swap a REPLACE or a cross-epoch restore runs
  * after its manifest commit, the quiescence wait that serializes
  * swaps, and the `_*_upto_<v>` archives time travel resolves
  * contracts from.
  */
private[graft] object Contracts {

  /** The WRITE-AHEAD INTENT of a contract swap: everything the
    * post-commit `_schema`/`_props`/identity swap will write, resolved
    * BEFORE the manifest commit (reads of live state are stable then —
    * the committer has awaited contract quiescence, and any competitor
    * commit in between makes this attempt LOSE and re-resolve).
    * Published as `_pending_contracts-<v>-<token>` (token = the
    * manifest's own terminator token, the unique binding to the
    * committed version) so that a committer crashing between its
    * atomic manifest commit and the small-file swap leaves a
    * ROLL-FORWARD recipe instead of a torn table: the next
    * contract-swapping committer completes the crashed swap from the
    * bundle ([[awaitContractQuiescence]]) — every write is
    * deterministic from the bundle, so concurrent healers (or a
    * slow-but-alive committer finishing alongside one) converge on
    * identical bytes.
    */
  private[store] final case class ContractBundle(v: Long, cur: Long,
                                          archSchema: Option[String],
                                          archProps: Map[String, String],
                                          liveSchema: Option[String],
                                          livePropsFinal: Map[String, String],
                                          ledgerArchive: Boolean,
                                          ledgerSrc: Option[String],
                                          // bundle-format compatibility only: since the
                                          // certified-move protocol (R14) every ledger
                                          // move COPIES — rename would consume the redo
                                          // source a torn move's healer needs
                                          ledgerByRename: Boolean)

  private[store] def pendingContractsName(v: Long, token: String): String =
    f"_pending_contracts-$v%020d-$token"

  private[store] def bundleText(b: ContractBundle): String = {
    def line(k: String, v: String) = s"$k\t${enc(v)}"
    (Seq(line("v", b.v.toString), line("cur", b.cur.toString),
      line("arch_props", Breadcrumbs.propsText(b.archProps)),
      line("live_props", Breadcrumbs.propsText(b.livePropsFinal)),
      line("ledger_archive", if (b.ledgerArchive) "1" else "0"),
      line("ledger_by_rename", if (b.ledgerByRename) "1" else "0")) ++
      b.archSchema.map(line("arch_schema", _)).toSeq ++
      b.liveSchema.map(line("live_schema", _)).toSeq ++
      b.ledgerSrc.map(line("ledger_src", _)).toSeq).mkString("", "\n", "\n")
  }

  private def parseBundle(text: String): ContractBundle = {
    val kv = text.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t", 2); k -> dec(v)
    }.toMap
    def props(k: String) = Breadcrumbs.parseProps(kv(k), s"contract bundle $k")
    ContractBundle(kv("v").toLong, kv("cur").toLong,
      kv.get("arch_schema"), props("arch_props"),
      kv.get("live_schema"), props("live_props"),
      kv("ledger_archive") == "1", kv.get("ledger_src"),
      kv("ledger_by_rename") == "1")
  }

  /** Execute (or COMPLETE, after a crash) a contract swap from its
    * write-ahead bundle. Idempotent and convergent: every write's
    * content is fixed by the bundle, archives publish only if absent,
    * ledger moves carry per-directory completion certificates (below),
    * and the epoch stamp — the completion certificate
    * [[awaitContractQuiescence]] waits on — goes LAST. Entry guard: a
    * stamp already at/above `b.v` means this swap was completed by a
    * healer while this (zombie) committer was suspended — touching
    * anything now could clobber a LATER epoch's contracts, so return
    * without writing.
    *
    * The identity-ledger moves are MULTI-FILE directory operations —
    * the one part of the swap a single atomic write cannot cover, so a
    * bare exists() guard (the pre-R14 shape) could not tell a finished
    * move from a crash-mid-copy prefix: a healer would accept the torn
    * directory as complete, and a torn ARCHIVE later re-installed by a
    * cross-epoch restore would resurrect an allocator frontier BELOW
    * ids already minted — re-minting them. Each moved directory now
    * gets a `_installed_by` certificate file holding this swap's
    * version, written strictly LAST; only a matching certificate
    * counts as done, anything else is redone from its source. Rename
    * is never used for these moves (even where it is atomic): rename
    * CONSUMES the source, so a crash between rename and certificate
    * would leave the healer with neither a certified directory nor a
    * source to redo from. Sources outlive the bundle (the RTAS pending
    * ledger is vacuum-reclaimed only after the bundle is consumed;
    * archives are permanent), so redo is always possible. The
    * certificate lives beside the per-column subdirectories and is
    * invisible to the allocator (block listings scan
    * `_identity/<col>/block-*`); clones carry it along harmlessly (a
    * later swap at the clone compares against its OWN version).
    */
  private[store] def executeContractSwap(spark: SparkSession, root: String,
                                  b: ContractBundle): Unit =
    // the contracts LOCK (see [[Commit.withContractsLock]]) serializes this
    // swap's live-file writes against ALTER's: an ALTER landing inside
    // the swap would otherwise re-instate the DISPLACED epoch's
    // breadcrumb over the one this swap just installed. Racing healers
    // of the SAME bundle stay correct as before (deterministic writes
    // + the superseded fence); the lock adds the cross-WRITER ordering
    // those fences cannot.
    withContractsLock(spark, root) {
      executeContractSwapLocked(spark, root, b)
    }

  private def executeContractSwapLocked(spark: SparkSession, root: String,
                                        b: ContractBundle): Unit = {
    val fs = fileSystem(spark, root)
    def superseded: Boolean = schemaEpoch(spark, root) >= b.v
    if (superseded) return
    b.archSchema.foreach { t =>
      val n = f"_schema_upto_${b.cur}%020d"
      if (!fs.exists(new Path(root, n))) Breadcrumbs.publish(spark, root, n, t)
    }
    val pn = f"_props_upto_${b.cur}%020d"
    if (!fs.exists(new Path(root, pn)))
      Breadcrumbs.publish(spark, root, pn, Breadcrumbs.propsText(b.archProps))
    // re-check the fence immediately before each LIVE-file write: a
    // zombie committer suspended past the entry guard while a healer
    // completed this swap AND a later epoch's must not clobber that
    // later epoch — the re-read shrinks the unfenced window from the
    // whole swap to the instants between check and publish
    if (superseded) return
    Breadcrumbs.installDeclaredSchemaText(spark, root, b.liveSchema)
    val live = new Path(root, "_identity")
    val archLedger = new Path(root, f"_identity_upto_${b.cur}%020d")
    def certified(dir: Path): Boolean = Breadcrumbs.ledgerCertified(fs, dir, b.v)
    // plain-PUT stores: block claims leave PERMANENT arbiter rows keyed
    // by file path, and a displaced epoch's chain restarts numbering —
    // the successor chain re-derives the SAME block names, so a row
    // left behind for a file this swap DELETES bricks every mint for
    // the staleness grace (found by IdentityChaosBlast's plain-PUT
    // personality, quiescent publish never landing). Releasing rows of
    // deleted files is safe: the path holds no acknowledged payload
    // anymore, a pre-swap zombie resuming later fails its
    // supersededBy readback loudly, and the r18 swap-bracketed mint
    // releases any claim a swap moved across.
    def releaseLedgerClaims(d: Path): Unit = manifestArbiter.foreach { arb =>
      def walk(p: Path): Unit =
        try fs.listStatus(p).foreach { st =>
          if (st.isDirectory) walk(st.getPath)
          else {
            val key = fs.makeQualified(st.getPath).toString
            arb.owner(key).foreach(t => arb.release(key, t))
          }
        } catch { case _: java.io.IOException => () }
      walk(d)
    }
    def copyLedger(src: Path, dst: Path): Unit = {
      fs.mkdirs(dst)
      fs.listStatus(src).filterNot(_.getPath.getName == Breadcrumbs.LedgerCert)
        .foreach { st =>
          // a block can legally vanish between the listing and its
          // copy: a swap-bracketed mint (reserveIdentityBlock) RELEASES
          // a claim it won while this swap moved across it — nothing
          // was minted from a released block, so skipping it loses
          // nothing (it was a gap either way)
          try org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
            new Path(dst, st.getPath.getName), false, true,
            spark.sparkContext.hadoopConfiguration): Unit
          catch { case _: java.io.FileNotFoundException => () }
        }
      ledgerMoveHook(dst)
      Breadcrumbs.certifyLedger(spark, root, dst.getName, b.v)
    }
    // archive the DISPLACED live ledger (one whose certificate is not
    // this swap's — a certified live is already the incoming one)
    if (b.ledgerArchive && !certified(archLedger) &&
        fs.exists(live) && !certified(live)) {
      if (fs.exists(archLedger)) fs.delete(archLedger, true) // torn prior copy
      copyLedger(live, archLedger)
    }
    // clear a live dir that is not this swap's certified install — the
    // displaced ledger (now safely archived above) or a torn prior
    // install attempt; either must not mix with the incoming blocks
    if (fs.exists(live) && !certified(live) &&
        (!b.ledgerArchive || certified(archLedger))) {
      releaseLedgerClaims(live)
      fs.delete(live, true): Unit
    }
    b.ledgerSrc.foreach { srcName =>
      val src = new Path(root, srcName)
      if (!certified(live) && fs.exists(src)) {
        if (fs.exists(live)) { // torn prior install
          releaseLedgerClaims(live)
          fs.delete(live, true): Unit
        }
        copyLedger(src, live)
      }
    }
    Breadcrumbs.dropColStats(fs, root)
    if (superseded) return
    Breadcrumbs.publishProps(spark, root, b.livePropsFinal)
  }

  /** Versions this JVM has already scanned and found flag-free, per
    * table: manifests are immutable once committed, so a version seen
    * unflagged stays unflagged forever — the scan below only ever
    * needs to cover versions committed SINCE the last clean scan.
    * Without this, every contract op (and every ALTER) on a
    * never-replaced table would re-scan its whole history (nothing
    * stamps an epoch floor there). Process restart just resets to one
    * full header-only scan per table.
    */
  private val cleanThrough =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()

  /** The newest flagged-but-unstamped epoch-start in (floor, upTo], or
    * -1 — the "is a contract swap in flight at/below upTo?" probe
    * shared by [[awaitContractQuiescence]] (which then waits or heals)
    * and the connector's schema resolution (which must suppress the
    * displaced `_schema` breadcrumb while a swap is in flight ANYWHERE
    * at/below the resolved head, not merely when the head itself is
    * the flagged version: plain commits are allowed to land inside the
    * swap window, so the flagged version can sit several versions
    * below the head. Found by the R15.2 widened chaos vocabulary as a
    * PERSISTED frankenschema — a mid-swap INSERT resolved the
    * displaced-breadcrumb∪new-footers union and wrote a data file
    * carrying BOTH epochs' columns).
    *
    * The scan must reach the stamp floor UNCAPPED: a REPLACE that
    * crashed pre-swap stays flagged-unstamped while any number of
    * plain commits (which never stamp) land above it, and missing it
    * would archive the WRONG epoch's contracts / overlay the wrong
    * breadcrumb. [[SnapshotStore.isEpochStart]] is a header-only read, and the
    * clean-through watermark advances on every all-clear probe, so
    * steady-state probes are O(1). The watermark is only trusted if
    * the manifest it was taken at is STILL the same file (length+mtime
    * fingerprint, as manifestCache does): a table dropped and
    * recreated at the same path restarts version numbering, and a
    * stale watermark would skip the NEW table's early versions.
    */
  private[graft] def unstampedEpochStart(spark: SparkSession, root: String,
                                         upTo: Long): Long = {
    val fs = fileSystem(spark, root)
    val rootKey = fs.makeQualified(new Path(root)).toString
    val stamped = schemaEpoch(spark, root)
    val cachedClean = Option(cleanThrough.get(rootKey))
      .collect { case (w, len, mtime)
        if manifestFingerprint(fs, root, w).contains((len, mtime)) => w }
      .getOrElse(-1L)
    val floor = math.max(stamped, cachedClean)
    var v = upTo
    var flagged = -1L
    while (v > floor && flagged < 0) {
      if (isEpochStart(spark, root, v)) flagged = v
      else v -= 1
    }
    if (flagged < 0)
      manifestFingerprint(fs, root, upTo).foreach { case (len, mtime) =>
        cleanThrough.merge(rootKey, (upTo, len, mtime),
          (a, b) => if (a._1 >= b._1) a else b)
      }
    flagged
  }

  /** Block until the most recent epoch-starting version at or below
    * `upTo` has COMPLETED its post-commit contract swap (its
    * `graft.schema.epoch` stamp — the swap's last step — has reached
    * that version). Contract-swapping committers call this after
    * winning their own manifest commit and BEFORE reading the live
    * `_schema`/`_props`/identity files: the displaced head's swap may
    * still be in flight (the manifest commit is atomic; the small-file
    * swap after it is not), and archiving mid-swap state would
    * install/archive the WRONG epoch's contracts — the earlier winner,
    * finishing last, then clobbers the later epoch's live files
    * outright. Waiting for the stamp serializes the swaps without a
    * lock; a competitor that crashed mid-swap surfaces as a LOUD
    * timeout here (the table needs repair) instead of silent contract
    * corruption.
    */
  private[graft] def awaitContractQuiescence(spark: SparkSession, root: String,
                                             upTo: Long): Unit = {
    val fs = fileSystem(spark, root)
    def stamped: Long = schemaEpoch(spark, root)
    val flagged = unstampedEpochStart(spark, root, upTo)
    if (flagged < 0) return
    // a LIVE committer finishes its swap in milliseconds — give it a
    // generous grace before concluding it crashed, because completing
    // its swap FOR it (roll-forward) makes this waiter a second writer
    // of the same files, and a pathologically-suspended-then-resumed
    // committer is only fenced by the bundle's determinism + the
    // stamp entry guard, not by a lock
    val graceMs = sys.props.get("graft.snapshot.contractSwapGraceMs")
      .map(_.toLong).getOrElse(10000L)
    val timeoutMs = sys.props.get("graft.snapshot.contractSwapTimeoutMs")
      .map(_.toLong).getOrElse(60000L)
    val start = System.currentTimeMillis()
    while (stamped < flagged) {
      val elapsed = System.currentTimeMillis() - start
      if (elapsed > graceMs) {
        // the committer of `flagged` looks dead: ROLL ITS SWAP FORWARD
        // from the write-ahead bundle it published before committing
        // (named by its manifest's terminator token — the unique
        // binding). Every write is deterministic from the bundle, so
        // racing healers — or the committer waking mid-heal — converge.
        readTerminator(fs, manifestPath(root, flagged)).foreach { tok =>
          val pend = new Path(root, pendingContractsName(flagged, tok))
          Breadcrumbs.text(fs, pend).foreach { text =>
            executeContractSwap(spark, root, parseBundle(text))
            fs.delete(pend, false)
            return
          }
        }
      }
      if (elapsed > timeoutMs)
        throw new IllegalStateException(
          s"version $flagged at $root is a REPLACE/restore whose contract " +
            s"swap has not completed after ${timeoutMs}ms and whose " +
            "write-ahead contract bundle is gone — the table's live " +
            "contracts need manual repair before another " +
            "contract-changing commit can proceed")
      Thread.sleep(25)
    }
  }

  /** Commit a fully-written STAGED table as the next version of an
    * existing one — the atomic half of SQL `REPLACE TABLE … AS SELECT`
    * (the staged table is the CTAS output the planner wrote off to the
    * side; this call is its `commitStagedChanges`). One manifest
    * commit flips readers from the old content to the new; history is
    * PRESERVED (`VERSION AS OF` on pre-replace versions keeps working,
    * vacuum reclaims them on the normal schedule), and the replacement
    * may change keys, bucket count, statsCols and schema — each
    * manifest carries its own layout, exactly as `rebucket` already
    * relies on.
    *
    * Zero-copy: the staged version directories RENAME into the
    * target's namespace as `v=<pubV>-rtas-…` — O(touched dirs) at any
    * size, never a data copy. The renames happen BEFORE the manifest
    * commit (readers must never resolve a manifest whose dirs are
    * still moving), under the same exposure window as any ordinary
    * write's `v=<n>-<token>` attempt dir: vacuum skips version dirs
    * above the committed latest. A lost commit race re-renames to the
    * next version's name and retries — REPLACE has no fast-forward
    * precondition to refuse on.
    *
    * Declared contracts (`_props`, `_schema`, identity ledger,
    * `_colstats`) are REPLACED from the staged table after the commit
    * lands — unlike a WAP branch publish (data-only by design), a
    * REPLACE's whole point is a new contract. A crash between the
    * commit and the swap leaves the new data under the old breadcrumbs
    * until the statement is retried; data reads are unaffected (the
    * read schema is footer-merged).
    */

  private[graft] def adoptAsReplace(spark: SparkSession, root: String,
                                    staged: String): Long = {
    val fs = fileSystem(spark, root)
    val sv = latestVersion(spark, staged).getOrElse(
      throw new IllegalStateException(s"staged table at $staged has no committed version"))
    val m = readManifest(spark, staged, sv)
    val stagedAbs = fs.makeQualified(new Path(staged)).toString
    def isLocal(d: String) = {
      val p = new Path(d)
      !p.isAbsolute || d.startsWith(stagedAbs + "/")
    }
    def localRel(d: String) =
      if (new Path(d).isAbsolute) d.stripPrefix(stagedAbs + "/") else d
    def verDirOf(rel: String) = rel.takeWhile(_ != '/')
    val allDirs = m.buckets.values.toSeq.flatMap(e => e.dir +: e.tombstones)
    val localVds = allDirs.filter(isLocal).map(localRel).map(verDirOf).distinct
    // retries re-rename the already-adopted dirs; first attempt moves
    // them out of the staged table
    var adopted = Map.empty[String, String]
    var committed = false
    val marker = "_rtas_adopting-" + newToken()
    try occ(spark, root, "REPLACE", exhausted = Some(n =>
      new java.util.ConcurrentModificationException(
        s"could not commit REPLACE at $root after $n attempts — " +
          "concurrent writers kept taking the next version"))) { a =>
      val cur = a.base
      // serialize behind any in-flight (or crashed — roll-forward)
      // predecessor swap BEFORE reading the displaced live contracts
      // for the bundle below: winning the manifest race then certifies
      // those reads (any competitor commit in between makes this
      // attempt lose and re-read)
      awaitContractQuiescence(spark, root, cur)
      val pubV = a.v
      val mapping = localVds.map(vd =>
        vd -> s"v=$pubV-rtas-${vd.stripPrefix("v=")}").toMap
      // adoption marker BEFORE the renames: during a lost-race retry
      // the adopted dirs are named for a version that HAS committed
      // (the competitor's) yet referenced by no manifest — without the
      // marker a concurrent vacuum could reclaim the only copy of the
      // staged data mid-statement (the _publishing pattern, vacuumed
      // -side guard shared). Removed on every exit; a hard crash
      // leaves it pinning only this statement's own dirs.
      // the marker carries the PREVIOUS attempt's names too: a retry's
      // renames are in flight between this write and their completion,
      // and a vacuum in that window must see both generations
      if (mapping.nonEmpty)
        Breadcrumbs.publish(spark, root, marker,
          (adopted.values ++ mapping.values).toSeq.distinct.sorted
            .mkString("", "\n", "\n"))
      localVds.foreach { vd =>
        val src = adopted.get(vd).map(n => new Path(root, n))
          .getOrElse(new Path(staged, vd))
        val dst = new Path(root, mapping(vd))
        // a retry can recompute the SAME publish version (the race
        // winner's manifest is un-listable until its upload completes,
        // so latestVersion has not advanced) — the re-rename is then
        // src onto itself: a no-op on POSIX, but an object store's
        // copy+delete "rename" would try to copy the directory into
        // its own subdirectory. Skip the move; the dirs are already
        // where this attempt needs them.
        if (src != dst)
          require(fs.rename(src, dst), s"could not adopt $src into $root")
      }
      adopted = mapping
      def rehome(d: String): String =
        if (isLocal(d)) {
          val rel = localRel(d)
          val vd = verDirOf(rel)
          mapping(vd) + rel.stripPrefix(vd)
        } else d // absolute into a third table: the usual clone caveats
      val entries = m.buckets.map { case (b, e) =>
        b -> e.copy(dir = rehome(e.dir), tombstones = e.tombstones.map(rehome))
      }
      // WRITE-AHEAD contract bundle: everything the post-commit swap
      // will write, resolved NOW (stable if we win — see the await
      // above). The displaced contracts archive under <cur> for
      // contract time travel (`_schema_upto_`/`_props_upto_`, written
      // even when empty: "no contracts" is an answer); the displaced
      // identity LEDGER archives instead of deleting so a later
      // [[SnapshotStore.restore]] across this epoch re-installs the allocator
      // frontier that matches its data; the staged ledger is COPIED to
      // a crash-safe pending location so roll-forward works even after
      // the staging dir is reclaimed.
      val pendLedgerName = f"_pending_identity-$pubV%020d-${a.token}"
      val stagedLedger = new Path(staged, "_identity")
      val hasStagedLedger = fs.exists(stagedLedger)
      if (hasStagedLedger)
        org.apache.hadoop.fs.FileUtil.copy(fs, stagedLedger,
          fs, new Path(root, pendLedgerName), false,
          spark.sparkContext.hadoopConfiguration): Unit
      val bundle = ContractBundle(
        v = pubV, cur = cur,
        archSchema = Breadcrumbs.declaredSchemaText(fs, root),
        archProps = readProps(spark, root),
        liveSchema = Breadcrumbs.declaredSchemaText(fs, staged),
        livePropsFinal = readProps(spark, staged) + ("graft.schema.epoch" -> pubV.toString),
        ledgerArchive = fs.exists(new Path(root, "_identity")),
        ledgerSrc = if (hasStagedLedger) Some(pendLedgerName) else None,
        ledgerByRename = true)
      // the swap itself runs from the bundle — the SAME idempotent
      // recipe a healer would roll forward after a crash here; the
      // epoch stamp lands last as the completion certificate
      // [[awaitContractQuiescence]] serializes on. A lost race
      // withdraws this attempt's intent; the loop re-renames and
      // re-resolves under the next version.
      // always a FULL manifest (the new content is unrelated to the
      // replaced version, so a delta would be all-del + all-add
      // anyway); the TARGET's txn high-water marks merge in — the
      // table identity its streaming writers checkpoint against
      // survives the replace, so a redelivered micro-batch stays a
      // no-op instead of re-applying pre-replace rows on top of the
      // replacement (staged marks win a collision: they are newer)
      publishSwap(spark, root, pubV, a.token, Some(bundle),
          scratch = Seq(new Path(root, pendLedgerName)))(
        writeManifestAtomic(fs, root, pubV, m.numBuckets, m.statsCols,
          a.m.txns ++ m.txns, entries, base = None, keys = m.keys,
          epochStart = true, commitToken = Some(a.token))).map { _ =>
        committed = true
        pubV
      }
    } finally {
      // the marker is the ONLY thing that lets vacuum reclaim adopted
      // v=*-rtas-* dirs after an abnormal exit (rename failure, race
      // exhaustion, crash): they sit at latest+1, above the sweep's
      // in-flight-writer guard, so without the marker they leak until
      // an unrelated commit advances latest. Delete it only once the
      // commit landed (the manifest now references the dirs); on any
      // other exit leave it for the TTL resolution path, exactly as a
      // hard crash would.
      if (committed) fs.delete(new Path(root, marker), false): Unit
    }
  }

  /** Name of the `<prefix><n>` archive file covering version `v` — the
    * one with the smallest n ≥ v (each REPLACE, and each restore
    * across an epoch, archives the contract file it displaces under
    * the LAST version that contract governed). None = no archive
    * covers v.
    */
  private[store] def archivedFileFor(fs: FileSystem, root: String, prefix: String,
                              v: Long): Option[String] = {
    if (!fs.exists(new Path(root))) return None
    fs.listStatus(new Path(root)).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.stripPrefix(prefix).nonEmpty &&
        n.stripPrefix(prefix).forall(_.isDigit))
      .map(n => n.stripPrefix(prefix).toLong -> n)
      .filter(_._1 >= v).sortBy(_._1).headOption.map(_._2)
  }

  /** The declared schema in force for time travel at `v` on a table
    * whose contracts were later REPLACEd ([[archivedFileFor]] over
    * `_schema_upto_<n>`). None = no archive covers v (pre-archival
    * table, or the breadcrumb never existed) — callers fall back to
    * footers.
    */
  private[graft] def archivedSchemaFor(spark: SparkSession, root: String,
                                       v: Long): Option[org.apache.spark.sql.types.StructType] = {
    val fs = fileSystem(spark, root)
    archivedFileFor(fs, root, "_schema_upto_", v)
      .flatMap(name => Breadcrumbs.text(fs, new Path(root, name)))
      .map(s => org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** The table properties (CHECK constraints, defaults, generated /
    * identity declarations, dml.mode) in force at `v` on a table whose
    * contracts were later REPLACEd — `_props_upto_<n>` with the
    * smallest n ≥ v, the `_props` analog of [[archivedSchemaFor]].
    * Written even when the displaced epoch had NO props ("no
    * contracts" is an answer, distinct from "no archive"). None = no
    * archive covers v (pre-archival table) — callers fall back to the
    * current props, the pre-R12 behavior.
    */
  private[store] def archivedPropsFor(spark: SparkSession, root: String,
                                      v: Long): Option[Map[String, String]] = {
    val fs = fileSystem(spark, root)
    archivedFileFor(fs, root, "_props_upto_", v).map { name =>
      Breadcrumbs.text(fs, new Path(root, name))
        .map(Breadcrumbs.parseProps(_, s"$root/$name")).getOrElse(Map.empty)
    }
  }
}
