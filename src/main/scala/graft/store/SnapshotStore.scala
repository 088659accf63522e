package graft.store

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Murmur3Hash, Pmod}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Scd1, Scd2}

/** A minimal transactional table format: versioned snapshots with
  * bucket-level copy-on-write and an atomic manifest commit — the
  * Delta/Iceberg-shaped layer the plain parquet sinks lack
  * (reference analog: Snowflake tables are transactional under the
  * MERGE procedures, e.g. `/root/reference/02 Location Entity.sql:282`;
  * plain parquet directories are not).
  *
  * Layout:
  * {{{
  *   <root>/_commits/<%020d>          one manifest per committed version
  *   <root>/v=<n>/_graft_bucket=<b>/  parquet files for buckets written AT version n
  * }}}
  *
  * A manifest lists, for every bucket, the version directory holding
  * its CURRENT files — so a commit writes only the buckets its delta
  * touches and re-points the rest at their existing files
  * (copy-on-write at bucket granularity, O(delta) data written per
  * commit at any table size). The manifest itself is published by an
  * EXCLUSIVE CREATE + terminator-line protocol (see
  * [[writeManifestAtomic]]): readers either see the previous complete
  * snapshot or the new complete snapshot, never a torn mix — which
  * plain dynamic-partition-overwrite cannot guarantee across buckets.
  *
  * Concurrency: optimistic. A writer that loses the create race
  * re-reads the new latest snapshot and re-merges (bounded retries).
  * Crash safety: a writer that dies after writing data but before the
  * manifest commit leaves an unreferenced `v=<n>` directory that
  * readers never see and [[vacuum]] removes; one that dies mid-
  * manifest leaves a terminator-less file that readers ignore and the
  * next committer of that version reclaims.
  *
  * Exclusive-create atomicity holds on HDFS; object stores need a
  * conditional-put log store instead (the same caveat and the same
  * abstraction seam as Delta's LogStore). On a LOCAL filesystem
  * Hadoop's create(overwrite=false) is itself check-then-create, so
  * the post-write terminator-token ownership check closes the residual
  * window: a committer only reports success after re-reading its own
  * token back from the target.
  */
object SnapshotStore {

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.store.SnapshotStore")

  /** FileSystem classes observed to reject setTimes — logged once each
    * so an inoperative heartbeat (r16 advice #2) is visible, not
    * silent; the heartbeat itself falls back to a content rewrite.
    */
  private val setTimesUnsupported =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Same stable hash-bucket column the streaming sinks use. */
  val BucketCol = "_graft_bucket"

  /** How old a terminator-less manifest must be before a competing
    * committer may reclaim (delete + re-create) its version — the
    * lease protecting a LIVE writer mid-manifest from having its file
    * deleted under it (and a writer that just reported success from a
    * stale racer's delete). Manifest writes are metadata-sized
    * (milliseconds); 10 minutes covers any real GC pause or FS stall.
    */
  private val ReclaimGraceMs: Long =
    sys.props.get("graft.snapshot.reclaimGraceMs").map(_.toLong).getOrElse(600000L)

  /** Reader-protection age floor for [[vacuum]] (the Delta/Iceberg
    * retention-window analog): versions whose manifest is younger than
    * this are never reclaimed, because a RUNNING statement may still
    * hold them as its read snapshot — a MERGE plans against the
    * then-latest version and keeps reading that manifest and its data
    * files until it commits, so reclaiming a fresh version breaks the
    * statement mid-flight. Size it above the longest-running DML
    * (Delta ships 7 days for the same knob; 10 minutes fits this
    * engine's statement profile). 0 disables the floor — reads of a
    * reclaimed snapshot then fail LOUDLY as documented
    * concurrent-vacuum conflicts (see [[readManifest]]), never
    * silently.
    */
  private[graft] val VacuumMinAgeMs: Long =
    sys.props.get("graft.snapshot.vacuumMinAgeMs").map(_.toLong).getOrElse(600000L)

  /** The store's torn-claim reclaim grace, shared so cooperating
    * components (notably [[InMemoryClaimArbiter]]'s default staleness)
    * read the SAME loaded value instead of re-parsing the system
    * property at a different time — an arbiter whose staleness
    * diverged from the manifest reclaim grace could supersede a claim
    * the store still considers unreclaimable, or vice versa.
    */
  private[graft] def reclaimGraceMs: Long = ReclaimGraceMs

  /** How long a checkpoint writer defers to another writer's live
    * `claim-cp-<v>` before writing its own attempt anyway. Checkpoint
    * DATA writes take seconds (one metadata-sized parquet task), so
    * this is deliberately much shorter than the 10-minute manifest
    * lease [[ReclaimGraceMs]] — a claimer that crashed mid-write must
    * not stall every cadence-commit writer of that version for
    * minutes. The claim is work-dedup only (see [[writeCheckpoint]]);
    * correctness rides on each attempt's private tmp dir + atomic
    * publish rename, so giving up on a claim early is always safe.
    */
  private val CheckpointClaimGraceMs: Long =
    sys.props.get("graft.snapshot.checkpointClaimGraceMs").map(_.toLong).getOrElse(15000L)

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
    * [[executeContractSwap]] — serialize on `_contracts_lock`. Without
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
                held = smallFileText(fs, p).map(_.trim).contains(token)
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
            try smallFileText(fs, p).map(_.trim)
            catch { case _: java.io.IOException => None }
          val stillAged =
            try System.currentTimeMillis() -
              fs.getFileStatus(p).getModificationTime > ContractsLockGraceMs
            catch { case _: java.io.FileNotFoundException => false }
          contractsReclaimHook(p)
          val sameHolder = agedToken.nonEmpty && {
            try smallFileText(fs, p).map(_.trim) == agedToken
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
                if (smallFileText(fs, p).map(_.trim).contains(token)) {
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
                      try smallFileText(fs, p).map(_.trim)
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
          try smallFileText(fs, p).map(_.trim)
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

  /** One bucket's current files + per-column data-skipping stats.
    * `stats(i)` is the (min, max) of the i-th declared stats column
    * over this bucket's rows, string-encoded per its type tag; None =
    * all-null column (nothing can be pruned against it).
    * `fileStats` refines that to each data FILE in the bucket dir
    * (keyed by file name) — the micro-partition granularity: a range
    * read prunes buckets on `stats`, then files inside kept buckets on
    * `fileStats`. Empty for manifests written before per-file stats
    * existed (readers fall back to whole-bucket reads — pruning is
    * only ever an optimization).
    * `tombstones` are merge-on-read delete sidecars (the
    * deletion-vector analog): directories of parquet files holding the
    * KEY TUPLES deleted from this bucket since its last rewrite.
    * Readers anti-join them out; [[commitDelta]] and [[compact]] fold
    * them in whenever they rewrite the bucket (list cleared); [[vacuum]]
    * reclaims folded sidecar files. A key's tombstone lives in the
    * bucket the key hashes to, so the read-side anti-join on the key
    * columns alone is exact.
    * `rows` is the exact PHYSICAL row count of the bucket's data
    * files. Outstanding `tombstones` make the LOGICAL count smaller, so
    * consumers (COUNT(*) pushdown, reported statistics) must treat
    * `rows` as exact only when `tombstones.isEmpty`, else an upper
    * bound.
    */
  final case class BucketEntry(dir: String, stats: Seq[Option[(String, String)]],
                               fileStats: Map[String, Seq[Option[(String, String)]]],
                               tombstones: Seq[String],
                               rows: Long)

  /** The `buckets` a delta hashes into under a `numBuckets` layout —
    * what a caller's census hands [[commitDelta]] as its
    * `deltaBucketsHint`.
    */
  final case class BucketsHint(numBuckets: Int, buckets: Set[Int])

  /** @param statsCols declared data-skipping columns as (name, tag);
    *   tag is `num` (any numeric), `ts` (timestamp, stored as epoch
    *   micros) or `str` (lexicographic)
    * @param txns last applied batch id per writer id — the
    *   Delta-txn-appId pattern making at-least-once `foreachBatch`
    *   redelivery a no-op instead of a double-apply
    * @param keys the table's merge-identity (bucketing) columns,
    *   persisted so SQL writers (`INSERT INTO` has no options channel)
    *   and key-validation don't depend on every caller re-supplying
    *   them; Nil on a keyless table
    * @param commitTsMillis the commit's own wall-clock instant,
    *   recorded IN the manifest (monotonic per table: max(now,
    *   prev+1)) so `TIMESTAMP AS OF` resolves from durable metadata
    *   instead of copy-fragile file mtimes
    */
  final case class Manifest(version: Long, numBuckets: Int,
                            statsCols: Seq[(String, String)],
                            txns: Map[String, Long],
                            buckets: Map[Int, BucketEntry],
                            keys: Seq[String],
                            commitTsMillis: Long)

  private def fileSystem(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Schemes treated as rename-less OBJECT STORES: a key becomes
    * visible atomically when its PUT completes, but "rename" is a
    * client-side copy+delete with observable intermediate states.
    * Store paths branch on this in two ways: (1) mutable small files
    * publish as one direct PUT instead of tmp+rename (the PUT is the
    * atomic swap; the rename dance would add a vanish window);
    * (2) optimizations whose correctness leans on atomic directory
    * rename (rebase-by-rename) are skipped in favor of their always
    * -correct fallbacks. `osim` is the in-repo simulator
    * (ObjectStoreSemanticsSpec); extend via
    * `-Dgraft.store.objectStoreSchemes=scheme1,scheme2`.
    */
  private val ObjectStoreSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "oss", "cos", "osim") ++
      sys.props.get("graft.store.objectStoreSchemes")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  private[store] def isObjectStore(fs: FileSystem): Boolean = {
    val scheme =
      try fs.getScheme
      catch { case _: UnsupportedOperationException => fs.getUri.getScheme }
    ObjectStoreSchemes.contains(scheme)
  }

  /** Optional external arbiter for EVERY exclusive-create claim the
    * store makes — manifest commits, identity-block claims, tag
    * creates, and checkpoint work-dedup claims — required on object
    * stores without conditional writes, where exclusive create cannot
    * exist above a last-writer-wins PUT (see [[ClaimArbiter]] and the
    * SURVEY §5 matrix; the name predates the widening and is kept for
    * the stable `-D` config key). Configure programmatically or via
    * `-Dgraft.store.manifestArbiter=<class with zero-arg ctor>`.
    * Unset (the default), the store's own exclusive-create primitive
    * arbitrates — correct on POSIX, HDFS, ABFS, GCS and every
    * conditional-PUT store.
    */
  @volatile private[graft] var manifestArbiter: Option[ClaimArbiter] =
    sys.props.get("graft.store.manifestArbiter").map { cn =>
      Class.forName(cn).getDeclaredConstructor().newInstance()
        .asInstanceOf[ClaimArbiter]
    }

  private def commitsDir(root: String) = new Path(root, "_commits")
  private def manifestPath(root: String, v: Long) =
    new Path(commitsDir(root), f"$v%020d")

  /** Data directory for ONE commit attempt: `v=<n>-<token>` with a
    * writer-unique token. Two racers for version n therefore write to
    * DIFFERENT directories — the loser's files can neither clobber the
    * winner's (both used mode Overwrite on "their" dir) nor be
    * confused with them at cleanup: a losing attempt deletes exactly
    * its own directory, never data a just-committed manifest
    * references.
    */
  private def attemptDir(v: Long, token: String) = s"v=$v-$token"

  /** A manifest-recorded data location: relative to the table root for
    * ordinary commits, ABSOLUTE for zero-copy clones ([[cloneTable]]
    * writes entries that point into the SOURCE table's directories
    * until a local rewrite re-homes them). [[vacuum]] only ever deletes
    * from its own root's listing, so external absolute references are
    * structurally out of its reach.
    */
  private[graft] def dataPath(root: String, rel: String): Path = {
    val p = new Path(rel)
    if (p.isAbsolute) p else new Path(root, rel)
  }

  private def newToken(): String = UUID.randomUUID().toString.take(8)

  /** The bucket layout, defined once: a key tuple lands in bucket
    * `pmod(murmur3(keys, seed 42), numBuckets)`, the value
    * `pmod(hash(keys...), lit(n))` computes. Every writer, every pruner
    * and the catalog's `bucket` function evaluate this expression, so a
    * key is never routed away from the bucket its history lives in.
    */
  private[graft] def bucketExpr(keys: Seq[Expression], numBuckets: Expression): Expression =
    Pmod(new Murmur3Hash(keys), numBuckets)

  /** [[bucketExpr]] over key columns. */
  private[graft] def bucketColumn(keys: Seq[Column], numBuckets: Int): Column =
    ColumnBridge.column(bucketExpr(keys.map(ColumnBridge.expression), Literal(numBuckets)))

  /** [[bucketExpr]] evaluated on the driver for one tuple of key literals. */
  private[graft] def bucketOf(key: Seq[Literal], numBuckets: Int): Int =
    bucketExpr(key, Literal(numBuckets)).eval(null).asInstanceOf[Int]

  private[graft] def withBucket(df: DataFrame, keys: Seq[String], numBuckets: Int): DataFrame =
    df.withColumn(BucketCol, bucketColumn(keys.map(col), numBuckets))

  // ------------------------------------------------------------------
  // table properties (`_props` breadcrumb)
  // ------------------------------------------------------------------

  private val PropsFile = "_props"

  /** Free-form table properties a SQL catalog records on the TABLE
    * itself (`<root>/_props`, one tab-separated `key<TAB>value` pair
    * per line). Unlike session confs these travel with the table, so a
    * contract recorded here binds EVERY writer — the store enforces
    * the one property it understands: `dml.mode=delta` declares the
    * not-null-merge-key contract Spark's delta row-level rewrites
    * require, and [[writeVersionData]] rejects null key values on
    * every write to such a table (which is what makes a non-nullable
    * key schema truthful for ordinary reads, not just DML sessions).
    */
  def writeProps(spark: SparkSession, root: String,
                 props: Map[String, String]): Unit = {
    props.foreach { case (k, v) =>
      require(k.nonEmpty && !k.exists(c => c == '\t' || c == '\n' || c == '\r')
        && !v.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"table property '$k' — keys and values cannot contain tabs or newlines")
    }
    if (props.isEmpty) {
      fileSystem(spark, root).delete(new Path(root, PropsFile), false): Unit
    } else {
      // write-then-atomic-rename (publishSmallFile): a concurrent
      // reader (writeVersionData checking dml.mode / CHECK
      // constraints) must never observe a truncated file —
      // fs.create(overwrite) truncates first, which would silently
      // disable write-enforced contracts for the racing commit
      publishSmallFile(spark, root, PropsFile,
        props.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }.mkString("\n"))
    }
  }

  def readProps(spark: SparkSession, root: String): Map[String, String] = {
    val p = new Path(root, PropsFile)
    val fs = fileSystem(spark, root)
    if (!fs.exists(p)) Map.empty
    else {
      val in = new BufferedReader(new InputStreamReader(fs.open(p),
        StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).map { line =>
          val i = line.indexOf('\t')
          require(i > 0, s"malformed _props line at $root: '$line'")
          line.substring(0, i) -> line.substring(i + 1)
        }.toMap
      finally in.close()
    }
  }

  /** One TTL for everything a crashed statement can orphan (staging
    * dirs, RTAS adoption markers): `spark.graft.staging.ttlHours`,
    * default 24 — old enough that no live statement still owns it.
    */
  private[graft] def stagingTtlMs(spark: SparkSession): Long =
    (spark.conf.getOption("spark.graft.staging.ttlHours")
      .map(_.toDouble).getOrElse(24.0) * 3600 * 1000).toLong

  /** Does this table declare the delta-DML not-null-key contract? */
  private[graft] def deltaModeDeclared(spark: SparkSession, root: String): Boolean =
    readProps(spark, root).get("dml.mode").contains("delta")

  /** The catalog-declared schema (`_schema` breadcrumb, written at
    * CREATE and evolved by ALTER) — the carrier of declarations data
    * footers cannot hold: column order, NOT NULL, DEFAULT metadata.
    * None for path-created tables, which have no declarations.
    */
  private[graft] def declaredSchema(spark: SparkSession, root: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val fs = fileSystem(spark, root)
    smallFileText(fs, new Path(root, "_schema")).map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** `_props` values are one-per-line TSV, so control whitespace must
    * be escaped — generation expressions arrive with the user's DDL
    * formatting (newlines) intact. Reversible percent-encoding of
    * exactly the four dangerous characters; [[decPropValue]] inverts.
    */
  private[graft] def encPropValue(v: String): String =
    v.replace("%", "%25").replace("\t", "%09")
      .replace("\n", "%0A").replace("\r", "%0D")
  private[graft] def decPropValue(v: String): String =
    v.replace("%0D", "\r").replace("%0A", "\n")
      .replace("%09", "\t").replace("%25", "%")

  // ------------------------------------------------------------------
  // column statistics (`_colstats` breadcrumb — ANALYZE output)
  // ------------------------------------------------------------------

  private val ColStatsFile = "_colstats"

  /** One analyzed column. NDV is HLL-approximate (±~2% at default
    * precision, mergeable so the census is one distributed pass); the
    * null count is exact; min/max are recorded as the column's
    * CATALYST-INTERNAL value rendered to string (dates as epoch days,
    * timestamps as epoch micros, numerics verbatim) so the scan can
    * hand them straight back to the optimizer; string columns carry
    * length moments instead (row-width estimation).
    */
  final case class ColStat(ndv: Long, nullCount: Long,
                           min: Option[String], max: Option[String],
                           avgLen: Option[Long], maxLen: Option[Long])

  /** A whole ANALYZE result, pinned to the table version it measured:
    * the scan reports these to Spark ONLY while the version still
    * matches — stale statistics silently misdirect join planning,
    * which is worse than none.
    */
  final case class TableColStats(version: Long, rows: Long,
                                 cols: Map[String, ColStat])

  private def analyzable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType => true
      case StringType | BooleanType | DateType | TimestampType => true
      case _ => false
    }
  }

  /** ANALYZE: one distributed aggregation pass over the current
    * snapshot computing per-column NDV (HLL partials merged map-side —
    * no shuffle of data rows, one metadata-sized result row), exact
    * null counts, min/max for orderable types and length moments for
    * strings; the result is published to `<root>/_colstats` with the
    * same torn-read-proof protocol as `_props`. At 100 TB this is the
    * difference between the optimizer KNOWING a dimension's join key
    * has 25 distinct values and guessing from byte size.
    */
  def analyze(spark: SparkSession, root: String,
              columns: Seq[String] = Nil): TableColStats = {
    import org.apache.spark.sql.types._
    val version = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"analyze: no committed version at $root"))
    val df = readVersion(spark, root, version)
    val fields = df.schema.fields
    val targets: Seq[String] =
      if (columns.isEmpty) fields.filter(f => analyzable(f.dataType)).map(_.name).toSeq
      else columns.map { c =>
        val f = fields.find(_.name.equalsIgnoreCase(c)).getOrElse(throw new IllegalArgumentException(
          s"analyze: no such column '$c' (have: ${fields.map(_.name).mkString(", ")})"))
        require(analyzable(f.dataType),
          s"analyze: column '${f.name}' has unanalyzable type ${f.dataType.simpleString}")
        f.name
      }
    targets.foreach(n => require(!n.exists(ch => ch == '\t' || ch == '\n' || ch == '\r'),
      s"analyze: column name '$n' cannot contain tabs or newlines"))
    val nullStr = lit(null).cast("string")
    val nullLong = lit(null).cast("long")
    val aggs: Seq[Column] = count(lit(1)).as("__rows") +: targets.map { name =>
      val dt = fields.find(_.name == name).get.dataType
      // min/max over the INTERNAL ordering image (monotonic maps, so
      // min/max commute with the conversion)
      val ord: Option[Column] = dt match {
        case DateType => Some(unix_date(df(name)).cast("long"))
        case TimestampType => Some(unix_micros(df(name)))
        case _: NumericType => Some(df(name))
        case _ => None
      }
      val lenMoments = dt == StringType
      struct(
        approx_count_distinct(df(name)).as("ndv"),
        count(df(name)).as("cnt"),
        ord.map(o => min(o).cast("string")).getOrElse(nullStr).as("mn"),
        ord.map(o => max(o).cast("string")).getOrElse(nullStr).as("mx"),
        (if (lenMoments) floor(avg(length(df(name)))).cast("long") else nullLong).as("avgLen"),
        (if (lenMoments) max(length(df(name))).cast("long") else nullLong).as("maxLen"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val rows = row.getLong(0)
    val cols = targets.zipWithIndex.map { case (name, i) =>
      val s = row.getStruct(i + 1)
      name -> ColStat(
        ndv = s.getLong(0),
        nullCount = rows - s.getLong(1),
        min = if (s.isNullAt(2)) None else Some(s.getString(2)),
        max = if (s.isNullAt(3)) None else Some(s.getString(3)),
        avgLen = if (s.isNullAt(4)) None else Some(s.getLong(4)),
        maxLen = if (s.isNullAt(5)) None else Some(s.getLong(5)))
    }.toMap
    val result = TableColStats(version, rows, cols)
    writeColStatsFile(spark, root, result)
    result
  }

  private def writeColStatsFile(spark: SparkSession, root: String,
                                ts: TableColStats): Unit = {
    val body = (s"version\t${ts.version}\trows\t${ts.rows}" +:
      ts.cols.toSeq.sortBy(_._1).map { case (n, c) =>
        Seq(n, c.ndv, c.nullCount, c.min.getOrElse(""), c.max.getOrElse(""),
          c.avgLen.fold("")(_.toString), c.maxLen.fold("")(_.toString)).mkString("\t")
      }).mkString("\n")
    publishSmallFile(spark, root, ColStatsFile, body)
  }

  /** Content-preserving maintenance (compact, rebucket, materialize)
    * mints a new VERSION over the same live rows — re-pin an ANALYZE
    * result published for the pre-maintenance version so real
    * statistics survive the rewrite instead of silently retiring with
    * the version pin. Never called by content-CHANGING verbs (restore
    * rolls data back; DML changes it).
    */
  private def repinColStats(spark: SparkSession, root: String,
                            fromV: Long, toV: Long): Unit =
    readColStats(spark, root).filter(_.version == fromV).foreach { ts =>
      writeColStatsFile(spark, root, ts.copy(version = toV))
    }

  /** The persisted ANALYZE result, if any (callers decide staleness —
    * [[TableColStats.version]] vs the manifest they plan against).
    */
  def readColStats(spark: SparkSession, root: String): Option[TableColStats] = {
    val p = new Path(root, ColStatsFile)
    val fs = fileSystem(spark, root)
    if (!fs.exists(p)) None
    else {
      val in = new BufferedReader(new InputStreamReader(fs.open(p),
        StandardCharsets.UTF_8))
      val lines = try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).toVector finally in.close()
      if (lines.isEmpty) None
      else {
        val head = lines.head.split("\t")
        require(head.length == 4 && head(0) == "version" && head(2) == "rows",
          s"malformed _colstats header at $root: '${lines.head}'")
        val cols = lines.tail.map { l =>
          val parts = l.split("\t", -1)
          require(parts.length == 7, s"malformed _colstats line at $root: '$l'")
          def opt(s: String) = if (s.isEmpty) None else Some(s)
          parts(0) -> ColStat(parts(1).toLong, parts(2).toLong,
            opt(parts(3)), opt(parts(4)),
            opt(parts(5)).map(_.toLong), opt(parts(6)).map(_.toLong))
        }.toMap
        Some(TableColStats(head(1).toLong, head(3).toLong, cols))
      }
    }
  }

  // ------------------------------------------------------------------
  // identity columns (`identity.<col>` props — the AUTOINCREMENT
  // analog; reference: every entity table mints an AUTOINCREMENT
  // surrogate key, e.g. `09 Order Entity.sql:71`)
  // ------------------------------------------------------------------

  /** Parsed `identity.<col>` property (recorded at CREATE from
    * `GENERATED [ALWAYS | BY DEFAULT] AS IDENTITY (START WITH s
    * INCREMENT BY i)`).
    */
  private[graft] final case class IdentitySpec(start: Long, step: Long,
                                               allowExplicit: Boolean)

  private[graft] def identitySpecs(props: Map[String, String])
      : Seq[(String, IdentitySpec)] =
    props.toSeq.sortBy(_._1).collect {
      case (k, v) if k.startsWith("identity.") =>
        val parts = v.split(",")
        require(parts.length == 3, s"malformed identity property '$k' = '$v'")
        k.stripPrefix("identity.") ->
          IdentitySpec(parts(0).toLong, parts(1).toLong, parts(2).toBoolean)
    }

  /** Reserve a block of `count` identity VALUES (in step units) for
    * one write: `<root>/_identity/<col>/block-<seq>_<first>` files form
    * an append-only ledger, each claimed by EXCLUSIVE CREATE — the
    * same arbiter primitive as manifest commits, and for the same
    * reason: every contender for seq n+1 derives the IDENTICAL
    * filename (first = the predecessor chain's frontier), so the
    * create is a true mutex; the loser re-lists and takes n+2. The
    * block's SIZE (this writer's count) is the file's payload,
    * terminator-marked like a manifest: a torn payload means the
    * claimer crashed mid-write (it had not returned, so it minted
    * nothing) — readers WAIT inside the reclaim grace window and
    * reclaim (delete, freeing the seq) past it; the claimer re-reads
    * its own payload before returning, so a grace-defying reclaim
    * turns into a retry, never a double-mint. Two writers can NEVER
    * mint the same id, at any cluster size, with zero coordination
    * beyond the filesystem. Blocks reserved by aborted writes simply
    * become gaps — AUTOINCREMENT promises uniqueness and per-writer
    * monotonicity, never density (Snowflake documents the same).
    */
  /** Spec/tooling seam for the allocator protocol below — production
    * minting rides the write path ([[writeBuckets]]); specs exercise
    * the claim/reclaim/fence schedules directly through this.
    */
  private[graft] def reserveIdentity(spark: SparkSession, root: String,
                                     col: String, count: Long): Long =
    reserveIdentityBlock(spark, root, col,
      IdentitySpec(1L, 1L, allowExplicit = false), count)

  private def reserveIdentityBlock(spark: SparkSession, root: String,
                                   col: String, spec: IdentitySpec,
                                   count: Long): Long = {
    val fs = fileSystem(spark, root)
    val dir = new Path(root, s"_identity/$col")
    // SWAP-AWARE minting (r18 — found by the identity hunt's REPLACE op
    // on its first blast): a REPLACE / cross-epoch restore ARCHIVES the
    // live ledger and INSTALLS another (executeContractSwap: delete,
    // per-block copy, certificate — the epoch stamp lands LAST). A mint
    // racing that install can list a PARTIAL chain (frontier too low)
    // or extend a chain about to be displaced, and the ids it hands out
    // would be re-minted by the installed chain: silent duplicates. The
    // commit-path epoch fence cannot cover the interleave where the
    // write was planned AT the epoch-start version itself (base never
    // advances past it), so the MINT is fenced: it refuses to run while
    // a swap is in flight, verifies the caller's spec still IS the
    // table's declaration, and brackets each claim with stamp reads —
    // movement releases the unreturned block (a legal gap) and retries
    // against the installed chain.
    def swapState(): (Long, Boolean) = {
      val stamp =
        try readProps(spark, root).get("graft.schema.epoch")
          .map(_.toLong).getOrElse(-1L)
        catch { case _: Exception => -2L } // unreadable = indeterminate
      val inFlight =
        try latestVersion(spark, root)
          .exists(h => unstampedEpochStart(spark, root, h) >= 0)
        catch { case _: Exception => true }
      (stamp, inFlight)
    }
    var attempt = 0
    while (attempt < 256) {
      attempt += 1
      val s0 = swapState()
      if (s0._1 == -2L || s0._2) Thread.sleep(200) // install in flight — wait it out
      else {
        // a stale plan minting under a DIFFERENT current declaration
        // would extend the installed chain with the old spec's
        // arithmetic — refuse loudly (retry-able); the redeclared
        // ledger restarts numbering by design. Only enforced when the
        // table DECLARES the column (the allocator seam also runs on
        // bare ledger dirs with no table props — nothing to mismatch).
        val declared =
          try identitySpecs(readProps(spark, root)).toMap.get(col)
          catch { case _: Exception => None }
        declared.foreach { d =>
          if (d != spec)
            throw new java.util.ConcurrentModificationException(
              s"identity column '$col' at $root was re-declared " +
                s"($d vs this write's $spec) — the table was REPLACED " +
                "after this write was planned; re-run the statement")
        }
        if (!fs.exists(dir)) fs.mkdirs(dir)
        val frontier =
          try ledgerFrontier(fs, dir, spec)
          catch { // the live dir deleted under us: the install's first step
            case _: java.io.FileNotFoundException => None
          }
        frontier match {
          case None => Thread.sleep(200) // payload in flight — settle or age out
          case Some((lastSeq, base)) =>
            val win = claimBlock(fs, dir, lastSeq + 1, base, count)
            if (win.isDefined) {
              if (swapState() == s0) return base
              // a swap moved across this claim: the chain the block
              // extends may be partial or displaced — release it
              // (nothing was minted from it) and retry on the new
              // chain. Release the arbiter ROW too: a freed name left
              // claimed bricks any restarted chain that re-derives it
              // for the whole staleness grace (plain-PUT stores)
              val mine = new Path(dir, f"block-${lastSeq + 1}%020d" + s"_$base")
              try { fs.delete(mine, false): Unit }
              catch { case _: java.io.IOException => () }
              manifestArbiter.foreach(
                _.release(fs.makeQualified(mine).toString, win.get))
              Thread.sleep(100)
            } else
              // jittered backoff on a lost tip race (see
              // syncIdentityFrontier) — keeps a contended herd from
              // burning the attempt budget inside one hot window
              Thread.sleep(5L + java.util.concurrent.ThreadLocalRandom
                .current().nextLong(35L))
        }
      }
    }
    // the attempts were consumed WAITING on in-flight swaps / releasing
    // bracket-raced claims — under sustained REPLACE/restore churn this
    // is the documented retry-able conflict (same posture as schema
    // resolution under churn), never a corruption
    throw new java.util.ConcurrentModificationException(
      s"identity block reservation for '$col' at $root stayed blocked " +
        "across 256 attempts (sustained REPLACE/restore contract churn " +
        "or allocator contention) — re-run the statement when the churn " +
        "subsides")
  }

  /** One claim attempt at an exact (seq, first): exclusive create of
    * the deterministic name, payload write, then READ-Back — only a
    * payload that survived on disk is a win (defense against a
    * grace-defying reclaim deleting the claim mid-write).
    */
  /** Returns the winning claim TOKEN (None = lost): a caller that
    * RELEASES a won block (the swap bracket in
    * [[reserveIdentityBlock]]) must also release its arbiter row, or
    * on plain-PUT stores the freed (seq, first) name stays claimed for
    * the whole staleness grace and a restarted chain re-deriving the
    * same name is bricked (found by IdentityChaosBlast's plain-PUT
    * personality on the REPLACE op's first sweep).
    */
  private def claimBlock(fs: FileSystem, dir: Path, seq: Long, first: Long,
                         count: Long): Option[String] = {
    val target = new Path(dir, f"block-$seq%020d" + s"_$first")
    // atomic claim ([[arbitratedCreate]]): a local check-then-act
    // create would let two allocators both "win" the same (seq, first)
    // and mint overlapping identity ranges. On plain-PUT stores the
    // configured [[ClaimArbiter]] row serializes the create for the
    // same reason (SURVEY §5 matrix row 2 — an overlapping identity
    // range is silent data corruption, same severity as a lost
    // manifest).
    val token = newToken()
    val created = arbitratedCreate(fs, target, token)
    created match {
      case Some(out) =>
        claimWriteHook("identity", target)
        // a write/close failure is a definitive LOSS, not a readback
        // question: on conditional-PUT stores close() is where the
        // lost race surfaces, and the content readback alone cannot
        // arbitrate — a racing claimer of the same (seq, first) may
        // write the same count, so "payload matches" would declare
        // both winners and mint overlapping identity ranges
        val landed =
          try { try out.write(s"$count\tend".getBytes(StandardCharsets.UTF_8))
                finally out.close(); true }
          catch { case _: java.io.IOException => false }
        val won = landed && blockCount(fs, target).contains(count)
        // ZOMBIE FENCE (arbiter mode): a claimer suspended past the
        // staleness grace whose late PUT completes after a superseder
        // acknowledged this (seq, first) clobbers the superseder's
        // payload — and if the counts DIFFER, the ledger frontier now
        // advances by the zombie's count while the superseder already
        // minted per its own: overlapping ranges. The payload readback
        // cannot see this (it reads the zombie's own bytes back), so
        // the row is the fence — a superseded claimer must fail LOUDLY
        // (its clobber may have corrupted the chain tip), never report
        // a win or a clean loss.
        if (won) supersededBy(fs, target, token).foreach { holder =>
          throw new IllegalStateException(
            s"identity block claim (seq=$seq, first=$first) under $dir " +
              s"is INDETERMINATE: this claimer was superseded (claim " +
              s"now held by $holder) while suspended, and its late " +
              "write may have replaced the superseding allocator's " +
              "payload with a different count — verify the block file " +
              "against minted ids before further allocation; do NOT " +
              "treat as a clean loss")
        }
        if (won) Some(token) else None
      case None =>
        // under an arbiter a lost row can belong to a crashed claimer
        // that never PUT anything (no file to age-check) — pace the
        // retry loop so waiters don't burn their attempt budget inside
        // one staleness grace
        if (manifestArbiter.isDefined && !fs.exists(target)) Thread.sleep(50)
        None
    }
  }

  /** (last claimed seq, next first id) — the allocator's view of the
    * chain tip. None while the tip's payload is IN FLIGHT (younger
    * than the reclaim grace): the caller waits; past the grace the
    * torn claim is reclaimed (its claimer crashed before minting
    * anything) and the next listing sees the freed seq.
    */
  private def ledgerFrontier(fs: FileSystem, dir: Path,
                             spec: IdentitySpec): Option[(Long, Long)] = {
    // unparseable names are ignored defensively (they reserve nothing,
    // so skipping them can only widen a gap, never collide)
    val tip = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .flatMap(parseIdentityBlock).sortBy(_._1).lastOption
    tip match {
      case None => Some((-1L, spec.start))
      case Some((seq, first)) =>
        val p = new Path(dir, f"block-$seq%020d" + s"_$first")
        blockCount(fs, p) match {
          case Some(c) => Some((seq, first + spec.step * c))
          case None =>
            val age = try System.currentTimeMillis() -
              fs.getFileStatus(p).getModificationTime
            catch { case _: java.io.FileNotFoundException =>
              return None } // reclaimed under us — re-list
            if (age >= ReclaimGraceMs) fs.delete(p, false): Unit
            None
        }
    }
  }

  /** The claimed size of a block, or None for a torn/missing payload. */
  private def blockCount(fs: FileSystem, p: Path): Option[Long] = {
    val in = try new BufferedReader(new InputStreamReader(fs.open(p),
      StandardCharsets.UTF_8)) catch {
      case _: java.io.IOException => return None
    }
    val line = try in.readLine() finally in.close()
    Option(line).map(_.split("\t")).collect {
      case Array(c, "end") => c
    }.flatMap(c => try Some(c.toLong) catch {
      case _: NumberFormatException => None
    })
  }

  private def parseIdentityBlock(name: String): Option[(Long, Long)] = {
    if (!name.startsWith("block-")) None
    else {
      val parts = name.stripPrefix("block-").split("_")
      if (parts.length != 2) None
      else try Some((parts(0).toLong, parts(1).toLong))
      catch { case _: NumberFormatException => None }
    }
  }

  /** Write-to-temp + atomic overwrite-rename publish of a small
    * metadata file — the `_props` torn-read guarantee, shared.
    */
  /** Republish a mutable small file (`_props`, `_schema`, branch and
    * consumer markers) atomically in place.
    *
    * On a CHECKSUMMED local filesystem, a rename-with-OVERWRITE moves
    * the file and its `.crc` sidecar as TWO separate steps, so a
    * concurrent reader can pair fresh bytes with a stale checksum
    * (`ChecksumException` — found live by the contract-op chaos hunt),
    * and two racing publishers can interleave their file/crc renames
    * into a persistently mismatched pair. Local publishes therefore
    * write the temp file RAW (no sidecar), delete any stale sidecar a
    * pre-raw publish left at the destination, and swap in with one
    * POSIX `rename(2)` — atomic for every reader; a missing checksum
    * is skipped by readers, never mismatched.
    */
  private def publishSmallFile(spark: SparkSession, root: String,
                               name: String, body: String): Unit = {
    val p = new Path(root, name)
    val fs = fileSystem(spark, root)
    val scheme =
      try fs.getScheme
      catch { case _: UnsupportedOperationException => fs.getUri.getScheme }
    val tmp = new Path(root, name + ".tmp-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12))
    if (scheme == "file") {
      val writeFs = fs match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
        case f => f
      }
      val out = writeFs.create(tmp, true)
      try out.write(body.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      val crc = new Path(p.getParent, s".${p.getName}.crc")
      if (writeFs.exists(crc)) writeFs.delete(crc, false): Unit
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(p.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else if (isObjectStore(fs)) {
      // one direct PUT: an object store makes the key visible
      // atomically when the upload completes, so the overwrite create
      // IS the publish — readers observe the old bytes or the new,
      // never a mix. The tmp+rename dance would be strictly worse
      // here: rename is copy+delete, giving every reader a window
      // where the file is GONE (readProps → empty, epoch stamp
      // invisible) and a crash strands the delete half-done.
      val out = fs.create(p, true)
      try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    } else {
      val out = fs.create(tmp, true)
      try out.write(body.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          p.toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: UnsupportedOperationException =>
          fs.delete(p, false)
          require(fs.rename(tmp, p), s"could not publish $name at $root")
      }
    }
  }

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
  private def tryRebase(spark: SparkSession, fs: FileSystem, root: String,
                        baseM: Manifest, touched: Set[Int],
                        v: Long, token: String)
      : Option[(Long, Manifest)] = {
    val latest = {
      var l = latestVersion(spark, root).getOrElse(return None)
      // we lost the create at v, so a manifest FILE for v exists — but
      // an unterminated one is not yet a committed version, and
      // [[versions]] rightly refuses to count it. The winner is
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
  private def rebased(rel: String, v: Long, newV: Long, token: String): String =
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
  private def applied(txn: Option[(String, Long)], m: Manifest): Boolean =
    txn.exists { case (id, batchId) => m.txns.get(id).exists(_ >= batchId) }

  /** One lap of [[occ]]: the head version `base` (last of the listing
    * `vs`) with its manifest `m`, the version `v` this lap tries to
    * publish, and its private data dir `dir` (`v=<v>-<token>`).
    * `firstBase` is the head the first lap saw. `mayRetry`/`spendRetry`
    * are the loop's budget, which a rebase inside the lap spends too.
    */
  private final class Attempt(val vs: Seq[Long], val m: Manifest, val firstBase: Long,
                              val mayRetry: () => Boolean, val spendRetry: () => Unit) {
    val base: Long = vs.last
    val v: Long = base + 1
    val token: String = newToken()
    val dir: String = attemptDir(v, token)
  }

  /** The committed versions and the head's manifest; refuses a
    * missing table.
    */
  private def head(spark: SparkSession, root: String): (Seq[Long], Manifest) = {
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
  private def occ(spark: SparkSession, root: String, op: String,
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
  private def publish(spark: SparkSession, root: String, withdraw: => Unit)(
                      write: => Option[Manifest]): Option[Manifest] = {
    val won = write
    won.fold(withdraw)(maybeCheckpoint(spark, root, _))
    won
  }

  /** [[publish]] for a commit that may swap the table's contracts (a
    * REPLACE, a restore across an epoch): the write-ahead `bundle` is
    * published as the pending intent `_pending_contracts-<v>-<token>`
    * before the `epoch:` manifest, and a win executes the swap from it
    * ([[executeContractSwap]], after [[replaceSwapHook]]) before the
    * intent and the `scratch` paths are cleared; a loss clears them
    * right away. `write` must commit with `commitToken = token`, which
    * binds the manifest to its bundle for roll-forward. Without a
    * bundle this is plain [[publish]].
    */
  private def publishSwap(spark: SparkSession, root: String, v: Long, token: String,
                          bundle: Option[ContractBundle], scratch: Seq[Path] = Nil)(
                          write: => Option[Manifest]): Option[Manifest] = {
    val fs = fileSystem(spark, root)
    val pend = new Path(root, pendingContractsName(v, token))
    def clear(): Unit = if (bundle.nonEmpty) {
      fs.delete(pend, false)
      scratch.foreach(fs.delete(_, true))
    }
    bundle.foreach(b => publishSmallFile(spark, root, pend.getName, bundleText(b)))
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
  private def refuseStale(spark: SparkSession, root: String, scanVersion: Option[Long],
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
  private def refuseLostGeneration(spark: SparkSession, root: String, keys: Seq[String],
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
  private def commitOrRebase[S](spark: SparkSession, fs: FileSystem, root: String,
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

  /** The keyed delete-then-insert merge every upsert-shaped sink hands
    * to [[commitDelta]] (the delta already carries full FINAL rows per
    * key, so replace-by-key is the whole merge). One definition — the
    * index sinks and [[graft.store.ChangeFeed.syncDerived]] all share
    * these semantics. The union spans ADDITIVE schema evolution in
    * both directions (a widened delta against pre-evolution buckets,
    * or an old-shape delta against an ALTER-declared column no file
    * carries yet): missing columns null-fill, the same rule the
    * mergeSchema read path applies. SCD merges that must REJECT drift
    * instead do so explicitly ([[graft.operators.Scd1]] checkDrift).
    */
  def upsertMerge(keys: Seq[String]): (DataFrame, DataFrame) => DataFrame =
    (cur, delta) => cur
      .join(delta.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(delta, allowMissingColumns = true)

  /** [[upsertMerge]] that CARRIES `preserve` columns across key
    * collisions: where the delta replaces an existing key's row and
    * its value for a preserved column is NULL, the current row's value
    * flows into the replacement. This is the identity-surrogate-key
    * contract — the reference MERGEs on business keys while the
    * AUTOINCREMENT surrogate stays stable (`09 Order Entity.sql:71`);
    * re-minting it on every upsert would orphan every fact row hanging
    * off it. One extra delta⋈current join on the merge keys, bounded
    * by the delta (the current side is the touched-bucket read the
    * merge does anyway).
    */
  def upsertMergePreserving(keys: Seq[String], preserve: Seq[String])
      : (DataFrame, DataFrame) => DataFrame =
    (cur, delta) => {
      val kept = preserve.filter(c =>
        delta.columns.contains(c) && cur.columns.contains(c))
      if (kept.isEmpty) upsertMerge(keys)(cur, delta)
      else {
        // rename the current side before joining: delta and cur often
        // SHARE LINEAGE (a MERGE's source reads the target), and
        // dataframe-column refs across a self-join are ambiguous —
        // fresh aliases give the join disjoint attribute sets, so
        // resolution is by name and can never be ambiguous
        val tag = "_graft_keep_"
        val curKeyed = cur.select(
          (keys ++ kept).map(c => col(c).as(tag + c)): _*)
        val joinCond = keys.map(k => col(k) <=> col(tag + k)).reduce(_ && _)
        val joined = delta.join(curKeyed, joinCond, "left")
        val projected = delta.columns.toSeq.map { c =>
          if (kept.contains(c)) coalesce(col(c), col(tag + c)).as(c)
          else col(c)
        }
        upsertMerge(keys)(cur, joined.select(projected: _*))
      }
    }

  // ------------------------------------------------------------------
  // manifest IO
  // ------------------------------------------------------------------

  /** Committed versions, ascending (empty if the table doesn't exist).
    * Only COMPLETE manifests (terminator line present) count as
    * committed: a manifest file stranded mid-write by a crashed writer
    * is invisible to readers and reclaimed by the next committer of
    * that version.
    *
    * Completeness is verified from the TAIL only: version numbers are
    * allocated sequentially (a committer's base is the latest COMPLETE
    * version, so a crashed writer's leftover is reclaimed at the SAME
    * number, never skipped) — no complete manifest can ever sit above
    * an incomplete one. Dropping trailing incomplete entries therefore
    * suffices, and a listing stays O(1) manifest reads amortized
    * instead of O(total commits) per call.
    */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fileSystem(spark, root)
    val dir = commitsDir(root)
    if (!fs.exists(dir)) return Seq.empty
    val all = fs.listStatus(dir).toSeq
      .map(_.getPath.getName).filter(_.forall(_.isDigit)).map(_.toLong).sorted
    val lastComplete = all.lastIndexWhere(v =>
      readTerminator(fs, manifestPath(root, v)).isDefined)
    val listed = all.take(lastComplete + 1)
    if (!isObjectStore(fs)) return listed
    // An eventually-consistent LIST (legacy object stores) can hide
    // the NEWEST manifests; per-key GET/HEAD stays consistent even
    // there. Version numbers are allocated densely, so the true tip is
    // recoverable by probing successive numbers past the listed tail
    // until the first absent (or unterminated) one — on modern
    // strongly-consistent stores this costs exactly one extra HEAD per
    // listing (the probe of tip+1 that comes back absent).
    val ext = mutable.ArrayBuffer(listed: _*)
    var tip = listed.lastOption.getOrElse(-1L)
    while (readTerminator(fs, manifestPath(root, tip + 1)).isDefined) {
      tip += 1
      ext += tip
    }
    ext.toSeq
  }

  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** The commit instant of version `v`: the manifest's own in-commit
    * `ts:` line (monotonic per table by construction, even under
    * wall-clock skew between committers). Header-only read — O(1)
    * lines, no state reconstruction. A manifest without one is refused.
    */
  def commitTimeMillis(spark: SparkSession, root: String, v: Long): Long = {
    val in = new BufferedReader(new InputStreamReader(
      fileSystem(spark, root).open(manifestPath(root, v)), StandardCharsets.UTF_8))
    // ts: sits in the first three header lines; scan a few extra in
    // case the header ever grows
    try Iterator.continually(in.readLine()).takeWhile(_ != null).take(8)
      .collectFirst { case l if l.startsWith("ts:") => l.stripPrefix("ts:").trim.toLong }
      .getOrElse(throw new IllegalStateException(
        s"manifest for version $v at $root has no ts: header line; this " +
          s"reader understands format $ManifestFormat only — refusing to misread it"))
    finally in.close()
  }

  /** Newest version committed at or before `tsMillis` — the
    * `TIMESTAMP AS OF` resolution rule (Delta's). Binary search over
    * the monotone in-commit timestamps: O(log versions) header reads,
    * correct even when commit-file mtimes are skewed (copies,
    * migrations, touch), because no file mtime is consulted.
    */
  def versionAt(spark: SparkSession, root: String, tsMillis: Long): Option[Long] = {
    val vs = versions(spark, root)
    var lo = 0
    var hi = vs.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (commitTimeMillis(spark, root, vs(mid)) <= tsMillis) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (ans < 0) None else Some(vs(ans))
  }

  private[store] def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private[store] def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Manifest format (line-oriented, tab-separated, values URL-encoded):
    * {{{
    *   buckets:<n>
    *   format:<v>                  (format marker, always 5)
    *   ts:<epochMillis>            (commit wall-clock instant,
    *                                monotonic per table)
    *   epoch:1                     (this version STARTS a contract
    *                                epoch — a REPLACE or a cross-epoch
    *                                restore; its committer swaps
    *                                `_schema`/`_props`/ledger after the
    *                                manifest commit and stamps
    *                                `graft.schema.epoch` to this version
    *                                as the swap's LAST step, so
    *                                flag+stamp together certify the
    *                                swap completed)
    *   delta:<base>                (delta manifests: entries below are a
    *                                DELTA on version <base> = this-1)
    *   keys:<k1>,<k2>,...          (the table's merge-identity columns,
    *                                URL-encoded; absent on a keyless table)
    *   stats:<name>:<tag>,...      (absent when no stats cols declared)
    *   txn:<writerId>\t<batchId>   (0..many; always the FULL map)
    *   <bucket>\t<dir>[\t<min>,<max>,<min>,<max>,...]
    *   fstats:<bucket>\t<fileName>\t<min>,<max>,...   (0..many, after their bucket line)
    *   rows:<bucket>\t<n>           (bucket row count, exact as of the
    *                                 bucket's last rewrite)
    *   tomb:<bucket>\t<dir>         (0..many, one per unfolded delete sidecar)
    *   del:<bucket>                 (delta manifests: bucket removed vs base)
    *   end:<token>:<lineCount>
    * }}}
    *
    * A manifest without `delta:` is the FULL state (every bucket
    * listed). A delta manifest lists only the buckets its commit
    * changed (each with its complete entry: dir + stats + fstats +
    * rows + tombs) plus `del:` removals — so commit METADATA cost is
    * O(touched buckets' files), not O(table files); at 10⁵–10⁶ files
    * per table, full per-commit manifests are the first real 100×
    * bottleneck. State is reconstructed by [[readManifest]] from the
    * nearest full base (a columnar CHECKPOINT — parquet snapshot of the
    * whole state written every [[checkpointInterval]] commits — or a
    * full manifest, v0 at worst) plus the delta chain above it.
    *
    * The `format:` marker exists so a manifest this reader does not
    * understand is refused instead of silently misread: a manifest
    * with no marker, or with any format other than
    * [[ManifestFormat]], fails [[parseManifestFile]] with an error
    * naming its version and format.
    */
  private val ManifestFormat = 5

  /** Write a full-state checkpoint every this-many commits (the
    * Delta-parquet-checkpoint cadence knob).
    */
  private def checkpointInterval: Long =
    sys.props.get("graft.snapshot.checkpointInterval").map(_.toLong).getOrElse(8L)

  /** One parsed manifest FILE (possibly a delta, not yet a state). */
  private final case class RawManifest(version: Long, numBuckets: Int,
                                       statsCols: Seq[(String, String)],
                                       txns: Map[String, Long],
                                       entries: Map[Int, BucketEntry],
                                       deleted: Set[Int],
                                       deltaBase: Option[Long],
                                       keys: Seq[String],
                                       commitTsMillis: Long,
                                       epochStart: Boolean)

  private[store] def parseStats(s: String): Seq[Option[(String, String)]] =
    if (s.isEmpty) Seq.empty
    else s.split(",", -1).grouped(2).map {
      case Array("", "") => None
      case Array(mn, mx) => Some((dec(mn), dec(mx)))
    }.toSeq

  private def parseManifestFile(fs: FileSystem, root: String, v: Long): RawManifest = {
    val in = new BufferedReader(new InputStreamReader(
      fs.open(manifestPath(root, v)), StandardCharsets.UTF_8))
    try {
      val header = in.readLine() // "buckets:<n>"
      val numBuckets = header.stripPrefix("buckets:").trim.toInt
      def refuse(why: String) = new IllegalStateException(
        s"manifest for version $v at $root $why; this reader understands " +
          s"format $ManifestFormat only — refusing to misread it")
      var statsCols = Seq.empty[(String, String)]
      var complete = false
      var marked = false
      var deltaBase: Option[Long] = None
      var keys = Seq.empty[String]
      var commitTs: Option[Long] = None
      var epochStart = false
      val txns = mutable.Map.empty[String, Long]
      val entries = mutable.Map.empty[Int, (String, Seq[Option[(String, String)]])]
      val deleted = mutable.Set.empty[Int]
      val fstats = mutable.Map.empty[Int, mutable.Map[String, Seq[Option[(String, String)]]]]
      val rowCounts = mutable.Map.empty[Int, Long]
      val tombs = mutable.Map.empty[Int, mutable.ArrayBuffer[String]]
      Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty)
        .foreach {
          case l if l.startsWith("format:") =>
            val f = l.stripPrefix("format:").trim.toInt
            if (f != ManifestFormat) throw refuse(s"is format $f")
            marked = true
          case l if l.startsWith("delta:") =>
            deltaBase = Some(l.stripPrefix("delta:").trim.toLong)
          case l if l.startsWith("keys:") =>
            keys = l.stripPrefix("keys:").split(",").toSeq
              .filter(_.nonEmpty).map(dec)
          case l if l.startsWith("ts:") =>
            commitTs = Some(l.stripPrefix("ts:").trim.toLong)
          case l if l.startsWith("epoch:") =>
            epochStart = l.stripPrefix("epoch:").trim == "1"
          case l if l.startsWith("rows:") =>
            val Array(b, n) = l.stripPrefix("rows:").split("\t", 2)
            rowCounts(b.toInt) = n.toLong
          case l if l.startsWith("stats:") =>
            statsCols = l.stripPrefix("stats:").split(",").toSeq
              .filter(_.nonEmpty).map { part =>
                val Array(n, t) = part.split(":", 2)
                (dec(n), t)
              }
          case l if l.startsWith("txn:") =>
            val Array(id, b) = l.stripPrefix("txn:").split("\t", 2)
            txns(dec(id)) = b.toLong
          case l if l.startsWith("end:") =>
            complete = true
          case l if l.startsWith("fstats:") =>
            val Array(b, name, st) = l.stripPrefix("fstats:").split("\t", 3)
            fstats.getOrElseUpdate(b.toInt, mutable.Map.empty)(dec(name)) =
              parseStats(st)
          case l if l.startsWith("tomb:") =>
            val Array(b, dir) = l.stripPrefix("tomb:").split("\t", 2)
            tombs.getOrElseUpdate(b.toInt, mutable.ArrayBuffer.empty) += dir
          case l if l.startsWith("del:") =>
            deleted += l.stripPrefix("del:").trim.toInt
          case l =>
            val parts = l.split("\t", 3)
            val stats = if (parts.length < 3 || parts(2).isEmpty) Seq.empty
              else parseStats(parts(2))
            entries(parts(0).toInt) = (parts(1), stats)
        }
      if (!complete)
        throw new IllegalStateException(
          s"manifest for version $v at $root has no terminator — " +
            "written by a crashed committer; it is not a committed version")
      if (!marked) throw refuse("has no format: marker (format 2)")
      val withF = entries.map { case (b, (dir, stats)) =>
        b -> BucketEntry(dir, stats, fstats.get(b).map(_.toMap).getOrElse(Map.empty),
          tombs.get(b).map(_.toSeq).getOrElse(Nil),
          rowCounts.getOrElse(b, throw refuse(s"has no rows: line for bucket $b")))
      }
      RawManifest(v, numBuckets, statsCols, txns.toMap, withF.toMap, deleted.toSet,
        deltaBase, keys, commitTs.getOrElse(throw refuse("has no ts: line")), epochStart)
    } finally in.close()
  }

  /** Reconstructed-manifest LRU: manifests are immutable once
    * committed (reclaim only ever replaces INCOMPLETE files, which
    * never parse successfully, so never land here), making this safe
    * WITHIN one table's life. A hit is validated against the manifest
    * file's (length, mtime) fingerprint — one getFileStatus, the same
    * cost the plain existence check paid — so both a VACUUMED version
    * (file gone) and a table dropped-and-recreated at the same path by
    * another process (same version number, different file) miss
    * instead of serving the dead table's state.
    */
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Long), (Manifest, Long, Long)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: JMapEntry[(String, Long), (Manifest, Long, Long)]): Boolean =
        size() > 64
    }
  private type JMapEntry[K, V] = java.util.Map.Entry[K, V]
  private def cacheKey(fs: FileSystem, root: String, v: Long): (String, Long) =
    (fs.makeQualified(new Path(root)).toString, v)
  private def manifestFingerprint(fs: FileSystem, root: String, v: Long)
      : Option[(Long, Long)] =
    try {
      val st = fs.getFileStatus(manifestPath(root, v))
      Some((st.getLen, st.getModificationTime))
    } catch { case _: java.io.IOException => None }
  private def cacheGet(fs: FileSystem, root: String, v: Long): Option[Manifest] =
    manifestCache.synchronized(Option(manifestCache.get(cacheKey(fs, root, v))))
      .collect { case (m, len, mtime)
        if manifestFingerprint(fs, root, v).contains((len, mtime)) => m }
  private[store] def cachePut(fs: FileSystem, root: String, m: Manifest): Unit =
    manifestFingerprint(fs, root, m.version).foreach { case (len, mtime) =>
      manifestCache.synchronized {
        manifestCache.put(cacheKey(fs, root, m.version), (m, len, mtime)): Unit
      }
    }

  /** The table state AT version `v`: walk back through delta manifests
    * to the nearest full base — a columnar checkpoint, a cached
    * reconstruction, or a full manifest (v0 at worst) — then fold the
    * deltas forward. Cost is O(deltas since the last checkpoint), i.e.
    * bounded by [[checkpointInterval]], independent of table size and
    * of total history length.
    */
  def readManifest(spark: SparkSession, root: String, v: Long): Manifest = {
    val fs = fileSystem(spark, root)
    cacheGet(fs, root, v).getOrElse {
      var deltas = List.empty[RawManifest]
      var w = v
      var base: Option[Manifest] = None
      while (base.isEmpty) {
        val cached = if (w == v) None else cacheGet(fs, root, w)
        if (cached.isDefined) base = cached
        else readCheckpoint(spark, root, w) match {
          case Some(m) => base = Some(m)
          case None =>
            val raw =
              try parseManifestFile(fs, root, w)
              catch {
                case e: java.io.FileNotFoundException =>
                  // distinguish a CONCURRENT vacuum (the missing
                  // manifest is below the live retention floor — a
                  // reader pinned a snapshot, a racing vacuum with a
                  // short/zero age floor reclaimed it; documented,
                  // re-runnable) from a genuinely broken chain (the
                  // manifest is missing INSIDE retention — loud)
                  val retained = versions(spark, root)
                  if (retained.isEmpty || w < retained.head) {
                    val cme = new java.util.ConcurrentModificationException(
                      s"manifest $w (reading version $v) at $root was " +
                        "reclaimed by a concurrent vacuum — the read " +
                        "snapshot predates the retention floor" +
                        retained.headOption.fold("")(f => s" $f") +
                        "; re-run the statement")
                    cme.initCause(e)
                    throw cme
                  } else if (w < v)
                    throw new IllegalStateException(
                      s"manifest chain for version $v at $root is broken at $w — " +
                        "history vacuumed without a checkpoint at the retention floor?", e)
                  else throw e
              }
            raw.deltaBase match {
              case Some(b) =>
                require(b == w - 1, s"delta manifest $w declares base $b (want ${w - 1})")
                deltas ::= raw
                w -= 1
              case None =>
                base = Some(Manifest(w, raw.numBuckets, raw.statsCols, raw.txns,
                  raw.entries, raw.keys, raw.commitTsMillis))
            }
        }
      }
      val m = deltas.foldLeft(base.get) { (acc, d) =>
        Manifest(d.version, d.numBuckets, d.statsCols, d.txns,
          (acc.buckets -- d.deleted) ++ d.entries, d.keys, d.commitTsMillis)
      }
      val result = m.copy(version = v)
      cachePut(fs, root, result)
      result
    }
  }

  // ------------------------------------------------------------------
  // columnar checkpoints
  // ------------------------------------------------------------------

  private def checkpointDir(root: String, v: Long) =
    new Path(commitsDir(root), f"cp-$v%020d")

  private[store] def encStats(stats: Seq[Option[(String, String)]]): String = stats.map {
    case Some((mn, mx)) => s"${enc(mn)},${enc(mx)}"
    case None => ","
  }.mkString(",")

  /** Write the FULL state at `m.version` as one parquet snapshot under
    * `_commits/cp-<v>` — the columnar metadata the text manifests
    * checkpoint into (micro-partition-metadata / Delta-checkpoint
    * analog). Rows are (kind, bucket, name, value, stats):
    * `meta` (numBuckets / statsCols), `txn`, `bucket`, `fstat`,
    * `tomb`. Best-effort: a failed or torn checkpoint (no _SUCCESS) is
    * ignored by readers, whose walk-back just continues to the next
    * base — checkpoints are an optimization of read cost, never a
    * correctness dependency. Vacuum's retention-floor checkpoint is
    * the one exception and verifies its own write.
    */
  private[store] def writeCheckpoint(spark: SparkSession, root: String, m: Manifest): Unit = {
    val fs = fileSystem(spark, root)
    val done = new Path(checkpointDir(root, m.version), "_SUCCESS")
    // a checkpoint's content is a pure function of the manifest, so
    // one completed write answers for every caller
    if (fs.exists(done)) return
    // The claim ([[createExclusive]] on `claim-cp-<v>`) is WORK DEDUP
    // only: in the common case one Spark job computes the bytes while
    // racers wait. It is no longer a correctness gate — every attempt
    // writes its own private `cp-<v>.tmp-<token>` dir and atomically
    // RENAMES it into place ([[writeCheckpointData]]), so two writers
    // can never share a FileOutputCommitter output dir (the r13 chaos
    // crash), and no waiter ever DELETES another's claim — the old
    // reclaim had a TOCTOU where the stale-check/delete pair could
    // remove a freshly re-created claim and admit two claimers. A
    // crashed claimer now costs at most [[CheckpointClaimGraceMs]] of
    // deferral, after which waiters simply write their own attempt;
    // the orphaned claim file is swept by [[vacuum]].
    val claim = new Path(commitsDir(root), f"claim-cp-${m.version}%020d")
    // On a plain-PUT store the exclusive create below is check-then-act
    // and two claimers can both "win" — never a correctness hole (the
    // self-validating publish turns a mixed dir into a walked-back
    // checkpoint), but double work and a degraded read until the next
    // cadence. With the arbiter configured the claim row restores
    // single-writer dedup; the marker file still PUTs (overwrite) so
    // waiters' mtime-age deferral works unchanged. One token per call:
    // a same-caller retry re-wins its own row.
    val claimToken = newToken()
    val start = System.currentTimeMillis()
    var defer = true
    while (defer) {
      if (fs.exists(done)) return
      arbitratedCreate(fs, claim, claimToken) match {
        case Some(out) =>
          // conditional-PUT stores surface a lost claim at close();
          // a loser just rejoins the waiters
          val claimed = try { out.close(); true }
            catch { case _: java.io.IOException => false }
          if (claimed) {
            try { writeCheckpointData(spark, root, m); return }
            finally fs.delete(claim, false)
          } else Thread.sleep(50)
        case None =>
          val claimAge =
            try System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime
            catch { case _: java.io.FileNotFoundException => 0L } // holder just finished or failed; re-loop
          if (claimAge > CheckpointClaimGraceMs ||
            System.currentTimeMillis() - start > CheckpointClaimGraceMs) defer = false
          else Thread.sleep(50)
      }
    }
    // claim stale or deferral budget spent: write our own attempt —
    // safe at any concurrency thanks to the tmp-dir + rename publish
    writeCheckpointData(spark, root, m)
  }

  private def writeCheckpointData(spark: SparkSession, root: String, m: Manifest): Unit = {
    val meta = Seq(
      ("meta", -1, "numBuckets", m.numBuckets.toString, ""),
      ("meta", -1, "statsCols",
        m.statsCols.map { case (n, t) => s"${enc(n)}:$t" }.mkString(","), ""),
      ("meta", -1, "keys", m.keys.map(enc).mkString(","), ""),
      ("meta", -1, "commitTs", m.commitTsMillis.toString, ""))
    val txns = m.txns.toSeq.sortBy(_._1).map { case (id, b) =>
      ("txn", -1, enc(id), b.toString, "")
    }
    val buckets = m.buckets.toSeq.sortBy(_._1).flatMap { case (b, e) =>
      Seq(("bucket", b, "", e.dir, encStats(e.stats))) ++
        e.fileStats.toSeq.sortBy(_._1).map { case (n, st) =>
          ("fstat", b, enc(n), "", encStats(st))
        } ++
        Seq(("rows", b, "", e.rows.toString, "")) ++
        e.tombstones.map(d => ("tomb", b, "", d, ""))
    }
    // one writer task: the checkpoint is metadata-sized relative to
    // the data (≤ files + buckets + txns rows), and one file reads
    // back with one task. Written to a PRIVATE tmp dir, then published
    // by one atomic rename — concurrent attempts (a reclaimed claim, a
    // restore auto-checkpoint racing CALL system.checkpoint) each hold
    // their own output dir, and the first completed rename wins. The
    // bytes are a pure function of the manifest, so even the benign
    // race where a late publisher replaces an already-complete dir
    // converges to equivalent content; readers that catch the swap
    // window just walk back (checkpoints are best-effort by contract).
    val fs = fileSystem(spark, root)
    val dest = checkpointDir(root, m.version)
    val tmp = new Path(commitsDir(root), f"cp-${m.version}%020d.tmp-${newToken()}")
    try {
      spark.createDataFrame(meta ++ txns ++ buckets)
        .toDF("kind", "bucket", "name", "value", "stats")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      if (!fs.exists(new Path(dest, "_SUCCESS"))) {
        if (isObjectStore(fs)) {
          // no atomic dir rename on an object store (copy+delete could
          // surface _SUCCESS before the data objects it vouches for —
          // copy order is listing order). Publish in reader-safe
          // order instead: PUT every data object first, the _SUCCESS
          // marker strictly LAST — a reader that sees the marker sees
          // complete data (read-after-write consistency per key).
          // A torn prior attempt's leftovers must go FIRST: its part
          // files carry different (uuid) names, and a whole-dir read
          // after this publish would consume both generations. An
          // incomplete dest was never reader-visible (no _SUCCESS), so
          // the delete closes no window.
          if (fs.exists(dest)) fs.delete(dest, true)
          val copied = fs.listStatus(tmp).filter(_.isFile)
            .filterNot(_.getPath.getName == "_SUCCESS")
            .map { st =>
              org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
                new Path(dest, st.getPath.getName), false, true, fs.getConf): Unit
              st.getPath.getName
            }
          // marker carries the exact file set it vouches for: a MIXED
          // dir (two same-version writers interleaving where the dedup
          // claim is check-then-act) fails readCheckpoint's validation
          // instead of double-counting both generations
          val out = fs.create(new Path(dest, "_SUCCESS"), true)
          try out.write(copied.sorted.mkString("", "\n", "\n")
            .getBytes(StandardCharsets.UTF_8))
          finally out.close()
        } else {
          // a torn prior attempt (dir present, no _SUCCESS) would make
          // rename nest tmp INSIDE dest — clear it first
          if (fs.exists(dest)) fs.delete(dest, true)
          checkpointRenameHook(dest)
          // Two same-version writers can interleave their delete+rename
          // here (the claim is work-dedup, not a correctness gate):
          // Hadoop's rename onto a dest a rival re-created in this
          // window moves tmp INSIDE it — and still returns true. The
          // rival's publish is complete and correct; only OUR stray
          // `cp-<v>.tmp-<token>` subdir pollutes it (vacuum sweeps only
          // direct children of _commits, and a whole-dir parquet read
          // would trip over or double-count it). Detect the nest and
          // remove the stray. A false return (dest vanished under a
          // concurrent delete) just abandons tmp to the finally-delete.
          if (fs.rename(tmp, dest)) {
            val nested = new Path(dest, tmp.getName)
            if (fs.exists(nested)) fs.delete(nested, true): Unit
          }
        }
      }
    } finally {
      if (fs.exists(tmp)) fs.delete(tmp, true): Unit // lost the publish race
    }
  }

  private def maybeCheckpoint(spark: SparkSession, root: String, m: Manifest): Unit = {
    cachePut(fileSystem(spark, root), root, m)
    if (m.version > 0 && m.version % checkpointInterval == 0) {
      try writeCheckpoint(spark, root, m)
      catch { case scala.util.control.NonFatal(_) => () } // read chain just stays longer
    }
  }

  /** Write a full-state checkpoint of the LATEST version on demand —
    * the manual form of the every-[[checkpointInterval]] cadence, for
    * an operator who just landed a long delta chain (bulk backfill,
    * streaming catch-up) and wants the next cold read to replay O(1)
    * deltas without waiting for the cadence to come around. SQL
    * surface: `CALL graft.system.checkpoint(table => ...)`. Unlike the
    * cadence write this one PROPAGATES failure: the caller asked for
    * the checkpoint specifically, so a torn write must not be
    * reported as done. Returns the checkpointed version.
    */
  def checkpoint(spark: SparkSession, root: String): Long = {
    val (_, m) = head(spark, root)
    writeCheckpoint(spark, root, m)
    m.version
  }

  /** The checkpointed state at exactly `v`, if a complete checkpoint
    * (_SUCCESS present) exists there.
    */
  private def readCheckpoint(spark: SparkSession, root: String, v: Long): Option[Manifest] = {
    val dir = checkpointDir(root, v)
    val fs = fileSystem(spark, root)
    if (!fs.exists(new Path(dir, "_SUCCESS"))) return None
    // an object-store publish stamps the marker with the exact file
    // set it copied (the POSIX path's marker is Spark's empty
    // _SUCCESS — its dir renamed into place atomically). A non-empty
    // marker that disagrees with the directory means a MIXED dir: two
    // same-version writers interleaving their delete+copy (possible
    // where the work-dedup claim is check-then-act — plain-PUT
    // stores), or a torn overwrite. Both generations carry identical
    // logical rows under different (uuid) file names, so a whole-dir
    // read would double-count — ignore the checkpoint (manifests
    // reconstruct) and let the next cadence write repair it.
    smallFileText(fs, new Path(dir, "_SUCCESS")).filter(_.nonEmpty).foreach { manifest =>
      val listed = fs.listStatus(dir).filter(_.isFile)
        .map(_.getPath.getName).filterNot(_ == "_SUCCESS").toSet
      if (listed != manifest.linesIterator.filter(_.nonEmpty).toSet) return None
    }
    val rows = spark.read.parquet(dir.toString).collect()
    def kind(k: String) = rows.filter(_.getString(0) == k)
    val metas = kind("meta").map(r => r.getString(2) -> r.getString(3)).toMap
    val fstats = kind("fstat").groupBy(_.getInt(1)).map { case (b, rs) =>
      b -> rs.map(r => (dec(r.getString(2)), parseStats(r.getString(4)))).toMap
    }
    val tombs = kind("tomb").groupBy(_.getInt(1)).map { case (b, rs) =>
      b -> rs.map(_.getString(3)).toSeq
    }
    val rowCounts = kind("rows").map(r => r.getInt(1) -> r.getString(3).toLong).toMap
    val buckets = kind("bucket").map { r =>
      val b = r.getInt(1)
      b -> BucketEntry(r.getString(3), parseStats(r.getString(4)),
        fstats.getOrElse(b, Map.empty), tombs.getOrElse(b, Nil),
        rowCounts(b))
    }.toMap
    Some(Manifest(v, metas("numBuckets").toInt,
      metas("statsCols").split(",").toSeq.filter(_.nonEmpty).map { part =>
        val Array(n, t) = part.split(":", 2)
        (dec(n), t)
      },
      kind("txn").map(r => dec(r.getString(2)) -> r.getString(3).toLong).toMap,
      buckets,
      metas("keys").split(",").toSeq.filter(_.nonEmpty).map(dec),
      metas("commitTs").toLong))
  }

  /** The terminator token of a manifest file, or None when the file is
    * absent or incomplete (crashed writer). The terminator is the LAST
    * thing a committer writes and carries the count of preceding
    * lines (`end:<token>:<n>`), so its presence certifies every line
    * arrived AND that no interleaved writer's bytes are mixed in (two
    * local-FS writers that both slipped through a non-atomic create
    * produce a hybrid whose line count cannot match); its token
    * identifies WHICH committer's bytes are on disk (the post-write
    * ownership check below).
    */
  private def readTerminator(fs: FileSystem, p: Path): Option[String] =
    readTerminatorEither(fs, p).getOrElse(None)

  /** Strict variant for callers that must DISTINGUISH "no terminator on
    * disk" from "could not read": Right(token?) is a definitive
    * observation (a vanished file — concurrent reclaim or vacuum —
    * reads as Right(None), a benign race, not a failure); Left is a
    * transient read error carrying NO information about what is on
    * disk. [[readTerminator]] flattens Left to None, which is correct
    * for listing/reclaim decisions but NOT for the post-write
    * ownership check (see [[writeManifestAtomic]]).
    */
  private def readTerminatorEither(fs: FileSystem, p: Path)
      : Either[java.io.IOException, Option[String]] =
    try {
      // fs.exists/open both inside the try: a concurrent reclaimer or
      // vacuum deleting the file between check and open must read as
      // "no terminator", not throw out of versions()
      if (!fs.exists(p)) return Right(None)
      val in = new BufferedReader(new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
      try {
        var last: String = null
        var lines = 0
        Iterator.continually(in.readLine()).takeWhile(_ != null)
          .filter(_.nonEmpty).foreach { l => last = l; lines += 1 }
        Right(Option(last).filter(_.startsWith("end:"))
          .map(_.stripPrefix("end:").split(":", 2))
          .collect { case Array(token, n) if n.forall(_.isDigit) && n.toInt == lines - 1 =>
            token
          })
      } finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => Right(None) // vanished = definitively gone
      case e: java.io.IOException => Left(e)
    }

  /** Exclusive-create arbitration primitive: a stream is returned ONLY
    * to the one caller that atomically claimed `target`; every loser
    * gets None. The correctness of every arbitration below (manifest
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
  private[store] def createExclusive(fs: FileSystem, target: Path)
      : Option[org.apache.hadoop.fs.FSDataOutputStream] = {
    // some FileSystem impls (test doubles, older adapters) leave
    // getScheme unimplemented — the authority URI always answers
    val scheme =
      try fs.getScheme
      catch { case _: UnsupportedOperationException => fs.getUri.getScheme }
    if (scheme == "file") {
      val local = java.nio.file.Paths.get(target.toUri.getPath)
      def claim(): Option[org.apache.hadoop.fs.FSDataOutputStream] = {
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
  private def arbitratedCreate(fs: FileSystem, target: Path, token: String)
      : Option[org.apache.hadoop.fs.FSDataOutputStream] =
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
  private def supersededBy(fs: FileSystem, target: Path, token: String)
      : Option[String] =
    manifestArbiter.flatMap { arb =>
      val holder = arb.owner(fs.makeQualified(target).toString)
      if (holder.contains(token)) None else Some(holder.getOrElse("nobody"))
    }

  /** Atomically publish version `v`. Returns false when another writer
    * already committed `v`.
    *
    * The commit arbiter is EXCLUSIVE CREATE of the manifest file
    * ([[createExclusive]] — the loser of a race fails to create), not
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
    */
  /** @param base when Some, write a DELTA against it (must be the
    *   immediate predecessor version): only the bucket entries that
    *   differ, plus `del:` lines — O(touched buckets' files) metadata
    *   per commit. None writes the full state (init, clone, and the
    *   retention-floor path).
    * @param keys the table's merge-identity columns; carried forward
    *   from `base` when not supplied (so every commit re-persists them
    *   once a creation recorded them)
    * @return the committed [[Manifest]] (carrying the commit's
    *   in-manifest timestamp) on success; None when another writer
    *   already committed `v`.
    */
  private def writeManifestAtomic(fs: FileSystem, root: String, v: Long,
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
    val keysLine =
      if (effKeys.isEmpty) Seq.empty
      else Seq("keys:" + effKeys.map(enc).mkString(","))
    val statsLine =
      if (statsCols.isEmpty) Seq.empty
      else Seq("stats:" + statsCols.map { case (n, t) => s"${enc(n)}:$t" }.mkString(","))
    val txnLines = txns.toSeq.sortBy(_._1)
      .map { case (id, b) => s"txn:${enc(id)}\t$b" }
    val (written, delLines, deltaLine) = base match {
      case Some(bm) =>
        (buckets.filter { case (b, e) => !bm.buckets.get(b).contains(e) },
          (bm.buckets.keySet -- buckets.keySet).toSeq.sorted.map(b => s"del:$b"),
          Seq(s"delta:${bm.version}"))
      case None => (buckets, Seq.empty[String], Seq.empty[String])
    }
    val bucketLines = written.toSeq.sortBy(_._1).flatMap { case (b, e) =>
      val main = if (statsCols.isEmpty) s"$b\t${e.dir}"
        else s"$b\t${e.dir}\t${encStats(e.stats)}"
      val files = e.fileStats.toSeq.sortBy(_._1).map { case (name, st) =>
        s"fstats:$b\t${enc(name)}\t${encStats(st)}"
      }
      val tombs = e.tombstones.map(d => s"tomb:$b\t$d")
      (main +: files :+ s"rows:$b\t${e.rows}") ++ tombs
    }
    val epochLine = if (epochStart) Seq("epoch:1") else Seq.empty
    val bodyLines = Seq(s"buckets:$numBuckets", s"format:$ManifestFormat",
      s"ts:$commitTs") ++ epochLine ++
      deltaLine ++ keysLine ++ statsLine ++ txnLines ++ bucketLines ++ delLines
    val body = bodyLines.mkString("", "\n", "\n") + s"end:$token:${bodyLines.size}\n"

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
    // is left for [[vacuum]], which only removes UNreferenced dirs.
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
          Some(Manifest(v, numBuckets, statsCols, txns, buckets, effKeys, commitTs))
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
  // reads
  // ------------------------------------------------------------------

  /** The snapshot at version `v` (time travel; bucket column is layout
    * metadata, not data — it is not part of the returned schema).
    */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val m = readManifest(spark, root, v)
    readBuckets(spark, root, m, m.buckets.keySet)
  }

  /** The latest committed snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no committed version at $root")))

  /** Bucket-pruned point lookup: read ONLY the bucket directories the
    * requested key tuples hash into — at any table size a key lookup
    * touches 1/numBuckets of the data (the layout's partition-pruning
    * dividend; [[commitDelta]] uses the same path for its merges).
    * `keyValues` are tuples in `keys` order.
    */
  def readForKeys(spark: SparkSession, root: String, keys: Seq[String],
                  keyValues: Seq[Seq[Any]]): DataFrame = {
    val m = readManifest(spark, root, latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no committed version at $root")))
    val schema = read(spark, root).schema
    val probe = spark.createDataFrame(
      spark.sparkContext.parallelize(keyValues.map(Row.fromSeq), 1),
      org.apache.spark.sql.types.StructType(keys.map(k => schema(k))))
    val buckets = withBucket(probe, keys, m.numBuckets)
      .select(BucketCol).distinct().collect().map(_.getInt(0)).toSet
    readBuckets(spark, root, m, buckets)
      .join(broadcast(probe), keys, "left_semi")
  }

  private[store] def readBuckets(spark: SparkSession, root: String, m: Manifest,
                                 which: Set[Int]): DataFrame = {
    val dirs = m.buckets.collect { case (b, e) if which(b) => dataPath(root, e.dir).toString }
    // a pruned selection that matched no EXISTING buckets keeps the
    // cheap zero-column frame (callers align from their delta side);
    // only a manifest with NO buckets at all recovers the schema
    if (dirs.isEmpty && m.buckets.isEmpty) emptyWithSchema(spark, root, m)
    else if (dirs.isEmpty) spark.emptyDataFrame
    else antiJoinTombstones(spark, root, m, which,
      mergedSchemaRead(spark, dirs.toSeq).parquet(dirs.toSeq: _*))
  }

  /** Reader for a set of bucket dirs whose union schema spans additive
    * evolution (old rows null-fill new columns). The schema comes from
    * ONE driver-side footer read per DIR — every dir is written by one
    * job under one schema, so per-dir representatives merge to exactly
    * what the distributed `mergeSchema` inference computes, without
    * its every-footer Spark job per scan (the single largest driver
    * cost of the table-lifecycle bench keys — 24% of w09's wall time).
    * Any listing/footer failure falls back to the inference path, so
    * error behavior is unchanged.
    */
  /** Bounded driver-side thread pool for footer/listing metadata I/O.
    * The footer-read helpers replaced distributed jobs with driver
    * work (r18); at real scale a commit can reference thousands of
    * dirs/files, and serializing O(files) object-store round-trips on
    * one driver thread would hand the saved job time straight back
    * (guide §5: the driver should do almost no data work — and as
    * little SERIAL metadata work as possible). 8–16 concurrent GETs is
    * the classic sweet spot for footer-sized reads; daemon threads so
    * an exiting driver never hangs on the pool.
    */
  private lazy val footerIoPool: java.util.concurrent.ExecutorService = {
    val n = math.min(16, math.max(4, Runtime.getRuntime.availableProcessors() / 2))
    java.util.concurrent.Executors.newFixedThreadPool(n, (r: Runnable) => {
      val t = new Thread(r, "graft-footer-io")
      t.setDaemon(true)
      t
    })
  }

  /** Map `f` over `xs` on [[footerIoPool]] (order-preserving).
    * Exceptions from any element rethrow (wrapped) at `get()` — the
    * callers' NonFatal fallbacks treat them exactly like the old
    * sequential failure.
    */
  private def parFooterIo[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.sizeIs <= 1) xs.map(f)
    else xs.map { x =>
      footerIoPool.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = f(x)
      })
    }.map(_.get())

  private[graft] def mergedFooterSchema(spark: SparkSession,
                                        dirs: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    try {
      val hconf = spark.sessionState.newHadoopConf()
      // one footer per dir, read CONCURRENTLY (bounded pool) — at
      // thousands of dirs the old per-dir serial loop was O(dirs)
      // driver round-trips
      val schemas = parFooterIo(dirs.sorted) { d =>
        val p = new Path(d)
        val fs = p.getFileSystem(hconf)
        fs.listStatus(p).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName).headOption
          .map(first => org.apache.spark.sql.graft.GraftSqlShims
            .parquetFooterSchema(spark, hconf, first.getPath))
      }
      // a dir with no data file: let inference decide (unchanged)
      if (schemas.isEmpty || schemas.exists(_.isEmpty)) None
      // asNullable matches inference: Spark writes parquet columns
      // nullable, and file-source relations present nullable fields
      else Some(org.apache.spark.sql.graft.GraftSqlShims.asNullable(
        schemas.flatten.reduce(org.apache.spark.sql.graft.GraftSqlShims.mergeStructs)))
    } catch {
      case scala.util.control.NonFatal(e) =>
        // visible because silent fallback = a silent perf regression
        System.err.println(s"[graft] footer-schema read failed " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}) — falling back to inference")
        None
    }

  private[graft] def mergedSchemaRead(spark: SparkSession, dirs: Seq[String])
      : org.apache.spark.sql.DataFrameReader =
    mergedFooterSchema(spark, dirs) match {
      case Some(s) => spark.read.schema(s)
      case None => inferenceFallback(spark, dirs)
    }

  /** The slow path of every footer-schema read: a mergeSchema reader,
    * announced on stderr because a silent fallback is a silent perf
    * regression (the inference job re-reads every footer distributed).
    */
  private[graft] def inferenceFallback(spark: SparkSession, dirs: Seq[String])
      : org.apache.spark.sql.DataFrameReader = {
    System.err.println(
      s"[graft] footer-schema read fell back to mergeSchema inference for ${dirs.take(2).mkString(",")}")
    spark.read.option("mergeSchema", "true")
  }

  /** An empty snapshot that still ANSWERS for the table's schema — a
    * zero-column `emptyDataFrame` would fail every downstream
    * projection (`SELECT k FROM t` on a table whose rows were all
    * deleted and folded away is legal SQL). Schema sources, in order:
    * the `_schema` breadcrumb (catalog tables), then the newest prior
    * version that still references data files (path tables after an
    * all-empty fold; footers-only read). A table with no schema
    * anywhere (born empty, path-created) keeps the zero-column frame.
    */
  private def emptyWithSchema(spark: SparkSession, root: String, m: Manifest): DataFrame = {
    def parquetSchema(mf: Manifest) = {
      val dirs = mf.buckets.values.map(e => dataPath(root, e.dir).toString).toSeq
      mergedFooterSchema(spark, dirs).getOrElse(
        spark.read.option("mergeSchema", "true").parquet(dirs: _*).schema)
    }
    // A pinned PRE-REPLACE version answers under its OWN epoch's
    // archived schema, never the live `_schema` — that breadcrumb
    // belongs to the replacement epoch (the programmatic-read twin of
    // the connector's cross-epoch guard in GraftDataSource.schema; an
    // all-empty old-epoch version read via readVersion hit the leak).
    val declared = readProps(spark, root).get("graft.schema.epoch").map(_.toLong) match {
      case Some(epoch) if m.version < epoch => archivedSchemaFor(spark, root, m.version)
      case _ => declaredSchema(spark, root)
    }
    val schema = declared.orElse {
      Iterator.iterate(m.version - 1)(_ - 1).takeWhile(_ >= 0)
        .map(v => scala.util.Try(readManifest(spark, root, v)).toOption)
        .collectFirst { case Some(pm) if pm.buckets.nonEmpty =>
          scala.util.Try(parquetSchema(pm)).toOption }
        .flatten
    }
    schema.fold(spark.emptyDataFrame)(s =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s))
  }

  /** Merge-on-read: subtract the unfolded delete sidecars of the
    * selected buckets. The sidecar holds key TUPLES (not hashes — no
    * collision risk), and a key lives in exactly the bucket it hashes
    * to, so the anti-join on the key columns alone is exact. The
    * sidecar side is the keys deleted since those buckets' last
    * rewrite — deltas, not table-sized — so this plans as a broadcast
    * anti-join at any table size; no tombstones = unchanged plan.
    */
  private def antiJoinTombstones(spark: SparkSession, root: String, m: Manifest,
                                 which: Set[Int], df: DataFrame): DataFrame = {
    val tombDirs = m.buckets.collect { case (b, e) if which(b) => e.tombstones }
      .flatten.map(d => dataPath(root, d).toString).toSeq
    if (tombDirs.isEmpty) df
    else {
      val tomb = mergedSchemaRead(spark, tombDirs).parquet(tombDirs: _*)
      // null-SAFE equality: a usingColumns anti-join would never match
      // a NULL key component, silently resurrecting deleted null-keyed
      // rows (and diverging from the eager delete path, whose window
      // partitioning groups nulls together)
      val cond = tomb.columns.map(c => df(c) <=> tomb(c)).reduce(_ && _)
      df.join(broadcast(tomb), cond, "left_anti")
    }
  }

  // ------------------------------------------------------------------
  // data skipping
  // ------------------------------------------------------------------

  /** Buckets whose [min, max] for `statsCol` can overlap [lower, upper]
    * — the micro-partition-pruning decision, made entirely on manifest
    * metadata (no file I/O). Buckets with no stats recorded (all-null
    * column, stats added after their last rewrite, or no declared
    * stats) are conservatively kept. Bounds may be null for open
    * ranges.
    */
  /** UTF-8 binary (code-point) comparison — Spark's string ordering.
    * Scala's String.compareTo is UTF-16 code-UNIT order, which
    * disagrees for non-BMP characters (surrogates sort below U+E000+).
    */
  private def utf8Lte(a: String, b: String): Boolean = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }

  /** Overlap predicate for ONE stats entry against [lower, upper]
    * (null bound = open side). Non-finite stats (NaN/Infinity from
    * double columns) and any unparseable value disable pruning for
    * that entry — pruning must only ever be an optimization, never a
    * correctness risk. `None` (all-null column) always overlaps.
    */
  private def mkOverlap(tag: String, lower: Any, upper: Any)
      : Option[(String, String)] => Boolean = {
    def toCmp(s: String): Option[BigDecimal] =
      scala.util.Try(tag match {
        case "ts" => BigDecimal(s.toLong)
        case _    => BigDecimal(s)
      }).toOption
    def boundCmp(b: Any): Option[BigDecimal] = Option(b).flatMap { v =>
      scala.util.Try(v match {
        case t: java.sql.Timestamp =>
          BigDecimal(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
        case n: Number => BigDecimal(n.toString)
        case other => BigDecimal(other.toString)
      }).toOption
    }
    if (tag == "str") {
      val lo = Option(lower).map(_.toString)
      val hi = Option(upper).map(_.toString)
      entry => entry.forall { case (mn, mx) =>
        lo.forall(utf8Lte(_, mx)) && hi.forall(utf8Lte(mn, _))
      }
    } else {
      val lo = boundCmp(lower)
      val hi = boundCmp(upper)
      entry => entry.forall { case (mn, mx) =>
        lo.forall(l => toCmp(mx).forall(l <= _)) &&
          hi.forall(h => toCmp(mn).forall(h >= _))
      }
    }
  }

  def pruneBuckets(m: Manifest, statsCol: String, lower: Any, upper: Any): Set[Int] = {
    val idx = m.statsCols.indexWhere(_._1 == statsCol)
    if (idx < 0) m.buckets.keySet
    else {
      val overlaps = mkOverlap(m.statsCols(idx)._2, lower, upper)
      m.buckets.collect {
        case (b, e) if overlaps(e.stats.lift(idx).flatten) => b
      }.toSet
    }
  }

  /** File-level pruning within one kept bucket: the file NAMES whose
    * recorded [min, max] can overlap [lower, upper]. Buckets without
    * per-file stats (older manifests, stats-less tables) return None —
    * caller reads the whole bucket dir (conservative).
    */
  def pruneFiles(m: Manifest, bucket: Int, statsCol: String,
                 lower: Any, upper: Any): Option[Seq[String]] = {
    val idx = m.statsCols.indexWhere(_._1 == statsCol)
    val e = m.buckets(bucket)
    if (idx < 0 || e.fileStats.isEmpty) None
    else {
      val overlaps = mkOverlap(m.statsCols(idx)._2, lower, upper)
      Some(e.fileStats.collect {
        case (name, st) if overlaps(st.lift(idx).flatten) => name
      }.toSeq.sorted)
    }
  }

  /** Range scan with manifest-stats pruning: read only the buckets
    * whose recorded [min, max] for `statsCol` overlaps
    * [lower, upper] (null bound = open side), then apply the exact
    * predicate to the survivors. The reference leans on exactly this
    * implicitly — Snowflake micro-partition min/max pruning under
    * every MERGE; here it is explicit table metadata.
    */
  def readRange(spark: SparkSession, root: String, statsCol: String,
                lower: Any, upper: Any): DataFrame = {
    val m = readManifest(spark, root, latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no committed version at $root")))
    val surviving = pruneBuckets(m, statsCol, lower, upper)
    // file-level pruning inside kept buckets (the micro-partition
    // granularity): buckets without per-file stats fall back to their
    // whole dir — pruning is only ever an optimization
    val paths = surviving.toSeq.sorted.flatMap { b =>
      val e = m.buckets(b)
      pruneFiles(m, b, statsCol, lower, upper) match {
        case Some(names) =>
          names.map(n => new Path(dataPath(root, e.dir), n).toString)
        case None => Seq(dataPath(root, e.dir).toString)
      }
    }
    // an everything-pruned read still returns the TABLE's schema (a
    // 0-row frame), exactly like the equivalent full scan + filter —
    // limit(0) over the manifest's dirs reads footers only
    // schema from the surviving buckets' DIRS (pruned file paths share
    // their dir's schema — each dir is written by one job)
    val survivingDirs = surviving.toSeq.sorted
      .map(b => dataPath(root, m.buckets(b).dir).toString)
    val df = if (paths.isEmpty) readBuckets(spark, root, m, m.buckets.keySet).limit(0)
      else antiJoinTombstones(spark, root, m, surviving,
        mergedSchemaRead(spark, survivingDirs).parquet(paths: _*))
    if (df.schema.isEmpty) df
    else {
      val loF = Option(lower).map(l => col(statsCol) >= lit(l))
      val hiF = Option(upper).map(u => col(statsCol) <= lit(u))
      (loF.toSeq ++ hiF.toSeq).foldLeft(df)(_ where _)
    }
  }

  /** Per-bucket AND per-file (min, max) of the declared stats columns
    * over freshly written data — ONE O(delta) rollup aggregate per
    * commit, grouped by (bucket, file) with the bucket subtotal rows
    * giving the bucket-level stats (metadata-sized result: ≤ files+
    * buckets rows). The per-file granularity is the micro-partition
    * analog: [[readRange]] prunes buckets on the bucket stats, then
    * FILES inside kept buckets on the file stats.
    */
  private def collectStats(written: DataFrame, statsCols: Seq[(String, String)])
      : (Map[Int, Seq[Option[(String, String)]]],
         Map[Int, Map[String, Seq[Option[(String, String)]]]],
         Map[Int, Long]) = {
    if (statsCols.isEmpty) return (Map.empty, Map.empty, Map.empty)
    // min/max are computed in the column's NATIVE type (string-cast
    // first would give lexicographic extremes — "9" > "10"), then
    // string-encoded for the manifest. Row counts ride the SAME rollup
    // (bucket-subtotal rows) — no separate count job per commit.
    val aggs = statsCols.flatMap { case (c, _) =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c"))
    } :+ count(lit(1)).as("__graft_rows")
    def encVal(v: Any): String = v match {
      case t: java.sql.Timestamp => (t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString
      case other => other.toString
    }
    val rows = written
      .withColumn("__file", element_at(split(input_file_name(), "/"), -1))
      .rollup(col(BucketCol), col("__file"))
      .agg(grouping(col(BucketCol)).as("__gb"),
        (grouping(col("__file")).as("__gf") +: aggs): _*)
      .where(col("__gb") === 0) // drop the grand-total row
      .collect()
    // schema: bucket, __file, __gb, __gf, then (mn, mx) pairs
    def statsOf(r: Row): Seq[Option[(String, String)]] = statsCols.indices.map { i =>
      val mn = r.get(4 + 2 * i)
      val mx = r.get(5 + 2 * i)
      if (mn == null || mx == null) None else Some((encVal(mn), encVal(mx)))
    }
    val bucketStats = rows.filter(_.getByte(3) == 1).map { r =>
      r.getInt(0) -> statsOf(r)
    }.toMap
    val fileStats = rows.filter(_.getByte(3) == 0).groupBy(_.getInt(0)).map {
      case (b, rs) => b -> rs.map(r => r.getString(1) -> statsOf(r)).toMap
    }
    val rowCounts = rows.filter(_.getByte(3) == 1).map { r =>
      r.getInt(0) -> r.getLong(4 + 2 * statsCols.size)
    }.toMap
    (bucketStats, fileStats, rowCounts)
  }

  // ------------------------------------------------------------------
  // writes
  // ------------------------------------------------------------------

  /** Create the table: full write of `df` as version 0.
    *
    * @param statsCols columns to record per-bucket min/max for in
    *   every manifest (data skipping); numeric, string, and timestamp
    *   columns supported. Fixed at table creation like the bucket
    *   layout.
    * @param txn writer id + batch id recorded in the manifest so a
    *   redelivered first micro-batch skips instead of double-applying
    * @param failRules Fail-policy expectations validated INSIDE the
    *   version-0 write (observe on the attempt-dir job — no extra
    *   scan); any violation aborts before the manifest exists
    */
  def init(spark: SparkSession, root: String, df: DataFrame,
           keys: Seq[String], numBuckets: Int = 16,
           statsCols: Seq[String] = Nil,
           txn: Option[(String, Long)] = None,
           failRules: Seq[graft.pipeline.Expectations.Expectation] = Nil): Long = {
    val fs = fileSystem(spark, root)
    require(latestVersion(spark, root).isEmpty, s"table already exists at $root")
    // identity BEFORE the v0 commit (r17 fence-bracketing): the batch
    // instance fence verifies the id AFTER a successful manifest read,
    // which proves the manifest belonged to the bound instance ONLY if
    // every successor's manifest becomes readable strictly after the
    // successor's id exists — mint-first makes that ordering true by
    // construction (mint-after left a window where a stale relation
    // could read the successor's v0 while the old id was simply gone).
    // The streaming fence reads the same file; a failed init leaves at
    // most a stray id file that dies with the directory.
    mintTableInstanceId(spark, root)
    val tagged = tagStatsCols(df, statsCols)
    val token = newToken()
    val written = writeVersionData(df, root, 0L, token, keys, numBuckets, tagged, fs,
      failRules)
    // a lost concurrent create cleans up our own attempt dir (the
    // winner's data lives under its own token) before failing
    publish(spark, root, fs.delete(new Path(root, attemptDir(0L, token)), true): Unit)(
      writeManifestAtomic(fs, root, 0L, numBuckets, tagged, txn.toMap, written, keys = keys))
      .getOrElse(throw new IllegalStateException(s"concurrent init at $root"))
    0L
  }

  /** Type tags for declared stats columns, from the frame's schema. */
  private def tagStatsCols(df: DataFrame, statsCols: Seq[String]): Seq[(String, String)] =
    statsCols.map { c =>
      c -> (df.schema(c).dataType match {
        case org.apache.spark.sql.types.TimestampType => "ts"
        case org.apache.spark.sql.types.StringType => "str"
        case _: org.apache.spark.sql.types.NumericType => "num"
        case other => throw new IllegalArgumentException(
          s"stats column $c: unsupported type $other (numeric, string, timestamp)")
      })
    }

  /** Write `df`'s rows under this attempt's `v=<n>-<token>/` dir
    * partitioned by bucket; returns bucket → (dir, stats) for the
    * buckets that actually got files.
    *
    * `failRules` validate IN the attempt-dir write: violation counts
    * ride the write job via `observe` (no extra source scan), and a
    * violation deletes the attempt dir and throws BEFORE any manifest
    * is published — abort-before-visibility at zero pre-flight cost
    * (vs [[graft.pipeline.Expectations.validate]]'s documented extra
    * Fail pass). The attempt dir is never referenced, so even a crash
    * mid-abort leaves only vacuum-food.
    */
  private def writeVersionData(df: DataFrame, root: String, v: Long, token: String,
                               keys: Seq[String], numBuckets: Int,
                               statsCols: Seq[(String, String)],
                               fs: FileSystem,
                               failRules: Seq[graft.pipeline.Expectations.Expectation] = Nil)
      : Map[Int, BucketEntry] = {
    import graft.pipeline.Expectations
    val rel = attemptDir(v, token)
    val vdir = new Path(root, rel)
    val obs = if (failRules.isEmpty) None
      else Some(org.apache.spark.sql.Observation())
    // a table declaring `dml.mode=delta` carries the not-null-merge-key
    // contract: reject a null key value IN the write (a guard fused
    // into the projection — no extra pass), so the contract holds over
    // every write path and the non-nullable key schema the connector
    // presents is truthful for all readers
    val props = readProps(df.sparkSession, root)
    // identity columns FIRST (a generation expression may reference
    // one): a NULL value means "mint the next id". The frame goes
    // through ONE deterministic exchange — `repartition(n)` with an
    // EXPLICIT n, which adaptive planning never overrides — so the
    // partition count the lane math assumes is exact by construction
    // (no `.rdd` side-planning, no second execution of the source).
    // monotonically_increasing_id is (partitionId << 33) + rowIndex,
    // so `base + step * monotonic` stays inside the reserved
    // `n << 33` block for any row distribution and is deterministic
    // under task retry; a per-row guard turns any violated assumption
    // into a loud error, never a silent id collision. Non-null values
    // pass through (row-level rewrites copy existing ids; explicit-
    // INSERT policy is the SQL door's, where ALWAYS-mode refuses).
    val idCols = identitySpecs(props)
      .filter { case (c, _) => df.columns.contains(c) }
    val minted =
      if (idCols.isEmpty) df
      else {
        val n = math.max(numBuckets,
          df.sparkSession.sparkContext.defaultParallelism)
        val span = n.toLong << 33
        idCols.foldLeft(df.repartition(n)) { case (d, (cname, spec)) =>
          val base = reserveIdentityBlock(d.sparkSession, root, cname, spec, span)
          val mono = monotonically_increasing_id()
          d.withColumn(cname,
            when(d(cname).isNull,
              when(mono >= span, raise_error(lit(
                s"identity lane overflow minting '$cname' at $root — " +
                  "write partitioning exceeded the reserved block; re-run"))
                .cast(d.schema(cname).dataType))
                .otherwise((lit(base) + lit(spec.step) * mono)
                  .cast(d.schema(cname).dataType)))
              .otherwise(d(cname)))
        }
      }
    // GENERATED ALWAYS AS columns (`generated.<col>` props, recorded
    // at CREATE): a NULL value means "engine, compute it" — which
    // covers INSERTs that omit the column (the analyzer null-fills) —
    // and any non-null value must MATCH the generation expression, or
    // the write refuses. Corollary the spec pins: a row-level UPDATE
    // changing a generation SOURCE must also SET the generated column
    // (to the new value, or to NULL to recompute); silently keeping
    // the stale derived value would corrupt the contract.
    // read ONCE per write: the breadcrumb feeds both the generated-
    // column type lookup and the NOT NULL list below (per-column
    // re-reads would be N filesystem round-trips on the write path)
    val declared = declaredSchema(df.sparkSession, root)
    val generatedFilled = props.toSeq.sortBy(_._1).collect {
      case (k, sql) if k.startsWith("generated.") =>
        (k.stripPrefix("generated."), decPropValue(sql))
    }.foldLeft(minted) { case (d, (gname, sql)) =>
      // CASE-INSENSITIVE membership (Spark's default resolution): a
      // frame supplying "Dollars" for declared "dollars" must flow
      // into the validating branch — the exact-match test would take
      // the omitted branch and silently REPLACE the supplied values
      d.columns.find(_.equalsIgnoreCase(gname)) match {
        case None =>
          // a frame OMITTING the column outright (path/library door —
          // SQL resolves every column) gets it COMPUTED, not silently
          // absent: files lacking the column would null-fill on read
          // under a contract that promises the generated value. The
          // declared type comes from the `_schema` breadcrumb; without
          // one (path-created table carrying generated props — not a
          // reachable state today) the expression's natural type stands.
          val declType = declared
            .flatMap(_.fields.find(_.name.equalsIgnoreCase(gname)))
            .map(_.dataType)
          val e = declType.fold(expr(sql))(t => expr(sql).cast(t))
          d.withColumn(gname, e)
        case Some(actual) =>
          val e = expr(sql).cast(d.schema(actual).dataType)
          d.withColumn(actual,
            when(d(actual).isNull, e)
              .when(!(d(actual) <=> e), raise_error(lit(
                s"generated column '$gname' (GENERATED ALWAYS AS $sql): a " +
                  "written row supplies a value that differs from the " +
                  s"generation expression on the table at $root")))
              .otherwise(d(actual)))
      }
    }
    val checked =
      if (keys.isEmpty || !props.get("dml.mode").contains("delta")) generatedFilled
      else keys.foldLeft(generatedFilled)((d, k) => d.withColumn(k,
        when(col(k).isNull, raise_error(lit(
          s"null merge key '$k' rejected: the table at $root declares " +
            "dml.mode=delta, whose row-identity contract requires " +
            "non-null merge keys"))).otherwise(col(k))))
    // ANSI NOT NULL (declared at CREATE, recorded in the `_schema`
    // breadcrumb): fused into the same projection, so EVERY write door
    // rejects a null in a declared non-nullable column — which is what
    // makes the non-nullable read schema truthful. SQL writes also get
    // Spark's own ANSI store-assignment runtime check; this guard
    // covers the library/path/streaming doors that never pass the
    // analyzer. A source frame MISSING the column is caught too: the
    // upsert merge null-fills its rows before this projection runs.
    val notNullCols = declared
      .map(_.fields.toSeq.filter(!_.nullable).map(_.name)).getOrElse(Nil)
    // a frame MISSING the column outright must refuse too: on the
    // overwrite/init doors nothing merges a null in for the guard to
    // catch — the files would simply lack the column, and reads would
    // null-fill under a schema that promises non-null (silently wrong
    // IS NULL folding). Append doors are unaffected: the upsert merge
    // materializes the column before this projection runs.
    // case-INSENSITIVE matching, like the generated-column block above:
    // a library/path-door frame supplying 'ID' for declared NOT NULL
    // 'id' resolves fine everywhere else in Spark (default resolver),
    // so a case-sensitive presence check would spuriously reject it as
    // omitting the column — and the guard below must address the
    // frame's ACTUAL column name (StructType.apply is exact-match)
    locally {
      val missing = notNullCols.filterNot(n =>
        checked.columns.exists(_.equalsIgnoreCase(n)))
      require(missing.isEmpty,
        s"write to $root omits declared NOT NULL column(s) " +
          s"${missing.mkString(", ")} — a null-filled history would " +
          "violate the declaration")
    }
    val notNullGuarded = notNullCols
      .foldLeft(checked) { (d, declaredName) =>
        val c = d.columns.find(_.equalsIgnoreCase(declaredName))
          .getOrElse(declaredName)
        d.withColumn(c,
          when(col(c).isNull, raise_error(lit(
            s"NOT NULL column '$c' rejected a null value on the table at " +
              root)).cast(d.schema(c).dataType)).otherwise(col(c)))
      }
    // ANSI CHECK constraints (`constraint.check.<name>` props, recorded
    // by the catalog's ADD CONSTRAINT after validating existing data):
    // fused into the same projection — ANY write path (SQL, library,
    // path-based, streaming, DML rewrite) rejects a violating row at
    // write time. ANSI semantics: only a FALSE predicate violates
    // (NULL passes).
    val constrained = props.toSeq.sortBy(_._1).collect {
      case (k, sql) if k.startsWith("constraint.check.") =>
        (k.stripPrefix("constraint.check."), sql)
    }.foldLeft(notNullGuarded) { case (d, (cname, sql)) =>
      val anchor = d.columns.head
      d.withColumn(anchor,
        when(coalesce(expr(sql), lit(true)) === false, raise_error(lit(
          s"CHECK constraint '$cname' ($sql) violated by a written row " +
            s"on the table at $root"))).otherwise(col(anchor)))
    }
    val bucketed = withBucket(constrained, keys, numBuckets)
    val observed = obs.fold(bucketed) { o =>
      val counts = failRules.map(e =>
        sum(Expectations.violated(e).cast("long")).as(e.name))
      bucketed.observe(o, counts.head, counts.tail: _*)
    }
    // `write.clustered=true` (TBLPROPERTIES, opt-in — the
    // optimized-write analog): ONE exchange pins each bucket to a
    // single task, so every commit lands exactly one file per touched
    // bucket instead of one per (shuffle partition × bucket). Trades
    // an extra shuffle of the rewrite data for zero fragmentation —
    // right for trickle-upsert tables that would otherwise accrue
    // compaction debt every commit; leave off for huge bulk loads
    // where write parallelism above numBuckets matters more.
    val placed =
      if (props.get("write.clustered").contains("true"))
        observed.repartition(numBuckets, col(BucketCol))
      else observed
    placed.write.mode("overwrite").partitionBy(BucketCol).parquet(vdir.toString)
    obs.foreach { o =>
      val counts = o.get
      failRules.foreach { e =>
        val n = counts.get(e.name).collect { case l: Long => l }.getOrElse(0L)
        if (n > 0) {
          fs.delete(vdir, true)
          throw new Expectations.FailedExpectationException(e.name, n)
        }
      }
    }
    writtenEntries(df.sparkSession, root, rel, fs, statsCols, placed.schema)
  }

  /** The manifest entries of a freshly written attempt dir `rel` (its
    * `schema` is the written frame's): per bucket that got files, its
    * dir, exact row count, and the min/max of `statsCols` per bucket
    * and per file. Bookkeeping minimized per guide §1.2/§2.4: the
    * just-written parquet FOOTERS, read on the driver, answer it with
    * ZERO Spark jobs whenever they prove the job's numbers
    * ([[footerBucketStats]]); otherwise ONE job over an explicit-schema
    * read (Spark 4's ParquetUtils.inferSchema would launch an
    * inference job even for one footer) — the stats rollup
    * ([[collectStats]], which rides the row counts along), or with no
    * stats columns the count job ([[bucketRowCounts]]).
    */
  private def writtenEntries(spark: SparkSession, root: String, rel: String,
                             fs: FileSystem, statsCols: Seq[(String, String)],
                             schema: org.apache.spark.sql.types.StructType)
      : Map[Int, BucketEntry] = {
    val vdir = new Path(root, rel)
    if (!fs.exists(vdir)) return Map.empty
    val bucketNames = fs.listStatus(vdir).toSeq
      .map(_.getPath.getName).filter(_.startsWith(s"$BucketCol="))
    if (bucketNames.isEmpty) return Map.empty
    val (stats, fstats, counts) =
      footerBucketStats(spark, vdir, bucketNames, fs, statsCols, schema).getOrElse {
        if (statsCols.isEmpty) (Map.empty[Int, Seq[Option[(String, String)]]],
          Map.empty[Int, Map[String, Seq[Option[(String, String)]]]],
          bucketRowCounts(spark, vdir.toString))
        else collectStats(spark.read.schema(schema).parquet(vdir.toString), statsCols)
      }
    bucketNames.map { name =>
      val b = name.stripPrefix(s"$BucketCol=").toInt
      b -> BucketEntry(s"$rel/$name", stats.getOrElse(b, statsCols.map(_ => None)),
        fstats.getOrElse(b, Map.empty), Nil, counts.getOrElse(b, 0L))
    }.toMap
  }

  /** Exact per-bucket row counts, plus per-bucket AND per-file
    * min/max stats for declared INTEGRAL stats columns, from the
    * attempt dir's parquet FOOTERS on the driver — zero Spark jobs
    * (guide §1.2/§6: a stats rollup or count job re-reads what was
    * just written; a committed footer's row counts are final, and its
    * column statistics carry the same min/max for integral columns,
    * exactly). Returns None (→ the job) when any stats column is
    * non-integral (string/timestamp encodings are the job's; a
    * float/double footer can report -0.0 where the job's min() says
    * 0.0), missing from a footer, or carries absent statistics, or on
    * any I/O surprise — so the fallback keeps behavior bit-identical
    * whenever the footer path cannot PROVE the same numbers. With no
    * stats columns it answers the row counts alone (and no file stats).
    */
  private def footerBucketStats(spark: SparkSession, vdir: Path,
                                bucketNames: Seq[String], fs: FileSystem,
                                statsCols: Seq[(String, String)],
                                dataSchema: org.apache.spark.sql.types.StructType)
      : Option[(Map[Int, Seq[Option[(String, String)]]],
                Map[Int, Map[String, Seq[Option[(String, String)]]]],
                Map[Int, Long])] = {
    import org.apache.spark.sql.types._
    val supported = statsCols.forall { case (c, tag) =>
      tag == "num" && (dataSchema.fields.find(_.name == c).map(_.dataType) match {
        case Some(LongType | IntegerType | ShortType | ByteType) => true
        case _ => false
      })
    }
    if (!supported) return None
    try {
      import scala.jdk.CollectionConverters._
      val hconf = spark.sessionState.newHadoopConf()
      // list bucket dirs concurrently, then read EVERY file's footer
      // concurrently (bounded pool) — a per-file serial loop was the
      // scale hazard the r18 verdict flagged (O(files) driver
      // round-trips per commit)
      val perBucket = parFooterIo(bucketNames) { name =>
        val b = name.stripPrefix(s"$BucketCol=").toInt
        b -> fs.listStatus(new Path(vdir, name)).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .map(_.getPath)
      }
      // one footer read per file: (bucket, fileName, rows, per-col min/max)
      val perFile = parFooterIo(perBucket.flatMap { case (b, ps) => ps.map(b -> _) }) {
        case (b, path) =>
          val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            hconf, path,
            org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
          val blocks = footer.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          val colStats: Seq[Option[(Comparable[Any], Comparable[Any])]] = statsCols.map { case (c, _) =>
            // merge min/max across this file's row groups; any block
            // with absent/unusable stats poisons the whole attempt
            var mn: Comparable[Any] = null
            var mx: Comparable[Any] = null
            blocks.foreach { blk =>
              val col = blk.getColumns.asScala
                .find(_.getPath.toDotString == c)
                .getOrElse(throw new IllegalStateException(s"no column chunk for $c"))
              val st = col.getStatistics
              if (st == null) throw new IllegalStateException(s"no statistics for $c")
              if (st.hasNonNullValue) {
                val bMn = st.genericGetMin.asInstanceOf[Comparable[Any]]
                val bMx = st.genericGetMax.asInstanceOf[Comparable[Any]]
                if (mn == null || bMn.compareTo(mn) < 0) mn = bMn
                if (mx == null || bMx.compareTo(mx) > 0) mx = bMx
              } else if (!st.isNumNullsSet || st.getNumNulls != blk.getRowCount) {
                // not provably all-null: stats were omitted (e.g. NaN) —
                // cannot reproduce the job's numbers from here
                throw new IllegalStateException(s"unusable statistics for $c")
              } // else: all-null block, contributes nothing (like the job's min/max)
            }
            if (mn == null || mx == null) None
            else Some((mn, mx))
          }
          (b, path.getName, rows, colStats)
      }
      val byBucket = perFile.groupBy(_._1)
      val counts = perBucket.map { case (b, _) =>
        b -> byBucket.get(b).fold(0L)(_.map(_._3).sum)
      }.toMap
      val fileStats =
        if (statsCols.isEmpty) Map.empty[Int, Map[String, Seq[Option[(String, String)]]]]
        else byBucket.map { case (b, fs0) =>
          b -> fs0.map { case (_, name, _, cs) =>
            name -> cs.map(_.map { case (mn, mx) => (mn.toString, mx.toString) })
          }.toMap
        }
      // merge per-file extremes under the SAME Comparable ordering the
      // per-file merge used (all files share one primitive type)
      implicit val cmpOrd: Ordering[Comparable[Any]] =
        (a: Comparable[Any], b: Comparable[Any]) => a.compareTo(b)
      val bucketStats = byBucket.map { case (b, fs0) =>
        b -> statsCols.indices.map { i =>
          val present = fs0.flatMap(_._4(i))
          if (present.isEmpty) None
          else Some((present.map(_._1).min.toString,
            present.map(_._2).max.toString))
        }
      }
      Some((bucketStats, fileStats, counts))
    } catch {
      case scala.util.control.NonFatal(e) =>
        val (what, job) = if (statsCols.isEmpty) ("row-count", "a count job")
          else ("stats", "the stats job")
        System.err.println(s"[graft] footer $what read failed " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}) — falling back to $job")
        None
    }
  }

  /** Exact per-bucket row counts of a freshly written attempt dir —
    * an empty-projection count over partitioned parquet, which the
    * vectorized reader answers from footer row counts alone (no data
    * pages) — O(files) metadata, not O(rows). Feeds the manifest's
    * `rows:` lines (COUNT(*) pushdown / reported statistics).
    * An attempt dir with NO bucket partitions (a tombstone fold that
    * emptied every rewritten bucket writes only _SUCCESS) counts as
    * empty — `read.parquet` on it would fail schema inference.
    */
  private def bucketRowCounts(spark: SparkSession, vdir: String): Map[Int, Long] = {
    val p = new Path(vdir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val anyBucket = fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith(s"$BucketCol="))
    if (!anyBucket) Map.empty
    else spark.read.parquet(vdir).groupBy(col(BucketCol)).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
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

  /** Merge a delta in and commit a new version. `merge(current, delta)`
    * receives the CURRENT rows of only the buckets the delta touches
    * and must return the full replacement state for those buckets
    * (e.g. [[graft.operators.Scd1.merge]] /
    * [[graft.operators.Scd2.applyDelta]]). Untouched buckets are
    * re-pointed, not rewritten — O(delta) data written per commit.
    * On a lost commit race the merge re-runs against the new snapshot.
    *
    * Concurrency safety: every attempt writes its data under its OWN
    * `v=<n>-<token>` directory, so a lost race can neither overwrite
    * the winner's files nor delete them during cleanup — the loser
    * removes exactly its own attempt directory and retries against the
    * winner's snapshot.
    *
    * @param txn (writerId, batchId): when the latest manifest already
    *   records a batchId ≥ this one for the writer, the commit is a
    *   redelivery and is SKIPPED (returns the current version) — the
    *   exactly-once hinge for non-idempotent merges like the
    *   aggregating sink, where re-summing a replayed batch would
    *   corrupt the table permanently.
    * @param failRules Fail-policy expectations validated INSIDE the
    *   attempt-dir write — they see the MERGED state of the touched
    *   buckets (table invariants, e.g. "col is never null"), counts
    *   ride the write via observe (no pre-flight scan), and any
    *   violation deletes the attempt dir and throws
    *   [[graft.pipeline.Expectations.FailedExpectationException]]
    *   before a manifest is published — nothing becomes visible
    * @param plannedVersion the version the caller planned the write
    *   against; an epoch crossed since then refuses the commit (see
    *   [[refuseLostGeneration]])
    * @param deltaBucketsHint the buckets `delta` hashes into, from a
    *   census the caller already ran (one job saved). The hint names
    *   the bucket count it was computed under and is used only on a
    *   manifest with that count; under any other layout (a rebucket
    *   or a REPLACE in between) this runs its own census, since a
    *   bucket missing from the set would be rewritten from delta rows
    *   alone and lose its current rows.
    */
  def commitDelta(spark: SparkSession, root: String, delta: DataFrame,
                  keys: Seq[String],
                  merge: (DataFrame, DataFrame) => DataFrame,
                  maxAttempts: Int = 5,
                  txn: Option[(String, Long)] = None,
                  failRules: Seq[graft.pipeline.Expectations.Expectation] = Nil,
                  alsoTouch: Manifest => Set[Int] = _ => Set.empty,
                  recomputeOnOverlap: Boolean = true,
                  plannedVersion: Option[Long] = None,
                  deltaBucketsHint: Option[BucketsHint] = None): Long = {
    val fs = fileSystem(spark, root)
    occ(spark, root, "commitDelta", txn, maxAttempts) { a =>
      refuseLostGeneration(spark, root, keys, a, plannedVersion, "commit", "write")
      val m = a.m
      // `alsoTouch` widens the rewrite to buckets the delta does not
      // hash into (filter-scoped overwrite: buckets whose current rows
      // may match the overwrite condition must be rewritten even when
      // no new row lands there) — their current rows flow through the
      // same `merge` and emptied ones drop out of the manifest
      val touched = deltaBucketsHint.filter(_.numBuckets == m.numBuckets)
        .map(_.buckets)
        .getOrElse(withBucket(delta, keys, m.numBuckets).select(BucketCol).distinct()
          .collect().map(_.getInt(0)).toSet) ++ // ≤ numBuckets ids — metadata-sized
        alsoTouch(m)
      val current = readBuckets(spark, root, m, touched)
      val currentAligned =
        if (current.schema.isEmpty) delta.limit(0) else current
      val merged = merge(currentAligned, delta)

      val written = writeVersionData(merged, root, a.v, a.token, keys, m.numBuckets,
        m.statsCols, fs, failRules)
      // touched buckets now live at this commit; emptied buckets drop
      // out; the rest keep pointing at their existing files (and
      // stats). A lost race first tries a REBASE — when the winners
      // touched disjoint buckets, the written data re-points onto
      // their manifest without recomputing the merge (the independent-
      // writers path: entity-parallel pipelines sharing a table no
      // longer serialize through each other's work, only through the
      // metadata arbiter).
      val committed = commitOrRebase[Map[Int, BucketEntry]](spark, fs, root, a, touched,
        txn,
        state0 = written,
        nextOf = (winners, w) => (winners.buckets -- touched) ++ w,
        rehome = (w, curV, newV) => w.map { case (b, e) =>
          b -> e.copy(dir = rebased(e.dir, curV, newV, a.token))
        },
        keys = keys)
      // re-merge on the new base — unless the caller's merge was
      // computed from a snapshot it cannot re-derive (row-level DML),
      // in which case an overlapping winner must surface as a
      // conflict, never a silent last-writer-wins
      if (committed.isEmpty && !recomputeOnOverlap)
        throw new java.util.ConcurrentModificationException(
          s"commit at $root lost to an overlapping concurrent commit " +
            "and this delta must not be re-merged — re-run the statement")
      committed
    }
  }

  /** Replace the ENTIRE table state with `df` as one new version (the
    * INSERT OVERWRITE analog): every old bucket drops out of the
    * manifest (history stays time-travelable until [[vacuum]]), the
    * new state writes under the same commit arbiter, layout and stats
    * columns are preserved. O(new data) written; an O(table) operation
    * by nature, unlike the keyed deltas.
    */
  def replaceAll(spark: SparkSession, root: String, df: DataFrame,
                 keys: Seq[String],
                 txn: Option[(String, Long)] = None,
                 failRules: Seq[graft.pipeline.Expectations.Expectation] = Nil): Long = {
    val fs = fileSystem(spark, root)
    occ(spark, root, "replaceAll", txn) { a =>
      val written = writeVersionData(df, root, a.v, a.token, keys, a.m.numBuckets,
        a.m.statsCols, fs, failRules)
      publish(spark, root, fs.delete(new Path(root, a.dir), true): Unit)(
        writeManifestAtomic(fs, root, a.v, a.m.numBuckets, a.m.statsCols, a.m.txns ++ txn,
          written, base = Some(a.m), keys = keys)).map(_ => a.v)
    }
  }

  /** Group-replace commit — the verb behind SQL row-level rewrites
    * (DELETE FROM / UPDATE / MERGE INTO through the DSv2 connector;
    * the reference's `*_proc.sql` MERGE shape as literal SQL). Spark's
    * group-based rewrite plan computes the full replacement content of
    * the affected groups (group = bucket here; `scanned` is exactly
    * the bucket set its copy-on-write scan served) and this publishes
    * it as ONE atomic version:
    *   - a scanned bucket's new content = exactly the replacement rows
    *     hashing into it (none left → the bucket empties out of the
    *     manifest);
    *   - replacement rows hashing OUTSIDE `scanned` (MERGE inserts,
    *     key-moving updates) upsert-merge into their buckets — the
    *     keyed-table invariant (one row per key) holds through any
    *     ON-condition;
    *   - every rewritten bucket folds its tombstone sidecars (the
    *     replacement content derives from the tombstone-subtracted
    *     scan, so the fold is exact).
    * O(affected buckets + inserts) data written; untouched buckets
    * re-point unchanged.
    *
    * Concurrency: a lost commit race REBASES across disjoint winners
    * like every delta commit, but an OVERLAPPING winner cannot be
    * re-merged here — the replacement was computed against a snapshot
    * by a plan this library no longer holds, and re-applying it over
    * the winner's changes would silently drop them — so the loss
    * surfaces as [[java.util.ConcurrentModificationException]] and the
    * caller re-runs the whole statement against the new state (the
    * Delta/Iceberg conflict contract).
    *
    * @param replacementIsSubset caller-proven guarantee that every
    *   replacement row is an UNCHANGED current row of the scanned
    *   buckets (a group-based DELETE: the rewrite emits exactly the
    *   surviving rows). Rows then keep their buckets and the keyed
    *   one-row-per-key invariant carries over, so the pre-write census
    *   job (dup/outside detection) is skipped outright — one whole
    *   pass over the replacement saved per statement (guide §1.2).
    */
  def replaceBuckets(spark: SparkSession, root: String, scanned: Set[Int],
                     replacement: DataFrame, keys: Seq[String],
                     basedOnVersion: Option[Long] = None,
                     replacementIsSubset: Boolean = false): Long = {
    val fs = fileSystem(spark, root)
    // one lap: a lost race rebases inside it, and an overlapping loss
    // is a conflict, never a recompute
    occ(spark, root, "replaceBuckets") { a =>
      val m = a.m
      require(keys.nonEmpty, s"replaceBuckets at $root needs the table's merge keys")
      // the replacement was computed by a scan of `basedOnVersion`; any
      // commit since then that touched a scanned bucket (or changed the
      // layout) invalidates it — the same disjointness rule the rebase
      // path applies, checked up front against the scan's snapshot
      refuseStale(spark, root, basedOnVersion, m, scanned) { detail =>
        throw new java.util.ConcurrentModificationException(
          s"row-level rewrite at $root lost to a concurrent commit ($detail) — " +
            "the rewrite was computed against a stale snapshot; re-run the statement")
      }
      val bucketed = withBucket(replacement, keys, m.numBuckets)
      val inScanned =
        if (scanned.isEmpty) replacement.limit(0)
        else bucketed.where(col(BucketCol).isInCollection(scanned)).drop(BucketCol)
      val outside =
        (if (scanned.isEmpty) bucketed
         else bucketed.where(!col(BucketCol).isInCollection(scanned)))
          .drop(BucketCol)
      // ONE census job answers everything the pre-write logic needs: the
      // bucket ids the replacement hashes into AND whether any bucket
      // holds a duplicate merge key (equal key tuples always share a
      // bucket — the bucket IS a hash of the keys — so a per-bucket dup
      // is exactly a global dup). This used to be three separate
      // executions of the full replacement plan (bucket distinct +
      // per-side hasKeyDup group-counts); each one re-ran the
      // copy-on-write scan of the affected buckets (guide §1.2: remove
      // whole passes before tuning anything inside one).
      // ≤ numBuckets rows reach the driver — metadata-sized. A
      // subset-replacement (DELETE) skips the job outright: surviving
      // rows keep their buckets (⊆ scanned) and stay key-unique.
      val census =
        if (replacementIsSubset) Map.empty[Int, Boolean]
        else bucketed
          .groupBy(col(BucketCol) +: keys.map(col): _*)
          .agg(count(lit(1)).as("__graft_n"))
          .groupBy(col(BucketCol))
          .agg(max(col("__graft_n")).as("__graft_max"))
          .collect().map(r => r.getInt(0) -> (r.getLong(1) > 1L)).toMap
      val outsideTouched = census.keySet -- scanned
      val dupInScanned = census.exists { case (b, dup) => dup && scanned(b) }
      val dupOutside = census.exists { case (b, dup) => dup && !scanned(b) }
      val touched = scanned ++ outsideTouched
      def hasKeyDup(df: DataFrame): Boolean =
        df.groupBy(keys.map(col): _*).count()
          .where(col("count") > 1).limit(1).count() > 0
      // A key-rewriting statement (UPDATE SET <key> = …, MERGE inserting
      // an existing key) can land a changed row on a key whose
      // UNCHANGED row sits in the same scanned bucket — the group
      // rewrite has no key-uniqueness concept, so both rows arrive.
      // The keyed-table contract says the WRITE wins (every graft write
      // is an upsert), and a changed row is distinguishable
      // structurally: a copied-over row is bit-identical to a current
      // row of the scanned buckets, a changed one is not. The
      // classification (two delta-sized exceptAlls + a keyed merge) runs
      // ONLY when a duplicate key is actually detected — the common
      // statement pays the single census above and nothing else.
      val mergedIn =
        if (scanned.isEmpty || !dupInScanned) inScanned
        else {
          val curS = readBuckets(spark, root, m, scanned)
          val curAligned =
            if (curS.schema.isEmpty) inScanned.limit(0)
            else curS.select(inScanned.columns.map(col).toIndexedSeq: _*)
          val changedIn = inScanned.exceptAll(curAligned)
          if (hasKeyDup(changedIn)) throw new IllegalStateException(
            s"row-level rewrite at $root produced two CHANGED rows for one " +
              "merge key (e.g. an UPDATE mapping several keys onto the same " +
              "new key) — a keyed graft table holds one row per key; make the " +
              "statement produce distinct keys")
          val copiesIn = inScanned.exceptAll(changedIn)
          upsertMerge(keys)(copiesIn, changedIn)
        }
      val mergedOutside =
        if (outsideTouched.isEmpty) outside
        else {
          if (dupOutside) throw new IllegalStateException(
            s"row-level rewrite at $root inserts one merge key twice — a " +
              "keyed graft table holds one row per key; deduplicate the source")
          val current = readBuckets(spark, root, m, outsideTouched)
          upsertMerge(keys)(
            if (current.schema.isEmpty) outside.limit(0) else current, outside)
        }
      // subset path: the replacement IS the scanned buckets' new content
      // verbatim — no bucket-membership filters, no merges
      val full =
        if (replacementIsSubset) replacement
        else mergedIn.unionByName(mergedOutside)
      val written = writeVersionData(full, root, a.v, a.token, keys, m.numBuckets,
        m.statsCols, fs)
      commitOrRebase[Map[Int, BucketEntry]](spark, fs, root, a, touched,
        txn = None,
        state0 = written,
        nextOf = (winners, w) => (winners.buckets -- touched) ++ w,
        rehome = (w, curV, newV) => w.map { case (b, e) =>
          b -> e.copy(dir = rebased(e.dir, curV, newV, a.token))
        },
        keys = keys).orElse(throw new java.util.ConcurrentModificationException(
          s"row-level rewrite at $root lost its commit race to an overlapping " +
            "concurrent commit — the rewrite was computed against a stale " +
            "snapshot; re-run the statement"))
    }
  }

  /** Filter-scoped overwrite (`df.writeTo(t).overwrite(cond)` /
    * `SupportsOverwriteV2`): ONE commit that deletes every current row
    * matching `cond` and upserts `df`. `candidatesOf` supplies a
    * conservative superset of the buckets that may hold a matching row
    * (manifest-stats pruning; `_ => all` when the condition is not
    * prunable) — buckets outside it that receive no new rows re-point
    * untouched, so a stats-aligned overwrite stays O(affected), not
    * O(table). Races recompute against the new base like any delta
    * commit: the (cond, df) spec re-applies cleanly.
    */
  def replaceWhere(spark: SparkSession, root: String, cond: Column,
                   df: DataFrame, keys: Seq[String],
                   candidatesOf: Manifest => Set[Int],
                   txn: Option[(String, Long)] = None): Long =
    commitDelta(spark, root, df, keys,
      // keep rows where cond is NOT TRUE: under three-valued logic a
      // NULL-evaluating row does not match the overwrite scope, so it
      // survives — the same rule deleteWhere applies (`where(cond)`
      // selects only TRUE matches)
      merge = (cur, delta) =>
        upsertMerge(keys)(cur.where(coalesce(!cond, lit(true))), delta),
      txn = txn,
      alsoTouch = candidatesOf)

  /** Row-delta commit — the merge-on-read-shaped verb behind DELTA
    * row-level rewrites ([[graft.connector]]'s `SupportsDelta` path):
    * Spark's rewrite emits only the CHANGED rows (`upserts`, full
    * rows) and the deleted/updated identities (`deleteKeys`, key
    * tuples) — O(changed rows) through the plan and staging, never
    * whole groups — and this lands both in ONE version: touched
    * buckets rewrite as `(current ∖ deleteKeys) ⊎ upserts` (an update
    * is its key in BOTH sets: the anti-join removes the old row, the
    * upsert adds the new — key moves included), untouched buckets
    * re-point. Null key components match null-safely, like every
    * delete path here.
    *
    * Concurrency: the delta was computed against `basedOnVersion`'s
    * snapshot; a commit since then that touched any target bucket —
    * or an overlapping loss inside the commit loop — surfaces as
    * [[java.util.ConcurrentModificationException]] (re-run the
    * statement), because re-merging someone else's rows under a stale
    * row-delta would silently drop their update. Disjoint winners
    * rebase as usual.
    */
  def applyRowDelta(spark: SparkSession, root: String, upserts: DataFrame,
                    deleteKeys: DataFrame, keys: Seq[String],
                    basedOnVersion: Option[Long] = None): Long = {
    val (_, m) = head(spark, root)
    // ONE census job over (upserts ⊎ delete keys) answers EVERYTHING
    // the pre-commit logic needs (r19, guide §1.2 — this used to be
    // three separate delta-sized jobs: the upsert dup-check, the
    // delete-bucket census, and commitDelta's own touched-bucket
    // census): per-bucket presence of each side gives both bucket
    // sets, and the max per-key multiplicity of the UPSERT side is the
    // keyed-table contract check — an UPDATE mapping several keys onto
    // one new key, or a MERGE inserting one key twice, arrives here as
    // duplicate upsert keys and must refuse loudly. ≤ 2·numBuckets
    // rows reach the driver. (deleteKeys needs no distinct: the
    // anti-join below and the bucket set are duplicate-insensitive.)
    val delKeyed = deleteKeys.select(keys.map(col): _*)
    val census = withBucket(upserts.select(keys.map(col): _*), keys, m.numBuckets)
      .withColumn("__graft_up", lit(1))
      .unionByName(withBucket(delKeyed, keys, m.numBuckets)
        .withColumn("__graft_up", lit(0)))
      .groupBy((col(BucketCol) +: col("__graft_up") +: keys.map(col)): _*)
      .agg(count(lit(1)).as("__graft_n"))
      .groupBy(col(BucketCol), col("__graft_up"))
      .agg(max(col("__graft_n")).as("__graft_max"))
      .collect()
    val upsBuckets = census.filter(_.getInt(1) == 1).map(_.getInt(0)).toSet
    val delBuckets = census.filter(_.getInt(1) == 0).map(_.getInt(0)).toSet
    if (census.exists(r => r.getInt(1) == 1 && r.getLong(2) > 1L))
      throw new IllegalStateException(
        s"row delta at $root carries two rows for one merge key (e.g. an " +
          "UPDATE mapping several keys onto the same new key, or a MERGE " +
          "inserting one key twice) — a keyed graft table holds one row " +
          "per key; make the statement produce distinct keys")
    def stale(detail: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"row delta at $root lost to a concurrent commit — computed " +
          "against a stale snapshot; re-run the statement")
    // no broadcast hint: a row-delta's delete set is bounded by the
    // statement's changed rows, which can be large — let the planner
    // (AQE) pick broadcast when it actually is small
    def minusDeleted(cur: DataFrame): DataFrame =
      if (delBuckets.isEmpty) cur
      else cur.join(delKeyed,
        keys.map(k => cur(k) <=> delKeyed(k)).reduce(_ && _), "left_anti")
    // every lap refuses what the commit's own head makes stale: a
    // layout moved since the census (both bucket sets hold under the
    // census layout only), or a commit since the scan that touched a
    // target bucket
    commitDelta(spark, root, upserts, keys,
      merge = (cur, delta) => upsertMerge(keys)(minusDeleted(cur), delta),
      alsoTouch = cur => {
        if (cur.numBuckets != m.numBuckets) stale("bucket layout changed")
        refuseStale(spark, root, basedOnVersion, cur, delBuckets ++ upsBuckets)(stale)
        delBuckets
      },
      recomputeOnOverlap = false,
      plannedVersion = Some(m.version),
      deltaBucketsHint = Some(BucketsHint(m.numBuckets, upsBuckets)))
  }

  /** Merge-on-read DELETE: commit the removal of `deleteKeys` (frame
    * of key tuples) by writing a tombstone sidecar per touched bucket
    * — O(deleted keys) bytes written, NO data bucket read or rewritten
    * (the deletion-vector analog; reference: the `METADATA$ACTION =
    * 'DELETE'` branches in `/root/reference/02 Location Entity.sql`,
    * which lean on Snowflake's internal merge-on-read). Readers
    * subtract sidecars at scan time ([[antiJoinTombstones]]); the next
    * rewrite of a bucket — a [[commitDelta]] merge or [[compact]] —
    * folds them in and clears the list; [[vacuum]] then reclaims the
    * folded sidecar files.
    *
    * Use the eager path ([[commitDelta]] with a delete-aware merge)
    * for batchy deltas where the bucket rewrite is amortized; use this
    * for point-delete trickles, where bucket copy-on-write would
    * rewrite O(bucket bytes) per commit across many buckets at 100 TB.
    *
    * Deleting a key then re-upserting it works: the upsert's merge
    * rewrites the bucket (reading it tombstone-subtracted), folding
    * the tombstone away in the same commit. Time travel is preserved:
    * versions before the delete carry no `tomb:` lines, so they still
    * show the rows.
    */
  def commitDeletes(spark: SparkSession, root: String, deleteKeys: DataFrame,
                    keys: Seq[String], maxAttempts: Int = 5,
                    txn: Option[(String, Long)] = None,
                    basedOnVersion: Option[Long] = None): Long = {
    val fs = fileSystem(spark, root)
    occ(spark, root, "commitDeletes", txn, maxAttempts) { a =>
      // tombstones keyed for a displaced epoch must not silently
      // "succeed" against a replacement's content
      refuseLostGeneration(spark, root, keys, a, basedOnVersion, "delete", "delete")
      val m = a.m
      val vdir = new Path(root, a.dir)
      withBucket(deleteKeys.select(keys.map(col): _*).distinct(), keys, m.numBuckets)
        .write.mode("overwrite").partitionBy(BucketCol).parquet(vdir.toString)
      val written = if (!fs.exists(vdir)) Seq.empty else
        fs.listStatus(vdir).toSeq.map(_.getPath.getName)
          .filter(_.startsWith(s"$BucketCol="))
          .map(n => n.stripPrefix(s"$BucketCol=").toInt -> s"${a.dir}/$n")
      // the delete set was computed by a scan of `basedOnVersion` (the
      // delta row-level path): a commit since then that touched any
      // bucket the deletes hash into could have REPLACED a deleted
      // key's row — tombstoning it now would silently kill the
      // winner's update, so the loss surfaces as a conflict (the same
      // stale-snapshot contract as applyRowDelta/replaceBuckets).
      // Callers passing no version (the declarative deleteWhere path,
      // whose matching-key frame re-reads the LATEST manifest per
      // attempt) keep recompute-on-race semantics.
      refuseStale(spark, root, basedOnVersion, m, written.map(_._1).toSet) { _ =>
        fs.delete(vdir, true)
        throw new java.util.ConcurrentModificationException(
          s"delete at $root lost to a concurrent commit — computed " +
            "against a stale snapshot; re-run the statement")
      }
      // a tombstone for a bucket holding no data is a no-op — never
      // reference it (the unreferenced attempt dir is vacuum food)
      val effective = written.filter { case (b, _) => m.buckets.contains(b) }
      if (effective.isEmpty) fs.delete(vdir, true)
      // still commit an (unchanged) manifest when a txn rides along,
      // so its high-water mark records this batch — a redelivery must
      // stay a no-op
      if (effective.isEmpty && txn.isEmpty) Some(a.base)
      // lost races rebase like commitDelta: tombstone appends to
      // buckets the winners didn't touch re-point without rewriting
      // the sidecar. Disjointness is checked against EVERY bucket the
      // delete keys hash to (`written`), not just the base-populated
      // ones: a winner that concurrently INSERTED into a bucket empty
      // at our base overlaps — the rebase refuses and the recompute
      // re-runs against the new base, where the bucket now exists and
      // the tombstone applies (this commit carries the LATER version
      // number, so delete-after-insert is the order observers see;
      // silently dropping it would violate that).
      else commitOrRebase[Seq[(Int, String)]](spark, fs, root, a,
        written.map(_._1).toSet, txn,
        state0 = effective,
        nextOf = (winners, eff) => winners.buckets ++ eff.map { case (b, d) =>
          b -> winners.buckets(b).copy(
            tombstones = winners.buckets(b).tombstones :+ d)
        },
        rehome = (eff, curV, newV) => eff.map { case (b, d) =>
          (b, rebased(d, curV, newV, a.token))
        },
        keys = keys) // None: recompute the sidecar against the new base
    }
  }

  /** Compact fragmented buckets — the OPTIMIZE analog for the
    * small-file pathology every streaming sink accrues: a bucket
    * written by an N-task shuffle holds up to N files, and scan cost
    * at 100 TB is dominated by file count, not bytes. Buckets whose
    * current dir holds ≥ `minFiles` data files are rewritten into a
    * new version with ONE file per bucket (`repartition` pins each
    * bucket to a single task); everything else is re-pointed
    * unchanged. Data is bit-identical, so per-bucket data-skipping
    * stats are CARRIED OVER, not recomputed — the commit costs
    * O(fragmented buckets) read+write and zero stats passes. Published
    * through the same exclusive-create arbiter as every commit; a
    * concurrent delta commit winning the race simply re-runs the
    * census on the new base ([[vacuum]] later reclaims the replaced
    * files).
    *
    * Returns the new version, or the current one when nothing is
    * fragmented.
    *
    * @param clusterBy columns to sort by WITHIN each rewritten bucket
    *   file: parquet writes row groups in encounter order, so sorted
    *   data gives every row group a tight min/max — the filter
    *   pushdown then skips row groups INSIDE the files the bucket- and
    *   manifest-level pruning kept (tight for the LEADING column only;
    *   multi-column predicates want `zOrderBy`). Sorting permutes
    *   rows only — bucket membership, data, and carried-over stats are
    *   unchanged.
    * @param zOrderBy columns to MORTON-cluster within each rewritten
    *   bucket instead (mutually exclusive with `clusterBy`): rows sort
    *   by the bit-interleave of per-column quantile-bucket codes
    *   ([[ZOrder.code]]), so every written file/row group covers a
    *   small hyper-rectangle and per-file min/max stays narrow in ALL
    *   z-columns at once — [[readRange]] then prunes files on any of
    *   them. Costs one extra `approxQuantile` pass over the rewritten
    *   buckets (boundary placement).
    * @param maxRecordsPerFile when > 0, split each rewritten bucket
    *   into files of at most this many rows (instead of one file per
    *   bucket) and RECOMPUTE per-file stats for the rewritten buckets
    *   — the knob that makes clustering pay at FILE granularity, not
    *   just row groups. 0 keeps the single-file-per-bucket behavior
    *   with zero-cost stats carry-over.
    * @param tombstoneFoldBytes fold a bucket's delete sidecars only
    *   once their total bytes reach this threshold (0 = any unfolded
    *   sidecar triggers the fold, the always-fold default): at 100 TB,
    *   rewriting a multi-GB bucket to fold a 1 KB sidecar is the wrong
    *   trade until enough deletes amortize it — this is the knob
    *   [[graft.pipeline.Warehouse.maintain]] exposes for auto-folding
    *   on a cadence without pathological rewrites.
    */
  def compact(spark: SparkSession, root: String, minFiles: Int = 2,
              clusterBy: Seq[String] = Nil,
              zOrderBy: Seq[String] = Nil, zOrderBits: Int = 8,
              maxRecordsPerFile: Long = 0L,
              tombstoneFoldBytes: Long = 0L): Long =
    compactWithStatus(spark, root, minFiles, clusterBy,
      zOrderBy, zOrderBits, maxRecordsPerFile, tombstoneFoldBytes)._1

  /** [[compact]], also reporting whether THIS call committed the
    * returned version (`true`) or found nothing fragmented and
    * returned the pre-existing head (`false`). The head a no-op
    * returns can be ANY rival's commit — a caller asserting on the
    * layout compact produces (sorted files, carried stats) must only
    * do so when the rewrite was its own.
    */
  def compactWithStatus(spark: SparkSession, root: String, minFiles: Int = 2,
              clusterBy: Seq[String] = Nil,
              zOrderBy: Seq[String] = Nil, zOrderBits: Int = 8,
              maxRecordsPerFile: Long = 0L,
              tombstoneFoldBytes: Long = 0L): (Long, Boolean) = {
    require(minFiles >= 2, "minFiles < 2 would rewrite already-compact buckets")
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy are mutually exclusive cluster layouts")
    val fs = fileSystem(spark, root)
    var rewrote = false
    val v = occ(spark, root, "compact") { a =>
      val m = a.m
      // a bucket is rewritten when fragmented OR carrying unfolded
      // delete sidecars past the fold threshold — compaction is where
      // merge-on-read deletes get folded back into the data files
      def sidecarBytes(e: BucketEntry): Long = e.tombstones.map { d =>
        val p = dataPath(root, d)
        val pfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        pfs.listStatus(p).filter(_.isFile).map(_.getLen).sum
      }.sum
      val frag = m.buckets.filter { case (_, e) =>
        // threshold 0 (always fold) needs no FS calls — short-circuit
        // the per-sidecar listStatus census to the non-default path
        (e.tombstones.nonEmpty &&
          (tombstoneFoldBytes == 0L || sidecarBytes(e) >= tombstoneFoldBytes)) || {
          // resolve the FileSystem FROM the path: an un-materialized
          // clone's absolute dirs may live on a different FS/authority
          // than the clone root (fs.listStatus there throws "Wrong FS")
          val p = dataPath(root, e.dir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
            .count(st => st.isFile && !st.getPath.getName.startsWith("_")) >= minFiles
        }
      }.keys.toSeq.sorted
      if (frag.isEmpty) Some(a.base)
      else {
        val rel = a.dir
        // read each fragmented bucket FROM ITS OWN DIR and tag it with
        // its bucket id — no re-hash of the keys, so compaction is
        // correct even for tables whose key list the caller no longer
        // knows; unionByName(allowMissing) spans additive schema
        // evolution (old buckets null-fill newer columns)
        val parts = frag.map { b =>
          val dir = dataPath(root, m.buckets(b).dir).toString
          antiJoinTombstones(spark, root, m, Set(b),
            mergedSchemaRead(spark, Seq(dir)).parquet(dir))
            .withColumn(BucketCol, lit(b))
        }
        val df = parts.reduce(_.unionByName(_, allowMissingColumns = true))
        val placed = df.repartition(frag.size, col(BucketCol))
        val clustered =
          if (zOrderBy.nonEmpty) placed
            .withColumn("__zcode", ZOrder.code(df, zOrderBy, zOrderBits))
            .sortWithinPartitions(col(BucketCol), col("__zcode"))
            .drop("__zcode")
          else if (clusterBy.isEmpty) placed
          else placed.sortWithinPartitions((BucketCol +: clusterBy).map(col): _*)
        clustered
          .write.mode("overwrite").partitionBy(BucketCol)
          .option("maxRecordsPerFile", maxRecordsPerFile)
          .parquet(new Path(root, rel).toString)
        // recompute stats when the rewrite could change them: a split
        // changes FILE boundaries, and folding tombstones changes the
        // DATA — carried-over bucket stats after a fold are only a
        // conservative superset (fine for pruning, but the manifest
        // aggregate pushdown answers MIN/MAX from them exactly, so a
        // folded bucket must re-tighten). A pure file-merge rewrite
        // keeps carrying stats at zero cost (data unchanged = exact).
        // Row counts are always fresh (folding tombstones changes them).
        val statsFresh = m.statsCols.nonEmpty &&
          (maxRecordsPerFile > 0 || frag.exists(b => m.buckets(b).tombstones.nonEmpty))
        val fresh = writtenEntries(spark, root, rel, fs,
          if (statsFresh) m.statsCols else Nil, clustered.schema)
        // folded deletes can empty a bucket entirely — no dir written,
        // and the bucket drops out of the manifest. Without fresh stats
        // the carried-over bucket stats remain EXACT (data unchanged); an
        // unsplit compacted bucket is one file spanning the whole bucket,
        // so its bucket stats ARE its file stats
        val rewritten = frag.flatMap(b => fresh.get(b).map { e =>
          if (statsFresh) b -> e
          else {
            val bst = m.buckets(b).stats
            b -> e.copy(stats = bst, fileStats =
              if (m.statsCols.isEmpty) Map.empty
              else fs.listStatus(new Path(root, e.dir)).toSeq
                .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
                .map(_.getPath.getName -> bst).toMap)
          }
        })
        publish(spark, root, fs.delete(new Path(root, rel), true): Unit)(
          writeManifestAtomic(fs, root, a.v, m.numBuckets, m.statsCols, m.txns,
            (m.buckets -- frag) ++ rewritten, base = Some(m))).map { _ =>
          repinColStats(spark, root, a.base, a.v)
          rewrote = true
          a.v
        }
      }
    }
    (v, rewrote)
  }

  /** Bucket-count evolution: rewrite the table under a NEW hash-bucket
    * layout (one full O(table) rewrite, published as one ordinary
    * version through the same commit arbiter). The bucket count is
    * otherwise fixed at creation, so a table that grew 100× is stuck
    * with buckets 100× too coarse — point lookups, CoW merges, and
    * compactions all degrade with bucket size. Every write/read path
    * takes `numBuckets` from the LATEST manifest, so subsequent deltas
    * compose with the new layout automatically; unfolded tombstones
    * are subtracted by the rewrite (a key's sidecar lives under the
    * OLD bucketing and would be wrong under the new one — fold, don't
    * carry); per-bucket AND per-file stats are recomputed for the new
    * buckets. Old-layout data stays referenced by old manifests (time
    * travel intact) until [[vacuum]].
    *
    * `keys` must be the table's bucketing keys — the caller carries
    * them on every commitDelta already; a mismatch would break
    * readForKeys pruning, so it is on the same contract.
    */
  def rebucket(spark: SparkSession, root: String, keys: Seq[String],
               newNumBuckets: Int): Long = {
    require(newNumBuckets >= 1, "need at least one bucket")
    rewriteAll(spark, root, keys, Some(newNumBuckets))
  }

  /** Rewrite every bucket locally under the current layout — the
    * re-homing pass for a [[cloneTable]] zero-copy clone: after it, no
    * manifest entry references the source table, so the source may
    * vacuum (or disappear) freely. No-op (returns the current version)
    * on a table that is already fully local.
    */
  def materialize(spark: SparkSession, root: String, keys: Seq[String]): Long =
    rewriteAll(spark, root, keys, None)

  private def rewriteAll(spark: SparkSession, root: String, keys: Seq[String],
                         newCount: Option[Int]): Long = {
    val fs = fileSystem(spark, root)
    occ(spark, root, if (newCount.isDefined) "rebucket" else "materialize") { a =>
      val m = a.m
      // nothing to do when the layout already matches AND every entry
      // is local (a clone at the same bucket count still needs the
      // rewrite — that is what re-homes it)
      if (newCount.forall(_ == m.numBuckets) &&
          m.buckets.values.forall(e => !new Path(e.dir).isAbsolute)) {
        releaseClone(spark, root) // already fully local — drop any stale hold
        Some(a.base)
      } else {
        val nb = newCount.getOrElse(m.numBuckets)
        val current = readBuckets(spark, root, m, m.buckets.keySet)
        val written = writeVersionData(current, root, a.v, a.token, keys,
          nb, m.statsCols, fs)
        publish(spark, root, fs.delete(new Path(root, a.dir), true): Unit)(
          writeManifestAtomic(fs, root, a.v, nb, m.statsCols,
            m.txns, written, base = Some(m))).map { _ =>
          // every bucket now lives under OUR root: the clone (if this
          // was one) no longer needs its source retained
          releaseClone(spark, root)
          repinColStats(spark, root, a.base, a.v)
          a.v
        }
      }
    }
  }

  /** Roll the table back to `toVersion` AS A NEW COMMIT: the new
    * manifest re-points every bucket at the restored version's
    * directories (zero data movement — O(manifest) like every commit),
    * history above it stays time-travelable, and [[vacuum]] keeps the
    * restored dirs referenced. The Snowflake `CREATE TABLE ... CLONE
    * ... AT (TIMESTAMP => ...)`-in-place / Delta RESTORE analog — the
    * undo for a bad commit.
    *
    * Layout (`numBuckets`) and stats columns revert with the data (a
    * restore across a [[rebucket]] must, or key pruning would hash
    * into the wrong buckets). Writer txn high-water marks are kept
    * from the CURRENT version: the rolled-back batches were seen, and
    * an at-least-once redelivery after restore must stay a no-op, not
    * silently re-apply on the restored base.
    *
    * To the [[ChangeFeed]] a restore is a DATA change, not an
    * invisible pointer swap: the re-pointed buckets diff against the
    * rolled-back version, so consumers see the reversion as ordinary
    * I/U/D rows and [[ChangeFeed.syncDerived]] mirrors roll back
    * automatically (spec'd).
    *
    * KEYS revert with the data too (the restored manifest declares the
    * TARGET version's merge keys, never the current head's): across a
    * keys-changing REPLACE, declaring old-keyed buckets under the
    * replacement's keys would hash subsequent upserts into the wrong
    * buckets — silently duplicating logical keys. And a restore BELOW
    * a `graft.schema.epoch` boundary is a contract swap, not just a
    * data swap: the current `_schema`/`_props`/identity ledger archive
    * under `_*_upto_<base>` (exactly as the REPLACE that created the
    * boundary did), the restored version's own epoch's contracts
    * re-install as current, and the epoch re-stamps at the new head —
    * so the restored head reads/writes/reports under the contracts its
    * data was written with, while every pre-restore version keeps
    * resolving its own epoch's archives. `_colstats` are dropped on a
    * cross-epoch restore (they describe the replaced content), as at
    * REPLACE.
    */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val fs = fileSystem(spark, root)
    occ(spark, root, "restore") { a =>
      val vs = a.vs
      require(vs.contains(toVersion),
        s"version $toVersion is not in $root's history (have: $vs) — vacuumed?")
      // floor check AFTER the listing (and re-checked every OCC lap): a
      // vacuum that committed its floor advance may still be mid-sweep
      // — its below-floor manifests can linger in the listing while
      // their data dirs are already being reclaimed. Re-pointing at
      // them would commit a retained but unreadable version (found by
      // the R15.2 widened chaos vocabulary); the marker + the vacuum's
      // serialization commit make this refusal race-free.
      val floor = vacuumFloor(spark, root)
      if (toVersion < floor)
        throw new java.util.ConcurrentModificationException(
          s"restore target $toVersion at $root is below the committed " +
            s"vacuum floor $floor — its data files may already be " +
            "reclaimed; re-run against a retained version")
      val base = a.base
      if (base == toVersion) Some(base)
      else {
        val target = readManifest(spark, root, toVersion)
        val cur = a.m
        // a RELEASED clone/branch (rebucket/materialize dropped its
        // source-retention consumer) may restore to a PRE-materialization
        // version whose absolute source references were since reclaimed —
        // [[releaseClone]] documents the dangle as inherent. Probe the
        // distinct out-of-root directories (numBuckets-bounded, only on
        // marker-less roots with foreign refs) and refuse LOUDLY instead
        // of committing a version that dangles; the residual (a source
        // vacuum landing after this probe) keeps the documented
        // FNF-at-read behavior (found by BranchChaosBlast 8×18: a branch
        // rebucket released retention, a branch restore re-pointed at the
        // fork-time main dirs, main's vacuum had reclaimed them).
        val rootAbs = fs.makeQualified(new Path(root)).toString
        if (cloneSourceOf(fs, root).isEmpty) {
          // probe the referenced BUCKET dirs themselves, not their v=
          // parents (r16 advice #5): vacuum reclaims at bucket-dir
          // granularity when only some of a version's buckets are dead,
          // so a partially-reclaimed source version keeps its parent dir
          // and a parent-level probe passes while the restore still
          // dangles. Still numBuckets-bounded per foreign version.
          val gone = target.buckets.values
            .flatMap(e => e.dir +: e.tombstones)
            .filter(d => new Path(d).isAbsolute && !d.startsWith(rootAbs + "/"))
            .toSeq.distinct
            .filterNot(d => fs.exists(new Path(d)))
          if (gone.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"restore target $toVersion at $root references " +
                s"${gone.size} source director${if (gone.size == 1) "y" else "ies"} " +
                "that no longer exist (a pre-materialization version whose " +
                "source history was vacuumed after this clone/branch " +
                "released its retention) — re-clone from the source or " +
                s"restore to a post-materialization version; first missing: " +
                gone.head)
        }
        // serialize behind any in-flight REPLACE swap at/below the head,
        // THEN decide whether this restore crosses an epoch — deciding
        // from a mid-swap props file could read the wrong epoch stamp.
        // The decision is made BEFORE the commit so the manifest can
        // carry the `epoch:` flag (flag + final stamp = swap-completed
        // protocol; see [[awaitContractQuiescence]]); if the commit
        // loses the race, the next attempt re-decides from fresh state.
        awaitContractQuiescence(spark, root, base)
        val liveProps = readProps(spark, root)
        val crosses = liveProps
          .get("graft.schema.epoch").map(_.toLong).exists(toVersion < _)
        // a cross-epoch restore is a contract swap: build its WRITE-AHEAD
        // bundle now (stable if we win). Install lookups resolve from the
        // archives BEFORE this restore publishes its own `_*_upto_<base>`
        // files (which also cover toVersion — a post-archival lookup
        // would install the REPLACEMENT's contract when the target epoch
        // had none); the restored ledger installs by COPY from its
        // archive, which stays in place for the next cross-epoch restore.
        val bundle = if (!crosses) None else Some(ContractBundle(
          v = a.v, cur = base,
          archSchema = smallFileText(fs, new Path(root, "_schema")),
          archProps = propsText(liveProps),
          liveSchema = archivedFileFor(fs, root, "_schema_upto_", toVersion)
            .flatMap(n => smallFileText(fs, new Path(root, n))),
          livePropsFinal = propsText(
            archivedPropsFor(spark, root, toVersion).getOrElse(Map.empty) +
              ("graft.schema.epoch" -> a.v.toString)),
          ledgerArchive = fs.exists(new Path(root, "_identity")),
          ledgerSrc = archivedFileFor(fs, root, "_identity_upto_", toVersion),
          ledgerByRename = false))
        // a keyed→UNKEYED restore cannot ride a delta manifest (a delta
        // with no keys line INHERITS the base's keys — Nil is
        // inexpressible there); write a full manifest for that one case
        val baseOpt = if (target.keys.isEmpty && cur.keys.nonEmpty) None
                      else Some(cur)
        publishSwap(spark, root, a.v, a.token, bundle)(
          writeManifestAtomic(fs, root, a.v, target.numBuckets,
            target.statsCols, cur.txns, target.buckets, base = baseOpt,
            keys = target.keys, epochStart = crosses,
            commitToken = Some(a.token))).map(_ => a.v)
      }
    }
  }

  /** Zero-copy clone (the flagship capability of the reference's
    * platform — Snowflake `CREATE TABLE ... CLONE`): the target is a
    * NEW table whose version-0 manifest points at the SOURCE's current
    * data directories by absolute path — O(manifest) cost at any
    * table size, no data read or written. Subsequent writes are
    * ordinary bucket-CoW: each touched bucket re-homes under the
    * clone's root, so source and clone diverge independently; the
    * clone's [[vacuum]] can never touch source files (it only deletes
    * from its own root's listing).
    *
    * Retention: the clone registers a change-feed CONSUMER on the
    * source at the cloned version — the same mechanical retention
    * floor slow feed consumers get — so the source's [[vacuum]]
    * retains the referenced directories instead of reclaiming them
    * out from under the clone. [[materialize]] (and [[rebucket]],
    * which also re-homes every bucket) drops that consumer once no
    * entry references the source; dropping the clone without
    * materializing should [[releaseClone]] (or
    * [[ChangeFeed.dropConsumer]]) to free the source's history. A
    * crash between the consumer registration and the manifest commit
    * can leak the consumer — visible in the source's `_consumers`
    * listing, released the same way.
    *
    * Chained-clone caveat: cloning an UN-materialized clone pins only
    * the direct source (the middle clone); entries pointing through it
    * into the original table stay protected only while the middle
    * clone's own consumer lives. Materialize the middle clone before
    * cloning it again, or materialize the new clone promptly.
    */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String): Long = {
    val srcFs = fileSystem(spark, srcRoot)
    val dstFs = fileSystem(spark, dstRoot)
    val base = latestVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"no table at $srcRoot — nothing to clone"))
    require(latestVersion(spark, dstRoot).isEmpty,
      s"clone target $dstRoot already holds a table")
    val m = readManifest(spark, srcRoot, base)
    val srcAbs = srcFs.makeQualified(new Path(srcRoot))
    def abs(d: String): String = {
      val p = new Path(d)
      (if (p.isAbsolute) p else new Path(srcAbs, d)).toString
    }
    val entries = m.buckets.map { case (b, e) =>
      b -> e.copy(dir = abs(e.dir), tombstones = e.tombstones.map(abs))
    }
    // consumer BEFORE the commit: the failure path below releases it,
    // so the only leak window is a crash in between (documented);
    // registering after would leave a committed clone unprotected for
    // the same window — an unprotected clone silently loses data,
    // a leaked consumer only over-retains until released
    ChangeFeed.seedConsumer(spark, srcRoot, cloneConsumerId(spark, dstRoot), base)
    // POST-SEED floor check (the restore-vs-vacuum lesson applied to
    // clones): a pin seeded after a racing vacuum's post-commit pin
    // re-list is not honored by that sweep — but such a seed strictly
    // follows the sweep's floor-marker write, so the marker is visible
    // HERE. A base below the committed floor may already be mid-
    // reclaim: abort cleanly (pin released) instead of committing a
    // clone whose absolute references die under it.
    if (base < vacuumFloor(spark, srcRoot) ||
        !versions(spark, srcRoot).contains(base)) {
      ChangeFeed.dropConsumer(spark, srcRoot, cloneConsumerId(spark, dstRoot))
      throw new java.util.ConcurrentModificationException(
        s"clone of $srcRoot at version $base raced a vacuum floor " +
          "advance — the fork base may already be mid-reclaim; re-run")
    }
    // identity BEFORE the clone's v0 commit (fence-bracketing — same
    // ordering argument as [[init]]): a clone is a NEW instance, and
    // its manifest must never be readable before its own id exists
    mintTableInstanceId(spark, dstRoot)
    publish(spark, dstRoot,
        ChangeFeed.dropConsumer(spark, srcRoot, cloneConsumerId(spark, dstRoot)))(
      writeManifestAtomic(dstFs, dstRoot, 0L, m.numBuckets, m.statsCols,
        m.txns, entries, keys = m.keys)).getOrElse {
      // On a plain-PUT store the claim arbiter's commit rows are
      // PERMANENT (the anti-zombie fence — see [[ClaimArbiter]]), so
      // a path that held a table DROPPED within the arbiter's
      // staleness grace refuses its v0 re-commit: a suspended
      // committer of the dropped table could still land a late PUT
      // over the new table's manifest. Distinguish that fence
      // (documented, self-resolving) from a genuine rival create.
      if (manifestArbiter.nonEmpty &&
          !dstFs.exists(manifestPath(dstRoot, 0L)))
        throw new java.util.ConcurrentModificationException(
          s"cannot initialize $dstRoot: its v0 commit slot is fenced " +
            "by the plain-PUT claim arbiter (the path held a table " +
            "dropped within the reclaim grace, or a rival create is " +
            "mid-flight) — re-create after the grace or at a fresh path")
      throw new IllegalStateException(
        s"clone target $dstRoot was concurrently initialized")
    }
    // CONTRACTS travel with the table: `_props` (CHECK constraints,
    // dml.mode, generated/identity declarations), the declared-schema
    // breadcrumb (DEFAULT metadata, column order), and the identity
    // ledger — a clone restarting its allocator at the spec's START
    // would re-mint ids its cloned data already holds
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("_props", "_schema", "_identity").foreach { n =>
      val s = new Path(srcRoot, n)
      if (srcFs.exists(s))
        org.apache.hadoop.fs.FileUtil.copy(srcFs, s,
          dstFs, new Path(dstRoot, n), false, conf): Unit
    }
    // ...but NOT the epoch stamp: `graft.schema.epoch` names a version
    // in the SOURCE's numbering, while the clone restarts at 0 — a
    // carried stamp makes every clone version look pre-epoch (archives
    // were never copied) and trips the schema resolver's
    // stamp-vs-pinned-manifest consistency check (found by
    // ContractFuzzSpec after R15.2 tightened that check). The clone's
    // v0 IS its own epoch 0.
    val cloneProps = readProps(spark, dstRoot)
    if (cloneProps.contains("graft.schema.epoch"))
      writeProps(spark, dstRoot, cloneProps - "graft.schema.epoch")
    // breadcrumb for materialize/releaseClone: WHERE the retention
    // consumer was registered (best effort — the consumer itself is
    // the durable artifact; a missing marker just means manual release)
    val out = dstFs.create(new Path(dstRoot, CloneSourceMarker), true)
    try out.write(srcAbs.toString.getBytes(StandardCharsets.UTF_8)) finally out.close()
    0L
  }

  private val CloneSourceMarker = "_clone_source"

  /** Stable per-INSTANCE identity of a table root (`_table_id`),
    * minted lazily on first request — exclusive create (arbiter-routed
    * on plain-PUT), racers converge on the winner's token by re-read.
    * Deliberately NOT copied by [[cloneTable]] (a clone is a different
    * instance) and deleted with the directory on drop, so a table
    * DROPPED and RE-CREATED at the same path gets a NEW identity even
    * though its version numbers restart and can alias the old ones —
    * the streaming change feed persists this id into each query's
    * checkpoint and refuses a resume across an instance change
    * (found by BranchStreamChaosSpec: a consumer resumed after a
    * branch publish+re-fork silently skipped the successor's rows
    * because the checkpointed offsets aliased the new history's
    * version numbers — the feed twin of the r15 recycled-version-slot
    * class). Survives vacuum (never swept) and restore (same table).
    */
  private val TableIdFile = "_table_id"
  private[graft] def tableInstanceId(spark: SparkSession, root: String): String = {
    val fs = fileSystem(spark, root)
    val p = new Path(root, TableIdFile)
    smallFileText(fs, p).map(_.trim).filter(_.nonEmpty).getOrElse {
      val tok = newToken()
      arbitratedCreate(fs, p, tok) match {
        case Some(out) =>
          // conditional-PUT stores arbitrate at close(): a loss means a
          // rival's id landed — the re-read below converges on it
          try { try out.write(tok.getBytes(StandardCharsets.UTF_8))
                finally out.close() }
          catch { case _: java.io.IOException => () }
        case None => ()
      }
      // NEVER fabricate (r16 advice #4): returning our locally-minted
      // token when the create lost AND the re-read finds nothing would
      // hand callers an id that may never land on disk — a stream
      // checkpoint persisting it would later mismatch the winner's
      // durable id and falsely refuse a legitimate resume as "dropped
      // and re-created". Retry the re-read briefly (the winner is
      // mid-write), then fail loudly as indeterminate.
      var read: Option[String] =
        smallFileText(fs, p).map(_.trim).filter(_.nonEmpty)
      val deadline = System.currentTimeMillis() + 2000L
      while (read.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(20)
        read = smallFileText(fs, p).map(_.trim).filter(_.nonEmpty)
      }
      read.getOrElse(throw new IllegalStateException(
        s"table instance id at $root is indeterminate: this writer's " +
          "exclusive create lost, but no rival id became readable " +
          "within 2s — a rival create may be mid-flight or the store " +
          "is misbehaving; retry the operation"))
    }
  }

  /** Read-only probe of the table's instance id — for READ-path fences
    * that must never write to the table (a pure reader on a read-only
    * mount). None = never minted (pre-r17 table whose feeds never
    * started) — fences treat that as unfenceable, not as a mismatch.
    */
  private[graft] def tableInstanceIdIfAny(spark: SparkSession,
                                          root: String): Option[String] = {
    val fs = fileSystem(spark, root)
    smallFileText(fs, new Path(root, TableIdFile)).map(_.trim).filter(_.nonEmpty)
  }

  /** Best-effort EAGER mint at the table-creation doors (init, clone,
    * branch fork) so the instance fences — the streaming feed's and
    * the batch relation's — have an identity from birth instead of
    * from first stream start. Best-effort because a recycled path on
    * the plain-PUT personality can refuse the mint inside the arbiter
    * staleness grace (the documented anti-zombie posture); the fence
    * then degrades to the lazy mint at first use, never blocks the
    * create itself.
    */
  private[graft] def mintTableInstanceId(spark: SparkSession, root: String): Unit =
    try { tableInstanceId(spark, root): Unit }
    catch { case _: IllegalStateException | _: java.io.IOException => () }

  /** The retention consumer a clone at `dstRoot` registers on its
    * source: keyed by the clone's QUALIFIED root, so it is derivable
    * from the clone alone and two clones of one source never collide.
    */
  private def cloneConsumerId(spark: SparkSession, dstRoot: String): String =
    "clone:" + fileSystem(spark, dstRoot).makeQualified(new Path(dstRoot)).toString

  /** Release the retention a clone holds on its source (the
    * `_clone_source` breadcrumb + registered consumer) — called
    * automatically by [[materialize]]/[[rebucket]] once the clone is
    * fully re-homed; call directly when DROPPING an un-materialized
    * clone. Idempotent; no-op for non-clones. After release, restoring
    * the clone to a pre-materialize version may find source
    * directories already vacuumed (inherent — that history belonged to
    * the source).
    */
  def releaseClone(spark: SparkSession, root: String): Unit = {
    val fs = fileSystem(spark, root)
    cloneSourceOf(fs, root).foreach(src =>
      ChangeFeed.dropConsumer(spark, src, cloneConsumerId(spark, root)))
    fs.delete(new Path(root, CloneSourceMarker), false)
  }

  private def cloneSourceOf(fs: FileSystem, root: String): Option[String] = {
    val marker = new Path(root, CloneSourceMarker)
    if (!fs.exists(marker)) return None
    val in = new BufferedReader(new InputStreamReader(fs.open(marker), StandardCharsets.UTF_8))
    val src = try in.readLine() finally in.close()
    Option(src).filter(_.nonEmpty)
  }

  /** After MOVING a table directory (rename), re-key any clone-
    * retention hold it carries: the consumer id embeds the clone's
    * root, so the consumer registered under the OLD root must be
    * re-seeded under the new one (at the same offset) and dropped —
    * otherwise materialize/release at the new root targets a consumer
    * that doesn't exist and the real one over-retains the source
    * forever. New-id-first ordering keeps the source protected through
    * a crash in between (an over-retaining leftover is releasable; a
    * gap is data loss for the clone).
    */
  def relocateClone(spark: SparkSession, newRoot: String, oldRoot: String): Unit = {
    val fs = fileSystem(spark, newRoot)
    cloneSourceOf(fs, newRoot).foreach { src =>
      val oldId = cloneConsumerId(spark, oldRoot)
      ChangeFeed.consumerOffset(spark, src, oldId).foreach { off =>
        ChangeFeed.seedConsumer(spark, src, cloneConsumerId(spark, newRoot), off)
        ChangeFeed.dropConsumer(spark, src, oldId)
      }
    }
  }

  // ------------------------------------------------------------------
  // branches (write-audit-publish)
  // ------------------------------------------------------------------

  private val BranchDirName = "_branch"
  private val BranchBaseMarker = "_branch_base"
  private val PublishingMarker = "_publishing"

  private[graft] def branchRoot(root: String, name: String): String = {
    require(name.matches("[A-Za-z0-9_-]{1,64}"),
      s"invalid branch name '$name' (letters, digits, _ and - only)")
    new Path(new Path(root, BranchDirName), name).toString
  }

  /** Create a write-audit-publish BRANCH: a zero-copy clone of the
    * current version living at `<root>/_branch/<name>` — a full graft
    * table (reads, writes, DML, expectations all work against it),
    * isolated from main until [[publishBranch]] lands its state as ONE
    * atomic fast-forward commit. The staging-table pattern the
    * reference builds by hand with CREATE-TABLE-then-swap
    * (`with procedures/order_proc.sql:17-30`), with the audit step a
    * first-class read of the branch. The clone's change-feed consumer
    * protects the shared base directories from main's vacuum for the
    * branch's whole life ([[cloneTable]] retention).
    *
    * The fast-forward BASE is recorded conservatively (read before the
    * clone): if main advances in between, publish refuses a
    * legitimate-looking fast-forward rather than ever accepting a
    * stale one.
    */
  def createBranch(spark: SparkSession, root: String, name: String): Long = {
    val br = branchRoot(root, name)
    val base = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed graft table at $root"))
    cloneTable(spark, root, br)
    // line 2 = the branch INSTANCE token (R16): a publish holds it so
    // its post-commit cleanup can tell "the branch I published" from a
    // SUCCESSOR re-created under the same name — an instance-blind
    // dropBranch deleted an acknowledged successor branch (and
    // released the retention consumer it shares by path), letting
    // main's vacuum reclaim directories the live successor still
    // referenced (found by BranchChaosBlast seed 4001).
    publishSmallFile(spark, br, BranchBaseMarker, s"$base\n${newToken()}\n")
    base
  }

  /** The branch's instance token ([[createBranch]] line 2); None on a
    * pre-R16 branch or a torn base marker (treated as "no successor
    * check possible" — instance-scoped drops then behave like the
    * unconditional drop).
    */
  private[graft] def branchInstance(fs: FileSystem, br: String): Option[String] =
    smallFileText(fs, new Path(br, BranchBaseMarker))
      .flatMap(_.linesIterator.drop(1).nextOption())
      .map(_.trim).filter(_.nonEmpty)

  /** (name, fork base version on main, branch's own current version)
    * for every live branch. A branch directory with no version or no
    * base marker (a createBranch crash) still LISTS, with -1 for the
    * missing field — it may hold a vacuum-pinning retention consumer
    * on main, and an operator can only release what they can see
    * (dropBranch cleans it).
    */
  def listBranches(spark: SparkSession, root: String): Seq[(String, Long, Long)] = {
    val fs = fileSystem(spark, root)
    val dir = new Path(root, BranchDirName)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
      .map { n =>
        val br = new Path(dir, n).toString
        (n, branchBase(fs, br).getOrElse(-1L),
          latestVersion(spark, br).getOrElse(-1L))
      }
  }

  private def branchBase(fs: FileSystem, br: String): Option[Long] = {
    val p = new Path(br, BranchBaseMarker)
    if (!fs.exists(p)) return None
    val in = new BufferedReader(new InputStreamReader(fs.open(p),
      StandardCharsets.UTF_8))
    val line = try in.readLine() finally in.close()
    Option(line).map(_.trim).filter(_.nonEmpty).map(_.toLong)
  }

  /** Abandon a branch: release the retention it holds on main and
    * delete its directory. A crashed publish resolves first — its
    * adoption rolls forward (commit landed: adopted dirs belong to
    * main and must survive the branch) or back (they return to the
    * branch and die with it; a LIVE publisher's young marker is never
    * rolled back — see [[recoverPublish]]). Idempotent.
    */
  def dropBranch(spark: SparkSession, root: String, name: String): Unit =
    dropBranch(spark, root, name, expectInstance = None)

  /** Instance-scoped variant (R16): `expectInstance` is the token of
    * the branch instance the caller operated on — when a SUCCESSOR
    * branch now owns the name (different token), the drop is a no-op:
    * the directory, and the retention consumer row the two instances
    * share by path, belong to the successor. A successor can only
    * exist after this instance's directory was already removed
    * ([[cloneTable]] refuses a non-empty target), so a matching token
    * means this directory is still this caller's to delete.
    */
  private[graft] def dropBranch(spark: SparkSession, root: String,
                                name: String,
                                expectInstance: Option[String]): Unit = {
    val br = branchRoot(root, name)
    val fs = fileSystem(spark, root)
    if (expectInstance.nonEmpty && branchInstance(fs, br) != expectInstance)
      return // a successor owns the name: its dir, its consumer row
    recoverPublish(spark, fs, root, br): Unit
    releaseClone(spark, br)
    fs.delete(new Path(br), true): Unit
  }

  /** Publish a branch's state onto main as ONE atomic FAST-FORWARD
    * commit — the "publish" of write-audit-publish. Refuses with
    * [[java.util.ConcurrentModificationException]] if main advanced
    * past the branch's fork base (re-branch and re-apply; a merge that
    * silently rebased audited data would defeat the audit).
    *
    * Zero-copy adoption: data directories the branch committed are
    * RENAMED into main's directory space under the publish version's
    * name (`v=<pub>-pub-<branch>-…`), so main's vacuum owns them like
    * any other commit's output — no copy at any size. Entries still
    * pointing at main's own directories (buckets the branch never
    * touched) relativize back; entries absolute into a third table
    * (main itself an unmaterialized clone) stay absolute with the
    * usual clone-retention caveats. Identity-column frontiers minted
    * on the branch are burned into main's ledger BEFORE the commit —
    * an aborted publish leaves at most an id gap, never a future
    * duplicate. A `_publishing` breadcrumb in the branch records the
    * rename mapping for crash recovery; a lost commit race rolls the
    * renames back, leaving the branch intact.
    *
    * Contract evolution (`_props`, `_schema` breadcrumbs) does NOT
    * travel: branches carry DATA. Schema widening through drift-
    * allowed branch writes publishes fine (the read schema is footer-
    * merged); declared contracts change on main, via ALTER.
    */
  def publishBranch(spark: SparkSession, root: String, name: String): Long = {
    val fs = fileSystem(spark, root)
    val br = branchRoot(root, name)
    // the INSTANCE this publish operates on (see [[dropBranch]]'s
    // instance-scoped variant): captured first so every cleanup this
    // call performs is scoped to the branch it actually published,
    // never a successor re-created under the same name
    val instance = branchInstance(fs, br)
    // a crashed earlier publish first resolves: roll FORWARD if its
    // commit landed (the branch is consumed), roll its renames BACK
    // otherwise (the branch is whole again and this attempt restarts);
    // a LIVE publisher's young marker throws the documented in-flight
    // conflict instead (see [[recoverPublish]])
    recoverPublish(spark, fs, root, br).foreach { committedV =>
      dropBranch(spark, root, name, expectInstance = instance)
      return committedV
    }
    val bv = latestVersion(spark, br).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $root"))
    // serialize behind any in-flight BRANCH-side contract swap before
    // comparing contracts: a branch REPLACE commits its manifest first
    // and swaps `_schema`/`_props` after, so a publish in that window
    // read the branch's PRE-swap breadcrumbs (still equal to main's),
    // passed the contract check, and fast-forwarded the post-REPLACE
    // DATA onto a main whose declared contracts still named the old
    // columns — a frankenstate on main, head data disagreeing with the
    // live `_schema` (found by BranchChaosBlast 8×18, seed 4002: main's
    // head carried keys e1t5 under a k/v breadcrumb, and every clone
    // resolved a 4-column union from then on)
    awaitContractQuiescence(spark, br, bv)
    // no base marker = either a MID-CREATE branch (createBranch writes
    // the marker after the clone's v0 commit — a racing publish lands
    // in that millisecond window; found by BranchChaosBlast 8×22) or a
    // crashed create. Both are the documented retry/repair conflict,
    // not an invariant breach: re-run resolves the former; a stuck
    // marker-less branch is dropBranch-able.
    val base = branchBase(fs, br).getOrElse(
      throw new java.util.ConcurrentModificationException(
        s"branch '$name' at $br carries no base marker yet — its create " +
          "may still be in flight; re-run (a permanently marker-less " +
          "branch is a crashed create: drop_branch it)"))
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed graft table at $root"))
    if (cur != base)
      throw new java.util.ConcurrentModificationException(
        s"cannot fast-forward branch '$name': $root advanced to v$cur past " +
          s"the fork base v$base — re-create the branch from the current " +
          "version and re-apply its changes")
    // version-less metadata moves too: ALTER (constraints, defaults,
    // dml.mode, generated/identity declarations) rewrites _props /
    // _schema without committing a manifest — data audited under the
    // fork-time contracts must not land past a contract change.
    // `graft.schema.epoch` is BOOKKEEPING, not a declared contract: it
    // names a version in each root's OWN numbering (the branch
    // restarts at 0 and drops the stamp at fork), so comparing it
    // would refuse every publish on a replaced-then-forked table
    if (readProps(spark, root) - "graft.schema.epoch" !=
        readProps(spark, br) - "graft.schema.epoch" ||
        smallFileText(fs, new Path(root, "_schema")) !=
          smallFileText(fs, new Path(br, "_schema")))
      throw new java.util.ConcurrentModificationException(
        s"cannot fast-forward branch '$name': $root's declared contracts " +
          "(_props/_schema) changed since the fork — re-create the branch " +
          "under the current contracts and re-apply")
    if (bv == 0L) { dropBranch(spark, root, name); return cur } // unchanged

    val m = readManifest(spark, br, bv)
    val mainM = readManifest(spark, root, cur)
    val pubV = base + 1
    val mainAbs = fs.makeQualified(new Path(root)).toString
    val brAbs = fs.makeQualified(new Path(br)).toString

    // identity frontiers FIRST (see scaladoc)
    identitySpecs(readProps(spark, br)).foreach { case (c, spec) =>
      identityFrontierOf(spark, br, c, spec).foreach(f =>
        syncIdentityFrontier(spark, root, c, spec, f))
    }

    def isLocal(d: String) = {
      val p = new Path(d)
      !p.isAbsolute || d.startsWith(brAbs + "/")
    }
    def localRel(d: String) =
      if (new Path(d).isAbsolute) d.stripPrefix(brAbs + "/") else d
    def verDirOf(rel: String) = rel.takeWhile(_ != '/')
    val allDirs = m.buckets.values.toSeq.flatMap(e => e.dir +: e.tombstones)
    val mapping: Map[String, String] =
      allDirs.filter(isLocal).map(localRel).map(verDirOf).distinct.map { vd =>
        vd -> s"v=$pubV-pub-$name-${vd.stripPrefix("v=")}"
      }.toMap
    // the crash breadcrumb: which commit this publish is for and every
    // rename it performs — written ATOMICALLY BEFORE the first rename,
    // so recoverPublish can always roll the adoption wholly forward or
    // wholly back; vacuum also treats the targets as referenced while
    // the marker lives, closing the unreferenced-dir window between a
    // competitor's commit of pubV and this publish's rollback.
    // EXCLUSIVE create (R16): the marker doubles as the publish MUTEX.
    // Two live publishers of one branch used to interleave freely —
    // the second's entry recovery could roll the first's adoption
    // renames back mid-flight, leaving the first's committed manifest
    // referencing directories that had been moved away (found by
    // reading the recoverPublish/rename interleave while building the
    // branch hunt). Plain-PUT stores route through the configured
    // [[ClaimArbiter]] like every other exclusive-create site, with
    // the usual post-write zombie fence.
    val markerToken = newToken()
    val markerPath = new Path(br, PublishingMarker)
    def publishInFlight() = new java.util.ConcurrentModificationException(
      s"another publish of branch '$name' on $root is in flight — re-run " +
        "after it completes (a crashed one resolves after the reclaim grace)")
    if (mapping.nonEmpty) {
      val body = (s"pub:$pubV" +: mapping.toSeq.sorted.map {
        case (o, n) => s"$o\t$n" }).mkString("", "\n", "\n")
      val out = arbitratedCreate(fs, markerPath, markerToken)
        .getOrElse(throw publishInFlight())
      // conditional-PUT stores arbitrate at close(): a loss there is
      // the same in-flight conflict as a lost create
      try { try out.write(body.getBytes(StandardCharsets.UTF_8))
            finally out.close() }
      catch {
        case e: java.io.IOException =>
          if (fs.exists(markerPath)) throw publishInFlight() else throw e
      }
      supersededBy(fs, markerPath, markerToken).foreach { holder =>
        throw new IllegalStateException(
          s"publish of branch '$name' on $root is INDETERMINATE: this " +
            s"publisher was superseded (marker claim now held by $holder) " +
            "while suspended and its late marker write may have replaced " +
            "the superseding publisher's — resolve the branch manually; " +
            "do NOT treat the publish as committed or cleanly lost")
      }
    }
    mapping.toSeq.foreach { case (o, n) =>
      val src = new Path(br, o)
      val dst = new Path(root, n)
      if (isObjectStore(fs)) {
        // adopt by COPY, never consuming the source: an object-store
        // "rename" is copy+delete, so a crash can leave a partial dst
        // beside a partial src — unrecoverable for a rollback that
        // must restore the branch WHOLE. With the source untouched,
        // rollback is a delete of the (possibly partial) copy, and a
        // committed publish's leftover source dies with dropBranch.
        require(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst,
          false, fs.getConf), s"could not adopt $src")
      } else require(fs.rename(src, dst), s"could not adopt $src")
    }
    def rehome(d: String): String =
      if (isLocal(d)) {
        val rel = localRel(d)
        val vd = verDirOf(rel)
        mapping(vd) + rel.stripPrefix(vd)
      } else if (d.startsWith(mainAbs + "/")) d.stripPrefix(mainAbs + "/")
      else d
    val entries = m.buckets.map { case (b, e) =>
      b -> e.copy(dir = rehome(e.dir), tombstones = e.tombstones.map(rehome))
    }
    // DELTA manifest against main's current one: a branch that touched
    // 2 of 4096 buckets publishes 2 entries + del lines, not a full
    // re-listing (bucket-count changes — a rebucketed branch — need
    // the full base)
    val deltaBase = if (m.numBuckets == mainM.numBuckets) Some(mainM) else None
    val won = publish(spark, root, {
        mapping.toSeq.foreach { case (o, n) => undoAdoption(fs, br, root, o, n) }
        fs.delete(new Path(br, PublishingMarker), false): Unit
      })(writeManifestAtomic(fs, root, pubV, m.numBuckets, m.statsCols, m.txns,
        entries, base = deltaBase, keys = m.keys))
    // instance-scoped: a successor branch re-created under this name
    // between the commit and this cleanup keeps its directory and
    // consumer row (R16 — see dropBranch)
    if (won.nonEmpty) dropBranch(spark, root, name, expectInstance = instance)
    manifestArbiter.foreach(
      _.release(fs.makeQualified(markerPath).toString, markerToken))
    if (won.isEmpty) throw new java.util.ConcurrentModificationException(
      s"cannot fast-forward branch '$name': $root committed v$pubV " +
        "during the publish — re-create the branch and re-apply")
    pubV
  }

  /** Resolve a crashed publish found via its `_publishing` breadcrumb:
    * Some(version) when that publish's commit actually landed (the
    * caller should consume the branch), None after rolling any partial
    * adoption back (the branch is whole; the marker is cleared). "Our
    * commit landed" is decided by the committed manifest at the
    * marker's version REFERENCING the marker's target dirs — a
    * competitor's commit of the same version references none of them.
    *
    * The ROLLBACK path is age-gated (R16): a marker younger than the
    * reclaim grace belongs to a publisher that may still be ALIVE
    * between its renames and its commit — rolling its renames back
    * would leave its about-to-land manifest referencing directories
    * that were just moved away (silent corruption of main). A live
    * marker throws the documented in-flight conflict instead; roll
    * FORWARD (commit landed) stays age-free — a landed commit is a
    * landed commit.
    */
  private def recoverPublish(spark: SparkSession, fs: FileSystem,
                             root: String, br: String): Option[Long] = {
    val marker = new Path(br, PublishingMarker)
    if (!fs.exists(marker)) return None
    val in = new BufferedReader(new InputStreamReader(fs.open(marker),
      StandardCharsets.UTF_8))
    val lines = try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
    finally in.close()
    val pubV = lines.headOption.filter(_.startsWith("pub:"))
      .map(_.stripPrefix("pub:").toLong).getOrElse {
        // headerless = torn (crashed before content) OR a LIVE
        // publisher between exclusive create and content write — only
        // an AGED one is safely dead (nothing renamed yet either way)
        val age =
          try System.currentTimeMillis() - fs.getFileStatus(marker).getModificationTime
          catch { case _: java.io.FileNotFoundException => return None }
        if (age < ReclaimGraceMs)
          throw new java.util.ConcurrentModificationException(
            s"a publish of the branch at $br appears to be IN FLIGHT " +
              "(marker content not yet visible) — re-run after it completes")
        fs.delete(marker, false)
        return None
      }
    val mapping = lines.tail.flatMap(_.split("\t") match {
      case Array(o, n) => Some(o -> n)
      case _ => None
    })
    val committed = readTerminator(fs, manifestPath(root, pubV)).isDefined && {
      val entries = readManifest(spark, root, pubV).buckets.values
        .flatMap(e => e.dir +: e.tombstones).toSet
      mapping.exists { case (_, n) => entries.exists(_.startsWith(n)) }
    }
    if (committed) Some(pubV)
    else {
      val age =
        try System.currentTimeMillis() - fs.getFileStatus(marker).getModificationTime
        catch { case _: java.io.FileNotFoundException =>
          return None } // publisher finished its own cleanup meanwhile
      if (age < ReclaimGraceMs)
        throw new java.util.ConcurrentModificationException(
          s"a publish of the branch at $br appears to be IN FLIGHT " +
            s"(its _publishing marker is ${age} ms old): rolling back a " +
            "live publisher's adoption renames would corrupt its commit " +
            s"— re-run after it completes or ages past ${ReclaimGraceMs} ms")
      mapping.foreach { case (o, n) => undoAdoption(fs, br, root, o, n) }
      fs.delete(marker, false)
      None
    }
  }

  /** Undo one adoption mapping entry of a rolled-back branch publish.
    * If the branch-side source still exists, the adoption was
    * COPY-based (object store) or never ran — the destination is a
    * discardable, possibly PARTIAL copy, and "renaming it back" would
    * nest that partial dir INSIDE the intact source (S3A rename onto
    * an existing directory moves into it), silently corrupting the
    * branch the rollback exists to preserve. Only a source-consumed
    * (atomic POSIX rename) adoption renames back.
    */
  private def undoAdoption(fs: FileSystem, br: String, root: String,
                           o: String, n: String): Unit = {
    val dst = new Path(root, n)
    if (!fs.exists(dst)) return
    if (fs.exists(new Path(br, o))) fs.delete(dst, true): Unit
    else fs.rename(dst, new Path(br, o)): Unit
  }

  // ------------------------------------------------------------------
  // atomic RTAS adoption (StagingTableCatalog commit)
  // ------------------------------------------------------------------

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
  /** Test-only interleave hook: invoked by [[adoptAsReplace]] and a
    * cross-epoch [[restore]] right after their manifest commit wins
    * and before the contract swap — the window a racing swap must
    * serialize behind. A hook that THROWS simulates a committer
    * crashing post-commit, pre-swap (the window
    * [[executeContractSwap]] roll-forward heals).
    */
  @volatile private[graft] var replaceSwapHook: (String, Long) => Unit =
    (_, _) => ()

  /** The per-directory completion certificate a ledger MOVE writes
    * last (content = the installing swap's version) — see
    * [[executeContractSwap]]'s scaladoc for the torn-copy hole it
    * closes.
    */
  private val LedgerCert = "_installed_by"

  /** Test hook: runs after a ledger move's block files are copied and
    * BEFORE its completion certificate is written — throwing here
    * simulates a committer crashing mid-move, leaving a full-looking
    * but UNCERTIFIED directory a healer must redo, not accept.
    */
  @volatile private[graft] var ledgerMoveHook: Path => Unit = _ => ()

  /** Test hook: runs after a manifest claim is WON (stream open) and
    * before its body writes — blocking here simulates a committer
    * suspended mid-upload past the arbiter's staleness grace (the
    * zombie schedule the post-readback owner fence exists for).
    */
  @volatile private[graft] var manifestWriteHook: (String, Long) => Unit =
    (_, _) => ()

  /** Test hook: runs after a NON-manifest arbitrated claim (identity
    * block, tag) is won and before its payload writes — the suspension
    * window the per-site zombie fences cover. First arg names the
    * site: "identity" | "tag".
    */
  @volatile private[graft] var claimWriteHook: (String, Path) => Unit =
    (_, _) => ()

  /** Test hook: runs in a POSIX checkpoint publish between the
    * clear-torn-dest delete and the tmp→dest rename — the window where
    * a rival same-version publisher can re-create dest and turn the
    * rename into a nest-inside move.
    */
  @volatile private[graft] var checkpointRenameHook: Path => Unit = _ => ()

  /** Test hook: runs in a contracts-lock waiter's reclaim path AFTER
    * the stillAged re-check and BEFORE the compare-content-then-delete
    * (r16 advice #3) — the TOCTOU window where a rival can reclaim the
    * aged lock and confirm its OWN fresh one; the token compare must
    * keep this waiter's delayed delete off the rival's live lock.
    */
  @volatile private[graft] var contractsReclaimHook: Path => Unit = _ => ()

  /** Test hook: runs in the heartbeat's content-rewrite fallback
    * BETWEEN the overwrite and its readback (r17 advice #3) — the
    * instant where a rival's reclaim is detectable; a spec swaps in a
    * rival token here to pin that the holder marks itself reclaimed,
    * stops heartbeating, and fails its release loudly even if the file
    * later carries the holder's token again.
    */
  @volatile private[graft] var contractsHeartbeatHook: Path => Unit = _ => ()

  /** Test hook: runs in a data-freeing vacuum between its floor
    * serialization commit's OCC win and the retention-pin re-list —
    * the window where a pin seeded after the sweep's FIRST listing
    * forces the restart/deferral path (the path that used to leave the
    * old `_floor` marker permanently overshooting; r15 advice #2).
    */
  @volatile private[graft] var vacuumPostCommitHook: String => Unit = _ => ()

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
  private final case class ContractBundle(v: Long, cur: Long,
                                          archSchema: Option[String],
                                          archProps: String,
                                          liveSchema: Option[String],
                                          livePropsFinal: String,
                                          ledgerArchive: Boolean,
                                          ledgerSrc: Option[String],
                                          // bundle-format compatibility only: since the
                                          // certified-move protocol (R14) every ledger
                                          // move COPIES — rename would consume the redo
                                          // source a torn move's healer needs
                                          ledgerByRename: Boolean)

  private def pendingContractsName(v: Long, token: String): String =
    f"_pending_contracts-$v%020d-$token"

  private def bundleText(b: ContractBundle): String = {
    def line(k: String, v: String) = s"$k\t${enc(v)}"
    (Seq(line("v", b.v.toString), line("cur", b.cur.toString),
      line("arch_props", b.archProps),
      line("live_props", b.livePropsFinal),
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
    ContractBundle(kv("v").toLong, kv("cur").toLong,
      kv.get("arch_schema"), kv("arch_props"),
      kv.get("live_schema"), kv("live_props"),
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
  private def executeContractSwap(spark: SparkSession, root: String,
                                  b: ContractBundle): Unit =
    // the contracts LOCK (see [[withContractsLock]]) serializes this
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
    def superseded: Boolean = readProps(spark, root)
      .get("graft.schema.epoch").map(_.toLong).getOrElse(-1L) >= b.v
    if (superseded) return
    b.archSchema.foreach { t =>
      val n = f"_schema_upto_${b.cur}%020d"
      if (!fs.exists(new Path(root, n))) publishSmallFile(spark, root, n, t)
    }
    val pn = f"_props_upto_${b.cur}%020d"
    if (!fs.exists(new Path(root, pn)))
      publishSmallFile(spark, root, pn, b.archProps)
    // re-check the fence immediately before each LIVE-file write: a
    // zombie committer suspended past the entry guard while a healer
    // completed this swap AND a later epoch's must not clobber that
    // later epoch — the re-read shrinks the unfenced window from the
    // whole swap to the instants between check and publish
    if (superseded) return
    b.liveSchema match {
      case Some(t) => publishSmallFile(spark, root, "_schema", t)
      case None => fs.delete(new Path(root, "_schema"), false): Unit
    }
    val live = new Path(root, "_identity")
    val archLedger = new Path(root, f"_identity_upto_${b.cur}%020d")
    def certified(dir: Path): Boolean =
      smallFileText(fs, new Path(dir, LedgerCert)).exists(_.trim == b.v.toString)
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
      fs.listStatus(src).filterNot(_.getPath.getName == LedgerCert)
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
      val out = fs.create(new Path(dst, LedgerCert), true)
      try out.write(s"${b.v}\n".getBytes(StandardCharsets.UTF_8))
      finally out.close()
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
    fs.delete(new Path(root, ColStatsFile), false): Unit
    if (superseded) return
    publishSmallFile(spark, root, "_props", b.livePropsFinal)
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
    * breadcrumb. [[isEpochStart]] is a header-only read, and the
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
    val stamped = readProps(spark, root)
      .get("graft.schema.epoch").map(_.toLong).getOrElse(-1L)
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

  private[graft] def awaitContractQuiescence(spark: SparkSession, root: String,
                                             upTo: Long): Unit = {
    val fs = fileSystem(spark, root)
    def stamped: Long = readProps(spark, root)
      .get("graft.schema.epoch").map(_.toLong).getOrElse(-1L)
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
          smallFileText(fs, pend).foreach { text =>
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

  /** Whether version `v` STARTS a contract epoch (committed by a
    * REPLACE or a cross-epoch restore — its manifest carries the
    * format-5 `epoch:` flag). The flag is a per-commit fact,
    * deliberately not folded through delta/checkpoint reconstruction,
    * and it sits in the manifest HEADER (line 4 at deepest), so this
    * is an O(1)-lines read like [[commitTimeMillis]] — `meta_history`
    * calls it per version, and [[awaitContractQuiescence]] scans with
    * it. False for missing manifests.
    */
  def isEpochStart(spark: SparkSession, root: String, v: Long): Boolean = {
    val fs = fileSystem(spark, root)
    val p = manifestPath(root, v)
    try {
      if (!fs.exists(p)) return false
      val in = new BufferedReader(new InputStreamReader(fs.open(p),
        StandardCharsets.UTF_8))
      try {
        var i = 0
        var line = in.readLine()
        while (line != null && i < 8) {
          if (line.startsWith("epoch:"))
            return line.stripPrefix("epoch:").trim == "1"
          i += 1; line = in.readLine()
        }
        false
      } finally in.close()
    } catch { case _: java.io.IOException => false }
  }

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
        publishSmallFile(spark, root, marker,
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
      // [[restore]] across this epoch re-installs the allocator
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
        archSchema = smallFileText(fs, new Path(root, "_schema")),
        archProps = propsText(readProps(spark, root)),
        liveSchema = smallFileText(fs, new Path(staged, "_schema")),
        livePropsFinal = propsText(readProps(spark, staged) +
          ("graft.schema.epoch" -> pubV.toString)),
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
  private def archivedFileFor(fs: FileSystem, root: String, prefix: String,
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
      .flatMap(name => smallFileText(fs, new Path(root, name)))
      .map(s => org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  private def propsText(props: Map[String, String]): String =
    props.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }.mkString("\n")

  private def parsePropsText(text: String, where: String): Map[String, String] =
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"malformed archived props line at $where: '$line'")
      line.substring(0, i) -> line.substring(i + 1)
    }.toMap

  /** The table properties (CHECK constraints, defaults, generated /
    * identity declarations, dml.mode) in force at `v` on a table whose
    * contracts were later REPLACEd — `_props_upto_<n>` with the
    * smallest n ≥ v, the `_props` analog of [[archivedSchemaFor]].
    * Written even when the displaced epoch had NO props ("no
    * contracts" is an answer, distinct from "no archive"). None = no
    * archive covers v (pre-archival table) — callers fall back to the
    * current props, the pre-R12 behavior.
    */
  private[graft] def archivedPropsFor(spark: SparkSession, root: String,
                                      v: Long): Option[Map[String, String]] = {
    val fs = fileSystem(spark, root)
    archivedFileFor(fs, root, "_props_upto_", v).map { name =>
      smallFileText(fs, new Path(root, name))
        .map(parsePropsText(_, s"$root/$name")).getOrElse(Map.empty)
    }
  }

  /** The props honest for a read pinned at `versionAsOf`: below the
    * current schema epoch, the pinned version's OWN epoch's archived
    * props; otherwise (or unpinned) the current `_props`. DESCRIBE /
    * SHOW CREATE / constraint reporting / `meta_props` under
    * `VERSION AS OF` resolve through this — an auditor asking "what
    * CHECK constraint held at v" must not be answered with the
    * replacement's contracts.
    */
  def propsAsOf(spark: SparkSession, root: String,
                versionAsOf: Option[Long]): Map[String, String] = {
    val cur = readProps(spark, root)
    versionAsOf match {
      case Some(v) if cur.get("graft.schema.epoch").map(_.toLong).exists(v < _) =>
        archivedPropsFor(spark, root, v).getOrElse(cur)
      case _ => cur
    }
  }

  // ------------------------------------------------------------------
  // tags (named immutable version refs)
  // ------------------------------------------------------------------

  private val TagDirName = "_tags"

  private def tagPath(root: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9_-]{1,64}"),
      s"invalid tag name '$name' (letters, digits, _ and - only)")
    new Path(new Path(root, TagDirName), name)
  }

  /** Name a RETAINED version: `<root>/_tags/<name>` holds the version
    * id, and [[vacuum]] keeps history from the oldest tag forward —
    * the release/audit bookmark pattern (a branch is a movable write
    * head; a tag is an immutable read pin). Exclusive create is the
    * arbiter: a tag can never be silently re-pointed (every reader of
    * `VERSION AS OF 'stable'` would move with it) — drop and re-create
    * to move one, explicitly.
    */
  def createTag(spark: SparkSession, root: String, name: String,
                version: Option[Long] = None): Long = {
    val fs = fileSystem(spark, root)
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed graft table at $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"cannot tag version $v at $root: not a retained version " +
        s"(have ${vs.head}..${vs.last})")
    // same floor discipline as [[restore]]: a below-floor tag would pin
    // nothing — the version's files may already be mid-reclaim by the
    // vacuum that committed the floor advance
    val floor = vacuumFloor(spark, root)
    if (v < floor)
      throw new java.util.ConcurrentModificationException(
        s"cannot tag version $v at $root: below the committed vacuum " +
          s"floor $floor — its files may already be reclaimed")
    // all-digit names are reserved for version ids: `VERSION AS OF`
    // resolves a numeric string as a version FIRST, so a tag named
    // '123' could never be read by name and might silently resolve to
    // an unrelated version. Refuse the shadow on CREATE only — resolve
    // and drop must keep accepting pre-existing all-digit tags, or a
    // stale one becomes both unreadable and un-droppable.
    require(!name.forall(_.isDigit),
      s"invalid tag name '$name': all-digit names are reserved for " +
        "version ids (VERSION AS OF resolves numbers as versions first)")
    val p = tagPath(root, name)
    fs.mkdirs(p.getParent)
    // atomic claim ([[arbitratedCreate]]): two racing createTag calls
    // of the same name must not both succeed (tags are immutable). On
    // plain-PUT stores the configured [[ClaimArbiter]] row serializes
    // the create — a lost row is the same immutable-tag conflict as a
    // lost exclusive create (either an existing tag or a live rival
    // mid-upload whose PUT will land).
    def alreadyExists() = new IllegalStateException(
      s"tag '$name' already exists at $root — tags are immutable; " +
        "drop_tag first to re-point it")
    val token = newToken()
    // a concurrent dropTag can unlink the file INSIDE the create
    // (RawLocal creates then chmods — the chmod finds nothing): a
    // serializable history exists (created, then dropped), but the
    // creator cannot claim success for a tag that is already gone —
    // surface the documented concurrent-modification conflict.
    // Classification (r15 advice #3): FileNotFoundException anywhere
    // in the cause chain, or — because object-store FileSystem
    // implementations word FNF-class errors their own way — a
    // post-failure existence re-probe showing the path gone (the
    // create made it exist; only an unlink explains its absence).
    // The RawLocal/HDFS message sniff stays as a last resort for
    // wrappers that neither type the cause nor leave the path absent.
    def dropRacedMidCreate(e: java.io.IOException): Boolean = {
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8).toSeq
      chain.exists(_.isInstanceOf[java.io.FileNotFoundException]) ||
        (try !fs.exists(p) catch { case _: java.io.IOException => false }) ||
        chain.flatMap(x => Option(x.getMessage)).exists(m =>
          m.contains(p.getName) && (m.contains("No such file") ||
            m.contains("does not exist")))
    }
    val out =
      try arbitratedCreate(fs, p, token).getOrElse(throw alreadyExists())
      catch {
        case e: java.io.IOException if dropRacedMidCreate(e) =>
          val cme = new java.util.ConcurrentModificationException(
            s"tag '$name' at $root was dropped concurrently mid-create; re-run")
          cme.initCause(e)
          throw cme
      }
    claimWriteHook("tag", p)
    // conditional-PUT stores arbitrate at close(): a lost race there
    // must report the same immutable-tag conflict as a lost create —
    // any other failure (no competing tag on disk) propagates as the
    // IO error it is
    try { try out.write(s"$v\n".getBytes(StandardCharsets.UTF_8))
          finally out.close() }
    catch {
      case e: java.io.IOException =>
        if (fs.exists(p)) throw alreadyExists() else throw e
    }
    // ZOMBIE FENCE (arbiter mode): a creator suspended past the
    // staleness grace whose late PUT completes after a superseding
    // creator's acknowledged tag CLOBBERS that tag's version with its
    // own — readers would silently time-travel to the wrong snapshot.
    // The row is the only fence plain PUT leaves; a superseded creator
    // must fail loudly with the repair recipe, never report success.
    supersededBy(fs, p, token).foreach { holder =>
      throw new IllegalStateException(
        s"tag '$name' at $root is INDETERMINATE: this creator was " +
          s"superseded (claim now held by $holder) while suspended, " +
          s"and its late write may have replaced the superseding " +
          s"creator's version with $v — drop_tag and re-create to " +
          "repair; do NOT treat the tag as committed")
    }
    // POST-WRITE floor re-check (the restore-vs-vacuum lesson applied
    // to tags): a tag published after a racing vacuum's post-commit
    // pin re-list is not honored by that sweep — but such a publish
    // strictly follows the sweep's floor-marker write, so the marker
    // is visible HERE. A now-below-floor (or already-pruned) target
    // means the tag may dangle: remove it and fail loudly instead of
    // handing the caller a pin on reclaimed history.
    if (v < vacuumFloor(spark, root) || !versions(spark, root).contains(v)) {
      dropTag(spark, root, name)
      throw new java.util.ConcurrentModificationException(
        s"tag '$name' of version $v at $root raced a vacuum floor " +
          "advance — the version may already be mid-reclaim; re-run " +
          "against a retained version")
    }
    v
  }

  /** The tagged version, None when the tag does not exist. A torn tag
    * (create crashed before the payload) reads as None too — it lists
    * with -1 via [[listTags]] so an operator can find and drop it.
    */
  def tagVersion(spark: SparkSession, root: String, name: String): Option[Long] = {
    val fs = fileSystem(spark, root)
    smallFileText(fs, tagPath(root, name))
      .map(_.trim).filter(_.nonEmpty).map(_.toLong)
  }

  /** (name, version) per tag, -1 for a torn create. */
  def listTags(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val fs = fileSystem(spark, root)
    val dir = new Path(root, TagDirName)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath.getName).sorted
      .map(n => n -> tagVersion(spark, root, n).getOrElse(-1L))
  }

  /** Idempotent: dropping an absent tag is a no-op. On plain-PUT
    * stores the tag's arbiter row is released WITH the file (r18, the
    * ledger-row lesson): the row's only job is to arbitrate creates of
    * a LIVE name — left behind, it refuses a drop-then-recreate of the
    * same tag name for the whole staleness grace with a misleading
    * "already exists". Safe for the same reason the ledger release is:
    * the path holds no payload after the delete, and a suspended
    * creator resuming later fails its post-write owner re-check
    * (INDETERMINATE — the tag zombie fence), never silently wins.
    */
  def dropTag(spark: SparkSession, root: String, name: String): Unit = {
    val fs = fileSystem(spark, root)
    val p = tagPath(root, name)
    fs.delete(p, false): Unit
    manifestArbiter.foreach { arb =>
      val key = fs.makeQualified(p).toString
      arb.owner(key).foreach(t => arb.release(key, t))
    }
  }

  /** Full text of a small metadata file, None when absent. */
  private def smallFileText(fs: FileSystem, p: Path): Option[String] = {
    if (!fs.exists(p)) return None
    val in = new BufferedReader(new InputStreamReader(fs.open(p),
      StandardCharsets.UTF_8))
    try Some(Iterator.continually(in.readLine()).takeWhile(_ != null)
      .mkString("\n"))
    finally in.close()
  }

  /** The branch ledger's reserved frontier for one identity column:
    * where the NEXT mint would start (last block's first + step·count).
    */
  private def identityFrontierOf(spark: SparkSession, root: String,
                                 col: String, spec: IdentitySpec): Option[Long] = {
    val fs = fileSystem(spark, root)
    val dir = new Path(new Path(root, "_identity"), col)
    if (!fs.exists(dir)) return None
    var attempt = 0
    while (attempt < 256) {
      attempt += 1
      ledgerFrontier(fs, dir, spec) match {
        case Some((_, f)) => return Some(f)
        case None => Thread.sleep(200) // tip payload in flight
      }
    }
    throw new IllegalStateException(
      s"identity ledger tip for '$col' at $root stayed unreadable")
  }

  /** Advance main's identity ledger to at least `target`: an ORDINARY
    * reservation of exactly the deficit, so the claim filename is the
    * same one any concurrent writer would race for — exclusive create
    * arbitrates, the loser (either side) re-lists and retries. No-op
    * when main is already at or past the target in step direction.
    */
  private def syncIdentityFrontier(spark: SparkSession, root: String,
                                   col: String, spec: IdentitySpec,
                                   target: Long): Unit = {
    val fs = fileSystem(spark, root)
    val dir = new Path(new Path(root, "_identity"), col)
    fs.mkdirs(dir)
    var attempt = 0
    while (attempt < 256) {
      attempt += 1
      ledgerFrontier(fs, dir, spec) match {
        case None => Thread.sleep(200) // payload in flight
        case Some((lastSeq, cur)) =>
          val deficitUnits = (target - cur) / spec.step // lattice-aligned
          if (deficitUnits <= 0L) return
          if (claimBlock(fs, dir, lastSeq + 1, cur, deficitUnits).isDefined)
            return
          // jittered backoff on a lost claim: a publish burning a large
          // frontier races EVERY live minter for the chain tip, and a
          // hot retry loop can lose the tip race hundreds of times in a
          // row against a thundering herd (seen at blast intensity) —
          // a few ms of jitter de-synchronizes the contenders
          Thread.sleep(5L + java.util.concurrent.ThreadLocalRandom
            .current().nextLong(35L))
      }
    }
    // exhausted attempts = contention/churn, not corruption — the
    // documented retry-able conflict (the branch is untouched: frontier
    // burns run before the publish marker and any rename)
    throw new java.util.ConcurrentModificationException(
      s"could not sync identity frontier for '$col' at $root after 256 " +
        "attempts (sustained allocator contention or contract churn) — " +
        "re-run the publish when the churn subsides")
  }

  /** Drop all but the newest `keepLast` manifests, then delete every
    * data directory no kept manifest references — old version data and
    * orphans from crashed writers alike. Returns #paths deleted.
    * Time travel reaches only kept versions afterwards.
    *
    * @param dryRun report what WOULD be reclaimed without touching
    *   anything (no deletions, no retention-floor checkpoint, and
    *   stale adoption markers stay unresolved — their dirs count as
    *   protected, so a real run may reclaim slightly more)
    */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 1,
             dryRun: Boolean = false,
             minAgeMs: Long = VacuumMinAgeMs): Int =
    vacuumAttempt(spark, root, keepLast, dryRun, minAgeMs, attempt = 1)

  /** The floor markers under `_commits/`: the highest retention floor
    * any vacuum has committed to advancing to. [[restore]] and
    * [[createTag]] refuse targets below the effective floor — the
    * marker plus the OCC serialization commit is what makes "re-point
    * at an old version's dirs" vs "reclaim those dirs" a serialized
    * decision instead of a filesystem race.
    *
    * Two marker classes (r15 advice #2 — the single overwritten
    * `_floor` file, published BEFORE the serialization commit,
    * permanently overshot the actually-enforced floor whenever the
    * sweep restarted on a mid-sweep pin or lost all its OCC laps, and
    * an overwrite by a suspended laggard could even REGRESS it):
    *
    *  - `_floor_intent-<token>`: the pre-commit INTENT, value inside,
    *    one per in-flight sweep. Published before the serialization
    *    commit (so every committer basing on/after that commit observes
    *    it), DROPPED when the sweep restarts, defers, or confirms.
    *    Readers ignore intents older than [[ReclaimGraceMs]] — a
    *    crashed sweep over-restricts restore/tag targets for at most
    *    the grace, never forever.
    *  - `_floorv-<value>`: the DURABLE committed floor, written only
    *    after the OCC win and the pin re-list confirm the sweep will
    *    reclaim at that floor, and immediately before it does.
    *    CREATE-ONLY (value in the name, one file per enforced floor) —
    *    monotonic by construction, so a suspended laggard's late write
    *    can never regress a rival's higher committed floor the way a
    *    shared overwritten file could. Sub-max files are swept as
    *    hygiene.
    */
  private val FloorValuePrefix = "_floorv-"
  private val FloorIntentPrefix = "_floor_intent-"

  /** The durably COMMITTED floor only (the max `_floorv-*`), without
    * live intents — the monotonicity baseline a new sweep compares its
    * keepFrom against to decide whether floor markers need writing at
    * all.
    */
  private def durableVacuumFloor(fs: FileSystem, root: String): Long =
    (try fs.listStatus(commitsDir(root)).toSeq
     catch { case _: java.io.FileNotFoundException => Nil })
      .map(_.getPath.getName)
      .filter(_.startsWith(FloorValuePrefix))
      .flatMap(_.stripPrefix(FloorValuePrefix).toLongOption)
      .maxOption.getOrElse(-1L)

  /** The EFFECTIVE floor restore/tag/clone targets are checked against:
    * the durable committed floor, stretched by any live (younger than
    * [[ReclaimGraceMs]]) sweep intent — an in-flight data-freeing sweep
    * has already published the floor it is committing to, and
    * re-pointing below it would race the reclaim it is about to do.
    */
  private[graft] def vacuumFloor(spark: SparkSession, root: String): Long = {
    val fs = fileSystem(spark, root)
    val now = System.currentTimeMillis()
    val intents =
      (try fs.listStatus(commitsDir(root)).toSeq
       catch { case _: java.io.FileNotFoundException => Nil })
        .filter { st =>
          st.getPath.getName.startsWith(FloorIntentPrefix) &&
            !st.getPath.getName.contains(".tmp-") &&
            now - st.getModificationTime <= ReclaimGraceMs
        }
        .flatMap(st => smallFileText(fs, st.getPath).flatMap(_.trim.toLongOption))
        .maxOption.getOrElse(-1L)
    math.max(durableVacuumFloor(fs, root), intents)
  }

  private def vacuumAttempt(spark: SparkSession, root: String, keepLast: Int,
                            dryRun: Boolean, minAgeMs: Long,
                            attempt: Int): Int = {
    require(keepLast >= 1, "must keep at least the latest version")
    val fs = fileSystem(spark, root)
    val vs = versions(spark, root)
    if (vs.isEmpty) return 0
    // a registered change-feed consumer at offset o still needs
    // manifest o (its next diff's base) and everything after it —
    // retention stretches to cover the slowest consumer rather than
    // going stale under it (drop abandoned consumers via
    // [[ChangeFeed.dropConsumer]] to release their history)
    val minConsumer = ChangeFeed.minConsumerOffset(spark, root)
    // a TAG pins its version (and, in this suffix-retention model,
    // everything after it): retention stretches to the oldest tag the
    // same way it stretches to the slowest feed consumer — drop_tag
    // releases the history
    val minTag = listTags(spark, root).map(_._2).filter(_ >= 0)
      .minOption.getOrElse(Long.MaxValue)
    // in-flight-READER protection ([[VacuumMinAgeMs]]): a version
    // younger than the age floor may be a running statement's pinned
    // read snapshot, so retention stretches to the oldest young
    // version the same way it stretches to tags and slow consumers.
    // A manifest a racing vacuum already reclaimed counts as old — it
    // is gone either way.
    val youngFrom =
      if (minAgeMs <= 0L) Long.MaxValue
      else {
        val cutoff = System.currentTimeMillis() - minAgeMs
        vs.find { v =>
          scala.util.Try(fs.getFileStatus(manifestPath(root, v))
            .getModificationTime).toOption.exists(_ > cutoff)
        }.getOrElse(Long.MaxValue)
      }
    val keepFrom0 = math.min(youngFrom, math.min(vs.takeRight(keepLast).head,
      math.min(minConsumer.getOrElse(Long.MaxValue), minTag)))
    // Does this floor advance free DATA (some below-floor dir
    // unreferenced by the kept suffix)? Decides whether the advance
    // must be serialized through the commit log (see the floor block
    // below) — manifests-only pruning is restore-safe without it.
    val keepDirs0: Set[String] = vs.filter(_ >= keepFrom0).flatMap { v =>
      readManifest(spark, root, v).buckets.values
        .flatMap(e => e.dir +: e.tombstones)
    }.toSet
    val freesData = vs.filter(_ < keepFrom0).exists { v =>
      try readManifest(spark, root, v).buckets.values
        .exists(e => (e.dir +: e.tombstones).exists(!keepDirs0.contains(_)))
      catch { case _: Exception => true } // unreadable below-floor chain: reclaim
    }
    val keepFrom = keepFrom0
    val keep = vs.filter(_ >= keepFrom)
    val latest = vs.last
    val referenced: Set[String] =
      keep.flatMap(v => readManifest(spark, root, v).buckets.values
        .flatMap(e => e.dir +: e.tombstones)).toSet
    val deleted = mutable.ArrayBuffer.empty[Path]

    if (!dryRun && vs.exists(_ < keepFrom)) {
      // kept versions must reconstruct WITHOUT the manifests below the
      // floor: the floor version needs a standalone full base — either
      // its own manifest is full, or a verified checkpoint exists (the
      // one checkpoint write that is a correctness dependency, so it
      // is confirmed before any manifest is deleted)
      val floorIsFull = parseManifestFile(fs, root, keepFrom).deltaBase.isEmpty
      if (!floorIsFull && !fs.exists(new Path(checkpointDir(root, keepFrom), "_SUCCESS"))) {
        writeCheckpoint(spark, root, readManifest(spark, root, keepFrom))
        require(fs.exists(new Path(checkpointDir(root, keepFrom), "_SUCCESS")),
          s"retention-floor checkpoint at $keepFrom failed to materialize — " +
            "aborting manifest cleanup (data dirs were not touched)")
      }
      // SERIALIZE a DATA-FREEING floor advance through the commit log
      // — manifests-only pruning (freesData false: every below-floor
      // dir lives on under the kept suffix) skips the commit, because
      // a racing restore either re-points at dirs that stay alive
      // (safe) or fails loudly on the pruned manifest (documented),
      // and committing here would hand the NEXT run a fresh
      // below-floor manifest forever: maintenance on an unchanged
      // table must converge to a no-op, not churn versions.
      // (found by
      // the R15.2 widened chaos vocabulary: a RESTORE re-pointed its
      // new version at an old version's dirs WHILE this sweep was
      // reclaiming them — the restore committed a retained but
      // unreadable version). Publish the new floor marker, then win an
      // EMPTY delta commit: the OCC win proves no rival commit (in
      // particular no restore) landed between this run's `versions()`
      // listing and now, and every later committer bases on (or after)
      // this commit — so it observes the marker, and [[restore]] /
      // [[createTag]] refuse below-floor targets. A lost race restarts
      // the whole computation; persistent contention defers the sweep
      // (vacuum is maintenance — deferral is always safe).
      if (freesData) {
        // INTENT first, durable floor only on confirmation (r15 advice
        // #2): the old single pre-commit marker permanently overshot
        // the enforced floor whenever the sweep restarted (mid-sweep
        // pin) or lost every OCC lap — restore/createTag/cloneTable
        // then refused intact, retained versions for as long as the
        // overshoot lived. The intent keeps the ordering invariant
        // (published before the commit ⇒ observed by every later
        // committer) but is DROPPED on every non-confirming exit, and
        // ages out after [[ReclaimGraceMs]] if this sweep crashes.
        val durableFloor = durableVacuumFloor(fs, root)
        val needsFloorWrite = keepFrom > durableFloor
        val itok = newToken()
        val intentAt = System.currentTimeMillis()
        if (needsFloorWrite)
          publishSmallFile(spark, root,
            s"_commits/$FloorIntentPrefix$itok", s"$keepFrom\n")
        val confirmed =
          try {
            val head = readManifest(spark, root, vs.last)
            val serialized = writeManifestAtomic(fs, root, vs.last + 1,
              head.numBuckets, head.statsCols, head.txns, head.buckets,
              base = Some(head))
            if (serialized.nonEmpty) vacuumPostCommitHook(root)
            // RE-LIST retention pins after the win: clone-consumer
            // seeds and tag creates are not commits, so the OCC win
            // does not order them — a pin published between this run's
            // first listing and now would lose its target mid-sweep.
            // The handshake: any pin published AFTER this re-list was
            // published after the floor INTENT too (intent precedes
            // the commit precedes this re-list), so its own
            // post-publish floor check (cloneTable / createTag)
            // refuses a below-floor target; any pin published BEFORE
            // it is honored here by restarting with fresh listings.
            serialized.nonEmpty && {
              val minPin2 = math.min(
                ChangeFeed.minConsumerOffset(spark, root).getOrElse(Long.MaxValue),
                listTags(spark, root).map(_._2).filter(_ >= 0)
                  .minOption.getOrElse(Long.MaxValue))
              minPin2 >= keepFrom
            } && {
              // suspension guard: the intent ages out of readers'
              // effective floor after ReclaimGraceMs, so a sweep
              // suspended past HALF the grace between publishing it
              // and confirming here restarts instead of reclaiming —
              // a restore could have slipped under an expired intent.
              !needsFloorWrite ||
                System.currentTimeMillis() - intentAt <= ReclaimGraceMs / 2
            } && {
              // CONFIRMED: this sweep will reclaim at keepFrom. The
              // durable floor is a CREATE-ONLY value-named file —
              // monotonic by construction, so a suspended laggard can
              // never regress a rival's higher committed floor.
              if (needsFloorWrite)
                publishSmallFile(spark, root,
                  s"_commits/$FloorValuePrefix$keepFrom", s"$keepFrom\n")
              true
            }
          } finally {
            // the intent is dead on EVERY exit: confirmed (the durable
            // _floorv- subsumes it), restarting, deferring, or throwing
            if (needsFloorWrite)
              try fs.delete(
                new Path(commitsDir(root), s"$FloorIntentPrefix$itok"), false): Unit
              catch { case _: java.io.IOException => () }
          }
        if (!confirmed) {
          return if (attempt >= 5) 0
          else vacuumAttempt(spark, root, keepLast, dryRun, minAgeMs, attempt + 1)
        }
      }
      // superseded checkpoints below the floor go with their manifests.
      // Name must be digits-only after the prefix: a RACING publish's
      // private `cp-<v>.tmp-<token>` attempt dir also starts with
      // `cp-` and used to blow the sweep up with NumberFormatException
      // (found by StreamChaosBlast — vacuum racing an in-flight
      // checkpoint); tmp attempts are the aged-hygiene block's job
      fs.listStatus(commitsDir(root)).toSeq
        .map(_.getPath)
        .filter { p =>
          val s = p.getName.stripPrefix("cp-")
          p.getName.startsWith("cp-") && s.nonEmpty && s.forall(_.isDigit) &&
            s.toLong < keepFrom
        }
        .foreach(deleted += _)
    }
    vs.filter(_ < keepFrom).foreach { v =>
      val p = manifestPath(root, v)
      // a TERMINATOR-LESS manifest below the floor can be a LIVE
      // stale-OCC writer's in-flight attempt (versions() lists
      // below-tip holes) — the manifest twin of the in-flight
      // attempt-DIR guard: deleting it mid-create crashed the writer's
      // own chmod/readback (found by the R15.2 widened chaos
      // vocabulary). Reclaim those only past the torn-claim grace;
      // terminated manifests keep immediate reclaim.
      val liveAttempt = readTerminator(fs, p).isEmpty &&
        scala.util.Try(fs.getFileStatus(p).getModificationTime).toOption
          .exists(_ >= System.currentTimeMillis() - ReclaimGraceMs)
      if (!liveAttempt) deleted += p
    }
    // an IN-FLIGHT branch publish has renamed its adopted dirs into
    // this root under the publish version's name but not committed the
    // manifest yet — while any live branch's `_publishing` marker
    // names them, they are referenced state, not reclaim candidates
    // (the publish either commits a manifest over them or renames
    // them back; either way the marker resolves)
    val publishing: Set[String] = listBranches(spark, root).flatMap {
      case (n, _, _) =>
        smallFileText(fs, new Path(branchRoot(root, n), PublishingMarker))
          .toSeq.flatMap(_.linesIterator.drop(1).flatMap(_.split("\t") match {
            case Array(_, tgt) => Some(tgt.takeWhile(_ != '/'))
            case _ => None
          }))
    }.toSet ++
      // same window for an in-flight REPLACE: its rename-adopted
      // v=<n>-rtas-* dirs are referenced state while the statement's
      // `_rtas_adopting-*` marker lives (lost-race retries re-rename
      // them under the next version before any manifest names them).
      // A marker whose statement hard-crashed would pin its dirs
      // forever, so one older than the staging TTL (default 24h — no
      // live statement runs that long) is resolved here: if ANY of its
      // dirs is referenced by a retained manifest the commit landed
      // (marker cleanup alone crashed — drop just the marker), else
      // the whole adoption is dead and dirs fall through to the
      // ordinary unreferenced-dir sweep below.
      fs.listStatus(new Path(root)).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("_rtas_adopting-"))
        .flatMap { st =>
          val dirs = smallFileText(fs, st.getPath).toSeq
            .flatMap(_.linesIterator.filter(_.nonEmpty))
          if (dryRun || st.getModificationTime >=
              System.currentTimeMillis() - stagingTtlMs(spark)) dirs
          else {
            fs.delete(st.getPath, false)
            if (dirs.exists(d => referenced.exists(_.startsWith(d + "/")))) dirs
            else {
              // the whole adoption is dead (no retained manifest names
              // any of its dirs). Its dirs sit at latest+1 — ABOVE the
              // in-flight-writer guard of the sweep below, where they
              // would otherwise leak forever on a quiescent table — so
              // reclaim them here, directly
              dirs.foreach(d => fs.delete(new Path(root, d), true))
              Nil
            }
          }
        }
    // checkpoint-claim hygiene: a claimer that crashed holding
    // `claim-cp-<v>` leaves the file forever if that version is never
    // checkpointed again, and a crashed attempt leaves its private
    // `cp-<v>.tmp-<token>` dir. Both are pure work-dedup artifacts
    // (correctness rides on the atomic publish rename), so sweeping an
    // aged one is always safe — worst case a live writer redoes a
    // seconds-long metadata write.
    if (!dryRun && fs.exists(commitsDir(root))) {
      fs.listStatus(commitsDir(root)).toSeq
        .filter { st =>
          val n = st.getPath.getName
          (n.startsWith("claim-cp-") || (n.startsWith("cp-") && n.contains(".tmp-"))) &&
            st.getModificationTime < System.currentTimeMillis() - ReclaimGraceMs
        }
        .foreach(st => fs.delete(st.getPath, true): Unit)
      // floor-marker hygiene: sub-max `_floorv-` files are subsumed by
      // the max (readers take the max, so removing a lower value can
      // never lower the observed floor); a crashed sweep's aged intent
      // is already ignored by readers (> ReclaimGraceMs) and reclaimed
      // here.
      val floorSts = fs.listStatus(commitsDir(root)).toSeq
      val floorVals = floorSts.map(_.getPath.getName)
        .filter(_.startsWith(FloorValuePrefix))
        .flatMap(_.stripPrefix(FloorValuePrefix).toLongOption)
      val floorMax = floorVals.maxOption.getOrElse(-1L)
      floorSts.foreach { st =>
        val n = st.getPath.getName
        val subMaxDurable = n.startsWith(FloorValuePrefix) &&
          n.stripPrefix(FloorValuePrefix).toLongOption.exists(_ < floorMax)
        val agedIntent = n.startsWith(FloorIntentPrefix) &&
          st.getModificationTime < System.currentTimeMillis() - ReclaimGraceMs
        if (subMaxDurable || agedIntent)
          try { fs.delete(st.getPath, false): Unit }
          catch { case _: java.io.IOException => () }
      }
    }
    // write-ahead contract bundles / pending-ledger copies: reclaim an
    // aged one only when it is demonstrably DEAD — its version's swap
    // completed (stamp >= v) or its attempt never won (terminator
    // token differs). A crashed WINNER's bundle is the roll-forward
    // recipe [[awaitContractQuiescence]] heals from; reclaiming it
    // would downgrade that self-heal to a manual-repair timeout.
    if (!dryRun) {
      val stamped = readProps(spark, root)
        .get("graft.schema.epoch").map(_.toLong).getOrElse(-1L)
      fs.listStatus(new Path(root)).toSeq
        .filter { st =>
          val n = st.getPath.getName
          (n.startsWith("_pending_contracts-") || n.startsWith("_pending_identity-")) &&
            st.getModificationTime <
              System.currentTimeMillis() - stagingTtlMs(spark)
        }
        .foreach { st =>
          val parts = st.getPath.getName.split("-", 3)
          if (parts.length == 3 && parts(1).forall(_.isDigit)) {
            val v = parts(1).toLong
            // strict terminator read: a TRANSIENT read error (Left)
            // says nothing about disk state and must KEEP the bundle —
            // it may be the only heal recipe for a crashed winner;
            // Right(None) (manifest gone/unterminated past TTL) and a
            // definitive different token are genuinely dead attempts
            val dead = stamped >= v ||
              readTerminatorEither(fs, manifestPath(root, v))
                .exists(!_.contains(parts(2)))
            if (dead) fs.delete(st.getPath, true): Unit
          }
        }
    }
    // Dirs some manifest (kept OR dropped) has EVER referenced were
    // written by a COMPLETED commit — superseded ones reclaim
    // immediately. A dir NO manifest references is an attempt dir, and
    // a young one may belong to a writer racing for a version a rival
    // JUST WON: its vNum then equals `latest`, so the version-based
    // in-flight guard below does not protect it, and sweeping it now
    // rips data files out from under the loser's own census/stats read
    // (found live by StreamChaosBlast: a same-version loser's insert
    // died on FileNotFound of its own attempt file mid-write). Such
    // dirs reclaim only past the torn-claim grace — a genuinely
    // crashed attempt ages out; a live one keeps a fresh mtime.
    val committedDirs: Set[String] = vs.flatMap { v =>
      try readManifest(spark, root, v).buckets.values
        .flatMap(e => (e.dir +: e.tombstones).map(_.split("/", 2)(0))).toSeq
      catch { case _: Exception => Seq.empty } // racing vacuum took it: age-gate below
    }.toSet
    fs.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .filterNot(st => publishing.contains(st.getPath.getName))
      .foreach { st =>
        val dirName = st.getPath.getName // v=<n>-<token>
        val vNum = dirName.stripPrefix("v=").takeWhile(_.isDigit).toLong
        // a RIVAL vacuum can reclaim the whole dir between the outer
        // root listing and this per-dir listing — already-gone is the
        // outcome this sweep wanted, not an error
        val bucketDirs =
          (try fs.listStatus(st.getPath).toSeq
           catch { case _: java.io.FileNotFoundException => Seq.empty })
            .filter(_.getPath.getName.startsWith(s"$BucketCol="))
        val dead = bucketDirs.filterNot(b =>
          referenced(s"$dirName/${b.getPath.getName}"))
        // an in-flight writer's dir (version above latest) is not ours
        // to touch; at or below latest, never-committed dirs must also
        // age past the grace (same-version loser still writing)
        val reclaimable = committedDirs.contains(dirName) ||
          st.getModificationTime < System.currentTimeMillis() - ReclaimGraceMs
        if (vNum <= latest && reclaimable) {
          if (dead.size == bucketDirs.size) deleted += st.getPath
          else dead.foreach(b => deleted += b.getPath)
        }
      }
    if (!dryRun) deleted.foreach(p => fs.delete(p, true))
    deleted.size
  }

  // ------------------------------------------------------------------
  // streaming integration
  // ------------------------------------------------------------------

  /** Continuous SCD1 upsert with snapshot isolation: each micro-batch
    * commits one atomic version (vs [[graft.streaming.StreamPipeline
    * .scd1UpsertSink]], same incremental cost but readers can observe
    * a torn multi-bucket overwrite there; here they cannot).
    */
  def scd1SnapshotSink(stream: DataFrame, root: String, checkpointDir: String,
                       keys: Seq[String], orderBy: Seq[Column],
                       numBuckets: Int = 16,
                       statsCols: Seq[String] = Nil,
                       deleteCol: Option[String] = None): StreamingQuery =
    snapshotSink(stream, root, checkpointDir, keys, numBuckets, statsCols)(identity,
      Scd1.latestByKey(_, keys, orderBy, deleteCol),
      Scd1.merge(_, _, keys, orderBy, deleteCol))

  /** Streaming materialized view: maintain a grouped aggregate
    * incrementally under snapshot isolation. Each micro-batch is
    * pre-aggregated to partials, then merged with the CURRENT partials
    * of only the touched group-key buckets by re-aggregating — valid
    * for algebraic aggregates (sum/count/min/max), the same
    * partial-merge law q30 proves against a full recompute. Per batch:
    * O(delta + touched buckets), one atomic version. A replayed batch
    * re-SUMMED into the partials would corrupt the aggregate
    * permanently (unlike the idempotent SCD merges); the manifest txn
    * makes the redelivery a no-op.
    *
    * `aggs` must map partial columns to themselves (e.g. sum("n") as
    * "n") so merge(partials, partials) == partials of the union.
    */
  def aggSnapshotSink(stream: DataFrame, root: String, checkpointDir: String,
                      groupCols: Seq[String], aggs: Seq[Column],
                      numBuckets: Int = 16): StreamingQuery = {
    def reAgg(df: DataFrame): DataFrame =
      df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    snapshotSink(stream, root, checkpointDir, groupCols, numBuckets, Nil)(reAgg,
      identity, (cur, delta) => reAgg(cur.unionByName(delta)))
  }

  /** Continuous SCD2 dim maintenance with snapshot isolation: the
    * incremental [[Scd2.applyDelta]] fold (delta-keys-only
    * re-derivation, redelivery-idempotent) committing one atomic
    * version per micro-batch.
    */
  def scd2SnapshotSink(stream: DataFrame, root: String, checkpointDir: String,
                       keys: Seq[String], ts: String, tiebreak: String,
                       numBuckets: Int = 16,
                       statsCols: Seq[String] = Nil,
                       deleteCol: Option[String] = None): StreamingQuery =
    snapshotSink(stream, root, checkpointDir, keys, numBuckets, statsCols)(identity,
      Scd2.buildHistory(_, keys, ts, tiebreak, deleteCol),
      Scd2.applyDelta(_, _, keys, ts, tiebreak, deleteCol))

  /** The `foreachBatch` body every snapshot sink shares. A non-empty
    * micro-batch becomes `delta(batch)`; the first one creates the
    * table from `first(delta)`, every later one folds into the current
    * version through [[commitDelta]] with `merge`. Each commit carries
    * the (checkpoint, batch id) txn, so a redelivered batch is a no-op.
    */
  private def snapshotSink(stream: DataFrame, root: String, checkpointDir: String,
                           keys: Seq[String], numBuckets: Int, statsCols: Seq[String])(
      delta: DataFrame => DataFrame, first: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val txn = Some(checkpointDir -> batchId)
        if (!batch.isEmpty) {
          val d = delta(batch.toDF())
          if (latestVersion(spark, root).isEmpty)
            init(spark, root, first(d), keys, numBuckets, statsCols, txn)
          else commitDelta(spark, root, d, keys, merge, txn = txn)
        }: Unit
      }
      .start()
}
