package graft.store

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

import Claims.{arbitratedCreate, supersededBy}
import ManifestLog.{ManifestFormat, RawManifest, cacheGet, cachePut, checkpointDir, headerField,
  parseManifestFile, readCheckpoint, readTerminator, readTerminatorEither, writeCheckpoint}
import Commit.{commitOrRebase, head, occ, publish, publishSwap, rebased, refuseLostGeneration,
  refuseStale, writeManifestAtomic}
import Footers.{mergedFooterSchema, mergedSchemaRead, tagStatsCols, writeVersionData,
  writtenEntries}
import Identity.{identityFrontierOf, identitySpecs, syncIdentityFrontier}
import Contracts.{ContractBundle, archivedFileFor, archivedPropsFor, archivedSchemaFor,
  awaitContractQuiescence}

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
  * `Commit.writeManifestAtomic`): readers either see the previous
  * complete snapshot or the new complete snapshot, never a torn mix —
  * which plain dynamic-partition-overwrite cannot guarantee across
  * buckets.
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
  *
  * This object holds the public verbs and types; the machinery behind
  * them lives in one file per seam of `graft.store`:
  *  - `ManifestLog` — the format-5 manifest codec, terminator reads,
  *    the manifest cache and columnar checkpoints;
  *  - `Commit` — the OCC loop, publish/rebase, stale and lost-generation
  *    refusals, the manifest commit and the contracts lock;
  *  - `Claims` — exclusive-create arbitration and the arbiter's zombie
  *    fence, the primitive every claim in the store rests on;
  *  - `Footers` — the data write of a commit and the manifest entries
  *    its parquet footers yield, plus the footer-schema reader;
  *  - `Breadcrumbs` — the small non-manifest metadata files, the one
  *    line reader and the one atomic publisher;
  *  - `Contracts` — RTAS adoption, the contract swap and epochs;
  *  - `Identity` — identity declarations and the block ledger.
  */
object SnapshotStore {

  /** Same stable hash-bucket column the streaming sinks use. */
  val BucketCol = "_graft_bucket"

  /** How old a terminator-less manifest must be before a competing
    * committer may reclaim (delete + re-create) its version — the
    * lease protecting a LIVE writer mid-manifest from having its file
    * deleted under it (and a writer that just reported success from a
    * stale racer's delete). Manifest writes are metadata-sized
    * (milliseconds); 10 minutes covers any real GC pause or FS stall.
    */
  private[store] val ReclaimGraceMs: Long =
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

  private[store] def fileSystem(spark: SparkSession, root: String): FileSystem =
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

  private[store] def isObjectStore(fs: FileSystem): Boolean =
    ObjectStoreSchemes.contains(schemeOf(fs))

  /** `fs`'s scheme. Some FileSystem impls (test doubles, older
    * adapters) leave `getScheme` unimplemented — the authority URI
    * always answers.
    */
  private[store] def schemeOf(fs: FileSystem): String =
    try fs.getScheme
    catch { case _: UnsupportedOperationException => fs.getUri.getScheme }

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

  private[store] def commitsDir(root: String) = new Path(root, "_commits")
  private[store] def manifestPath(root: String, v: Long) =
    new Path(commitsDir(root), f"$v%020d")

  /** Data directory for ONE commit attempt: `v=<n>-<token>` with a
    * writer-unique token. Two racers for version n therefore write to
    * DIFFERENT directories — the loser's files can neither clobber the
    * winner's (both used mode Overwrite on "their" dir) nor be
    * confused with them at cleanup: a losing attempt deletes exactly
    * its own directory, never data a just-committed manifest
    * references.
    */
  private[store] def attemptDir(v: Long, token: String) = s"v=$v-$token"

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

  private[store] def newToken(): String = UUID.randomUUID().toString.take(8)

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

  /** Free-form table properties a SQL catalog records on the TABLE
    * itself (`<root>/_props`, one tab-separated `key<TAB>value` pair
    * per line). Unlike session confs these travel with the table, so a
    * contract recorded here binds EVERY writer — the store enforces
    * the one property it understands: `dml.mode=delta` declares the
    * not-null-merge-key contract Spark's delta row-level rewrites
    * require, and `Footers.writeVersionData` rejects null key values on
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
    // atomic publish: a concurrent reader (writeVersionData checking
    // dml.mode / CHECK constraints) must never observe a truncated
    // file — fs.create(overwrite) truncates first, which would
    // silently disable write-enforced contracts for the racing commit
    Breadcrumbs.publishProps(spark, root, props)
  }

  /** The table's `_props`; empty when there are none (a concurrent
    * [[writeProps]] of no properties deletes the file).
    */
  def readProps(spark: SparkSession, root: String): Map[String, String] =
    Breadcrumbs.props(fileSystem(spark, root), root)

  /** The contract-swap stamp (`graft.schema.epoch` in `_props`): the
    * version of the table's last REPLACE or cross-epoch restore, -1
    * when it never had one.
    */
  private[graft] def schemaEpoch(spark: SparkSession, root: String): Long =
    readProps(spark, root).get("graft.schema.epoch").map(_.toLong).getOrElse(-1L)

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

  // ------------------------------------------------------------------
  // column statistics (`_colstats` breadcrumb — ANALYZE output)
  // ------------------------------------------------------------------

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
    Breadcrumbs.publishColStats(spark, root, result)
    result
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
      Breadcrumbs.publishColStats(spark, root, ts.copy(version = toV))
    }

  /** The persisted ANALYZE result, if any (callers decide staleness —
    * [[TableColStats.version]] vs the manifest they plan against).
    */
  def readColStats(spark: SparkSession, root: String): Option[TableColStats] =
    Breadcrumbs.colStats(fileSystem(spark, root), root)

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
  def commitTimeMillis(spark: SparkSession, root: String, v: Long): Long =
    headerField(fileSystem(spark, root), root, v, "ts").map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"manifest for version $v at $root has no ts: header line; this " +
          s"reader understands format $ManifestFormat only — refusing to misread it"))

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

  /** The table state AT version `v`: walk back through delta manifests
    * to the nearest full base — a columnar checkpoint, a cached
    * reconstruction, or a full manifest (v0 at worst) — then fold the
    * deltas forward. Cost is O(deltas since the last checkpoint), i.e.
    * bounded by `ManifestLog.checkpointInterval`, independent of table
    * size and of total history length.
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

  /** Write a full-state checkpoint of the LATEST version on demand —
    * the manual form of the every-`ManifestLog.checkpointInterval`
    * cadence, for an operator who just landed a long delta chain (bulk backfill,
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
    * `keyValues` are tuples in `keys` order. The key types come from one
    * bucket's footer and the tuples are routed on the driver with
    * `bucketOf`; building the frame runs no Spark job.
    */
  def readForKeys(spark: SparkSession, root: String, keys: Seq[String],
                  keyValues: Seq[Seq[Any]]): DataFrame = {
    val m = readManifest(spark, root, latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no committed version at $root")))
    val schema = m.buckets.values.headOption
      .flatMap(e => mergedFooterSchema(spark, Seq(dataPath(root, e.dir).toString)))
      .getOrElse(read(spark, root).schema)
    val keySchema = org.apache.spark.sql.types.StructType(keys.map(k => schema(k)))
    val buckets = keyValues.map(t => bucketOf(t.zip(keySchema.fields).map {
      case (v, f) => Literal.create(v, f.dataType) }, m.numBuckets)).toSet
    val probe = spark.createDataFrame(
      spark.sparkContext.parallelize(keyValues.map(Row.fromSeq), 1), keySchema)
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
      case _ => Breadcrumbs.declaredSchema(spark, root)
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
    *   `Commit.refuseLostGeneration`)
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
    * subtract sidecars at scan time: the library read path by an
    * anti-join ([[antiJoinTombstones]]), a connector scan by reading
    * the sidecars of only its own buckets, once, on the driver with no
    * Spark job (`GraftScan.tombstones`); the next
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
        if (Breadcrumbs.cloneSourceOf(fs, root).isEmpty) {
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
        // protocol; see `Contracts.awaitContractQuiescence`); if the commit
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
          archSchema = Breadcrumbs.declaredSchemaText(fs, root),
          archProps = liveProps,
          liveSchema = archivedFileFor(fs, root, "_schema_upto_", toVersion)
            .flatMap(n => Breadcrumbs.text(fs, new Path(root, n))),
          livePropsFinal = archivedPropsFor(spark, root, toVersion).getOrElse(Map.empty) +
            ("graft.schema.epoch" -> a.v.toString),
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
    Breadcrumbs.markCloneSource(spark, dstRoot, srcAbs.toString)
    0L
  }

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
    Breadcrumbs.text(fs, p).map(_.trim).filter(_.nonEmpty).getOrElse {
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
        Breadcrumbs.text(fs, p).map(_.trim).filter(_.nonEmpty)
      val deadline = System.currentTimeMillis() + 2000L
      while (read.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(20)
        read = Breadcrumbs.text(fs, p).map(_.trim).filter(_.nonEmpty)
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
    Breadcrumbs.text(fs, new Path(root, TableIdFile)).map(_.trim).filter(_.nonEmpty)
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
    Breadcrumbs.cloneSourceOf(fs, root).foreach(src =>
      ChangeFeed.dropConsumer(spark, src, cloneConsumerId(spark, root)))
    Breadcrumbs.clearCloneSource(fs, root)
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
    Breadcrumbs.cloneSourceOf(fs, newRoot).foreach { src =>
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
    Breadcrumbs.writeBranchBase(spark, br, base, newToken())
    base
  }

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
        (n, Breadcrumbs.branchBase(fs, br).getOrElse(-1L),
          latestVersion(spark, br).getOrElse(-1L))
      }
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
    if (expectInstance.nonEmpty && Breadcrumbs.branchInstance(fs, br) != expectInstance)
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
    val instance = Breadcrumbs.branchInstance(fs, br)
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
    val base = Breadcrumbs.branchBase(fs, br).getOrElse(
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
        Breadcrumbs.declaredSchemaText(fs, root) != Breadcrumbs.declaredSchemaText(fs, br))
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
    val lines = Breadcrumbs.text(fs, marker).getOrElse(return None).linesIterator.toList
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
  // test interleave hooks (specs stage races and crashes through these;
  // production leaves them no-ops)
  // ------------------------------------------------------------------

  /** Test-only interleave hook: invoked by `Contracts.adoptAsReplace` and a
    * cross-epoch [[restore]] right after their manifest commit wins
    * and before the contract swap — the window a racing swap must
    * serialize behind. A hook that THROWS simulates a committer
    * crashing post-commit, pre-swap (the window
    * `Contracts.executeContractSwap` roll-forward heals).
    */
  @volatile private[graft] var replaceSwapHook: (String, Long) => Unit =
    (_, _) => ()

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

  // ------------------------------------------------------------------
  // contract epochs (the machinery is `Contracts`)
  // ------------------------------------------------------------------

  /** Whether version `v` STARTS a contract epoch (committed by a
    * REPLACE or a cross-epoch restore — its manifest carries the
    * format-5 `epoch:` flag). The flag is a per-commit fact,
    * deliberately not folded through delta/checkpoint reconstruction,
    * and it sits in the manifest HEADER (line 4 at deepest), so this
    * is an O(1)-lines read like [[commitTimeMillis]] (both go through
    * `ManifestLog.headerField`) — `meta_history` calls it per version,
    * and `Contracts.awaitContractQuiescence` scans with it. False for
    * missing or unreadable manifests.
    */
  def isEpochStart(spark: SparkSession, root: String, v: Long): Boolean =
    try headerField(fileSystem(spark, root), root, v, "epoch").contains("1")
    catch { case _: java.io.IOException => false }

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
    // atomic claim (`Claims.arbitratedCreate`): two racing createTag calls
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
    Breadcrumbs.text(fs, tagPath(root, name))
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
        .flatMap(st => Breadcrumbs.text(fs, st.getPath).flatMap(_.trim.toLongOption))
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
          Breadcrumbs.publish(spark, root,
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
                Breadcrumbs.publish(spark, root,
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
        Breadcrumbs.text(fs, new Path(branchRoot(root, n), PublishingMarker))
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
          val dirs = Breadcrumbs.text(fs, st.getPath).toSeq
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
    // recipe `Contracts.awaitContractQuiescence` heals from; reclaiming it
    // would downgrade that self-heal to a manual-repair timeout.
    if (!dryRun) {
      val stamped = schemaEpoch(spark, root)
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
