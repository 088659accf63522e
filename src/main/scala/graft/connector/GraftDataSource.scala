package graft.connector

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDeleteV2, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar => CountStarAgg, Max => MaxAgg, Min => MinAgg}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsOverwriteV2, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{And, BaseRelation, CreatableRelationProvider, DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, InsertableRelation, IsNotNull, LessThan, LessThanOrEqual, RelationProvider, StreamSinkProvider, StreamSourceProvider, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.paths.SparkPath

import graft.store.{Breadcrumbs, Contracts, Footers, Identity, SnapshotStore}
import graft.store.SnapshotStore.Manifest

/** DataSourceV2 connector over [[SnapshotStore]] tables — the piece
  * that turns the storage layer from a Scala-only library into a table
  * ANY Spark session can read: `spark.read.format("graft").load(root)`,
  * `CREATE TEMPORARY VIEW t USING graft OPTIONS (path '...')` + plain
  * SQL, `option("versionAsOf", v)` time travel — the consumption-layer
  * contract the reference exposes through Snowflake tables
  * (`/root/reference/with procedures/final_proc.sql:64-83`, queried
  * directly by BI).
  *
  * Scale design: the scan plans FILES, not directories — filter
  * pushdown maps range/equality predicates on the table's declared
  * stats columns onto [[SnapshotStore.pruneBuckets]] +
  * [[SnapshotStore.pruneFiles]] (manifest metadata only, no file I/O),
  * surviving files are split at `maxPartitionBytes` like Spark's own
  * file scans, and the SAME filters flow into the parquet reader for
  * row-group skipping. Merge-on-read tombstones are applied IN-SCAN:
  * the scan reads the delete sidecars of only the buckets it reads,
  * once, on the driver with no Spark job, and broadcasts the deleted
  * keys (delta-sized by design); each reader drops its bucket's
  * matching rows before they surface — readers see exactly
  * [[SnapshotStore.read]] semantics with no post-scan anti-join.
  * Pushed filters are also reported as residuals,
  * so Spark re-applies them exactly: pruning is an optimization, never
  * a correctness dependency.
  *
  * Streaming: `spark.readStream.format("graft")` tails the table's
  * change feed — see [[GraftChangeFeedSource]] (V1 `Source`: a feed
  * step is a manifest-guided diff JOIN, which plans as a DataFrame,
  * not as file partitions — the same shape as Delta's CDF stream).
  *
  * Writes: `df.write.format("graft")` (keyed upsert / overwrite /
  * create — [[GraftWrite]]) and `df.writeStream.format("graft")`
  * (exactly-once streaming upserts — [[GraftSink]]).
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with StreamSourceProvider with CreatableRelationProvider
    with RelationProvider with StreamSinkProvider {

  override def shortName(): String = "graft"

  // schema comes from the table's own manifest+footers, never the user
  override def supportsExternalMetadata(): Boolean = false

  private def spark: SparkSession = SparkSession.active

  private def isChangeFeed(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists(_.toBoolean)

  /** Missing table → EMPTY schema, not an error: the writer paths
    * (df.write / writeStream creating a new table) resolve this
    * provider as a TableProvider first and only then fall back to the
    * V1 write interfaces — inferSchema throwing would break create-on-
    * first-write. Reads of a missing table still fail with the clear
    * message, at scan planning.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = GraftTable.rootOf(options)
    if (SnapshotStore.latestVersion(spark, root).isEmpty) new StructType()
    else if (isChangeFeed(options)) GraftChangeFeedSource.feedSchema(spark, root)
    else {
      // pin the WHOLE validated resolution for getTable (schema +
      // epoch + instance from one attempt) — see
      // GraftTable.resolutionPins for the window this closes
      val pinned = GraftTable.pinnedVersion(spark, options, root)
      val bound = GraftTable.resolveSchemaBound(spark, root, pinned)
      GraftTable.pinResolution(root, pinned, bound)
      bound.schema
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // a change-feed batch read is a diff JOIN, not a file scan — the
    // returned table deliberately lacks BATCH_READ, which makes the
    // reader fall back to the V1 relation below (whose buildScan can
    // BE a DataFrame plan)
    val feedSchema = schema
    if (isChangeFeed(opts))
      new Table {
        override def name(): String = s"graft-cdf.`${GraftTable.rootOf(opts)}`"
        override def schema(): StructType = feedSchema
        override def capabilities(): java.util.Set[TableCapability] =
          java.util.Collections.emptySet()
      }
    else {
      val root = GraftTable.rootOf(opts)
      val pinned = GraftTable.pinnedVersion(spark, opts, root)
      // bind epoch+instance from inferSchema's OWN validated resolution
      // (the pin); on a miss or a schema mismatch, re-resolve fresh —
      // never pair the handed-back schema with constructor-time stamp
      // reads (the inferSchema->getTable swap window, r17 advice #1).
      // A table with no committed version yet stays unbound: that is
      // the create-on-first-write path and has no identity to bind.
      GraftTable.consumeResolution(root, pinned, schema).orElse {
        if (SnapshotStore.latestVersion(spark, root).isEmpty) None
        else Some(GraftTable.resolveSchemaBound(spark, root, pinned))
      } match {
        case Some(b) =>
          new GraftTable(root, pinned, b.schema,
            boundEpochIn = b.epoch, boundInstanceIn = Some(b.instance))
        case None => new GraftTable(root, pinned, schema)
      }
    }
  }

  /** V1 fallback target for `option("readChangeFeed", "true")` batch
    * reads: the change rows in (`startingVersion` (default -1, i.e.
    * the initial snapshot as inserts; `latest` accepted for symmetry
    * with the stream), `endingVersion`] — Delta's batch CDF shape,
    * SQL-able through a temp view. The default ending version
    * re-resolves to the table's latest PER SCAN (inside buildScan),
    * so a long-lived view keeps observing new commits like the
    * snapshot table does; an explicit `endingVersion` pins.
    */
  override def createRelation(sqlCtx: org.apache.spark.sql.SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    require(parameters.get("readChangeFeed").exists(_.toBoolean),
      "graft V1 relations serve only readChangeFeed batch reads — plain " +
        "snapshot reads go through the DSv2 scan")
    val sp = sqlCtx.sparkSession
    val root = GraftChangeFeedSource.rootOf(parameters)
    val keys = GraftChangeFeedSource.keysOf(parameters)
    def latest: Long = SnapshotStore.latestVersion(sp, root).getOrElse(
      throw new IllegalStateException(s"no committed graft table at $root"))
    val from = parameters.get("startingVersion").map(_.trim) match {
      case Some("latest") => latest
      case Some(v) => v.toLong
      case None => -1L
    }
    val pinnedTo = parameters.get("endingVersion").map(_.trim.toLong)
    // same contract as the streaming source's option: `refresh` turns
    // a range crossing a keys-changing REPLACE into the in-band full
    // refresh (retraction deletes + state inserts) instead of refusing
    val onReplace = parameters.getOrElse("replaceBoundary", "refuse")
    require(onReplace == "refuse" || onReplace == "refresh",
      s"replaceBoundary must be 'refuse' (default) or 'refresh', got '$onReplace'")
    // instance + epoch binding (r17, the batch-alias audit's CDF leg):
    // a HELD CDF relation re-resolves `latest` per scan, so across a
    // DROP+re-CREATE the caller's version offsets silently alias the
    // successor's restarted numbering, and across a REPLACE the
    // relation's schema (fixed at creation) silently null-fills the
    // new epoch's change rows. Both refuse at scan with the documented
    // re-create recipe; plain commits change neither binding, so the
    // documented long-lived-view pattern keeps observing new commits.
    val boundInstance =
      try SnapshotStore.tableInstanceIdIfAny(sp, root)
      catch { case _: Exception => None }
    val boundStamp =
      try SnapshotStore.schemaEpoch(sp, root)
      catch { case _: Exception => -1L }
    new BaseRelation with TableScan {
      override def sqlContext: org.apache.spark.sql.SQLContext = sqlCtx
      override val schema: StructType = GraftChangeFeedSource.feedSchema(sp, root)
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
        // fence re-reads REFUSE on store errors instead of assuming
        // "unchanged" (r17 advice #4) — same rule as GraftTable's
        // fenceRead; an unbound side stays unfenced (nothing to
        // mis-compare)
        def loud[A](what: String)(read: => A): A =
          try read
          catch {
            case e: Exception =>
              throw new java.util.ConcurrentModificationException(
                s"could not re-read the table's $what at $root to verify " +
                  s"this change-feed relation's binding " +
                  s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
                  "refusing the scan rather than assuming it unchanged; re-run")
          }
        val curInstance =
          if (boundInstance.isEmpty)
            try SnapshotStore.tableInstanceIdIfAny(sp, root)
            catch { case _: Exception => None }
          else loud("instance id")(SnapshotStore.tableInstanceIdIfAny(sp, root))
        (boundInstance, curInstance) match {
          case (Some(a), Some(b)) if a != b =>
            throw new java.util.ConcurrentModificationException(
              s"the table at $root was dropped and re-created since this " +
                s"change-feed relation was resolved (instance $a -> $b): " +
                "its version offsets would silently alias the new " +
                "history — re-create the relation and re-read")
          case _ => ()
        }
        val curStamp = loud("contract-swap stamp")(SnapshotStore.schemaEpoch(sp, root))
        if (curStamp != boundStamp)
          throw new java.util.ConcurrentModificationException(
            s"the table at $root crossed a contract swap (epoch " +
              s"$boundStamp -> $curStamp) since this change-feed relation " +
              "was resolved — its fixed schema would silently null-fill " +
              "the new epoch's change rows; re-create the relation")
        val to = pinnedTo.getOrElse(latest)
        if (from >= to) return sp.sparkContext.emptyRDD
        val changes =
          if (onReplace == "refresh" &&
              graft.store.ChangeFeed.crossesReplaceBoundary(sp, root, from, to))
            graft.store.ChangeFeed.fullRefreshChanges(sp, root, from, to)
          else graft.store.ChangeFeed.readChanges(sp, root, keys, from, to)
        // align to the declared (latest) schema: a range that predates
        // additive evolution lacks the newer columns — null-fill them,
        // exactly like the snapshot read path does for old buckets.
        // Names go through quoted resolution (a literal dot in a
        // column name is not field access).
        val aligned = schema.fields.toSeq.map { f =>
          if (changes.columns.contains(f.name)) changes(f.name)
          else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
        }
        changes.select(aligned: _*).rdd
      }
    }
  }

  // ------------------------------------------------------------------
  // V1 streaming source (change feed) — see GraftChangeFeedSource
  // ------------------------------------------------------------------

  /** One schema resolution per query start: [[sourceSchema]] feeds the
    * StreamingExecutionRelation the engine asserts EVERY batch's
    * attributes against, and [[createSource]] must hand those SAME
    * fields to the running source — re-resolving there lets a
    * concurrent REPLACE contract swap land between the two calls, and
    * the engine then kills the query with an internal
    * `Invalid batch: ... != ...` assertion instead of the documented
    * boundary shape (found live by StreamChaosSpec, seed 15: a 10 ms
    * window, hit twice in two runs). Spark instantiates SEPARATE
    * provider instances for the two calls (measured), so the pin lives
    * in the [[GraftChangeFeedSource]] companion, keyed by root: every
    * `readStream.load()` pins, its `start()` CONSUMES the pin (no
    * JVM-lifetime growth), a second load() colliding with a pending
    * DIFFERENT-shape pin is refused loudly, and the start persists its
    * schema into the query's checkpoint so restarts — stale DataFrame,
    * fresh JVM — recover the query's own schema instead of resolving
    * fresh. Full lifecycle + the measured same-arity silent-mis-bind
    * hazard this closes: [[GraftChangeFeedSource.schemaPins]];
    * spec: ChangeFeedSchemaPinSpec.
    */
  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val root = GraftChangeFeedSource.rootOf(parameters)
    val resolved = GraftChangeFeedSource.feedSchema(sqlContext.sparkSession, root)
    GraftChangeFeedSource.pinSchema(root, resolved)
    (shortName(), resolved)
  }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
                            metadataPath: String, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val root = GraftChangeFeedSource.rootOf(parameters)
    // consume the pin FIRST: a start that goes on to refuse (severed
    // lineage below) must still retire its load()'s pin, or the entry
    // leaks for the abandon window and trips rival loads
    val pinned = GraftChangeFeedSource.pinnedSchemaFor(root)
    // refuse resuming across a dropped-and-re-created table instance
    // (checkpointed offsets would alias the new history's versions)
    GraftChangeFeedSource.verifyStartIdentity(sqlContext.sparkSession,
      Some(metadataPath), root)
    // pin if pending, else the checkpoint-persisted schema (restart),
    // else fresh — see GraftChangeFeedSource.startSchema
    val eff = GraftChangeFeedSource.startSchema(sqlContext.sparkSession,
      Some(metadataPath), root, pinned)
    GraftChangeFeedSource(sqlContext.sparkSession, parameters, Some(metadataPath),
      pinnedSchema = Some(eff))
  }

  // ------------------------------------------------------------------
  // V1 write paths — see GraftWrite / GraftSink
  // ------------------------------------------------------------------

  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
      : org.apache.spark.sql.sources.BaseRelation = {
    GraftWrite.save(sqlContext.sparkSession, mode, parameters, data.toDF())
    GraftWrite.relation(sqlContext, parameters)
  }

  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink =
    GraftSinkProvider.createSink(sqlContext, parameters, outputMode)
}

object GraftTable {
  val VersionAsOf = "versionAsOf"
  val TimestampAsOf = "timestampAsOf"

  /** Time-travel pin from read options: `versionAsOf` wins; else
    * `timestampAsOf` (epoch millis, or an ISO-8601 / `yyyy-MM-dd
    * HH:mm:ss` instant) resolves to the newest version committed at or
    * before it via the manifests' in-commit timestamps — the same rule
    * the catalog's `TIMESTAMP AS OF` applies.
    */
  private[connector] def pinnedVersion(spark: SparkSession,
                                       options: CaseInsensitiveStringMap,
                                       root: String): Option[Long] =
    Option(options.get(VersionAsOf)).map(_.toLong).orElse(
      // `option("tagAsOf", name)`: the path-door read of a named tag
      Option(options.get("tagAsOf")).map { name =>
        SnapshotStore.tagVersion(spark, root, name).getOrElse(
          throw new IllegalArgumentException(s"no tag '$name' at $root"))
      }).orElse(
      Option(options.get(TimestampAsOf)).map { raw =>
        val millis = raw.trim match {
          case ms if ms.nonEmpty && ms.forall(_.isDigit) => ms.toLong
          case s =>
            val norm = s.replace("T", " ")
            val full = if (norm.length == 10) norm + " 00:00:00" else norm
            java.sql.Timestamp.valueOf(full).getTime
        }
        SnapshotStore.versionAt(spark, root, millis).getOrElse(
          throw new IllegalArgumentException(
            s"no graft version at $root committed at or before $raw"))
      })

  /** Per-root resolution handoff for the PATH-BASED read door (r17
    * advice #1, SURVEY §2c "Batch EPOCH fence" residual): Spark's
    * TableProvider protocol resolves the schema in `inferSchema` and
    * constructs the table in a SEPARATE `getTable` call, handing the
    * schema back as a parameter — so the epoch/instance stamps a
    * GraftTable must bind cannot be read at construction (a REPLACE or
    * DROP+re-CREATE completing between the two calls would pair the
    * NEW stamps with the OLD resolution's schema, and the fences would
    * then pass at every scan: the seed-1001 bug class, re-opened on
    * the path door). inferSchema therefore PINS its whole validated
    * [[GraftTable.Bound]] here (keyed by root + version pin, like the
    * feed-schema pins), and getTable CONSUMES the pin — accepting it
    * only when the schema Spark handed back IS the pinned resolution's
    * (a mismatch means a rival load consumed first, or Spark replayed
    * an older schema: re-resolve fresh so stamp and schema still come
    * from one validated attempt). Entries are overwritten per key and
    * removed at consume; the only non-consuming caller is the V1
    * write-path provider resolution (no version pin), so residency is
    * bounded by distinct roots, not by call volume.
    */
  private val resolutionPins =
    new java.util.concurrent.ConcurrentHashMap[String, Bound]()
  private def pinKey(root: String, v: Option[Long]): String =
    root + "@" + v.getOrElse(-1L)
  private[connector] def pinResolution(root: String, v: Option[Long],
                                       b: Bound): Unit =
    resolutionPins.put(pinKey(root, v), b): Unit
  private[connector] def consumeResolution(root: String, v: Option[Long],
                                           schema: StructType): Option[Bound] =
    Option(resolutionPins.remove(pinKey(root, v))).filter(_.schema == schema)

  private[connector] def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft reads need a table root: spark.read.format(\"graft\").load(<root>) " +
        "or OPTIONS (path '<root>')")
    // `option("branch", name)`: read/write the named write-audit-publish
    // branch instead of main (SnapshotStore.createBranch creates one)
    Option(options.get("branch")).filter(_.nonEmpty)
      .fold(p)(SnapshotStore.branchRoot(p, _))
  }

  private[connector] def manifestAt(spark: SparkSession, root: String,
                                    versionAsOf: Option[Long]): Manifest = {
    val v = versionAsOf.getOrElse(SnapshotStore.latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no committed graft table at $root")))
    SnapshotStore.readManifest(spark, root, v)
  }

  /** Table schema = merged footer schema of the snapshot's CURRENT
    * dirs (spans additive evolution exactly like the library read
    * path; the bucket column is layout metadata and never appears —
    * data files don't contain it). A table with NO data yet (catalog
    * CREATE TABLE before its first INSERT) resolves from the `_schema`
    * breadcrumb the catalog wrote — once data exists, footers win.
    */
  private[connector] def resolveSchema(spark: SparkSession, root: String,
                                       versionAsOf: Option[Long],
                                       failOnDegraded: Boolean = false): StructType =
    resolveSchemaBound(spark, root, versionAsOf, failOnDegraded).schema

  /** One schema resolution with the identity facts a relation must
    * bind for its fences, all read under the SAME validated attempt:
    * the `graft.schema.epoch` stamp (-1 = no swap ever) and the
    * `_table_id` instance id (None = never minted, pre-r17 table).
    */
  private[connector] final case class Bound(schema: StructType, epoch: Long,
                                            instance: Option[String])

  /** Test-only seam: invoked between an attempt's successful schema
    * reads and its closing instance re-read, so a spec can land a
    * DROP+re-CREATE inside the exact window the instance bracket
    * exists to detect (schema already read under the predecessor, id
    * about to be read under the successor).
    */
  @volatile private[connector] var resolutionRaceHook: String => Unit = _ => ()

  /** [[resolveSchema]] plus the `graft.schema.epoch` stamp read INSIDE
    * the successful attempt (-1 = no swap ever) — the value a relation
    * must bind for its epoch fence. Binding a stamp read AFTER the
    * resolution returned left a skew window where a swap completing in
    * between paired the NEW stamp with the OLD epoch's schema, letting
    * a held relation's scan pass the fence and silently mis-bind
    * (found by the r17 ChaosBlast held-relation op at seed 1001).
    *
    * The table INSTANCE id is bracketed the same way (r17 advice #2):
    * read before the attempt's schema reads and re-read after its
    * validation — a DROP+re-CREATE completing mid-attempt would
    * otherwise bind the SUCCESSOR's `_table_id` to the PREDECESSOR's
    * schema/version pin, and the instance fence would then pass at
    * every scan (the epoch fence can't catch it: a fresh table has no
    * stamp, -1 on both sides). Any movement between the two reads is
    * instability — retry like a contract swap.
    */
  private[connector] def resolveSchemaBound(spark: SparkSession, root: String,
                                       versionAsOf: Option[Long],
                                       failOnDegraded: Boolean = false): Bound = {
    // Stability-validated resolution: the `_schema` breadcrumb, the
    // epoch stamp and the manifest are separate files read at
    // different instants, so a REPLACE/restore contract swap racing
    // this method can pair one epoch's breadcrumb with another epoch's
    // footers — and a writer that resolves such a union PERSISTS it
    // into its data files (found by the R15.2 widened chaos
    // vocabulary: a mid-swap INSERT committed a parquet file carrying
    // BOTH epochs' columns). Each attempt validates that no swap moved
    // across its reads and retries on instability (a live swap
    // completes in milliseconds); after persistent churn it resolves
    // from footers alone — conservative but never a cross-epoch union.
    //
    // Degradation is never silent (r15 advice #4): footers-only drops
    // ALTER-declared breadcrumb columns, CURRENT_DEFAULT metadata and
    // delta-key non-null marking — safe for a READ (transiently stale
    // columns), dangerous for a WRITE (an INSERT planned without a
    // just-added column persists its absence). The fallback logs a
    // warning and records the root in [[resolutionDegraded]]; write
    // builders refuse while the root's last resolution was degraded,
    // and `failOnDegraded` callers (ALTER, whose result is itself
    // persisted) fail loudly instead of degrading.
    var attempt = 0
    while (attempt < 8) {
      attempt += 1
      val inst0 = instanceProbe(spark, root)
      resolveSchemaOnce(spark, root, versionAsOf, footersOnly = false) match {
        case Some((schema, epoch)) =>
          resolutionRaceHook(root)
          val inst1 = instanceProbe(spark, root)
          if (inst0 == inst1) {
            degradedResolutions.remove(root): Unit
            return Bound(schema, epoch, inst1)
          }
          // the instance moved across this attempt's reads — a
          // DROP+re-CREATE raced the resolution; the schema/stamp just
          // read can't be attributed to either instance. Retry.
          Thread.sleep(5L * attempt)
        case None => Thread.sleep(5L * attempt)
      }
    }
    if (failOnDegraded)
      throw new java.util.ConcurrentModificationException(
        s"schema resolution at $root stayed unstable across 8 attempts " +
          "(sustained REPLACE/restore contract churn) — re-run this " +
          "statement when the churn subsides")
    log.warn("graft: schema resolution at {} degraded to footers-only " +
      "after 8 unstable attempts (sustained contract churn) — " +
      "ALTER-declared columns, defaults and delta-key non-null marking " +
      "are absent from this resolution; writes against it are refused",
      root)
    degradedResolutions.put(root, System.currentTimeMillis()): Unit
    val inst0 = instanceProbe(spark, root)
    val (schema, epoch) =
      resolveSchemaOnce(spark, root, versionAsOf, footersOnly = true).get
    val inst1 = instanceProbe(spark, root)
    if (inst0 != inst1)
      throw new java.util.ConcurrentModificationException(
        s"the table at $root was dropped and re-created while its schema " +
          "was being resolved (instance " +
          s"${inst0.getOrElse("<unminted>")} -> ${inst1.getOrElse("<unminted>")})" +
          " — re-run this statement")
    Bound(schema, epoch, inst1)
  }

  /** Read-only instance probe for the resolution bracket: a read
    * failure is indeterminate (None — same posture as an unminted
    * pre-r17 table), never an error; two failures on one attempt
    * compare equal, which only WIDENS the fence-disabled case the
    * unminted posture already documents.
    */
  private def instanceProbe(spark: SparkSession, root: String): Option[String] =
    try SnapshotStore.tableInstanceIdIfAny(spark, root)
    catch { case _: Exception => None }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.connector.GraftTable")

  /** Roots whose LAST resolution degraded to footers-only, with the
    * degradation instant. An entry is cleared by the next stable
    * resolution of the root (every statement re-resolves, so this
    * self-heals) and ignored after 10 minutes (no JVM-lifetime
    * refusals from a root nothing resolves again).
    */
  private val degradedResolutions =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[connector] def resolutionDegraded(root: String): Boolean =
    Option(degradedResolutions.get(root))
      .exists(t => System.currentTimeMillis() - t <= 600000L)

  /** WRITE-path gate (r15 advice #4): persisting from a degraded
    * (footers-only) resolution can plan an INSERT or rewrite without a
    * just-ALTERed column or its default — for a writer that is data
    * loss, not staleness. Refuse loudly; the next stable resolution
    * clears the gate.
    */
  private[connector] def refuseDegradedWrite(root: String): Unit =
    if (resolutionDegraded(root))
      throw new java.util.ConcurrentModificationException(
        s"refusing to plan a write against $root: its last schema " +
          "resolution degraded to footers-only under sustained contract " +
          "churn (ALTER-declared columns/defaults may be missing) — " +
          "re-run when the churn subsides")

  /** One resolution attempt; None = a contract swap raced the reads
    * and the caller must retry. `footersOnly` skips the breadcrumb
    * overlay entirely (the always-safe fallback; footer-less empty
    * states still use the breadcrumb — zero columns is worse than
    * transiently stale ones).
    */
  private def resolveSchemaOnce(spark: SparkSession, root: String,
                                versionAsOf: Option[Long],
                                footersOnly: Boolean): Option[(StructType, Long)] = {
    val m = manifestAt(spark, root, versionAsOf)
    val dirs = m.buckets.values.map(e =>
      SnapshotStore.dataPath(root, e.dir).toString).toSeq
    // one driver-side footer per dir (dirs are single-schema by
    // construction) instead of the distributed mergeSchema inference
    // job — this resolution runs on EVERY relation load; failures fall
    // back to the inference path so error behavior is unchanged
    val footerBase =
      if (dirs.isEmpty) None
      // mergedFooterSchema logs its own failures — no caller-side
      // second message (r18 ADVICE: the fallback double-logged)
      else Footers.mergedFooterSchema(spark, dirs).orElse(
        Some(spark.read.option("mergeSchema", "true").parquet(dirs: _*).schema))
    // a table declaring `dml.mode=delta` (TBLPROPERTIES, recorded at
    // creation) carries the not-null-merge-key contract — every write
    // path REJECTS null key values ([[Footers.writeVersionData]])
    // — so presenting non-nullable key fields (footer schemas are
    // always nullable-typed) is truthful for every reader, and gives
    // Spark's delta row-level rewrite the NON-NULLABLE row-id
    // attributes it requires. Deliberately property-driven, never
    // session-conf-driven: a conf can't retroactively make existing
    // data null-free, so marking on conf would lie to the optimizer
    // for ordinary reads (IS NULL folded to false).
    // REPLACE TABLE swaps the declared contracts wholesale and stamps
    // the commit version as `graft.schema.epoch`: a time-travel read
    // BELOW the epoch must not inherit the replacement's declared
    // columns/metadata (the additive-evolution null-fill overlay is
    // for columns ADDED to the same table, not a different table that
    // took the name's history slot). Each REPLACE archives the schema
    // it displaces (`_schema_upto_<v>`), so a pre-epoch version reads
    // under its OWN epoch's declarations; with no archive it resolves
    // from footers alone.
    val props = SnapshotStore.readProps(spark, root)
    val preReplace = versionAsOf.exists(v =>
      props.get("graft.schema.epoch").map(_.toLong).exists(v < _))
    if (preReplace) {
      val archived = Contracts.archivedSchemaFor(spark, root, versionAsOf.get)
      // an EMPTY pinned version (no data dirs — e.g. the CREATE
      // commit) must fall back to its OWN epoch's archived schema,
      // never the live `_schema` breadcrumb: that belongs to the
      // replacement epoch, and merging it in would present a
      // cross-epoch column union for a version that never held those
      // columns (found by ContractFuzzSpec at version 0)
      val base = footerBase.orElse(archived).getOrElse(new StructType())
      // delta-key non-null marking deliberately NOT applied: the
      // current dml.mode property says nothing about a replaced epoch.
      // No stability validation needed either — archives are immutable
      // once written, and racing swaps only ADD newer ones.
      return Some((withEvolvedColumns(archived,
        withDeclaredMetadata(archived, base)),
        props.get("graft.schema.epoch").map(_.toLong).getOrElse(-1L)))
    }
    // mid-swap epoch guard: an UNSTAMPED flagged epoch-start anywhere
    // at/below the resolved head means a contract swap is still IN
    // FLIGHT (the stamp is the swap's last step) — the live `_schema`
    // breadcrumb still belongs to the DISPLACED epoch. Overlaying it
    // onto the new epoch's footers would present a cross-epoch column
    // union (a frankenschema with a null-filled phantom column —
    // caught live by StreamChaosSpec racing a REPLACE); until the
    // stamp lands, resolve the new epoch from its own footers alone.
    // The probe scans DOWN TO the stamp, not just the head itself:
    // plain commits are allowed to land inside the swap window, so the
    // flagged version can sit several versions below the head — with
    // the head-only check a mid-swap INSERT resolved the union and
    // PERSISTED it into its data file (found by the R15.2 widened
    // chaos vocabulary; VacuumMinAgeSpec's sibling EpochContractsSpec
    // pins the window).
    // only when footers EXIST: an empty new-epoch state (no data dirs
    // yet) has nothing of its own to resolve from, and suppressing the
    // breadcrumb there would present a ZERO-column frame — worse than
    // the transiently stale columns (found by ChaosBlast: a mid-swap
    // reader's `columns` came back empty)
    val swapInFlight = footerBase.isDefined && (footersOnly ||
      Contracts.unstampedEpochStart(spark, root, m.version) >= 0)
    val declared = if (swapInFlight) None else Breadcrumbs.declaredSchema(spark, root)
    // overlay validation: pairing the breadcrumb with footers is only
    // sound if no swap moved across these reads — the probe above sees
    // a swap at/below the PINNED head, but a swap whose flagged commit
    // landed AFTER the pin (its breadcrumb step racing the declared-schema read)
    // is invisible to it. Re-check the stamp and probe up to the LIVE
    // head; any movement → retry from scratch.
    if (declared.isDefined && footerBase.isDefined) {
      val stamp0 = props.get("graft.schema.epoch").map(_.toLong)
      val latestNow = SnapshotStore.latestVersion(spark, root)
        .getOrElse(m.version)
      val stamp1 = SnapshotStore.readProps(spark, root)
        .get("graft.schema.epoch").map(_.toLong)
      // three ways the breadcrumb can belong to a different epoch than
      // the pinned manifest m: the stamp moved between our two reads
      // (a swap completed mid-resolution); a flagged-unstamped swap is
      // in flight anywhere at/below the live head (breadcrumb already
      // swapped, stamp pending); or the stamp sits ABOVE m.version —
      // a swap completed entirely AFTER we pinned m but BEFORE we read
      // the breadcrumb, so the breadcrumb is the NEW epoch's while m's
      // footers are the OLD epoch's (this exact interleave persisted a
      // cross-epoch union into a MERGE's data file — second find of
      // the R15.2 hunt forensics: the file's column order proved
      // old-epoch footers under a new-epoch breadcrumb).
      if (stamp0 != stamp1 || stamp1.exists(_ > m.version) ||
          Contracts.unstampedEpochStart(spark, root,
            math.max(latestNow, m.version)) >= 0)
        return None
    }
    val base = footerBase.orElse(declared).getOrElse(new StructType())
    val schema = withEvolvedColumns(declared,
      withDeclaredMetadata(declared, base))
    val out =
      if (m.keys.nonEmpty && props.get("dml.mode").contains("delta"))
        StructType(schema.fields.toSeq.map(f =>
          if (m.keys.contains(f.name)) f.copy(nullable = false) else f))
      else schema
    Some((out, props.get("graft.schema.epoch").map(_.toLong).getOrElse(-1L)))
  }

  /** Footer schemas carry no field METADATA — column DEFAULT
    * expressions (`CURRENT_DEFAULT`) and comments live only in the
    * `_schema` breadcrumb the catalog maintains. Overlay them onto the
    * footer-derived fields so `INSERT` default resolution keeps
    * working after the first data lands (types stay the footers').
    */
  private def withDeclaredMetadata(declaredOpt: Option[StructType],
                                   base: StructType): StructType =
    declaredOpt match {
      case Some(declared) if base.nonEmpty =>
        val overlaid = base.fields.toSeq.map { f =>
          declared.fields.find(_.name.equalsIgnoreCase(f.name)) match {
            case Some(d) =>
              val md = if (d.metadata != org.apache.spark.sql.types.Metadata.empty)
                d.metadata else f.metadata
              // a declared NOT NULL is truthful: every write door runs
              // the writeVersionData null guard from the table's birth
              f.copy(metadata = md, nullable = f.nullable && d.nullable)
            case _ => f
          }
        }
        // footer field ORDER follows whatever frame the latest commit
        // happened to write (a merge may reorder columns); present the
        // DECLARED order so SELECT * is stable across writes —
        // breadcrumb fields first in CREATE/evolution order, then any
        // footer-only stragglers in footer order
        val declaredFirst = declared.fields.toSeq.flatMap(d =>
          overlaid.find(_.name.equalsIgnoreCase(d.name)))
        val rest = overlaid.filterNot(f =>
          declared.fields.exists(_.name.equalsIgnoreCase(f.name)))
        StructType(declaredFirst ++ rest)
      case _ => base
    }

  /** Columns declared by SQL `ALTER TABLE ADD COLUMN` live in the
    * `_schema` breadcrumb before any data carries them: append the
    * breadcrumb's extra fields (always nullable — history predates
    * them) so reads null-fill immediately, the additive-evolution
    * rule the write path already applies.
    */
  private def withEvolvedColumns(declaredOpt: Option[StructType],
                                 base: StructType): StructType =
    declaredOpt match {
      case Some(declared) if base.nonEmpty =>
        val extra = declared.fields.toSeq
          .filterNot(f => base.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          .map(_.copy(nullable = true))
        if (extra.isEmpty) base else StructType(base.fields.toSeq ++ extra)
      case _ => base
    }
}

/** One graft table resolved for reading and writing. The manifest is
  * re-read per scan (not pinned at table creation), so repeated
  * queries observe new commits — table semantics, while each
  * individual scan is one consistent snapshot.
  *
  * Writes (INSERT INTO / INSERT OVERWRITE / df.writeTo) go through the
  * V1 write fallback: the insert is a DRIVER-side DataFrame handed to
  * [[SnapshotStore]]'s commit protocol — which already is a
  * distributed write (bucket CoW + OCC manifest arbiter); a V2
  * DataWriter per task would re-implement exactly that. INSERT INTO is
  * the KEYED UPSERT every graft write is (merge identity = the
  * manifest's persisted keys; the reference's procedures MERGE on
  * every load, `with procedures/order_proc.sql:34-88`); INSERT
  * OVERWRITE replaces the whole state as one new version.
  */
class GraftTable(root: String, versionAsOf: Option[Long],
                 tableSchema: StructType,
                 fromCatalog: Boolean = false,
                 boundEpochIn: Long = Long.MinValue,
                 boundInstanceIn: Option[Option[String]] = None) extends Table
    with SupportsRead with SupportsWrite with SupportsMetadataColumns
    with SupportsRowLevelOperations with SupportsDeleteV2 {
  override def name(): String = s"graft.`$root`" +
    versionAsOf.fold("")(v => s"@v$v")
  override def schema(): StructType = tableSchema

  /** Batch INSTANCE FENCE (generalizes the r16 `_table_id` feed fence,
    * per the r16 verdict's top item): this relation's schema, version
    * pin and plan were resolved against ONE table instance, but scan
    * and write builders re-read the manifest at build time — a HELD
    * DataFrame (or a cached catalog relation) executed after the table
    * was DROPPED and RE-CREATED at the same path would read the
    * SUCCESSOR's data under the predecessor's schema/version pin. The
    * successor restarts version numbering, so `versionAsOf` aliases a
    * different snapshot, and a same-arity schema change null-fills or
    * mis-binds columns SILENTLY (the mergeSchema by-name read
    * null-fills a renamed column — garbage, not an exception; the
    * batch twin of the feed-offset aliasing BranchStreamChaosSpec
    * found). The id is captured at relation resolution and re-checked
    * at every scan/write/DML build; a mismatch refuses with the
    * documented severed-lineage conflict. None (pre-r17 table never
    * minted — ids are minted at init/clone from r17 on) disables the
    * fence rather than false-positive it. Callers that resolved via
    * [[GraftTable.resolveSchemaBound]] pass the id the resolution
    * actually read under (`boundInstanceIn`) — a constructor-time
    * fresh read could bind a mid-flight successor's id to the
    * predecessor's schema pin (r17 advice #2), the skew twin of the
    * epoch-stamp binding fixed the same round.
    */
  @transient private val boundInstance: Option[String] =
    boundInstanceIn.getOrElse(
      try SnapshotStore.tableInstanceIdIfAny(SparkSession.active, root)
      catch { case _: Exception => None })

  /** EPOCH FENCE for held CURRENT-state relations (found by the r17
    * branch hunt's held-relation op on its first run): a REPLACE /
    * cross-epoch restore is the SAME instance — the `_table_id` check
    * passes — but a held relation's scan then reads the NEW epoch's
    * manifest under the OLD epoch's schema, and the by-name parquet
    * read null-fills the vanished columns SILENTLY (20 rows with an
    * all-null key column, measured). The `graft.schema.epoch` stamp
    * changes exactly at contract swaps, so a stamp captured at
    * resolution and re-compared at scan build makes a post-swap held
    * relation refuse loudly; a scan building while a swap is IN FLIGHT
    * (flagged epoch-start above the stamp — the stamp lands last)
    * can't attribute the manifest to either epoch and refuses the same
    * way. Time-travel relations pin an archived version whose files a
    * later swap never rewrites — exempt. -1 = no swap ever.
    */
  @transient private val boundEpoch: Long =
    if (versionAsOf.nonEmpty) -1L
    // the stamp the RESOLUTION validated, when the caller has it
    // (catalog loads via resolveSchemaBound): a constructor-time fresh
    // read could pair a just-landed swap's stamp with the pre-swap
    // schema — the skew the r17 ChaosBlast held-relation op measured
    else if (boundEpochIn != Long.MinValue) boundEpochIn
    else try SnapshotStore.schemaEpoch(SparkSession.active, root)
    catch { case _: Exception => -1L }

  /** A fence that cannot re-read the CURRENT stamp refuses (r17 advice
    * #4): falling back to the bound value treats "store error" as
    * "unchanged" — a transient failure landing exactly when a swap
    * completed would let the scan pass and null-fill the new epoch
    * under the old schema, the silent mis-bind the fence exists to
    * refuse. The CME is retry-able; a loud transient beats that.
    */
  private def fenceRead[A](what: String)(read: => A): A =
    try read
    catch {
      case e: Exception =>
        throw new java.util.ConcurrentModificationException(
          s"could not re-read the table's $what at $root to verify this " +
            s"plan's binding (${e.getClass.getSimpleName}: ${e.getMessage})" +
            " — refusing the scan rather than assuming it unchanged; re-run")
    }

  private def verifyEpoch(m: Manifest): Unit =
    if (versionAsOf.isEmpty) {
      val spark = SparkSession.active
      val cur = fenceRead("contract-swap stamp")(SnapshotStore.schemaEpoch(spark, root))
      if (cur != boundEpoch)
        throw new java.util.ConcurrentModificationException(
          s"the table at $root crossed a contract swap (REPLACE or " +
            s"cross-epoch restore; epoch $boundEpoch -> $cur) since this " +
            "relation was resolved — scanning the new epoch under the " +
            "old schema would silently mis-bind columns; re-resolve the " +
            "table and re-run")
      val inFlight = fenceRead("in-flight swap probe")(
        Contracts.unstampedEpochStart(spark, root, m.version))
      if (inFlight >= 0)
        throw new java.util.ConcurrentModificationException(
          s"a contract swap on $root is in flight (flagged epoch-start " +
            s"v$inFlight, stamp not yet landed) — this scan cannot " +
            "attribute the head manifest to an epoch; re-run when the " +
            "swap completes")
    }

  private def verifyInstance(): Unit = {
    // same loudness rule as the epoch fence, but ONLY when an id is
    // bound: an unfenced (never-minted) relation stays unfenced on a
    // probe error — there is nothing to mis-compare against
    val cur =
      if (boundInstance.isEmpty)
        try SnapshotStore.tableInstanceIdIfAny(SparkSession.active, root)
        catch { case _: Exception => None }
      else fenceRead("instance id")(
        SnapshotStore.tableInstanceIdIfAny(SparkSession.active, root))
    (boundInstance, cur) match {
      case (Some(a), Some(b)) if a != b =>
        throw new java.util.ConcurrentModificationException(
          s"the table at $root was dropped and re-created since this " +
            s"relation was resolved (instance $a -> $b): its version " +
            "lineage was severed, and this plan's schema/version pin " +
            "would silently alias the new table's state — re-resolve " +
            "the table (a fresh spark.table / read.load) and re-run")
      case _ => () // unminted predecessor or dropped-not-recreated:
                   // the manifest read downstream fails loudly itself
    }
  }

  /** Column-level contracts re-surfaced for introspection (DESCRIBE /
    * SHOW CREATE TABLE read these): generation expressions and
    * identity specs live in `_props` — the default `columns()` derives
    * from the bare schema and would hide them.
    */
  /** Read once per table resolution, not once per columns() call —
    * analysis invokes columns() repeatedly and each read is an FS
    * round-trip on object stores. A time-travel resolution BELOW a
    * REPLACE epoch reports its own epoch's archived contracts
    * ([[SnapshotStore.propsAsOf]]), not the replacement's.
    */
  @transient private lazy val contractProps: Map[String, String] =
    SnapshotStore.propsAsOf(SparkSession.active, root, versionAsOf)

  override def columns(): Array[org.apache.spark.sql.connector.catalog.Column] = {
    import org.apache.spark.sql.connector.catalog.{Column => V2Column}
    val props = contractProps
    val identities = Identity.identitySpecs(props).toMap
    tableSchema.fields.map { f =>
      val comment = if (f.getComment().isDefined) f.getComment().get else null
      val metaJson =
        if (f.metadata == org.apache.spark.sql.types.Metadata.empty) null
        else f.metadata.json
      props.get("generated." + f.name) match {
        case Some(genSql) =>
          V2Column.create(f.name, f.dataType, f.nullable, comment,
            Breadcrumbs.decPropValue(genSql), metaJson)
        case None => identities.get(f.name) match {
          case Some(s) =>
            V2Column.create(f.name, f.dataType, f.nullable, comment,
              new org.apache.spark.sql.connector.catalog.IdentityColumnSpec(
                s.start, s.step, s.allowExplicit), metaJson)
          case None =>
            V2Column.create(f.name, f.dataType, f.nullable, comment, metaJson)
        }
      }
    }
  }
  /** STREAMING_WRITE only for CATALOG-loaded tables
    * (`writeStream.toTable` — txn keyed by the query id): a path-based
    * `writeStream.format("graft")` keeps resolving to the V1
    * [[GraftSink]], whose create-on-first-batch and explicit-txn-option
    * semantics are spec'd behavior.
    */
  override def capabilities(): java.util.Set[TableCapability] = {
    val base = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
    if (fromCatalog) {
      base.add(TableCapability.STREAMING_WRITE)
      // `MERGE … WITH SCHEMA EVOLUTION` gates on this capability: the
      // analyzer computes AddColumn changes from the source's extra
      // columns and routes them through catalog.alterTable — graft's
      // ADDITIVE evolution (new nullable columns append, history
      // null-fills) is exactly that contract, and non-additive changes
      // still refuse loudly there. WITHOUT the clause a star MERGE
      // resolves against the target's columns alone (extra source
      // columns are ignored, never silently evolved). Catalog-only: a
      // path-based table has no catalog to alter through.
      base.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    }
    base
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // read the manifest FIRST, verify the instance AFTER: ids are
    // minted BEFORE a creation's v0 commit (init/cloneTable), so a
    // successor's manifest is never readable before the successor's id
    // exists — a post-read id match therefore proves the manifest just
    // read belonged to the bound instance (a recreate completing
    // before the read would show the successor's id here and refuse;
    // one completing after the read read OUR manifest — fine either
    // way). Verify-then-read left a window where a recreate between
    // the two handed the successor's manifest to the predecessor's
    // schema pin.
    val m = GraftTable.manifestAt(SparkSession.active, root, versionAsOf)
    verifyInstance()
    verifyEpoch(m)
    new GraftScanBuilder(SparkSession.active, root, m, tableSchema)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAsOf.isEmpty,
      s"cannot write to time-travel snapshot $name — writes land on the " +
        "table's latest version")
    verifyInstance()
    GraftTable.refuseDegradedWrite(root)
    new GraftTableWriteBuilder(root, info)
  }

  /** Surfaced through `SHOW TBLPROPERTIES` / `DESCRIBE TABLE EXTENDED`:
    * the layout facts an operator needs (merge keys, bucket count,
    * declared stats columns, current version) — read from the latest
    * manifest, the single source of truth.
    */
  override def properties(): java.util.Map[String, String] = {
    val spark = SparkSession.active
    val m = GraftTable.manifestAt(spark, root, versionAsOf)
    val props = new java.util.HashMap[String, String]()
    SnapshotStore.propsAsOf(spark, root, versionAsOf)
      .foreach { case (k, v) => props.put(k, v) }
    props.put("keys", m.keys.mkString(","))
    props.put("numBuckets", m.numBuckets.toString)
    props.put("statsCols", m.statsCols.map(_._1).mkString(","))
    props.put("version", m.version.toString)
    props
  }

  /** ANSI constraints from the `_props` breadcrumb: CHECKs are
    * write-ENFORCED (every write path fuses the predicate as a
    * raise_error guard — [[SnapshotStore]]), and Spark's own
    * `ResolveTableConstraints` additionally plants `CheckInvariant`
    * into catalog writes because they are reported here; PRIMARY KEY /
    * UNIQUE over the merge keys are informational (backed by the
    * engine's one-row-per-key invariant).
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    val spark = SparkSession.active
    SnapshotStore.propsAsOf(spark, root, versionAsOf).toSeq.sortBy(_._1).flatMap {
      case (k, v) if k.startsWith("constraint.check.") =>
        Some(Constraint.check(k.stripPrefix("constraint.check."))
          .predicateSql(v).enforced(true).build(): Constraint)
      case (k, v) if k.startsWith("constraint.pk.") =>
        Some(Constraint.primaryKey(k.stripPrefix("constraint.pk."),
          v.split(",").map(c => Expressions.column(c)
            : NamedReference)).build(): Constraint)
      case (k, v) if k.startsWith("constraint.unique.") =>
        Some(Constraint.unique(k.stripPrefix("constraint.unique."),
          v.split(",").map(c => Expressions.column(c)
            : NamedReference)).build(): Constraint)
      case _ => None
    }.toArray
  }

  /** The table's bucket id as a metadata column — the GROUP identity
    * for SQL row-level rewrites (Spark's runtime group filtering
    * selects `distinct _graft_bucket` of the matching rows to narrow
    * the copy-on-write scan) and a handy layout diagnostic
    * (`SELECT _graft_bucket, count(*) ...`).
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = SnapshotStore.BucketCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.IntegerType
      override def isNullable: Boolean = false
      override def comment(): String =
        "hash bucket the row's merge key maps to (graft layout metadata)"
    })

  /** SQL `DELETE FROM` without a rewrite: the matching keys are
    * computed by a (pruned) scan and committed as merge-on-read
    * tombstone sidecars — O(matched keys) written, no bucket read back
    * or rewritten ([[SnapshotStore.commitDeletes]]). Subquery or
    * otherwise untranslatable conditions refuse here and fall back to
    * the group-based row-level rewrite below.
    */
  override def canDeleteWhere(predicates: Array[Predicate]): Boolean = {
    versionAsOf.isEmpty &&
      GraftTable.manifestAt(SparkSession.active, root, None).keys.nonEmpty &&
      GraftFilters.toCondition(predicates).isDefined
  }

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    verifyInstance()
    val spark = SparkSession.active
    val cond = GraftFilters.toCondition(predicates).getOrElse(
      throw new UnsupportedOperationException(
        s"untranslatable DELETE condition for $name"))
    val keys = GraftTable.manifestAt(spark, root, None).keys
    val isTruncate = org.apache.spark.sql.graft.GraftSqlShims
      .toV1Filters(predicates)
      .forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (isTruncate) {
      // unconditioned DELETE: one version with every bucket dropped —
      // cheaper than tombstoning the whole key set
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
      SnapshotStore.replaceAll(spark, root, empty, keys): Unit
    } else {
      // the matching-key scan goes through this very connector, so
      // stats-aligned conditions prune buckets/files before reading
      val matching = spark.read.format("graft").load(root)
        .where(cond).select(keys.map(org.apache.spark.sql.functions.col): _*)
        .distinct()
      SnapshotStore.commitDeletes(spark, root, matching, keys): Unit
    }
  }

  /** Group-based copy-on-write row-level operations — SQL `DELETE` /
    * `UPDATE` / `MERGE INTO` against a cataloged graft table (the
    * reference's procedures are exactly MERGE statements,
    * `/root/reference/with procedures/order_proc.sql:34-88`). The
    * GROUP is the bucket: Spark's rewrite plan reads whole affected
    * buckets through the CoW scan (statically pruned by the condition,
    * runtime-narrowed to the buckets holding matched keys), computes
    * the replacement rows, and the write publishes them through
    * [[SnapshotStore.replaceBuckets]] as one atomic version.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(versionAsOf.isEmpty,
      s"cannot run ${info.command} against time-travel snapshot $name")
    verifyInstance()
    GraftTable.refuseDegradedWrite(root)
    // Mode policy: copy-on-write by default (runtime GROUP narrowing
    // reads only affected buckets; null-safe key semantics hold). A
    // table declaring TBLPROPERTIES('dml.mode'='delta') — the
    // not-null-merge-key contract, enforced on every write — takes
    // the DELTA path: O(changed rows) staging, and a pure DELETE (any
    // condition, subqueries included) commits merge-on-read
    // tombstones with zero bucket rewrite. `spark.graft.dml.mode`
    // overrides the CHOICE per session (forcing cow on a delta table
    // is always sound), but forcing delta on a table WITHOUT the
    // property refuses: only the recorded contract makes the
    // non-nullable row-id schema the rewrite requires truthful.
    () => {
      val spark = SparkSession.active
      val keys = GraftTable.manifestAt(spark, root, None).keys
      val declared = SnapshotStore.deltaModeDeclared(spark, root)
      val mode = spark.conf.getOption("spark.graft.dml.mode")
        .getOrElse(if (declared) "delta" else "cow")
      if (mode == "delta" && keys.nonEmpty) {
        require(declared,
          s"spark.graft.dml.mode=delta needs the table's not-null-key " +
            "contract, which belongs to the TABLE: declare " +
            "TBLPROPERTIES('dml.mode'='delta') at CREATE TABLE or via " +
            "ALTER TABLE ... SET TBLPROPERTIES (which verifies existing " +
            "keys are null-free); the session conf only picks between " +
            "modes the table supports")
        // the delta rewrite's runtime source-bucket filtering rides the
        // user-provided optimizer batch — make sure THIS session has it
        DeltaDmlRuntimeFiltering.install(spark)
        new GraftDeltaOperation(root, tableSchema, info.command, keys)
      } else new GraftRowLevelOperation(root, tableSchema, info.command)
    }
  }
}

/** V1-fallback write builder: append = keyed upsert, truncate+append
  * (INSERT OVERWRITE) = full replace, `df.writeTo(t).overwrite(cond)`
  * = FILTER-SCOPED overwrite — one commit deleting the matching rows
  * and upserting the new data ([[SnapshotStore.replaceWhere]]); only
  * buckets whose manifest stats may match the condition (plus the new
  * rows' buckets) rewrite. Keys come from the manifest (SQL has no
  * options channel — exactly what persisted keys are for). The
  * OVERWRITE SEMANTICS live in this builder (captured predicates),
  * so the V1 fallback exec — which only ever calls
  * `insert(data, overwrite)` — cannot silently widen a scoped
  * overwrite into a full replace.
  */
class GraftTableWriteBuilder(root: String, info: LogicalWriteInfo)
    extends org.apache.spark.sql.graft.GraftStreamingUpdatableBuilder
    with SupportsOverwriteV2 {
  private var replace = false
  private var scoped: Option[org.apache.spark.sql.Column] = None
  private var scopedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def truncate(): WriteBuilder = { replace = true; scoped = None; this }
  override def canOverwrite(predicates: Array[Predicate]): Boolean =
    GraftFilters.toCondition(predicates).isDefined
  override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
    val v1 = org.apache.spark.sql.graft.GraftSqlShims.toV1Filters(predicates)
    if (v1.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])) truncate()
    else {
      scoped = Some(GraftFilters.toCondition(predicates).getOrElse(
        throw new UnsupportedOperationException(
          s"untranslatable overwrite condition for graft table at $root")))
      scopedFilters = v1
      this
    }
  }
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(rawData: org.apache.spark.sql.DataFrame,
                            overwrite: Boolean): Unit = {
          val spark = rawData.sparkSession
          val planned = SnapshotStore.latestVersion(spark, root)
          require(planned.isDefined, s"no committed graft table at $root")
          GraftWrite.staleShapeGuard(spark, root, rawData)
          val keys = GraftWrite.resolveKeys(spark, root, Nil, planned.isDefined)
          val data = GraftWrite.identityInsertGuard(spark, root, rawData)
          scoped match {
            case Some(cond) =>
              SnapshotStore.replaceWhere(spark, root, cond, data, keys,
                candidatesOf = m =>
                  GraftFilters.candidateBuckets(m, scopedFilters)): Unit
            case None =>
              if (replace || overwrite)
                SnapshotStore.replaceAll(spark, root, data, keys): Unit
              else
                SnapshotStore.commitDelta(spark, root, data, keys,
                  GraftWrite.doorMerge(spark, root, keys, data),
                  plannedVersion = planned): Unit
          }
        }
      }

    /** `writeStream.toTable(...)` lands here: per-epoch exactly-once
      * keyed upserts with the txn keyed by the STREAMING QUERY ID —
      * stable across restarts (it lives in the query's checkpoint), so
      * a redelivered epoch is a no-op.
      */
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!replace && scoped.isEmpty,
        "graft streaming writes upsert keyed deltas: use append or " +
          "update output mode (complete-mode re-emission would be a " +
          "full replace per epoch)")
      new GraftStreamingWrite(root, info.schema(), info.queryId())
    }
  }
}

class GraftScanBuilder(spark: SparkSession, root: String, m: Manifest,
                       tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  protected var required: StructType = tableSchema
  protected var pushed: Array[Filter] = Array.empty
  private var aggResult: Option[(StructType, InternalRow, String)] = None
  private var limitPushed: Option[Int] = None

  /** `SELECT ... LIMIT n` with nothing between the limit and the scan
    * (Spark only pushes in that shape; this builder keeps every filter
    * residual, so a filtered query never reaches here). Declared
    * PARTIAL — Spark keeps its own Limit and re-applies it exactly —
    * so the scan's job is only to read less: a minimal prefix of
    * buckets when the manifest proves row counts, and a per-partition
    * row cap always. On a 100 TB table `SELECT * FROM t LIMIT 20`
    * reads one bucket's files instead of all of them.
    */
  override def pushLimit(limit: Int): Boolean = {
    limitPushed = Some(limit); true
  }
  override def isPartiallyPushed(): Boolean = true

  /** Every filter is RETAINED as a residual (returned back to Spark)
    * — the scan uses them only to prune buckets/files via manifest
    * stats and to hint parquet row-group skipping, both of which are
    * conservative supersets. Reporting them as pushed makes the
    * pruning visible in explain() without taking over exact
    * evaluation.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val statsCols = m.statsCols.map(_._1).toSet
    pushed = filters.filter(f => f.references.nonEmpty &&
      f.references.forall(statsCols.contains))
    filters // all residual: Spark re-applies exactly
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT(*)/MIN/MAX answered from the MANIFEST — zero file reads
    * (the scan becomes a driver-local one-row result). Only when the
    * answer is provably exact: no outstanding tombstones (a sidecar
    * could hide the min row or shrink the count), the column in the
    * declared stats set with no all-null gap ambiguity (MIN/MAX), and
    * no grouping. Spark only attempts aggregate pushdown when every
    * filter was fully consumed; this scan reports all filters as
    * residuals, so a filtered query never reaches here — the gate is
    * structural, not re-checked.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    answerFromManifest(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean = {
    answerFromManifest(agg) match {
      case Some(r) => aggResult = Some(r); true
      case None => false
    }
  }

  private def answerFromManifest(agg: Aggregation)
      : Option[(StructType, InternalRow, String)] = {
    import org.apache.spark.sql.types._
    if (agg.groupByExpressions.nonEmpty) return None
    if (m.buckets.values.exists(_.tombstones.nonEmpty)) return None

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(String, Int, DataType)] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 =>
        val name = nr.fieldNames()(0)
        val i = m.statsCols.indexWhere(_._1 == name)
        if (i < 0) None
        else tableSchema.fields.find(_.name == name).map(f => (name, i, f.dataType))
      case _ => None
    }
    // decode a manifest stats string back to its catalyst value; None
    // = a type this pushdown doesn't answer (fall back to a real scan)
    def decode(dt: DataType, s: String): Option[Any] = dt match {
      case LongType | TimestampType => Some(java.lang.Long.valueOf(s))
      case IntegerType => Some(Integer.valueOf(s))
      case ShortType => Some(java.lang.Short.valueOf(s))
      case ByteType => Some(java.lang.Byte.valueOf(s))
      case DoubleType => Some(java.lang.Double.valueOf(s))
      case FloatType => Some(java.lang.Float.valueOf(s))
      case StringType =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case d: DecimalType =>
        Some(org.apache.spark.sql.types.Decimal(BigDecimal(s), d.precision, d.scale))
      case _ => None
    }
    def cmp(dt: DataType, a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Comparable[Any] @unchecked, y) => x.compareTo(y)
      case _ => 0
    }
    def extreme(i: Int, dt: DataType, wantMin: Boolean): Option[Option[Any]] = {
      // per-bucket stats: None entry = all-null bucket (skip); a table
      // with only all-null buckets answers NULL (exact)
      val perBucket = m.buckets.values.toSeq.map(_.stats.lift(i).flatten)
      val decoded = perBucket.flatten.map { case (mn, mx) =>
        decode(dt, if (wantMin) mn else mx)
      }
      if (decoded.exists(_.isEmpty)) None // undecodable type
      else Some(decoded.flatten.reduceOption { (a, b) =>
        val c = cmp(dt, a, b)
        if ((c <= 0) == wantMin) a else b
      })
    }

    val funcs = agg.aggregateExpressions().toSeq
    if (funcs.isEmpty) return None
    val answered = funcs.map {
      case _: CountStarAgg =>
        Some((StructField("count", LongType, nullable = false),
          java.lang.Long.valueOf(m.buckets.values.map(_.rows).sum): Any, "count(*)"))
      case mn: MinAgg => colOf(mn.column()).flatMap { case (n, i, dt) =>
        extreme(i, dt, wantMin = true).map(v =>
          (StructField(s"min($n)", dt, nullable = true), v.orNull: Any, s"min($n)"))
      }
      case mx: MaxAgg => colOf(mx.column()).flatMap { case (n, i, dt) =>
        extreme(i, dt, wantMin = false).map(v =>
          (StructField(s"max($n)", dt, nullable = true), v.orNull: Any, s"max($n)"))
      }
      case _ => None
    }
    if (answered.exists(_.isEmpty)) return None
    val fields = answered.flatten
    Some((StructType(fields.map(_._1)),
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        fields.map(_._2).toArray),
      fields.map(_._3).mkString(", ")))
  }

  override def build(): Scan = aggResult match {
    case Some((schema, row, desc)) =>
      new GraftManifestAggScan(root, m.version, schema, row, desc)
    case None =>
      new GraftScan(spark, root, m, tableSchema, required, pushed, limitPushed)
  }
}

/** A completely-pushed aggregate: the answer was computed from the
  * manifest on the driver — the "scan" is one local row, ZERO file
  * reads, zero tasks (plans as a local table scan).
  */
class GraftManifestAggScan(root: String, version: Long, schema: StructType,
                           row: InternalRow, desc: String)
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = Array(row)
  override def description(): String =
    s"graft $root v$version manifest-aggregate [$desc] (no file reads)"
}

/** The batch scan: manifest-stats pruning → file splits → parquet
  * readers with in-scan tombstone subtraction. Also the RUNTIME-
  * filtered scan (the dynamic-partition-pruning analog): when this
  * table is joined against a filtered dimension on its merge key or a
  * stats column, Spark feeds the dimension's values back through
  * [[SupportsRuntimeV2Filtering]] and the scan re-prunes buckets/files
  * at execution time — key values hash straight to their buckets, so
  * a selective dim join reads 1/numBuckets-sized slices instead of
  * the table.
  */
class GraftScan(spark: SparkSession, root: String, m: Manifest,
                dataSchema: StructType, required: StructType,
                filters: Array[Filter],
                limit: Option[Int] = None) extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** The layout IS a partitioning: every split carries its bucket id
    * ([[GraftInputPartition.partitionKey]]), so with
    * `spark.sql.sources.v2.bucketing.enabled=true` Spark groups splits
    * by bucket and a graft⋈graft join on the merge key — or an
    * aggregation grouped by it — runs as a STORAGE-PARTITIONED plan
    * with zero shuffle on the graft side(s). The transform resolves
    * through the catalog's `bucket` function
    * ([[GraftBucketFunction]]); reported only when every key column is
    * in this scan's output (Spark resolves the references against the
    * pruned relation) and the manifest persists keys at all.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val reportable = m.keys.nonEmpty &&
      m.keys.forall(k => required.fieldNames.contains(k))
    if (!reportable)
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    else {
      val bucketArgs =
        Expressions.literal(m.numBuckets) +:
          m.keys.map(k => Expressions.column(k)
            : org.apache.spark.sql.connector.expressions.Expression)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(Expressions.apply("bucket", bucketArgs: _*)),
        plannedFiles.map(_._2).distinct.size)
    }
  }

  /** Runtime narrowing state: an explicit kept-bucket intersection
    * (from merge-key values, which hash directly to buckets) plus
    * extra filters folded into the same bounds pruning the static
    * filters drive. Conservative supersets only — the join re-applies
    * its own condition, so pruning is never a correctness dependency.
    */
  protected var runtimeBuckets: Option[Set[Int]] = None
  protected var runtimeFilters: Array[Filter] = Array.empty
  private var plannedFilesCache: Seq[(Path, Int, Long)] = null
  /** Post-pruning bucket set of the last planning pass (the GROUP set
    * for the row-level subclass).
    */
  protected var survivingBuckets: Set[Int] = Set.empty

  /** Row-level (copy-on-write) scans override: group selection must
    * keep whole buckets, so neither file-level pruning nor parquet
    * row-group skipping may drop rows inside a kept bucket there.
    */
  protected def fileLevelPruning: Boolean = true
  protected def parquetFilters: Seq[Filter] = (filters ++ runtimeFilters).toSeq

  /** Columns whose runtime (join-derived) values this scan can turn
    * into pruning: the merge key columns (single-key values hash to
    * exact buckets; composite-key tables narrow when ALL key columns
    * receive value lists — capped tuple product), the bucket metadata
    * column (ids narrow directly — [[DeltaDmlRuntimeFiltering]] keys
    * its source filter on it), and every declared stats column (values
    * fold to range bounds).
    */
  override def filterAttributes(): Array[NamedReference] = {
    (m.keys ++ m.statsCols.map(_._1) ++ Seq(SnapshotStore.BucketCol)).distinct
      // only columns THIS scan outputs: Spark resolves the attributes
      // against the (column-pruned) relation, so a filterable column
      // the query never selected must not be advertised
      .filter(c => required.fieldNames.contains(c))
      .map(Expressions.column).toArray
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    val v1 = org.apache.spark.sql.graft.GraftSqlShims.toV1Filters(predicates)
    // per-key-column value lists from this batch of runtime filters:
    // single-key → buckets directly; composite key → buckets of the
    // (capped) tuple cross-product, a superset of the joined tuples
    val perKey = scala.collection.mutable.Map.empty[String, Seq[Any]]
    v1.foreach {
      case org.apache.spark.sql.sources.In(c, vs) if m.keys.contains(c) =>
        perKey(c) = vs.toSeq
      case EqualTo(c, v) if m.keys.contains(c) =>
        perKey(c) = Seq(v)
      case org.apache.spark.sql.sources.In(SnapshotStore.BucketCol, vs) =>
        narrowToBuckets(vs.toSeq.collect {
          case i: java.lang.Integer => i.intValue() }.toSet)
      case EqualTo(SnapshotStore.BucketCol, v: java.lang.Integer) =>
        narrowToBuckets(Set(v.intValue()))
      case _ => ()
    }
    if (m.keys.size == 1 && perKey.contains(m.keys.head)) {
      val k = m.keys.head
      narrowToBuckets(GraftFilters.bucketsOf(perKey(k),
        dataSchema(k).dataType, m.numBuckets))
    } else if (m.keys.size > 1 && m.keys.forall(perKey.contains)) {
      val perKeyTyped = m.keys.map(k => (perKey(k), dataSchema(k).dataType))
      GraftFilters.bucketsOfTuples(perKeyTyped, m.numBuckets)
        .foreach(narrowToBuckets)
    }
    // bounds pruning consumes the shapes it knows; the bucket metadata
    // column is layout-only and must not reach the parquet readers
    runtimeFilters ++= v1.filterNot(
      _.references.contains(SnapshotStore.BucketCol))
    invalidatePlanning()
  }

  /** Drop the cached file plan so the next planning pass re-prunes
    * with the runtime narrowing applied.
    */
  protected def invalidatePlanning(): Unit = {
    plannedFilesCache = null
    descriptionCache = null
  }

  private def narrowToBuckets(bs: Set[Int]): Unit =
    runtimeBuckets = Some(runtimeBuckets.fold(bs)(_.intersect(bs)))

  override def readSchema(): StructType = required

  /** `required` minus the metadata column: what the parquet readers
    * must produce (the bucket id is layout metadata injected per
    * partition, never stored in data files).
    */
  private def dataRequired: StructType =
    StructType(required.fields.filterNot(_.name == SnapshotStore.BucketCol).toSeq)

  override def toBatch: Batch = this

  /** Pruning observability in the Spark UI (SQL node metrics): how
    * many buckets/files the manifest held vs how many this scan will
    * actually read, the table's tombstone debt, and the deleted keys
    * this scan loaded to subtract in-scan. At
    * warehouse scale "did the filter prune?" must be readable off the
    * executed plan, not re-derived by explaining the query — these are
    * driver-side planning facts, so they report through
    * `reportDriverMetrics`, not per-task accumulation.
    */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] = Array(
    new GraftSumMetric("graftBucketsRead", "graft: buckets read"),
    new GraftSumMetric("graftBucketsPruned", "graft: buckets pruned"),
    new GraftSumMetric("graftFilesRead", "graft: files read"),
    new GraftSumMetric("graftPlannedBytes", "graft: planned bytes"),
    new GraftSumMetric("graftTombstoneBuckets", "graft: buckets with delete sidecars"),
    new GraftSumMetric("graftTombstoneKeys", "graft: deleted keys loaded"))

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val files = plannedFiles
    val read = files.map(_._2).distinct.size.toLong
    def metric(n: String, v: Long) =
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }
    Array(
      metric("graftBucketsRead", read),
      metric("graftBucketsPruned", m.buckets.size.toLong - read),
      metric("graftFilesRead", files.size.toLong),
      metric("graftPlannedBytes", files.map(_._3).sum),
      metric("graftTombstoneBuckets",
        m.buckets.values.count(_.tombstones.nonEmpty).toLong),
      metric("graftTombstoneKeys", tombstones._2.values.map(_.size.toLong).sum))
  }

  /** Cached alongside the file plan: plan-tree copies and UI events
    * call description() repeatedly (7% of a MERGE statement's driver
    * samples went to rebuilding this string), and it only changes when
    * runtime filtering invalidates the planning anyway.
    */
  private var descriptionCache: String = null
  override def description(): String = {
    if (descriptionCache == null)
      descriptionCache =
        s"graft $root v${m.version} buckets=${plannedFiles.map(_._2).distinct.size} " +
          s"files=${plannedFiles.size} prunedBy=[${filters.mkString(", ")}]" +
          (if (runtimeFilters.nonEmpty || runtimeBuckets.nonEmpty)
            s" runtimePrunedBy=[${runtimeFilters.mkString(", ")}]" else "") +
          limit.fold("")(n => s" limit=$n")
    descriptionCache
  }

  /** POST-PRUNING size (the files this scan will actually read) and —
    * when exactly known from the manifest's `rows:` (no tombstones,
    * no pruning in play) — the row count.
    * Without this, a DSv2 relation reports the session default
    * (spark.sql.defaultSizeInBytes = huge), so a graft dim table
    * NEVER qualified for auto-broadcast and the first join over it
    * misplanned at any scale until AQE rescued it at runtime.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val size = plannedFiles.map(_._3).sum
    val exactRows =
      if (filters.nonEmpty || limit.isDefined) None
      else {
        val entries = m.buckets.values
        if (entries.exists(_.tombstones.nonEmpty)) None
        else Some(entries.map(_.rows).sum)
      }
    val colStats = columnStatsMap
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(size, 1L))
      override def numRows(): java.util.OptionalLong =
        exactRows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  /** Per-column statistics from the table's last ANALYZE
    * ([[SnapshotStore.analyze]] → `_colstats`), reported to the
    * optimizer for the columns this (pruned) scan outputs. Guarded
    * twice: only when the analyzed version IS the scanned version
    * (stale NDVs misdirect join planning), and only on an unfiltered
    * scan (these are whole-table moments; reporting them under pushed
    * filters would overstate the filtered output). With them, CBO
    * sizes graft⋈graft joins from real NDVs instead of byte-count
    * guesses — at warehouse scale that is broadcast-vs-shuffle chosen
    * correctly before AQE has to rescue the plan at runtime.
    */
  private def columnStatsMap: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (filters.nonEmpty || runtimeFilters.nonEmpty) return out
    SnapshotStore.readColStats(spark, root).filter(_.version == m.version)
      .foreach { ts =>
        required.fields.foreach { f =>
          ts.cols.get(f.name).foreach { st =>
            out.put(Expressions.column(f.name),
              new GraftColumnStatistics(st, f.dataType))
          }
        }
      }
    out
  }

  /** (path, bucket, fileLen) for every file the scan must read, after
    * bucket- then (when allowed) file-level stats pruning — the same
    * decisions [[SnapshotStore.readRange]] makes, driven by pushed +
    * runtime filters. Recomputed after [[filter]] narrows the scan.
    */
  protected def plannedFiles: Seq[(Path, Int, Long)] = {
    if (plannedFilesCache == null) plannedFilesCache = computePlannedFiles()
    plannedFilesCache
  }

  private def computePlannedFiles(): Seq[(Path, Int, Long)] = {
    val bs = GraftFilters.bounds(filters ++ runtimeFilters)
    val statBound = bs.foldLeft(m.buckets.keySet) { case (keep, (c, (lo, hi))) =>
      keep.intersect(SnapshotStore.pruneBuckets(m, c, lo.orNull, hi.orNull))
    }
    val surviving = runtimeBuckets.fold(statBound)(_.intersect(statBound))
    survivingBuckets = surviving
    // pushed LIMIT: take a minimal prefix of buckets whose recorded
    // rows cover it — only when provably safe (no pruning in play that
    // could have shrunk a bucket's yield, no tombstones hiding rows);
    // Spark re-applies the exact limit above, so this only ever needs
    // to produce ENOUGH rows
    val chosen = limit match {
      case Some(n) if filters.isEmpty && runtimeFilters.isEmpty &&
          runtimeBuckets.isEmpty &&
          surviving.forall(b => m.buckets(b).tombstones.isEmpty) =>
        val sorted = surviving.toSeq.sorted
        val cum = sorted.scanLeft(0L)((acc, b) => acc + m.buckets(b).rows)
        sorted.zip(cum).takeWhile { case (_, before) => before < n }.map(_._1)
      case _ => surviving.toSeq.sorted
    }
    chosen.flatMap { b =>
      val e = m.buckets(b)
      val dir = SnapshotStore.dataPath(root, e.dir)
      // per-file pruning: intersect the kept-name sets across bounded
      // columns; None (no per-file stats) = keep the whole dir
      val kept: Option[Set[String]] =
        if (!fileLevelPruning) None
        else bs.foldLeft(Option.empty[Set[String]]) {
          case (acc, (c, (lo, hi))) =>
            SnapshotStore.pruneFiles(m, b, c, lo.orNull, hi.orNull) match {
              case Some(names) => Some(acc.fold(names.toSet)(_.intersect(names.toSet)))
              case None => acc
            }
        }
      dataFiles(dir)
        .filter(st => kept.forall(_.contains(st.getPath.getName)))
        .map(st => (st.getPath, b, st.getLen))
    }
  }

  private def dataFiles(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    Footers.dataFiles(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)

  /** The parquet reader for every file this scan opens — data splits on
    * the executors, delete sidecars on the driver. returning_batch=false:
    * the reader unwraps its own vectorized batches into rows — the DSv2
    * row contract, no smuggled ColumnarBatch to special-case.
    */
  private def parquetReader(fileSchema: StructType, readSchema: StructType,
                            pushed: Seq[Filter]): PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, fileSchema, new StructType(), readSchema, pushed,
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())

  /** The unfolded delete sidecars of the buckets this scan reads,
    * collected to (key schema, bucket → deleted key tuples in catalyst
    * form). Read once, when the reader factory is built: the buckets
    * are those of [[plannedFiles]] at that point (runtime narrowing only
    * ever shrinks that set, so no split reads a bucket whose keys are
    * missing), and the files go through the scan's own parquet reader
    * on the driver — no DataFrame, no Spark job. Each sidecar dir is
    * listed once (the listing feeds both the footer schema and the key
    * read), and the listings and file reads run on the bounded footer
    * pool, so many tombstoned buckets cost concurrent, not serial,
    * round-trips. Each row is copied because the reader reuses its
    * buffers. Sidecars are deltas since the buckets' last rewrite —
    * metadata-sized by the same argument the library read path
    * broadcasts them.
    */
  private lazy val tombstones: (StructType, Map[Int, Set[Seq[Any]]]) = {
    val read = plannedFiles.map(_._2).toSet
    val sidecars = m.buckets.toSeq.collect {
      case (b, e) if read(b) => e.tombstones.map(d => b -> SnapshotStore.dataPath(root, d))
    }.flatten
    if (sidecars.isEmpty) (new StructType(), Map.empty)
    else {
      val listed = Footers.parFooterIo(sidecars) { case (b, d) => (b, d.toString, dataFiles(d)) }
      val schema = Footers.mergedListedSchema(spark, listed.map { case (_, d, fs) => d -> fs })
        .getOrElse {
          val dirs = listed.map(_._2)
          Footers.inferenceFallback(spark, dirs).parquet(dirs: _*).schema
        }
      val readFile = parquetReader(schema, schema, Nil)
      def keysIn(st: org.apache.hadoop.fs.FileStatus): Seq[Seq[Any]] = {
        val rows = readFile(PartitionedFile(InternalRow.empty,
          SparkPath.fromPath(st.getPath), 0L, st.getLen, Array.empty, 0L, st.getLen))
        try rows.map(_.copy().toSeq(schema)).toVector
        finally rows match {
          case c: java.io.Closeable => c.close()
          case _ => ()
        }
      }
      val perFile = Footers.parFooterIo(listed.flatMap { case (b, _, fs) => fs.map(b -> _) }) {
        case (b, st) => b -> keysIn(st)
      }
      (schema, perFile.groupMapReduce(_._1)(_._2.toSet)(_ ++ _))
    }
  }

  /** One broadcast per SCAN, not per execution: repeated actions on
    * the same DataFrame reuse it instead of accumulating broadcast
    * blocks between context-cleaner GCs.
    */
  private lazy val tombstonesBc
      : Option[org.apache.spark.broadcast.Broadcast[Map[Int, Set[Seq[Any]]]]] = {
    val (_, tombs) = tombstones
    if (tombs.isEmpty) None else Some(spark.sparkContext.broadcast(tombs))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    plannedFiles.flatMap { case (p, b, len) =>
      // split like Spark's own file scan: parquet row groups attach to
      // the split containing their midpoint, so splits are exact
      (0L until len by maxBytes).map { off =>
        GraftInputPartition(SparkPath.fromPath(p).urlEncoded, off,
          math.min(maxBytes, len - off), len, b)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val (keySchema, tombs) = tombstones
    // reader schema: required DATA columns (the bucket metadata column
    // is injected per partition, not read), plus key columns
    // (appended) when any bucket needs in-scan tombstone subtraction
    val base = dataRequired
    val extraKeys =
      if (tombs.isEmpty) Seq.empty
      else keySchema.fields.toSeq.filterNot(f => base.fieldNames.contains(f.name))
    val readerSchema = StructType(base.fields.toSeq ++ extraKeys)
    val keyOrdinals =
      if (tombs.isEmpty) Array.empty[Int]
      else keySchema.fields.map(f => readerSchema.fieldIndex(f.name))
    val readFunc = parquetReader(dataSchema, readerSchema, parquetFilters)
    // deleted-key sets ship ONCE per executor as a broadcast, not once
    // per task inside every split's InputPartition — a heavily-
    // tombstoned bucket split 40 ways must not serialize its key set
    // 40 times per scan
    new GraftReaderFactory(readFunc, readerSchema, required,
      keyOrdinals, keySchema, tombstonesBc, limit)
  }
}

/** One parquet split, tagged with its bucket id (the key into the
  * broadcast deleted-key sets, and the partition VALUE storage-
  * partitioned planning groups splits by).
  */
case class GraftInputPartition(urlEncodedPath: String, start: Long, length: Long,
                               fileSize: Long, bucket: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

/** Deleted-key tuples are catalyst values (UTF8String/Long/...),
  * which are what the parquet reader yields — set membership is
  * exact, including null components (Seq equality matches nulls, the
  * `<=>` the library's anti-join uses).
  */
class GraftReaderFactory(readFunc: PartitionedFile => Iterator[InternalRow],
                         readerSchema: StructType, required: StructType,
                         keyOrdinals: Array[Int], keySchema: StructType,
                         tombstones: Option[org.apache.spark.broadcast.Broadcast[
                           Map[Int, Set[Seq[Any]]]]],
                         limit: Option[Int] = None)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val file = PartitionedFile(InternalRow.empty,
      SparkPath.fromUrlString(p.urlEncodedPath), p.start, p.length,
      Array.empty, 0L, p.fileSize)
    // returning_batch=false at build time: the format's own iterator
    // yields plain rows (no smuggled ColumnarBatch to unwrap).
    // A file missing a REQUIRED (non-nullable) column can only be a
    // stale plan reading a different epoch's files: graft's write
    // paths always materialize the declared non-null key columns
    // (delta-mode row identity), and within an epoch evolution is
    // additive-nullable (readers null-fill). So a REPLACE/restore
    // contract swap raced this statement — surface the documented
    // re-run conflict, not a raw reader IOException (found by the
    // dml.mode=delta chaos personality, r16).
    def epochRace(e: java.io.IOException) = {
      val cme = new java.util.ConcurrentModificationException(
        s"scan of ${p.urlEncodedPath} expects a non-nullable column the " +
          "data file does not carry — a REPLACE/restore contract swap " +
          "raced this statement (stale plan over a new epoch's files); " +
          "re-run")
      cme.initCause(e)
      cme
    }
    val rows: Iterator[InternalRow] =
      try readFunc(file)
      catch {
        case e: java.io.IOException if Option(e.getMessage)
            .exists(_.contains("Required column is missing")) =>
          throw epochRace(e)
      }
    val deletedKeys: Set[Seq[Any]] =
      tombstones.map(_.value.getOrElse(p.bucket, Set.empty[Seq[Any]]))
        .getOrElse(Set.empty)
    val filtered =
      if (deletedKeys.isEmpty) rows
      else {
        val keyTypes = keySchema.fields.map(_.dataType)
        rows.filterNot { r =>
          val key: Seq[Any] = keyOrdinals.indices
            .map(i => r.get(keyOrdinals(i), keyTypes(i)))
          deletedKeys.contains(key)
        }
      }
    // project to the scan's OUTPUT schema: key columns read only for
    // tombstone filtering drop away, and the bucket metadata column —
    // when the query asked for it — is injected as this partition's
    // constant (it is layout metadata, never stored in the files)
    val needsProjection = readerSchema.length != required.length ||
      required.fieldNames.contains(SnapshotStore.BucketCol)
    val projected =
      if (!needsProjection) filtered
      else {
        val proj = UnsafeProjection.create(
          required.fields.toIndexedSeq.map { f =>
            if (f.name == SnapshotStore.BucketCol)
              org.apache.spark.sql.catalyst.expressions.Literal(
                p.bucket, org.apache.spark.sql.types.IntegerType)
                : org.apache.spark.sql.catalyst.expressions.Expression
            else {
              val i = readerSchema.fieldIndex(f.name)
              BoundReference(i, f.dataType, f.nullable)
            }
          })
        filtered.map(proj)
      }
    // a pushed (partial) LIMIT caps every split at `limit` rows: the
    // reader stops decoding the parquet stream as soon as its split
    // alone could satisfy the query — Spark's own Limit above takes
    // the exact first n across splits
    val capped = limit.fold(projected)(n => projected.take(n))
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (capped.hasNext) { current = capped.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** A sum-aggregated custom metric (driver-reported planning facts).
  * The zero-arg constructor is REQUIRED: Spark's SQLAppStatusListener
  * re-instantiates the metric class reflectively (zero-arg or
  * SparkConf ctor only) to aggregate values for the SQL UI — without
  * it every execution end logs a loadExtensions error and the UI
  * shows no aggregated value for these metrics.
  */
private[connector] final class GraftSumMetric(n: String, desc: String)
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  def this() = this("", "")
  override def name(): String = n
  override def description(): String = desc
}
