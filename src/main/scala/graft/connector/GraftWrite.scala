package graft.connector

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.store.{Breadcrumbs, Identity, SnapshotStore}

/** Write-side of the connector: `df.write.format("graft")` batch saves
  * and `df.writeStream.format("graft")` exactly-once streaming upserts
  * — any Spark job can now WRITE a transactional snapshot table, not
  * just read one (the other half of the reference's consumption
  * contract: its MERGE procedures both read and land in Snowflake
  * tables).
  *
  * Options: `keys` (required — the table's merge identity), plus at
  * creation `numBuckets` (default 16) and `statsCols` (data-skipping
  * columns). Batch SaveModes:
  *   - Append       keyed upsert ([[SnapshotStore.upsertMerge]] — this
  *                  is a KEYED table format; the rows' final state per
  *                  key replaces, never duplicates)
  *   - Overwrite    full replace as one new version (history stays
  *                  time-travelable until vacuum)
  *   - ErrorIfExists / Ignore  standard create semantics
  */
private[connector] object GraftWrite {

  final case class WriteOpts(root: String, keys: Seq[String],
                             numBuckets: Int, statsCols: Seq[String])

  def opts(parameters: Map[String, String]): WriteOpts = {
    val mainRoot = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft writes need a table root: .save(<root>) or .option(\"path\", <root>)"))
    // `option("branch", name)` targets a write-audit-publish branch —
    // which must already exist (createBranch fixes the fork point and
    // retention); create-on-first-write through the branch door would
    // silently make an unprotected free-standing table
    val root = parameters.get("branch").filter(_.nonEmpty).fold(mainRoot) { b =>
      val br = SnapshotStore.branchRoot(mainRoot, b)
      require(SnapshotStore.latestVersion(SparkSession.active, br).isDefined,
        s"no branch '$b' on $mainRoot — create it first " +
          "(SnapshotStore.createBranch or CALL system.branch)")
      br
    }
    val keys = parameters.get("keys").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    WriteOpts(root, keys,
      parameters.get("numBuckets").map(_.toInt).getOrElse(16),
      parameters.get("statsCols").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil))
  }

  /** The write's effective merge-identity columns: the `keys` option
    * validated against (and defaulted from) the keys the table's
    * manifest persists. An existing table's keys are part
    * of its physical layout — rows bucket by their hash — so a write
    * under DIFFERENT keys would scatter updates across wrong buckets
    * and silently duplicate identities; it fails fast here instead.
    * Writers with no `keys` option at all (SQL INSERT INTO has no
    * options channel) inherit the persisted keys, which is what makes
    * catalog DML possible.
    */
  def resolveKeys(spark: SparkSession, root: String, optKeys: Seq[String],
                  exists: Boolean): Seq[String] = {
    val persisted =
      if (!exists) Nil
      else SnapshotStore.latestVersion(spark, root)
        .map(v => SnapshotStore.readManifest(spark, root, v).keys).getOrElse(Nil)
    if (persisted.nonEmpty) {
      if (optKeys.nonEmpty && optKeys != persisted)
        throw new IllegalArgumentException(
          s"graft table at $root was created with keys " +
            s"(${persisted.mkString(", ")}) but this write declares " +
            s"(${optKeys.mkString(", ")}) — the merge identity is fixed at " +
            "creation (it determines the bucket layout); drop the keys " +
            "option or recreate the table")
      persisted
    } else {
      if (optKeys.isEmpty) throw new IllegalArgumentException(
        if (exists)
          s"graft table at $root predates persisted keys (manifest format " +
            "< 4): this write must declare .option(\"keys\", \"k1,k2\")"
        else
          "graft table creation needs the merge-identity columns: " +
            ".option(\"keys\", \"k1,k2\")")
      optKeys
    }
  }

  def save(spark: SparkSession, mode: SaveMode, parameters: Map[String, String],
           data: DataFrame): Unit = {
    val w = opts(parameters)
    val exists = SnapshotStore.latestVersion(spark, w.root).isDefined
    val keys = resolveKeys(spark, w.root, w.keys, exists)
    mode match {
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft table already exists at ${w.root} (mode=ErrorIfExists)")
        SnapshotStore.init(spark, w.root, data, keys, w.numBuckets, w.statsCols): Unit
      case SaveMode.Ignore =>
        if (!exists)
          SnapshotStore.init(spark, w.root, data, keys, w.numBuckets, w.statsCols): Unit
      case SaveMode.Overwrite =>
        if (exists) SnapshotStore.replaceAll(spark, w.root, data, keys): Unit
        else SnapshotStore.init(spark, w.root, data, keys, w.numBuckets, w.statsCols): Unit
      case SaveMode.Append =>
        if (exists) {
          staleShapeGuard(spark, w.root, data) // no-op without a _schema
          SnapshotStore.commitDelta(spark, w.root,
            identityInsertGuard(spark, w.root, data), keys,
            doorMerge(spark, w.root, keys, data),
            plannedVersion = SnapshotStore.latestVersion(spark, w.root)): Unit
        }
        else SnapshotStore.init(spark, w.root, data, keys, w.numBuckets, w.statsCols): Unit
    }
  }

  /** USER-door policy for `GENERATED ALWAYS AS IDENTITY` (SQL INSERT,
    * path-based append, streaming epochs): an explicit value is
    * refused with guidance (declare `BY DEFAULT` to allow explicit
    * inserts — Snowflake's AUTOINCREMENT behaves like BY DEFAULT).
    * Enforced at the doors, not in the engine write, because row-level
    * rewrites (UPDATE/MERGE copying rows) legitimately carry existing
    * minted ids through [[SnapshotStore]].
    */
  def identityInsertGuard(spark: SparkSession, root: String,
                          df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{lit, raise_error, when}
    Identity.identitySpecs(SnapshotStore.readProps(spark, root))
      .filter { case (c, s) => !s.allowExplicit && df.columns.contains(c) }
      .foldLeft(df) { case (d, (c, _)) =>
        d.withColumn(c,
          when(d(c).isNotNull, raise_error(lit(
            s"identity column '$c' is GENERATED ALWAYS — INSERT cannot " +
              "supply a value (declare it GENERATED BY DEFAULT AS " +
              "IDENTITY to allow explicit inserts)"))
            .cast(d.schema(c).dataType))
          .otherwise(d(c)))
      }
  }

  /** Execution-time stale-plan guard for the catalog write doors: a
    * statement ANALYZED against one epoch's schema must not EXECUTE
    * against another's (a REPLACE TABLE — or a restore that
    * re-instated an earlier epoch — landing between analysis and
    * execution). Version- and key-based detectors cannot see the
    * restore-re-instated case (the table's keys and epoch look current
    * again by execution), so the incoming FRAME's columns are the
    * witness: a column the table no longer declares is a displaced
    * epoch's shape, and committing it would pollute the current epoch
    * with a cross-epoch union (found live by the contract-op chaos
    * hunt). Fewer columns than declared stay legal (partial INSERT
    * column lists, additive evolution).
    */
  def staleShapeGuard(spark: SparkSession, root: String, df: DataFrame): Unit =
    Breadcrumbs.declaredSchema(spark, root).foreach { declared =>
      val declaredNames = declared.fields.map(_.name.toLowerCase).toSet
      val stray = df.columns.filterNot(c => declaredNames(c.toLowerCase))
      if (stray.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"write at $root carries column(s) ${stray.mkString(", ")} the " +
            "table no longer declares — it was REPLACED (or restored " +
            "across an epoch) after this statement was planned; re-run " +
            "the statement")
    }

  /** The user-door merge for keyed appends: identity surrogates carry
    * forward across upserts of an existing key
    * ([[SnapshotStore.upsertMergePreserving]]) — re-minting them would
    * orphan every row keyed off the surrogate.
    */
  def doorMerge(spark: SparkSession, root: String, keys: Seq[String],
                df: DataFrame): (DataFrame, DataFrame) => DataFrame = {
    val ids = Identity.identitySpecs(SnapshotStore.readProps(spark, root))
      .map(_._1).filter(df.columns.contains)
    if (ids.isEmpty) SnapshotStore.upsertMerge(keys)
    else SnapshotStore.upsertMergePreserving(keys, ids)
  }

  def relation(sqlCtx: SQLContext, parameters: Map[String, String]): BaseRelation =
    new BaseRelation {
      override def sqlContext: SQLContext = sqlCtx
      override def schema: StructType = GraftTable.resolveSchema(
        sqlCtx.sparkSession, parameters("path"), None)
    }
}

/** Exactly-once streaming upsert sink: each micro-batch commits one
  * atomic version, with the manifest txn keyed by (checkpoint, batch
  * id) making at-least-once redelivery a no-op — the same hinge every
  * library sink uses ([[SnapshotStore.scd1SnapshotSink]]), reachable
  * from plain `writeStream.format("graft")`.
  */
class GraftSink(spark: SparkSession, parameters: Map[String, String])
    extends Sink {

  private val w = GraftWrite.opts(parameters)
  // txn identity: the query's checkpoint is the natural writer id (a
  // restarted query keeps its id; a new checkpoint is a new writer).
  // Deliberately an EXPLICIT option: the session-wide
  // spark.sql.streaming.checkpointLocation default is a PARENT
  // directory shared by every query in the session — using it as the
  // txn id would make two different queries writing this table
  // suppress each other's batches as "redeliveries". A query relying
  // on the session default must pass txnAppId (any stable per-query
  // id) instead.
  private val txnId = parameters.getOrElse("checkpointLocation",
    parameters.getOrElse("txnAppId", throw new IllegalArgumentException(
      "graft streaming writes need an explicit checkpointLocation (or " +
        "txnAppId) option: the txn id must be stable per QUERY for " +
        "exactly-once redelivery protection, and the session-wide " +
        "checkpoint default is shared by all queries")))

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    // detach from the incremental execution, then pin: the commit runs
    // several jobs (bucket census, write, stats) over the batch
    val fresh = org.apache.spark.sql.graft.GraftSqlShims.batchDataFrame(
      spark, data.queryExecution.toRdd, data.schema).localCheckpoint(true)
    try {
      val txn = Some(txnId -> batchId)
      val planned = SnapshotStore.latestVersion(spark, w.root)
      GraftWrite.staleShapeGuard(spark, w.root, fresh)
      val keys = GraftWrite.resolveKeys(spark, w.root, w.keys, planned.isDefined)
      if (planned.isEmpty)
        SnapshotStore.init(spark, w.root, fresh, keys, w.numBuckets,
          w.statsCols, txn): Unit
      else
        SnapshotStore.commitDelta(spark, w.root, fresh, keys,
          SnapshotStore.upsertMerge(keys), txn = txn,
          plannedVersion = planned): Unit
    } finally fresh.unpersist()
  }

  override def toString: String = s"GraftSink[${w.root}]"
}

/** V2 streaming write behind `df.writeStream.toTable("cat.ns.t")` —
  * the CATALOGED twin of [[GraftSink]]: each epoch's rows stage as
  * distributed LZ4 UnsafeRow spills (the row-level write's exact spill
  * protocol), and the epoch commit reads them back into one batch
  * frame and runs the ordinary exactly-once keyed upsert with
  * `txn = (stw:<queryId>, epochId)` — the streaming query id lives in
  * the checkpoint, so a restarted query keeps its identity and a
  * redelivered epoch is suppressed by the manifest's txn high-water
  * mark. Table creation stays with the catalog (`CREATE TABLE` fixes
  * keys/buckets); the stream only ever upserts.
  */
class GraftStreamingWrite(root: String, schema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val stagingBase =
    s"_staging/stw-${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"

  private def epochDir(epochId: Long) =
    new org.apache.hadoop.fs.Path(root, s"$stagingBase/epoch-$epochId")

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(
      new org.apache.hadoop.fs.Path(root, stagingBase).toString, schema,
      new GraftSerializableConf(
        SparkSession.active.sparkContext.hadoopConfiguration))

  override def commit(epochId: Long,
                      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    try {
      val files = messages.collect { case GraftStagedFile(p, n) if n > 0 => p }
      // an idle trigger stages nothing: committing would mint one no-op
      // manifest version per empty epoch (history growth + vacuum
      // pressure for zero data). Redelivery of an empty epoch is
      // vacuously idempotent, so skipping the txn mark is safe.
      if (files.isEmpty) return
      val batch = GraftStagedIO.stagedDf(spark, files.toSeq, schema)
        .localCheckpoint(true)
      try {
        val txn = Some(s"stw:$queryId" -> epochId)
        val planned = SnapshotStore.latestVersion(spark, root)
        require(planned.isDefined, s"no committed graft table at $root — " +
          "create it (CREATE TABLE ... USING graft TBLPROPERTIES" +
          "('keys'=...)) before streaming into it")
        GraftWrite.staleShapeGuard(spark, root, batch)
        val keys = GraftWrite.resolveKeys(spark, root, Nil, planned.isDefined)
        // the stream is a user door like SQL INSERT: ALWAYS-mode
        // identity supplies refuse, surrogates carry across upserts
        val guarded = GraftWrite.identityInsertGuard(spark, root, batch)
        SnapshotStore.commitDelta(spark, root, guarded, keys,
          GraftWrite.doorMerge(spark, root, keys, batch), txn = txn,
          plannedVersion = planned): Unit
      } finally batch.unpersist()
    } finally cleanup(epochId)
  }

  override def abort(epochId: Long,
                     messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    cleanup(epochId)

  private def cleanup(epochId: Long): Unit =
    try {
      val p = epochDir(epochId)
      val fs = p.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      fs.delete(p, true): Unit
    } catch { case _: java.io.IOException => () }
}

class GraftStreamingWriterFactory(stagingBase: String, schema: StructType,
                                  conf: GraftSerializableConf)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new GraftStagedWriter(s"$stagingBase/epoch-$epochId", partitionId, taskId,
      schema, schema, conf.value)
}

private[connector] object GraftSinkProvider {
  def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                 outputMode: OutputMode): Sink = {
    require(outputMode != OutputMode.Complete(),
      "graft sink upserts keyed deltas: use append or update output mode " +
        "(complete-mode re-emission would be a full replace per batch)")
    new GraftSink(sqlContext.sparkSession, parameters)
  }
}
