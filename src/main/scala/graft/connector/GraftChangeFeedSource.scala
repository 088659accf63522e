package graft.connector

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.store.{ChangeFeed, SnapshotStore}

/** `spark.readStream.format("graft")` — a continuous tail of a
  * [[SnapshotStore]] table's [[ChangeFeed]], the streaming face of the
  * reference's stream-object + scheduled-task pattern
  * (`/root/reference/with procedures/task_proc.sql:32-40`: tasks
  * re-run a MERGE over whatever the stream delivered since last time).
  *
  * Shape: a V1 [[Source]], deliberately — one feed step is a
  * manifest-guided diff JOIN over only the touched buckets, which
  * plans as a DataFrame; forcing it through DSv2 file partitions would
  * re-materialize every diff. Offsets ARE committed table versions
  * (`LongOffset(v)`), so the checkpoint contract is exact: batch
  * (start, end] replays as `readChanges(start, end]` bit-for-bit, and
  * a crash-restart re-reads precisely the uncommitted range from the
  * still-live manifests.
  *
  * Options:
  *   - `path` (required): table root
  *   - `keys` (required): comma-separated row-identity columns (the
  *     same contract as [[ChangeFeed.readChanges]])
  *   - `startingVersion`: first batch starts AFTER this version;
  *     `-1` = include the initial snapshot as inserts (if the early
  *     history was vacuumed before this consumer registered, the
  *     bootstrap batch degrades to the net state at the range end as
  *     inserts — merge-equivalent, never a wedged query; a NUMERIC
  *     version below retention stays the loud STALE error); default
  *     `latest` = only changes committed after the query starts
  *   - `consumerId`: register under the table's named-consumer
  *     protocol — [[SnapshotStore.vacuum]] then retains every version
  *     the stream still needs (the offset advances on batch COMMIT,
  *     so retention never runs ahead of the checkpoint), and a fresh
  *     query without `startingVersion` resumes from the consumer's
  *     offset.
  *   - `replaceBoundary`: what to do when a batch's version range
  *     crosses a keys-changing REPLACE TABLE. `refuse` (default) fails
  *     loudly with the re-sync recipe; `refresh` delivers the recovery
  *     in-band as ONE full-refresh batch (retraction `delete` rows for
  *     the state at the range start, `insert` rows for the state at
  *     the range end — [[ChangeFeed.fullRefreshChanges]]) and resumes
  *     incrementally, so a long-running ingest survives the
  *     reference's recreate-with-the-table pattern
  *     (`02 Location Entity.sql:29,79`) without operator surgery.
  *   - `maxVersionsPerBatch`: rate limit — each offered batch spans at
  *     most this many table versions (the maxFilesPerTrigger analog: a
  *     commit burst drains in bounded transactions instead of one
  *     giant batch). The cap's base is persisted in the source's own
  *     checkpoint metadata dir, so it survives restarts WITHOUT ever
  *     offering below what an earlier incarnation offered — the engine
  *     compares available only against committed, so a lower re-offer
  *     would rewind the commit log and re-deliver old versions.
  */
class GraftChangeFeedSource(spark: SparkSession, root: String,
                            keys: Seq[String], consumerId: Option[String],
                            initialVersion: Long,
                            maxVersionsPerBatch: Option[Long],
                            metadataPath: Option[String],
                            refreshOnReplace: Boolean = false,
                            pinnedSchema: Option[StructType] = None) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // when the provider resolved the relation schema already, REUSE it:
  // the engine asserts every batch against the relation's attributes,
  // so a second resolution racing a REPLACE swap would kill the query
  // with an engine-internal assertion (see GraftDataSource.sourceSchema)
  override val schema: StructType =
    pinnedSchema.getOrElse(GraftChangeFeedSource.feedSchema(spark, root))

  // retention floor from the start: versions after `initialVersion`
  // must survive vacuum until this stream's batches commit past them
  consumerId.foreach(id => ChangeFeed.seedConsumer(spark, root, id, initialVersion))

  private def toVersion(o: Offset): Long = o match {
    case LongOffset(v) => v
    case SerializedOffset(json) => json.trim.toLong
    case other => other.json().trim.toLong
  }

  // ------------------------------------------------------------------
  // offered-offset high-water (rate-limit base)
  // ------------------------------------------------------------------

  /** Marker dir for offers, under the engine-assigned source metadata
    * path — only maintained when a cap is configured (uncapped sources
    * always offer the table's latest, which can never regress below
    * the committed offset).
    */
  private val offerLog: Option[(FileSystem, Path)] =
    metadataPath.filter(_ => maxVersionsPerBatch.isDefined).map { mp =>
      val p = new Path(mp, "graft-offered")
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }

  private def persistedOffer: Option[Long] =
    offerLog.flatMap { case (fs, dir) => ChangeFeed.recordedOffset(fs, dir) }

  /** Durably record an offer before handing it to the engine; false =
    * could not persist (the caller then offers NOTHING NEW this
    * trigger and retries next time — an offer the log does not hold
    * could exceed what a restarted incarnation ever re-offers, and an
    * available offset that regresses below a prior offer rewinds the
    * engine's commit log).
    */
  private def persistOffer(v: Long): Boolean = offerLog.forall { case (fs, dir) =>
    try { ChangeFeed.recordOffset(fs, dir, v); true }
    catch { case _: java.io.IOException => false }
  }

  /** Highest version ever OFFERED to the engine by this query (across
    * incarnations, via the persisted markers) — the base the rate
    * limit advances from. Never below it: see the class doc.
    */
  @volatile private var highWater: Long =
    math.max(initialVersion, persistedOffer.getOrElse(Long.MinValue))

  /** `Trigger.AvailableNow` end-of-data latch. Without this trait the
    * engine falls back to single-batch Trigger.Once semantics for the
    * source — which, under `maxVersionsPerBatch` pacing, DRAINS ONE
    * PACED BATCH and stops, silently leaving committed versions
    * unprocessed (caught by AvailableNowSpec). With it, getOffset
    * paces toward the version latched here and plateaus, so the run
    * terminates exactly when everything available at query start has
    * been processed — commits landing after the latch wait for the
    * next run, the AvailableNow contract.
    */
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowTarget = SnapshotStore.latestVersion(spark, root)
  }

  /** Admission control rides the SAME pacing [[getOffset]] already
    * implements (`highWater + maxVersionsPerBatch`, durable offers) —
    * the engine calls this form when the trait is present.
    */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    getOffset.orNull

  /** The available offset is the table's latest version (floored at
    * the start point so a fresh query's first batch is empty rather
    * than unconstructible; capped at `highWater + maxVersionsPerBatch`
    * when rate-limited). Never gate on `initialVersion` alone: a
    * RESTARTED query's progress lives in the checkpoint (`start` in
    * getBatch), and versions committed while the query was down must
    * surface the moment it comes back — the engine itself skips batch
    * construction when available == committed.
    */
  override def getOffset: Option[Offset] =
    SnapshotStore.latestVersion(spark, root).map { v =>
      val vEff = availableNowTarget.fold(v)(t => math.min(v, t))
      val floored = math.max(vEff, initialVersion)
      val offered = maxVersionsPerBatch
        .fold(floored)(n => math.min(floored, highWater + n))
      if (offered > highWater) {
        if (persistOffer(offered)) { highWater = offered; LongOffset(offered) }
        // can't record the offer: hand back the last RECORDED one (no
        // new data this trigger; the next getOffset retries). Offering
        // the uncapped latest here would let a capped restart compute
        // a lower available than this incarnation already offered —
        // a commit-log rewind.
        else LongOffset(highWater)
      } else LongOffset(offered)
    }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(toVersion).getOrElse(initialVersion)
    val to = toVersion(end)
    if (to > highWater) { persistOffer(to): Unit; highWater = to }
    // an empty range is a legitimate first batch (fresh query created
    // at the table's current version)
    if (from >= to)
      return org.apache.spark.sql.graft.GraftSqlShims.streamingDataFrame(
        spark, spark.sparkContext.emptyRDD, schema)
    // a keys-changing REPLACE inside the range: a keyed diff across
    // unrelated contents is meaningless. Default refuses loudly with
    // the re-sync recipe (readChanges' own error); with
    // `replaceBoundary=refresh` the batch instead delivers the
    // syncDerived recovery IN-BAND — a full refresh expressed as
    // ordinary change rows (retraction deletes at `from`, state
    // inserts at `to`) — and the query resumes incrementally from `to`
    // with no operator surgery. Exactly-once is untouched: the batch
    // is still the deterministic function of (start, end] the
    // checkpoint replays.
    // pre-history bootstrap (`startingVersion=-1`) on a table whose
    // early history was already vacuumed: the replay needs manifest 0
    // (the initial snapshot + every step's diff base), which retention
    // never promised BEFORE this consumer registered — and since
    // `from` stays -1 until a batch commits, the loud STALE error
    // would wedge the query PERMANENTLY (found by StreamChaosBlast:
    // three vacuums racing ahead of the first drain). A fresh mirror
    // cannot observe vacuumed churn anyway, so the bootstrap batch
    // degrades to the NET state at the range end as inserts —
    // merge-equivalent to the replay, and the stream then proceeds
    // incrementally under the now-registered consumer's retention
    // floor. A NUMERIC startingVersion below retention stays the loud
    // STALE error: the user named specific history that is gone. The
    // in-flight race (versions listed healthy, vacuum deletes 0 before
    // the read plans) is caught the same way.
    def bootstrapLost: Boolean =
      from < 0 && SnapshotStore.versions(spark, root).headOption.forall(_ > 0)
    val raw =
      if (refreshOnReplace && ChangeFeed.crossesReplaceBoundary(spark, root, from, to))
        ChangeFeed.fullRefreshChanges(spark, root, from, to)
      else if (bootstrapLost)
        ChangeFeed.fullRefreshChanges(spark, root, from, to)
      else
        try ChangeFeed.readChanges(spark, root, keys, from, to)
        catch {
          case e: IllegalStateException
              if from < 0 && e.getMessage != null && e.getMessage.contains("STALE") =>
            ChangeFeed.fullRefreshChanges(spark, root, from, to)
        }
    // dataset-resolved columns (a literal dot in a name is not field
    // access), null-filling columns a pre-evolution range lacks
    val changes = raw.select(schema.fields.toSeq.map { f =>
      if (raw.columns.contains(f.name)) raw(f.name)
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
    }: _*)
    // the engine requires isStreaming=true on a getBatch result; the
    // plan itself is the ordinary bounded feed diff
    org.apache.spark.sql.graft.GraftSqlShims.streamingDataFrame(
      spark, changes.queryExecution.toRdd, schema)
  }

  /** Batch (…, end] is durably committed downstream: advance the named
    * consumer so vacuum may release history at its own pace. Never
    * called for in-flight batches — retention can lag the checkpoint
    * but never lead it.
    */
  override def commit(end: Offset): Unit = {
    if (toVersion(end) > highWater) highWater = toVersion(end)
    consumerId.foreach(id =>
      ChangeFeed.seedConsumer(spark, root, id, toVersion(end)))
  }

  override def stop(): Unit = ()
}

object GraftChangeFeedSource {

  /** sourceSchema → createSource consistency pin (see
    * [[GraftDataSource.sourceSchema]]): Spark calls the two provider
    * methods on DIFFERENT instances (`DataSource.providingInstance()`
    * constructs a fresh provider per call), so the per-root pin lives
    * here. R16 lifecycle (r15 "what's wrong" #2):
    *
    *  - each `readStream.load()` pins; the matching `start()` CONSUMES
    *    the pin (removed on read) — an entry lives only for the
    *    load()→start() window, so a long session streaming thousands
    *    of ephemeral roots accumulates no JVM-lifetime state;
    *  - a SECOND load() of the same root while an un-consumed pin with
    *    a DIFFERENT shape is pending is REFUSED loudly. This is the
    *    one gateway to the cross-pin hazard, and the engine does NOT
    *    make it loud: its batch assertion checks attribute COUNT only
    *    and rewrites attributes positionally, so a same-arity
    *    cross-epoch pin delivers silently mis-bound rows (measured
    *    while building ChangeFeedSchemaPinSpec — a LONG read over a
    *    UTF8String field returns garbage, no exception). Refusing the
    *    ambiguous load is the only place the hazard can be closed;
    *    an abandoned pin (load() never started) ages out after
    *    [[PinAbandonMs]] rather than wedging the root forever;
    *  - at start, the resolved schema is persisted into the query's
    *    own checkpoint ([[startSchema]]), so a RESTART — same
    *    checkpoint, possibly a stale DataFrame, possibly a fresh JVM
    *    with an empty pin map — runs with the schema the query was
    *    CREATED with instead of a fresh resolution that may have
    *    drifted across a REPLACE.
    *
    * Residual (documented): the same DataFrame started TWICE creates
    * two queries from one pin — the second start has no pin and a
    * fresh checkpoint, so it resolves fresh; a swap between its load
    * and start can then mis-bind same-arity shapes. One relation, one
    * start is the supported pattern.
    *
    * Pins are COUNTED per root (r16 advice #1): two concurrent
    * same-shape load()s of one root used to collapse into one entry,
    * so the first start() consumed it and the second start() fell back
    * to a fresh resolution — a REPLACE in that second query's
    * load()→start() window re-opened the same-arity mis-bind this map
    * exists to close. Each load() now increments the pin's count and
    * each start() decrements it, so every load() gets exactly one
    * consume; the entry is removed at count 0 (no lifetime growth).
    */
  private val schemaPins =
    new java.util.concurrent.ConcurrentHashMap[String, (StructType, Long, Int)]()

  /** How old an un-consumed pin must be before a new load() may
    * replace (rather than refuse) a different-shape one — a loader
    * that never started is abandoned, not ambiguous.
    */
  private val PinAbandonMs = 600000L

  private[connector] def pinSchema(root: String, s: StructType): Unit = {
    val now = System.currentTimeMillis()
    schemaPins.compute(root, (_, cur) =>
      if (cur == null || now - cur._2 > PinAbandonMs) (s, now, 1)
      else if (cur._1 == s) (s, now, cur._3 + 1)
      else throw new java.util.ConcurrentModificationException(
        s"concurrent readStream.load() calls on $root straddled a " +
          "contract swap (REPLACE/restore): an earlier load()'s schema " +
          "pin is still pending with a different shape, and starting " +
          "either stream would mis-bind its batches — start or discard " +
          "the earlier streaming DataFrame, then re-create this one")): Unit
  }

  /** Consumes ONE count of the pin (entry removed at zero) — see
    * [[schemaPins]].
    */
  private[connector] def pinnedSchemaFor(root: String): Option[StructType] = {
    val got = new java.util.concurrent.atomic.AtomicReference[StructType]()
    schemaPins.compute(root, (_, cur) =>
      if (cur == null) null
      else {
        got.set(cur._1)
        if (cur._3 <= 1) null else (cur._1, cur._2, cur._3 - 1)
      }): Unit
    Option(got.get())
  }

  /** Test visibility: live pin count (growth assertions). */
  private[connector] def pinnedRootCount: Int = schemaPins.size()

  private val StartSchemaFile = "_graft_feed_schema"

  /** The schema a STARTING source must run with, durably tied to the
    * query via its checkpoint `metadataPath`: a fresh start persists
    * its pin (or fresh resolution) there; a RESTART reads it back —
    * the checkpoint is the only identity that survives stale
    * DataFrames and JVM restarts, and the schema it carries is by
    * construction the one the query's relation was created with.
    */
  private[connector] def startSchema(spark: SparkSession,
                                     metadataPath: Option[String],
                                     root: String,
                                     pinned: Option[StructType]): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = metadataPath.map(mp =>
      new org.apache.hadoop.fs.Path(mp, StartSchemaFile))
    def persist(s: StructType): Unit = file.foreach { f =>
      val fs = f.getFileSystem(conf)
      fs.mkdirs(f.getParent)
      val out = fs.create(f, true)
      try out.write(s.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    def persisted: Option[StructType] = file.flatMap { f =>
      val fs = f.getFileSystem(conf)
      if (!fs.exists(f)) None
      else {
        val in = fs.open(f)
        val text = try {
          val bos = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](4096)
          var n = in.read(buf)
          while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
          bos.toString("UTF-8")
        } finally in.close()
        Some(org.apache.spark.sql.types.DataType.fromJson(text)
          .asInstanceOf[StructType])
      }
    }
    pinned match {
      case Some(p) => persist(p); p
      case None => persisted.getOrElse {
        val fresh = feedSchema(spark, root)
        persist(fresh)
        fresh
      }
    }
  }

  private val StartIdentityFile = "_graft_feed_identity"

  /** Fence a resumed stream against a DROPPED-AND-RE-CREATED table
    * (found by BranchStreamChaosSpec): a successor instance at the
    * same path restarts version numbering, so checkpointed offsets
    * ALIAS the new history and a resumed consumer silently skips (or
    * re-reads) rows — the feed twin of the recycled-version-slot
    * class. The table's per-instance id
    * ([[graft.store.SnapshotStore.tableInstanceId]]) persists into the
    * query's checkpoint on first start; a resume whose current id
    * differs refuses with the documented severed-lineage conflict.
    */
  private[connector] def verifyStartIdentity(spark: SparkSession,
                                             metadataPath: Option[String],
                                             root: String): Unit =
    metadataPath.foreach { mp =>
      val conf = spark.sparkContext.hadoopConfiguration
      val f = new org.apache.hadoop.fs.Path(mp, StartIdentityFile)
      val fs = f.getFileSystem(conf)
      val cur = SnapshotStore.tableInstanceId(spark, root)
      val stored: Option[String] =
        if (!fs.exists(f)) None
        else {
          val in = fs.open(f)
          try {
            val bos = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](256)
            var n = in.read(buf)
            while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
            Some(bos.toString("UTF-8").trim).filter(_.nonEmpty)
          } finally in.close()
        }
      stored match {
        case None =>
          fs.mkdirs(f.getParent)
          val out = fs.create(f, true)
          try out.write(cur.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        case Some(id) if id != cur =>
          throw new java.util.ConcurrentModificationException(
            s"the table at $root was dropped and re-created since this " +
              s"stream's checkpoint was written (instance $id -> $cur): " +
              "its version lineage was severed, and the checkpointed " +
              "offsets would silently alias the new history — start a " +
              "fresh stream with a new checkpoint")
        case _ => ()
      }
    }

  private[connector] def rootOf(parameters: Map[String, String]): String = {
    val p = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft streaming reads need a table root: .option(\"path\", <root>) " +
        "or .load(<root>)"))
    // same branch resolution as the snapshot doors: the change feed of
    // a write-audit-publish branch is the branch's own commit history
    parameters.get("branch").filter(_.nonEmpty)
      .fold(p)(graft.store.SnapshotStore.branchRoot(p, _))
  }

  /** The one parsing of the row-identity option, shared by the stream
    * source and the batch CDF relation.
    */
  private[connector] def keysOf(parameters: Map[String, String]): Seq[String] =
    parameters.getOrElse("keys", throw new IllegalArgumentException(
      "change-feed reads need the row-identity columns: " +
        ".option(\"keys\", \"k1,k2\")")).split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Change rows = table schema + the change-type / commit-version
    * metadata columns (the METADATA$ACTION × ISUPDATE matrix).
    */
  /** Feed rows span EPOCHS by design (the `replaceBoundary=refresh`
    * recovery emits the displaced state's retractions under the NEW
    * epoch's declared columns, null-filled), so every data column is
    * presented NULLABLE — including delta-mode merge keys, whose
    * non-null marking is a SNAPSHOT-read truth only. Keeping the
    * marking made the refresh batch unencodable: the V1 relation's
    * row encoder asserted non-null on the null-filled key column and
    * killed the read with EXPRESSION_ENCODING_FAILED (found by the
    * branch hunt's batch-CDF op on its first blast, seed 4003,
    * delta personality).
    */
  private[connector] def feedSchema(spark: SparkSession, root: String): StructType =
    StructType(GraftTable.resolveSchema(spark, rootOf(Map("path" -> root)), None)
      .fields.toSeq.map(_.copy(nullable = true)))
      .add(ChangeFeed.ChangeType, StringType)
      .add(ChangeFeed.CommitVersion, LongType)

  def apply(spark: SparkSession, parameters: Map[String, String],
            metadataPath: Option[String] = None,
            pinnedSchema: Option[StructType] = None): GraftChangeFeedSource = {
    val root = rootOf(parameters)
    val keys = keysOf(parameters)
    val consumerId = parameters.get("consumerId").filter(_.nonEmpty)
    val latest = SnapshotStore.latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed graft table at $root"))
    val initial = parameters.get("startingVersion") match {
      case Some("latest") | None =>
        // a registered consumer resumes where it left off; a fresh
        // stream observes changes from its creation point forward
        consumerId.flatMap(ChangeFeed.consumerOffset(spark, root, _))
          .getOrElse(latest)
      case Some(v) => v.trim.toLong
    }
    val onReplace = parameters.getOrElse("replaceBoundary", "refuse")
    require(onReplace == "refuse" || onReplace == "refresh",
      s"replaceBoundary must be 'refuse' (default) or 'refresh', got '$onReplace'")
    new GraftChangeFeedSource(spark, root, keys, consumerId, initial,
      parameters.get("maxVersionsPerBatch").map(_.trim.toLong).map { n =>
        require(n >= 1, s"maxVersionsPerBatch must be >= 1, got $n"); n
      },
      metadataPath,
      refreshOnReplace = onReplace == "refresh",
      pinnedSchema = pinnedSchema)
  }
}
