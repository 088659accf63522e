package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.operators.{Scd1, Scd2}
import graft.store.SnapshotStore

/** Structured-Streaming re-expression of the reference's "real-time"
  * machinery:
  *
  *  - stage ingest + append-only stream → [[auditedCsvStream]]
  *    (file-source stream with the reference's audit columns;
  *    ref `/root/reference/02 Location Entity.sql:70-104`)
  *  - scheduled MERGE task loop → [[scd1UpsertSink]]
  *    (`foreachBatch` + [[Scd1.merge]]; ref `with procedures/
  *    task_proc.sql:32-40` — the cron task becomes a trigger)
  *  - standard stream (I/U/D change tracking) → [[changeLog]]
  *    (`flatMapGroupsWithState` keyed change emitter; ref
  *    `02 Location Entity.sql:86-90`)
  *  - consumption-layer rollups → [[windowedCounts]]
  *    (watermarked tumbling windows)
  *
  * Scale notes: the upsert/history sinks maintain a parquet target
  * hash-bucketed by business key ([[BucketCol]]). Every micro-batch
  * reads ONLY the buckets its delta touches (partition-pruned scan),
  * merges, and dynamic-partition-overwrites only those bucket
  * directories — work per batch is O(delta buckets), never O(full
  * target). On a cluster a transactional table format (Delta/Iceberg
  * MERGE) would add atomicity across buckets; the incremental shape is
  * the same. State in [[changeLog]] is one small value per key,
  * partitioned by the grouping key across executors.
  */
object StreamPipeline {

  /** Partition column on merge targets: a stable hash bucket of the
    * business key. Deterministic, so any delta row lands in the same
    * bucket as every prior version of its key.
    */
  val BucketCol: String = SnapshotStore.BucketCol

  /** Attach the target bucket to each row (the store's layout). */
  def withBucket(df: DataFrame, keys: Seq[String], numBuckets: Int): DataFrame =
    SnapshotStore.withBucket(df, keys, numBuckets)

  /** The bucket count is a property of the TARGET LAYOUT, not of a
    * call: a marker file written at target creation pins it, and every
    * later merge uses the marker — a caller passing a different
    * numBuckets can therefore never route a key away from the bucket
    * its history lives in (which would silently duplicate keys).
    * Underscore-prefixed, so parquet readers ignore it (like _SUCCESS).
    */
  private val LayoutMarker = "_graft_buckets"

  /** Create a target from `rows` (which carry [[BucketCol]] under
    * `numBuckets`) and pin its layout marker — the first batch of every
    * merge target, and [[graft.pipeline.Warehouse.runBatch]]'s backfill.
    */
  private[graft] def createTarget(rows: DataFrame, targetDir: String, numBuckets: Int): Unit = {
    rows.write.mode("overwrite").partitionBy(BucketCol).parquet(targetDir)
    Files.writeString(Paths.get(targetDir, LayoutMarker), numBuckets.toString)
  }

  /** Reader over a bucket-partitioned merge target whose union schema
    * (across additive evolution) comes from one driver-side footer per
    * bucket dir plus the explicit partition column — replacing a
    * distributed mergeSchema inference job per read. Falls back, with
    * the store's `[graft] footer-schema read fell back` line, to
    * inference when no footer answers (no bucket dir yet, unreadable
    * footer).
    */
  private[graft] def mergedTargetRead(spark: SparkSession, targetDir: String)
      : org.apache.spark.sql.DataFrameReader = {
    val dirs = bucketDirs(targetDir)
    SnapshotStore.mergedFooterSchema(spark, dirs) match {
      case Some(s) => spark.read.schema(s.add(BucketCol,
        org.apache.spark.sql.types.IntegerType, nullable = true))
      case None => SnapshotStore.inferenceFallback(spark, Seq(targetDir))
    }
  }

  private def bucketDirs(targetDir: String): Seq[String] = {
    val root = Paths.get(targetDir)
    if (!Files.isDirectory(root)) Nil
    else {
      val ls = Files.list(root)
      try ls.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith(s"$BucketCol="))
        .map(_.toString)
      finally ls.close()
    }
  }

  private[graft] def layoutBuckets(targetDir: String, fallback: Int): Int = {
    val f = Paths.get(targetDir, LayoutMarker)
    if (Files.exists(f)) Files.readString(f).trim.toInt else fallback
  }

  /** Schema-on-read staged CSV ingest with audit columns (the batch
    * stage contract minus `_stg_file_md5` — a content hash needs a
    * second pass over the bytes, which a file stream doesn't get).
    */
  def auditedCsvStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    withStreamAudit(spark.readStream.schema(schema).option("header", "true").csv(path))

  /** JSON twin of [[auditedCsvStream]] (the reference's delivery_agent
    * feed is JSON — `with procedures/delivery_agent_proc.sql`).
    */
  def auditedJsonStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    withStreamAudit(spark.readStream.schema(schema).json(path))

  private def withStreamAudit(df: DataFrame): DataFrame =
    df.withColumn("_stg_file_name", input_file_name())
      .withColumn("_stg_file_load_ts", expr("_metadata.file_modification_time"))
      .withColumn("_stg_file_size", expr("_metadata.file_size"))
      .withColumn("_copy_data_ts", current_timestamp())

  /** Watermarked tumbling-window event rollup. */
  def windowedCounts(events: DataFrame, tsCol: String,
                     watermark: String, windowLen: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Continuous SCD1 upsert: every micro-batch merges into the parquet
    * target, newest version per key wins (the reference's
    * stream-driven clean-layer MERGE).
    */
  def scd1UpsertSink(stream: DataFrame, targetDir: String, checkpointDir: String,
                     keys: Seq[String], orderBy: Seq[Column],
                     numBuckets: Int = 16,
                     deleteCol: Option[String] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        upsertBatch(batch, targetDir, keys, orderBy, numBuckets, deleteCol)
      }
      .start()

  /** One merge step (also usable from a batch job): read ONLY the
    * target buckets the batch touches (partition-pruned), SCD1-merge
    * the delta in, and dynamic-partition-overwrite those buckets.
    * Buckets the batch does not touch are neither read nor rewritten —
    * per-batch cost is O(delta + touched buckets), not O(target).
    */
  def upsertBatch(batch: Dataset[Row], targetDir: String,
                  keys: Seq[String], orderBy: Seq[Column],
                  numBuckets: Int = 16,
                  deleteCol: Option[String] = None): Unit =
    upsertDelta(delta(batch.toDF(), keys, layoutBuckets(targetDir, numBuckets)),
      targetDir, keys, orderBy, numBuckets, deleteCol)

  /** A micro-batch routed to one bucket layout: `rows` carry
    * [[BucketCol]] under `numBuckets`, and `touched` lists the buckets
    * they land in (empty = nothing to merge). One delta can feed several
    * sinks — [[graft.pipeline.Warehouse.runIncremental]] folds the same
    * one into an entity's clean and dim targets.
    */
  private[graft] final case class BatchDelta(rows: DataFrame, numBuckets: Int, touched: Seq[Int])

  /** Bucket `batch` under `numBuckets` and collect the (≤ numBuckets)
    * bucket ids it touches — metadata-sized, the partition-pruning
    * literal list any MERGE engine computes. One job with no shuffle:
    * each task returns its partition's distinct buckets. It is also
    * the batch's emptiness check, and the action that fills an
    * [[graft.pipeline.Expectations]] observation riding `batch` (it
    * scans every row).
    */
  private[graft] def delta(batch: DataFrame, keys: Seq[String], numBuckets: Int): BatchDelta = {
    val rows = withBucket(batch, keys, numBuckets)
    val touched = rows.select(BucketCol).as(Encoders.scalaInt)
      .mapPartitions(_.toSet.iterator)(Encoders.scalaInt).collect()
    BatchDelta(rows, numBuckets, touched.distinct.sorted.toSeq)
  }

  /** `d` in `targetDir`'s layout — the target's pinned bucket count, or
    * `numBuckets` for a target not created yet: `d` itself when it was
    * bucketed that way, else re-bucketed (one more probe).
    */
  private def routed(d: BatchDelta, targetDir: String, keys: Seq[String],
                     numBuckets: Int): BatchDelta = {
    val n = layoutBuckets(targetDir, numBuckets)
    if (n == d.numBuckets) d else delta(d.rows.drop(BucketCol), keys, n)
  }

  /** [[upsertBatch]] over a precomputed delta. The first batch is
    * deduped too — one micro-batch can carry several versions of the
    * same key (e.g. multiple staged files at once), and a key whose
    * winning version is a tombstone never materializes.
    */
  private[graft] def upsertDelta(d: BatchDelta, targetDir: String,
                                 keys: Seq[String], orderBy: Seq[Column],
                                 numBuckets: Int,
                                 deleteCol: Option[String]): Unit =
    fold(d, targetDir, keys, numBuckets)(
      Scd1.latestByKey(_, keys, orderBy, deleteCol),
      Scd1.merge(_, _, keys, orderBy, deleteCol))

  /** The one fold both merge targets share: route `d` to the target's
    * layout, then either create the target from `first(rows)`, or
    * `merge` the rows into a pruned read of ONLY the touched buckets
    * and swap exactly those buckets in ([[writeAffected]]). A target
    * without a bucket dir holds no row (not created yet, or every key
    * deleted), so the batch alone makes it: there is no footer to read
    * a schema from. An empty micro-batch touches nothing and does
    * nothing.
    */
  private def fold(d: BatchDelta, targetDir: String, keys: Seq[String], numBuckets: Int)(
      first: DataFrame => DataFrame, merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    if (d.touched.isEmpty) return
    val b = routed(d, targetDir, keys, numBuckets)
    recoverSwaps(targetDir)
    if (bucketDirs(targetDir).isEmpty) createTarget(first(b.rows), targetDir, b.numBuckets)
    else {
      // union schema across additive evolution from one driver-side
      // footer per bucket dir (each dir is one job's write — one
      // schema), instead of a distributed mergeSchema inference job
      // per micro-batch
      val pruned = mergedTargetRead(b.rows.sparkSession, targetDir).parquet(targetDir)
        .where(col(BucketCol).isin(b.touched: _*))
      writeAffected(merge(pruned, b.rows), targetDir, b.touched)
    }
  }

  /** Stage to a temp dir (Spark refuses to overwrite a path it is also
    * reading), then swap in EXACTLY the `touched` bucket directories;
    * all other bucket directories (and their files) are left
    * physically untouched. The replacement is explicit rather than
    * dynamic-partition-overwrite because a DELETE can empty a bucket —
    * a bucket with zero surviving rows produces no output partition,
    * which dynamic overwrite would silently leave as-is (the deleted
    * rows would survive on disk). Swapping staged directories also
    * writes the data once, not twice.
    *
    * Crash behavior: each bucket's old files are MOVED ASIDE (to a
    * `.replaced.tmp` sibling) before the staged copy moves in, never
    * deleted first, and [[recoverSwaps]] — run before every merge
    * reads the target — moves any bucket stranded mid-swap back into
    * place. A crash can therefore leave a bucket stale (the replayed
    * micro-batch re-merges it), but no committed row is ever
    * destroyed. True multi-bucket atomicity is
    * [[graft.store.SnapshotStore]]'s job — this sink is the
    * plain-directory sibling.
    */
  private def writeAffected(df: DataFrame, targetDir: String, touched: Seq[Int]): Unit = {
    val tmp = targetDir + ".delta.tmp"
    val trash = targetDir + ".replaced.tmp"
    df.write.mode("overwrite").partitionBy(BucketCol).parquet(tmp)
    deleteRecursively(Paths.get(trash))
    Files.createDirectories(Paths.get(trash))
    touched.foreach { bkt =>
      val dest = Paths.get(targetDir, s"$BucketCol=$bkt")
      val staged = Paths.get(tmp, s"$BucketCol=$bkt")
      if (Files.exists(dest)) Files.move(dest, Paths.get(trash, s"$BucketCol=$bkt"))
      if (Files.exists(staged)) Files.move(staged, dest)
    }
    deleteRecursively(Paths.get(tmp))
    deleteRecursively(Paths.get(trash))
  }

  /** Crash recovery for [[writeAffected]]'s swap: a bucket found in
    * the `.replaced.tmp` dir whose target dir is ABSENT was stranded
    * between move-aside and move-in — restore it (the replayed batch
    * will re-merge it); one whose target dir exists was superseded by
    * a completed move-in — drop it. Runs before every merge reads the
    * target, so a replay never merges against a hole.
    */
  private def recoverSwaps(targetDir: String): Unit = {
    val trash = Paths.get(targetDir + ".replaced.tmp")
    if (!Files.exists(trash)) return
    val ls = Files.list(trash)
    try ls.forEach { p =>
      val dest = Paths.get(targetDir, p.getFileName.toString)
      if (!Files.exists(dest)) Files.move(p, dest)
    } finally ls.close()
    deleteRecursively(trash)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  /** Stream–stream interval join: match right-stream rows to left
    * rows with the same key whose event time falls within
    * [leftTs − within, leftTs]. Watermarks on both sides bound the
    * join state (Spark drops buffered rows once they cannot match).
    */
  def intervalStreamJoin(left: DataFrame, right: DataFrame,
                         key: String, leftTs: String, rightTs: String,
                         watermark: String, withinSeconds: Long,
                         joinType: String = "inner"): DataFrame = {
    require(leftTs != rightTs, "left/right event-time columns must have distinct names")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
      .withColumnRenamed(key, s"__r_$key")
    l.join(r, expr(
        s"""$key = __r_$key AND
           |$rightTs >= $leftTs - INTERVAL $withinSeconds SECONDS AND
           |$rightTs <= $leftTs""".stripMargin), joinType)
      .drop(s"__r_$key")
  }

  /** LEFT OUTER variant of [[intervalStreamJoin]]: unmatched left rows
    * are emitted with null right columns once the watermark proves no
    * in-interval match can still arrive (Spark holds them in state
    * exactly that long — the time-bound condition is what makes outer
    * streaming joins legal at all).
    */
  def intervalStreamJoinLeftOuter(left: DataFrame, right: DataFrame,
                                  key: String, leftTs: String, rightTs: String,
                                  watermark: String, withinSeconds: Long): DataFrame =
    intervalStreamJoin(left, right, key, leftTs, rightTs, watermark,
      withinSeconds, joinType = "left_outer")

  /** Continuous SCD2 maintenance: every micro-batch folds the new
    * versions into the effective-dated history (the reference's
    * stream-driven consumption-layer dim MERGE). Incremental twice
    * over: [[Scd2.applyDelta]] re-windows only the keys present in the
    * delta, and the parquet target only rewrites the hash buckets
    * those keys live in.
    */
  def scd2HistorySink(stream: DataFrame, targetDir: String, checkpointDir: String,
                      keys: Seq[String], ts: String, tiebreak: String,
                      numBuckets: Int = 16,
                      deleteCol: Option[String] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        scd2ApplyBatch(batch.toDF(), targetDir, keys, ts, tiebreak, numBuckets, deleteCol)
      }
      .start()

  /** One SCD2 fold step (also usable from a batch job) — see
    * [[scd2HistorySink]].
    */
  def scd2ApplyBatch(batch: DataFrame, targetDir: String,
                     keys: Seq[String], ts: String, tiebreak: String,
                     numBuckets: Int = 16,
                     deleteCol: Option[String] = None): Unit =
    scd2ApplyDelta(delta(batch, keys, layoutBuckets(targetDir, numBuckets)),
      targetDir, keys, ts, tiebreak, numBuckets, deleteCol)

  /** [[scd2ApplyBatch]] over a precomputed delta. */
  private[graft] def scd2ApplyDelta(d: BatchDelta, targetDir: String,
                                    keys: Seq[String], ts: String, tiebreak: String,
                                    numBuckets: Int,
                                    deleteCol: Option[String]): Unit =
    fold(d, targetDir, keys, numBuckets)(
      Scd2.buildHistory(_, keys, ts, tiebreak, deleteCol),
      Scd2.applyDelta(_, _, keys, ts, tiebreak, deleteCol))

  /** Watermarked per-key session windows — the reference's "real-time
    * user activity" shape (login_audit sessions, `/root/reference/with
    * procedures/login-audit_proc.sql:61-90`): events closer than `gap`
    * chain into one session; a session closes (and is emitted, in
    * append mode) once the watermark passes its end. Identical
    * session semantics to the batch q28 (`session_window` start =
    * first event, end = last event + gap), which is what the spec
    * asserts on a shared event set. State per in-flight session is one
    * window + count, dropped at emission — bounded by the number of
    * OPEN sessions inside the watermark horizon, not by history.
    */
  def sessionizedCounts(events: DataFrame, tsCol: String, keyCol: String,
                        watermark: String, gap: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        date_trunc("second", col("sw.start")).as("session_start"),
        date_trunc("second", col("sw.end")).as("session_end"),
        col("n_events"))

  /** Streaming exact dedup: drop repeated ids inside the watermark
    * horizon (state is bounded by the watermark — the streaming twin
    * of [[graft.operators.Dedup.exactDupFlags]]'s keep-first policy).
    */
  def dedupWithinWatermark(stream: DataFrame, idCol: String, tsCol: String,
                           watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Streaming heavy hitters: per-group Misra-Gries state folded
    * across micro-batches — O(k) state per group FOREVER, no matter
    * how many distinct items stream past (the unbounded-domain case
    * where exact streaming counts would grow without limit). After
    * each batch the group re-emits its current top `topN` estimates
    * (MG lower bounds; items above freq n/(k+1) are guaranteed
    * present). Batch twin: [[graft.operators.Sketch.heavyHitters]].
    */
  def streamingHeavyHitters(items: Dataset[(String, String)], k: Int,
                            topN: Int): Dataset[(String, String, Long)] = {
    val spark = items.sparkSession
    import spark.implicits._
    val agg = new graft.operators.Sketch.FreqItems[(String, String)](k, _._2)
    items.groupByKey(_._1)
      .flatMapGroupsWithState[graft.operators.Sketch.MgBuf, (String, String, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (g, rows, state: GroupState[graft.operators.Sketch.MgBuf]) =>
          var buf = state.getOption.getOrElse(agg.zero)
          rows.foreach(r => buf = agg.reduce(buf, r))
          state.update(buf)
          buf.counts.toSeq.sortBy { case (i, c) => (-c, i) }
            .take(topN).map { case (i, c) => (g, i, c) }.iterator
      }
  }

  /** A keyed change record emitted by [[changeLog]]. */
  final case class KeyChange(key: Long, action: String, old_value: String, new_value: String)

  /** The I/U/D emission rule both change trackers share: what (if
    * anything) a transition from `cur` to `next` emits. `None` is the
    * deleted/absent state.
    */
  private def changeEvent(key: Long, cur: Option[String],
                          next: Option[String]): Option[KeyChange] = next match {
    case Some(v) => cur match {
      case None => Some(KeyChange(key, "I", null, v))
      case Some(prev) if prev != v => Some(KeyChange(key, "U", prev, v))
      case _ => None
    }
    case None => cur.map(prev => KeyChange(key, "D", prev, null))
  }

  /** [[changeLogCdc]] for feeds that carry an explicit per-event
    * sequence number (offset / LSN / version — every CDC transport has
    * one): events for one key are applied in SEQUENCE order within a
    * batch, and a straggler whose sequence is at or below the key's
    * high-water mark is DROPPED even when it arrives in a later batch
    * — a reordered or redelivered old event can never regress the
    * state. The price of that guarantee is that state keeps a
    * (lastSeq, value) pair per key ever seen, including deleted keys
    * (the mark must outlive the delete to fence stragglers); bound it
    * with a state timeout when the transport has a reordering horizon.
    */
  def changeLogCdcOrdered(updates: Dataset[(Long, Long, Option[String])]): Dataset[KeyChange] = {
    val spark = updates.sparkSession
    import spark.implicits._
    updates.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Option[String]), KeyChange](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Option[String])]) =>
          val (out, next) = orderedFold(key,
            state.getOption, rows.map { case (_, seq, v) => (seq, v) })
          state.update(next)
          out.iterator
      }
  }

  /** [[changeLogCdcOrdered]] with BOUNDED state: a key that has seen no
    * event for `ttl` of EVENT time (measured against the stream's
    * watermark) has its (lastSeq, value) state evicted — total state
    * tracks the ACTIVE key set, not every key ever seen (the
    * unbounded-domain fix for feeds where keys retire: sessions,
    * short-lived entities, exploratory tables).
    *
    * Event-time, not processing-time, deliberately: the high-water
    * mark is the straggler fence, and a reordering horizon is an
    * event-time property of the transport — so `ttl` composes with the
    * watermark delay exactly like `dropDuplicatesWithinWatermark`'s
    * retention (and the reference's stream retention window: a
    * Snowflake stream also forgets offsets past its retention). A
    * processing-time timeout would also make the query run no-data
    * batches forever (`shouldRunAnotherBatch` is unconditionally true
    * for it).
    *
    * The trade is explicit: `ttl` MUST exceed the transport's
    * reordering horizon — an old event redelivered after eviction is
    * indistinguishable from a fresh insert and re-emits ('I').
    *
    * Input adds the event timestamp: (key, seq, value, eventTs).
    */
  def changeLogCdcOrderedTtl(updates: Dataset[(Long, Long, Option[String], java.sql.Timestamp)],
                             watermarkDelay: String, ttlMillis: Long): Dataset[KeyChange] = {
    val spark = updates.sparkSession
    import spark.implicits._
    updates.toDF("key", "seq", "value", "ts")
      // the Dataset type admits null event timestamps, and
      // flatMapGroupsWithState sees pre-watermark-filter semantics on
      // some plans — a null ts reaching the maxTs fold below would NPE
      // the whole query. Same null-hardening as the other CDC paths.
      .where(col("ts").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, Option[String], java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Option[String], Long), KeyChange](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[(Long, Option[String], Long)]) =>
          if (state.hasTimedOut) {
            // idle past the TTL: evict the mark+value (rows is empty here)
            state.remove()
            Iterator.empty
          } else {
            val rs = rows.toSeq
            val prior = state.getOption
            val (out, next) = orderedFold(key,
              prior.map { case (m, v, _) => (m, v) },
              rs.iterator.map { case (_, seq, v, _) => (seq, v) })
            // evict once the watermark passes this key's newest event
            // EVER SEEN plus the TTL. The newest event ts is carried in
            // state — computing it from the current batch alone would
            // let a fenced straggler (old event ts) SHORTEN the lease
            // and evict live state early. Never at-or-below the current
            // watermark — the API rejects that.
            val maxTs = math.max(rs.map(_._4.getTime).max,
              prior.map(_._3).getOrElse(Long.MinValue))
            state.update((next._1, next._2, maxTs))
            state.setTimeoutTimestamp(
              math.max(maxTs + ttlMillis, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** The shared sequence-fenced fold: applies `events` (seq, value) in
    * sequence order on top of `prior` (lastSeq, value) state, dropping
    * anything at or below the high-water mark; returns (emissions,
    * new state).
    */
  private def orderedFold(key: Long, prior: Option[(Long, Option[String])],
                          events: Iterator[(Long, Option[String])])
      : (Seq[KeyChange], (Long, Option[String])) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[KeyChange]
    var (mark, cur) = prior.getOrElse((Long.MinValue, Option.empty[String]))
    events.toSeq.sortBy(_._1).foreach { case (seq, next) =>
      if (seq > mark) {
        out ++= changeEvent(key, cur, next)
        cur = next
        mark = seq
      }
    }
    (out.toSeq, (mark, cur))
  }

  /** One surviving passage of a streamed corpus — see
    * [[passageDedupStream]].
    */
  final case class Passage(doc_id: Long, chunk_idx: Long, chunk: String)

  /** Streaming decontamination guard — the incremental twin of the
    * batch d09 contamination query: every incoming document is checked
    * against a FIXED benchmark corpus (the held-out eval suites a
    * training pipeline must never ingest) by 8-token-passage overlap.
    * `benchmark` is a static frame; Spark plans the stream↔static
    * equi-join with the benchmark side broadcast per micro-batch — a
    * STATELESS per-passage annotation (append-mode-safe, no state
    * store), so this scales to any stream volume with the benchmark
    * set (the small side, millions of passages at most) the only
    * memory cost. A streaming groupBy here would instead accumulate
    * one aggregation-state row per doc_id forever.
    *
    * Emits (doc_id, chunk_idx, chunk, is_benchmark_hit) per passage;
    * roll up per document with [[contaminationSummary]] — per
    * micro-batch inside `foreachBatch`, or on any batch frame.
    */
  def contaminationGuard(docs: DataFrame, benchmark: DataFrame,
                         textCol: String, idCol: String,
                         benchTextCol: String, chunkLen: Int = 8): DataFrame = {
    val benchPassages = passagesOf(benchmark, benchTextCol, lit(0L), chunkLen)
      .select(col("chunk")).distinct()
    passagesOf(docs, textCol, col(idCol).cast("long"), chunkLen)
      .join(broadcast(benchPassages.withColumn("__hit", lit(1))), Seq("chunk"), "left")
      .select(col("doc_id"), col("chunk_idx"), col("chunk"),
        col("__hit").isNotNull.as("is_benchmark_hit"))
  }

  /** Per-document rollup of [[contaminationGuard]]'s passage frame:
    * (doc_id, n_passages, n_benchmark_hits). Batch-side by design —
    * run it inside `foreachBatch` (per-batch docs are complete there,
    * and the guard's annotation is stateless so a doc's passages never
    * span batches) or over any collected passage frame.
    */
  def contaminationSummary(passages: DataFrame): DataFrame =
    passages.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("is_benchmark_hit"), 1L).otherwise(0L)).as("n_benchmark_hits"))

  /** The shared fixed-length passage segmentation (d08/d09 shape):
    * narrow, in-partition, no shuffle.
    */
  private def passagesOf(df: DataFrame, textCol: String, docId: Column,
                         chunkLen: Int): DataFrame =
    df.select(docId.as("doc_id"),
        graft.functions.TextFuncs.tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) > 0)
      .select(col("doc_id"),
        posexplode(graft.functions.TextFuncs.passageChunks(col("__t"), chunkLen))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk"))

  /** Streaming passage-level dedup — the incremental twin of the batch
    * d08 query (CCNet line-dedup shape): documents arrive on a stream,
    * are segmented into fixed `chunkLen`-token passages inside the
    * partition (narrow), and a passage that has occurred ANYWHERE
    * earlier in the stream is dropped; the first occurrence (earliest
    * micro-batch; lowest (doc_id, chunk_idx) within a batch) survives
    * and is emitted exactly once. Downstream reassembly is the same
    * groupBy(doc_id) as d08's.
    *
    * State = one boolean per DISTINCT passage ever seen — the honest
    * cost of global streaming dedup (exactly what the batch form's
    * shuffle carries). At scale this is RocksDB-state-store territory
    * (spec-verified for the CDC trackers; same knob applies here), and
    * the key is the passage TEXT, so state is content-addressed and
    * redelivery-idempotent: replaying a batch re-emits nothing.
    */
  def passageDedupStream(docs: DataFrame, textCol: String, idCol: String,
                         chunkLen: Int = 8): Dataset[Passage] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = passagesOf(docs, textCol, col(idCol).cast("long"), chunkLen).as[Passage]
    chunks.groupByKey(_.chunk)
      .flatMapGroupsWithState[Boolean, Passage](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // passage already claimed
          else {
            state.update(true)
            Iterator.single(rows.minBy(p => (p.doc_id, p.chunk_idx)))
          }
      }
  }

  /** Full standard-stream analog: per-key I/U/D change tracking (the
    * reference's standard — not append-only — streams surface all
    * three actions: `/root/reference/02 Location Entity.sql:81`).
    * Input rows carry `None` as an explicit delete marker (the CDC
    * tombstone shape): a marked key with live state emits
    * ('D', prev, null) and CLEARS its state — so a later re-insert of
    * the key is a fresh 'I', and state size tracks the live key set,
    * not everything ever seen. Deletes of unknown keys emit nothing
    * (nothing to retract), matching snapshot-diff semantics.
    *
    * Within-batch ordering: the group iterator carries no order
    * guarantee, so this form is deterministic only when a key changes
    * at most once per micro-batch; feeds that can deliver several
    * events per key per batch must use [[changeLogCdcOrdered]].
    */
  def changeLogCdc(updates: Dataset[(Long, Option[String])]): Dataset[KeyChange] = {
    val spark = updates.sparkSession
    import spark.implicits._
    updates.groupByKey(_._1)
      .flatMapGroupsWithState[String, KeyChange](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[String]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[KeyChange]
          var cur = state.getOption
          rows.foreach { case (_, next) =>
            out ++= changeEvent(key, cur, next)
            cur = next
          }
          cur match {
            case Some(v) => state.update(v)
            case None => state.remove()
          }
          out.iterator
      }
  }

  /** Standard-stream analog: stateful per-key change tracking. Emits
    * ('I', null, v) the first time a key appears and ('U', prev, v) on
    * every subsequent change; unchanged updates emit nothing. The
    * delete-free case of [[changeLogCdc]].
    */
  def changeLog(updates: Dataset[(Long, String)]): Dataset[KeyChange] = {
    val spark = updates.sparkSession
    import spark.implicits._
    changeLogCdc(updates.map { case (k, v) => (k, Some(v): Option[String]) })
  }
}
