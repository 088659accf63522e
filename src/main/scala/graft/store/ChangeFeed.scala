package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SnapshotStore.Manifest

/** Table change feed over [[SnapshotStore]] — the analog of the
  * reference's stream objects (`/root/reference/02 Location Entity
  * .sql:79-81`: "a standard stream object on the location table to
  * track insert, update, and delete changes") whose rows every MERGE
  * consumes via `METADATA$ACTION` / `METADATA$ISUPDATE`
  * (`/root/reference/with procedures/location_proc.sql:279-320`).
  *
  * The manifest already records, per commit, which buckets changed
  * (their entries point at new dirs or carry new tombstone sidecars),
  * so the diff for one version step reads ONLY the touched buckets of
  * the old and new snapshots — O(delta + touched buckets) at any table
  * size, never a full-table comparison. Change rows carry
  * [[ChangeType]] (`insert` / `update_preimage` / `update_postimage` /
  * `delete` — the METADATA$ACTION×ISUPDATE matrix, same shape as
  * Delta's change data feed) and [[CommitVersion]].
  *
  * Consumers: [[consumeChanges]] gives the stream-object usage pattern
  * — a named consumer's offset (last version it has seen) is persisted
  * under the table root, each consume call delivers exactly the
  * versions committed since, and [[SnapshotStore.vacuum]] never
  * reclaims history a registered consumer still needs (retention
  * stretches rather than going stale under a slow consumer; drop
  * abandoned consumers to release their history). Offset advance is
  * AFTER the consumer's action: delivery is at-least-once on a crash
  * between the two — pair the action with a [[SnapshotStore]] txn (or
  * any idempotent sink) for exactly-once, the same hinge the streaming
  * sinks use.
  */
object ChangeFeed {

  /** Metadata column: one of [[Insert]]/[[UpdatePre]]/[[UpdatePost]]/[[Delete]]. */
  val ChangeType = "_change_type"

  /** Metadata column: the version whose commit produced the change. */
  val CommitVersion = "_commit_version"

  val Insert = "insert"
  val UpdatePre = "update_preimage"
  val UpdatePost = "update_postimage"
  val Delete = "delete"

  /** All changes committed AFTER `fromVersion` (exclusive — "the last
    * version you have seen") up to and including `toVersion`.
    * Pass `fromVersion = -1` on a never-vacuumed table to include the
    * initial load as inserts.
    *
    * @param keys row-identity columns: unique per row in every
    *   snapshot (the table's merge keys; for multi-row-per-key tables
    *   like SCD2 history include the discriminator, e.g. eff_from).
    *   Updates are detected per identity; a duplicate identity would
    *   cross-multiply in the diff join.
    *
    * Scale: each version step full-outer-joins the old and new state
    * of ONLY its touched buckets on `keys` — one shuffle sized by the
    * delta, not the table. Buckets rewritten bit-identically (a
    * [[SnapshotStore.compact]]) diff to zero rows. A consumer lagging
    * n versions pays n bounded step-diffs, not n table scans.
    *
    * Staleness: a step needs BOTH its manifests; if vacuum already
    * reclaimed version v-1, changes at v are unrecoverable and this
    * throws (the stream-gone-stale condition) — register a consumer to
    * prevent that.
    *
    * Plan width: a consumer catching up over hundreds of versions must
    * not hand the optimizer a hundreds-wide union of join sub-plans
    * (driver analysis cost grows with the PLAN even when the data is
    * delta-sized). Ranges longer than `maxPlanSteps` are evaluated in
    * chunks — each chunk's union is `localCheckpoint`ed (eagerly
    * materialized, lineage truncated to one leaf) and the result is a
    * narrow union of those leaves: a 500-version catch-up pays 500
    * bounded data-steps but never a 500-way join-union plan. Ranges at
    * or under `maxPlanSteps` (every tight consumer loop) stay fully
    * lazy and plan exactly as before.
    */
  /** ONE definition of "this step is a keys-changing REPLACE" —
    * [[readChanges]] refuses on it and [[syncDerived]] full-refreshes
    * on it; two copies of the predicate would let the refusal and the
    * recovery drift apart.
    */
  private def replaceBoundary(mOld: Manifest, mNew: Manifest): Boolean =
    mOld.keys.nonEmpty && mNew.keys.nonEmpty && mOld.keys != mNew.keys

  /** Whether any step in `(fromVersion, toVersion]` is a keys-changing
    * REPLACE — the one predicate [[readChanges]] refuses on,
    * [[syncDerived]] full-refreshes on, and the streaming source's
    * opt-in `replaceBoundary=refresh` recovers through.
    */
  def crossesReplaceBoundary(spark: SparkSession, root: String,
                             fromVersion: Long, toVersion: Long): Boolean =
    SnapshotStore.versions(spark, root)
      .filter(v => v > fromVersion && v <= toVersion)
      .exists { v =>
        try replaceBoundary(
          SnapshotStore.readManifest(spark, root, v - 1),
          SnapshotStore.readManifest(spark, root, v))
        catch { case _: Exception => false } // stale base: readChanges reports it
      }

  /** A FULL REFRESH of `(fromVersion, toVersion]` expressed in the
    * ordinary change-row contract: a `delete` row for every row of the
    * state at `fromVersion` (stamped `fromVersion`) plus an `insert`
    * row for every row of the state at `toVersion` (stamped
    * `toVersion`) — so any merge-applying consumer (apply deletes,
    * upsert inserts; or collapse last-non-preimage-per-key by commit
    * version, where the insert outranks the retraction) converges to
    * exactly the rebuilt state, with no key semantics assumed across
    * the range. This is how a stream survives a keys-changing REPLACE:
    * a keyed diff across unrelated contents is meaningless, but
    * "retract what you saw, here is the new state" is not.
    * `fromVersion < 0` (initial-snapshot start) emits inserts only.
    */
  def fullRefreshChanges(spark: SparkSession, root: String,
                         fromVersion: Long, toVersion: Long): DataFrame = {
    val neu = SnapshotStore.readVersion(spark, root, toVersion)
      .withColumn(ChangeType, lit(Insert))
      .withColumn(CommitVersion, lit(toVersion))
    if (fromVersion < 0) neu
    else SnapshotStore.readVersion(spark, root, fromVersion)
      .withColumn(ChangeType, lit(Delete))
      .withColumn(CommitVersion, lit(fromVersion))
      .unionByName(neu, allowMissingColumns = true)
  }

  def readChanges(spark: SparkSession, root: String, keys: Seq[String],
                  fromVersion: Long, toVersion: Long,
                  maxPlanSteps: Int = 32): DataFrame = {
    require(toVersion > fromVersion,
      s"empty version range ($fromVersion, $toVersion]")
    require(maxPlanSteps >= 1, "need at least one step per chunk")
    val vs = SnapshotStore.versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    val steps = vs.filter(v => v > fromVersion && v <= toVersion)
    require(steps.nonEmpty || fromVersion >= vs.last,
      s"no committed versions in ($fromVersion, $toVersion] at $root")
    def diffsOf(ss: Seq[Long]): Seq[DataFrame] = ss.flatMap { v =>
      val mNew = SnapshotStore.readManifest(spark, root, v)
      val mOld: Option[Manifest] =
        if (v == 0) None
        else if (!vs.contains(v - 1)) throw new IllegalStateException(
          s"change feed at $root is STALE for version $v: its base " +
            s"manifest ${v - 1} was vacuumed — register a consumer " +
            "(consumeChanges) to hold retention, or read from a newer version")
        else Some(SnapshotStore.readManifest(spark, root, v - 1))
      // REPLACE TABLE commits unrelated content (possibly under new
      // merge keys) as the next version: a keyed diff across that
      // boundary would emit garbage I/U/D rows — refuse with the
      // re-sync recipe instead
      mOld.foreach { om =>
        if (replaceBoundary(om, mNew))
          throw new IllegalStateException(
            s"change feed at $root crosses a REPLACE TABLE boundary at " +
              s"version $v (merge keys ${om.keys.mkString(",")} -> " +
              s"${mNew.keys.mkString(",")}): a keyed diff across unrelated " +
              "contents is meaningless — re-sync the consumer from the " +
              s"replaced table's full state and continue from version $v")
      }
      diffStep(spark, root, keys, mOld, mNew, v)
    }
    def union(dfs: Seq[DataFrame]): DataFrame =
      dfs.reduce(_.unionByName(_, allowMissingColumns = true))
    val chunked: Seq[DataFrame] =
      if (steps.size <= maxPlanSteps) diffsOf(steps) match {
        case Seq() => Seq.empty
        case dfs => Seq(union(dfs))
      }
      else steps.grouped(maxPlanSteps).toSeq.flatMap { ss =>
        diffsOf(ss) match {
          case Seq() => None
          // eager: the chunk materializes NOW and enters the final
          // plan as one leaf — catch-up cost is per-chunk data, plan
          // cost is #chunks leaves
          case dfs => Some(union(dfs).localCheckpoint(true))
        }
      }
    if (chunked.nonEmpty) union(chunked)
    else { // every step was a no-data commit (e.g. a txn-marker-only version)
      val empty = SnapshotStore.read(spark, root).limit(0)
      empty.withColumn(ChangeType, lit(null).cast("string"))
        .withColumn(CommitVersion, lit(null).cast("long"))
        .where(lit(false))
    }
  }

  private def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType => true
      case ArrayType(et, _) => containsMap(et)
      case StructType(fs) => fs.exists(f => containsMap(f.dataType))
      case _ => false
    }
  }

  /** Null-safe-equality-comparable stand-in for a possibly-map-typed
    * column: maps don't support `<=>` (no canonical entry order), so
    * every map anywhere in the type is rewritten to its entry list
    * sorted by key — a canonical, orderable encoding; two maps are
    * equal iff their sorted entry lists are. Identity for map-free
    * types, so the common diff plan is untouched.
    */
  private def canonical(c: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case MapType(kt, vt, _) =>
        array_sort(transform(map_entries(c), e =>
          struct(canonical(e.getField("key"), kt).as("k"),
            canonical(e.getField("value"), vt).as("v"))))
      case ArrayType(et, _) if containsMap(et) =>
        transform(c, x => canonical(x, et))
      case st: StructType if containsMap(st) =>
        // rebuilding a struct from its fields must not conflate a NULL
        // struct with a struct of nulls
        when(c.isNull, lit(null)).otherwise(
          struct(st.fields.toSeq.map(f =>
            canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
      case _ => c
    }
  }

  /** Diff ONE committed version against its predecessor. Returns None
    * when the commit touched nothing (manifest-only version).
    */
  private def diffStep(spark: SparkSession, root: String, keys: Seq[String],
                       mOld: Option[Manifest], mNew: Manifest,
                       v: Long): Option[DataFrame] = {
    val changed: Set[Int] = mOld match {
      case None => mNew.buckets.keySet // initial load: everything is new
      case Some(o) => SnapshotStore.changedBuckets(o, mNew)
    }
    if (changed.isEmpty) return None
    val newRaw = SnapshotStore.readBuckets(spark, root, mNew, changed)
    val oldRaw = mOld.map(SnapshotStore.readBuckets(spark, root, _, changed))
      .getOrElse(spark.emptyDataFrame)
    // align schemas across additive evolution (and the empty-side
    // cases: bucket deleted entirely / initial load) — missing columns
    // null-fill in the OTHER side's type
    val schemas = Seq(newRaw, oldRaw).filter(_.schema.nonEmpty)
    if (schemas.isEmpty) return None
    val cols: Seq[(String, org.apache.spark.sql.types.DataType)] =
      schemas.flatMap(_.schema.fields.map(f => f.name -> f.dataType))
        .foldLeft(Vector.empty[(String, org.apache.spark.sql.types.DataType)]) {
          case (acc, f) => if (acc.exists(_._1 == f._1)) acc else acc :+ f
        }
    def aligned(df: DataFrame, prefix: String): DataFrame = {
      val base = if (df.schema.nonEmpty) df
        else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq.empty))
      val projected = cols.map { case (c, t) =>
        (if (base.columns.contains(c)) col(c) else lit(null).cast(t)).as(s"$prefix$c")
      } :+ lit(true).as(s"${prefix}_present")
      base.select(projected: _*)
    }
    keys.foreach { k =>
      cols.find(_._1 == k).map(_._2).filter(containsMap).foreach { t =>
        throw new IllegalArgumentException(
          s"change-feed key column $k has type $t: map-typed keys are " +
            "not equi-joinable — use an atomic identity column")
      }
    }
    val o = aligned(oldRaw, "__o_")
    val n = aligned(newRaw, "__n_")
    val joinCond = keys.map(k => col(s"__o_$k") <=> col(s"__n_$k")).reduce(_ && _)
    val j = o.join(n, joinCond, "full_outer")
    val nonKeys = cols.map(_._1).filterNot(keys.contains)
    val unchanged: Column = nonKeys
      .map { c =>
        val dt = cols.find(_._1 == c).get._2
        canonical(col(s"__o_$c"), dt) <=> canonical(col(s"__n_$c"), dt)
      }
      .reduceOption(_ && _).getOrElse(lit(true))
    def img(prefix: String, ct: String): Column =
      struct((cols.map { case (c, _) => col(s"$prefix$c").as(c) } :+
        lit(ct).as(ChangeType)): _*)
    // one pass over the join, no union: each row yields 0 (unchanged),
    // 1 (insert/delete) or 2 (update pre+post) change structs —
    // explode skips the null branch, so the touched buckets are read
    // once per side instead of once per change class
    val changes = when(col("__o__present").isNull, array(img("__n_", Insert)))
      .when(col("__n__present").isNull, array(img("__o_", Delete)))
      .when(!unchanged, array(img("__o_", UpdatePre), img("__n_", UpdatePost)))
      .otherwise(lit(null))
    Some(j.select(explode(changes).as("__c"))
      .select(col("__c.*"))
      .withColumn(CommitVersion, lit(v)))
  }

  // ------------------------------------------------------------------
  // named consumers (the stream-object offset protocol)
  // ------------------------------------------------------------------

  private def consumersDir(root: String) = new Path(root, "_consumers")
  private def consumerDir(root: String, id: String) =
    new Path(consumersDir(root), SnapshotStore.enc(id))

  private def fileSystem(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The last version `id` has consumed, None for an unknown consumer.
    * Offsets are marker FILES named by version, advanced by exclusive
    * create — crash-safe (a torn advance is simply absent) and
    * monotone (the offset is the max marker; stale markers are
    * best-effort garbage-collected on the next advance).
    */
  def consumerOffset(spark: SparkSession, root: String, id: String): Option[Long] = {
    val fs = fileSystem(spark, root)
    val dir = consumerDir(root, id)
    if (!fs.exists(dir)) None
    // marker names are the offset BIASED BY +1 so the pre-history
    // offset -1 (seedConsumer bootstrap) still encodes as plain digits
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong - 1)
      .maxOption
  }

  /** Smallest offset over all registered consumers (vacuum's retention
    * floor), None when no consumer exists.
    */
  private[store] def minConsumerOffset(spark: SparkSession, root: String): Option[Long] = {
    val fs = fileSystem(spark, root)
    val dir = consumersDir(root)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .flatMap(st => consumerOffset(spark, root,
        SnapshotStore.dec(st.getPath.getName)))
      .minOption
  }

  /** Record that `id` has seen everything up to `v` (idempotent;
    * never moves an offset backwards).
    */
  def seedConsumer(spark: SparkSession, root: String, id: String, v: Long): Unit = {
    require(v >= -1L, s"offset $v below the pre-history floor of -1")
    val fs = fileSystem(spark, root)
    val dir = consumerDir(root, id)
    fs.mkdirs(dir)
    val marker = new Path(dir, f"${v + 1}%020d")
    try fs.create(marker, false).close()
    catch { case _: java.io.IOException if fs.exists(marker) => () }
    // GC superseded markers, best effort — the offset is the max, so a
    // failed delete is cosmetic
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.forall(_.isDigit) && p.getName.toLong < v + 1)
      .foreach(p => try fs.delete(p, false) catch { case _: java.io.IOException => () })
  }

  /** Forget a consumer, releasing the history vacuum was retaining
    * for it.
    */
  def dropConsumer(spark: SparkSession, root: String, id: String): Unit = {
    val fs = fileSystem(spark, root)
    fs.delete(consumerDir(root, id), true)
  }

  /** Registered consumer ids representing un-materialized CLONES of
    * this table (their absolute manifest entries point into this
    * table's directories — a path change under them dangles every
    * clone read).
    */
  private[graft] def cloneConsumerIds(spark: SparkSession, root: String): Seq[String] = {
    val fs = fileSystem(spark, root)
    val dir = consumersDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(st => SnapshotStore.dec(st.getPath.getName))
      .filter(_.startsWith("clone:"))
  }

  /** Consume the changes committed since `id` last consumed: runs
    * `action(changes, fromVersion, toVersion)` and advances the offset
    * AFTER it returns. Returns the consumed range, or None when there
    * was nothing new.
    *
    * A consumer seen for the FIRST time is registered at the current
    * latest version and consumes nothing — like a stream object, it
    * observes changes from its creation point forward (to include
    * existing rows, [[seedConsumer]] at -1 before the first consume,
    * or bootstrap from a [[SnapshotStore.read]] snapshot + consume
    * from there).
    *
    * Delivery is at-least-once: a crash between `action` and the
    * offset advance redelivers the same range on the next call — make
    * `action` idempotent (a [[SnapshotStore]] txn keyed by
    * `toVersion`, or any upsert-by-key sink).
    */
  def consumeChanges(spark: SparkSession, root: String, id: String,
                     keys: Seq[String])
                    (action: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    val latest = SnapshotStore.latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
    consumerOffset(spark, root, id) match {
      case None =>
        seedConsumer(spark, root, id, latest)
        None
      case Some(from) if from >= latest =>
        None
      case Some(from) =>
        action(readChanges(spark, root, keys, from, latest), from, latest)
        seedConsumer(spark, root, id, latest)
        Some((from, latest))
    }
  }

  // ------------------------------------------------------------------
  // table → table incremental pipelines
  // ------------------------------------------------------------------

  /** Incrementally maintain a DERIVED snapshot table from a source
    * snapshot table's change feed — the reference's stream-consuming
    * MERGE between layers (`location_proc.sql:266-331`: clean-layer
    * stream rows merged into the consumption table, dispatching on
    * METADATA$ACTION) re-expressed over graft's own table format.
    *
    * One call = one sync: the consumer `id`'s unseen versions collapse
    * to each key's FINAL state (last non-preimage change wins — a key
    * upserted five times and deleted once costs one upsert or one
    * delete downstream, not six commits), `transform` reshapes the
    * upsert rows (projection/masking/derivation; must preserve
    * `keys`), and the target gets at most two commits: a keyed-replace
    * [[SnapshotStore.commitDelta]] and a [[SnapshotStore.commitDeletes]]
    * — both O(delta + touched buckets).
    *
    * Exactly-once end to end: both commits carry a manifest txn keyed
    * by the consumed source version, so a crash ANYWHERE between the
    * first commit and the offset advance redelivers the same range and
    * every already-applied commit skips as a txn no-op. A target that
    * does not exist yet bootstraps from `transform(source latest)` and
    * seeds the consumer there.
    *
    * Returns the consumed source range, None when already in sync.
    */
  def syncDerived(spark: SparkSession, sourceRoot: String, targetRoot: String,
                  id: String, keys: Seq[String], numBuckets: Int = 16,
                  transform: DataFrame => DataFrame = identity): Option[(Long, Long)] = {
    val latest = SnapshotStore.latestVersion(spark, sourceRoot)
      .getOrElse(throw new IllegalStateException(s"no table at $sourceRoot"))
    // txn marks are keyed by the SOURCE INSTANCE (r17, the batch-alias
    // audit): a source dropped, re-created and RE-SEEDED restarts its
    // version numbering, so its versions alias below the target's old
    // high-water mark and every rebuild commit would skip as a txn
    // no-op — silent data loss on the target, the write-side twin of
    // the feed-offset aliasing. A successor's id differs, so its
    // commits dedup under a fresh key; a key change mid-life (a
    // pre-r17 source minting its id later) at worst redelivers one
    // already-applied range — an idempotent keyed replace.
    val txnId = s"graft.sync.$id" +
      SnapshotStore.tableInstanceIdIfAny(spark, sourceRoot).fold("")("@" + _)
    // distinguishes "the caller's transform genuinely dropped a key"
    // (a programming error — IllegalArgument) from "the caller's keys
    // raced a keys-changing REPLACE on the source" (a concurrency
    // artifact — the documented CME, resolved by re-resolving the
    // source keys and re-running): a snapshot read mid-churn that lost
    // a key column while the source's CURRENT keys differ from the
    // passed ones is the race, not the bug (found by ChaosHuntSpec
    // once the r17 instance-id read widened the resolve→sync window).
    def requireKeysPreserved(snap: DataFrame): Unit =
      keys.foreach { k =>
        if (!snap.columns.contains(k)) {
          val curKeys = scala.util.Try(
            SnapshotStore.readManifest(spark, sourceRoot,
              SnapshotStore.latestVersion(spark, sourceRoot).get).keys)
            .getOrElse(Nil)
          if (curKeys.nonEmpty && curKeys != keys)
            throw new java.util.ConcurrentModificationException(
              s"syncDerived keys $keys raced a keys-changing REPLACE on " +
                s"$sourceRoot (current keys: $curKeys) — re-resolve the " +
                "source keys and re-run the sync")
          require(snap.columns.contains(k),
            s"transform must preserve key column $k")
        }
      }
    if (SnapshotStore.latestVersion(spark, targetRoot).isEmpty) {
      // consumer seeded BEFORE the init: a crash between the two
      // re-runs the bootstrap (no committed target yet), while the
      // reverse order could commit a target with no registered
      // consumer. The snapshot is read at-or-after `latest`, so any
      // overlap the offset re-delivers is an idempotent keyed replace.
      seedConsumer(spark, sourceRoot, id, latest)
      val snap = transform(SnapshotStore.read(spark, sourceRoot))
      requireKeysPreserved(snap)
      SnapshotStore.init(spark, targetRoot, snap, keys, numBuckets,
        txn = Some(txnId -> latest))
      return Some((-1L, latest))
    }
    val from = consumerOffset(spark, sourceRoot, id).getOrElse(
      throw new IllegalStateException(
        s"target $targetRoot exists but consumer $id is unregistered on " +
          s"$sourceRoot — was the consumer dropped while the target lived on?"))
    if (from >= latest) return None
    // a keys-changing REPLACE TABLE in the range makes a keyed diff
    // meaningless (readChanges refuses it); for a DERIVED table the
    // well-defined recovery is exactly the bootstrap: rebuild from the
    // source's full current state as ONE atomic replace (the target's
    // own keys are the transform's, unchanged by the source replace),
    // then continue incrementally from here
    if (crossesReplaceBoundary(spark, sourceRoot, from, latest)) {
      val snap = transform(SnapshotStore.read(spark, sourceRoot))
      requireKeysPreserved(snap)
      SnapshotStore.replaceAll(spark, targetRoot, snap, keys,
        txn = Some(txnId -> latest))
      seedConsumer(spark, sourceRoot, id, latest)
      return Some((from, latest))
    }
    val changes = readChanges(spark, sourceRoot, keys, from, latest)
    // final state per key across the range: the last insert/postimage/
    // delete wins (a version holds at most one non-preimage row per
    // key, so (version desc) is a total order per key)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(CommitVersion).desc)
    // persisted (tracked): the downstream actions (emptiness probes,
    // the upsert commit's touched-bucket census + write + stats, the
    // delete commit) would otherwise EACH re-run the whole multi-step
    // feed diff — per-version full-outer joins plus this window
    val finals = graft.Caching.persistTracked(
      changes.where(col(ChangeType) =!= UpdatePre)
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn"))
    val upserts = transform(
      finals.where(col(ChangeType) =!= Delete).drop(ChangeType, CommitVersion))
    val deletes = finals.where(col(ChangeType) === Delete)
      .select(keys.map(col): _*)
    if (!upserts.isEmpty) {
      // keyed replace: the change feed already delivers full final
      // rows per key
      SnapshotStore.commitDelta(spark, targetRoot, upserts, keys,
        SnapshotStore.upsertMerge(keys),
        txn = Some(txnId -> latest))
    }
    if (!deletes.isEmpty) {
      SnapshotStore.commitDeletes(spark, targetRoot, deletes, keys,
        txn = Some((txnId + "#del") -> latest))
    }
    seedConsumer(spark, sourceRoot, id, latest)
    Some((from, latest))
  }
}
