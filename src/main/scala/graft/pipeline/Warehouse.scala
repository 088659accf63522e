package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Scd1, Scd2}
import graft.sources.StageReader
import graft.store.SnapshotStore
import graft.streaming.StreamPipeline

/** Declarative multi-entity warehouse runner — one entry point that
  * runs stage → clean(SCD1) → dim(SCD2) → facts for a whole
  * configured warehouse, batch or incremental-streaming.
  *
  * Reference analog: `FINAL_PROCEDURE` fans out to ten per-entity
  * `*_MAIN_PROCEDURE`s, each doing stage→clean→consumption for one
  * file (`/root/reference/with procedures/final_proc.sql:29-40`), and
  * a cron `TASK` re-runs the whole chain
  * (`with procedures/task_proc.sql:32-40`). The reference hand-writes
  * ~300 lines of MERGE per entity; here an entity is ~6 lines of
  * config over the generic operators, and the fan-out is a fold over
  * the config.
  *
  * Scale notes: each entity's pipeline is the already-audited operator
  * stack (one shuffle per SCD layer, audit cols from file metadata);
  * entities are independent until the fact layer, so a scheduler may
  * submit them as concurrent jobs — the config carries no ordering
  * constraint except facts-after-entities. Incremental mode reuses the
  * bucket-partitioned upsert sinks (per-batch cost O(delta buckets)).
  */
object Warehouse {

  /** One entity's stage→clean→dim recipe (a `*_MAIN_PROCEDURE` analog,
    * e.g. `location_proc.sql` / the JSON-staged
    * `delivery_agent_proc.sql`).
    *
    * @param name      entity name; output layers land at
    *                  `<out>/clean/<name>` and `<out>/dim/<name>`
    * @param format    "csv" or "json" staged files
    * @param stagePath directory of staged files
    * @param columns   declared stage columns (all land as text)
    * @param casts     clean-layer TRY_CAST typings (col → DDL type)
    * @param keys      business-key columns
    * @param changeTs  change-timestamp column (SCD ordering)
    * @param tieBreak  unique column making the ordering total
    * @param scd2      also maintain an SCD2 history dim
    * @param deleteCol boolean typed-stage column marking DELETE
    *                  tombstones (the `METADATA$ACTION = 'DELETE'`
    *                  branch of every reference entity MERGE, e.g.
    *                  `with procedures/location_proc.sql:274-286`):
    *                  flagged rows remove their key from the clean
    *                  layer and close out the dim history
    * @param expectations data-quality rules applied to the TYPED frame
    *                  (post-cast, pre-SCD) — see [[Expectations]]; the
    *                  explicit contract over the reference's silent
    *                  `TRY_TO_*` null-coercion. Quarantined rows land
    *                  under `<out>/quarantine/<name>` with the violated
    *                  rule names; violation counts ride the first
    *                  action over the typed frame, no extra pass (the
    *                  clean write in `runBatch`, the touched-bucket
    *                  probe in `runIncremental`)
    */
  final case class Entity(
      name: String,
      format: String,
      stagePath: String,
      columns: Seq[String],
      casts: Seq[(String, String)],
      keys: Seq[String],
      changeTs: String,
      tieBreak: String,
      scd2: Boolean = false,
      deleteCol: Option[String] = None,
      expectations: Seq[Expectations.Expectation] = Nil)

  /** The audit-namespaced tombstone column the sinks consume; the
    * entity's `deleteCol` is renamed to this so the persisted targets
    * never carry the marker as a data column.
    */
  private val DeletedCol = "_graft_deleted"

  /** Serializes user callbacks fired from the entity-parallel pool. */
  private val callbackLock = new Object

  private def withTombstones(df: DataFrame, e: Entity): DataFrame =
    e.deleteCol.fold(df)(c => df.withColumnRenamed(c, DeletedCol))

  private def sinkDeleteCol(e: Entity): Option[String] =
    e.deleteCol.map(_ => DeletedCol)

  /** A fact built from the clean layer (and previously-built facts):
    * `inputs` name the frames handed to `build` — facts run after all
    * entities, in declared order.
    */
  final case class Fact(
      name: String,
      inputs: Seq[String],
      build: Map[String, DataFrame] => DataFrame)

  final case class Config(entities: Seq[Entity], facts: Seq[Fact] = Nil)

  private def stage(spark: SparkSession, e: Entity): DataFrame = e.format match {
    case "csv"     => StageReader.csv(spark, e.stagePath, e.columns)
    case "json"    => StageReader.json(spark, e.stagePath, e.columns)
    case "orc"     => StageReader.orc(spark, e.stagePath, e.columns)
    case "parquet" => StageReader.parquet(spark, e.stagePath, e.columns)
    case other     => throw new IllegalArgumentException(s"unknown stage format: $other")
  }

  private def scd1Order(e: Entity): Seq[Column] =
    Seq(col(e.changeTs).desc, col(e.tieBreak).desc)

  /** Batch run: every entity stage→typed→SCD1 clean (+ SCD2 dim),
    * then every fact; all layers written as parquet under `outDir`.
    * Clean and dim targets use the same bucket-partitioned layout as
    * the incremental sinks, so a batch backfill and subsequent
    * incremental runs compose on one target. Returns the produced
    * frames keyed `clean/<e>`, `dim/<e>`, `quarantine/<e>`, `fact/<f>`:
    * reads of the written parquet (so downstream consumers see exactly
    * the persisted bytes; the internal bucket column is dropped) whose
    * schema comes from driver-side footer reads ([[readTarget]]), not
    * from a schema-inference job per layer.
    *
    * @param entityParallelism how many entity pipelines to keep in
    *   flight concurrently. Entities are independent until the fact
    *   layer (each writes its own clean/dim target), so their jobs can
    *   share the cluster instead of serializing — ten small entities
    *   on an idle 1000-executor cluster should not run one at a time
    *   (the reference's final_proc fan-out is sequential; this is the
    *   scale-up over it). Spark job submission is thread-safe; a
    *   bounded pool keeps the number of concurrently-planned jobs
    *   sane. 1 = the sequential fold. Facts always run after every
    *   entity, in declared order, exactly as before.
    * @param onExpectations per-entity expectation report
    *   (entity name → rule → violation count), fired after that
    *   entity's clean write. Invocations are SERIALIZED (internal
    *   lock), so a plain mutable collector is safe at any
    *   entityParallelism. Failure semantics under parallelism: one
    *   entity throwing (e.g. a Fail expectation) propagates after the
    *   in-flight entities finish their writes — their outputs exist;
    *   run with entityParallelism = 1 if nothing may be written past
    *   the first failure.
    */
  def runBatch(spark: SparkSession, cfg: Config, outDir: String,
               numBuckets: Int = 16, entityParallelism: Int = 4,
               onExpectations: (String, Map[String, Long]) => Unit = (_, _) => ())
      : Map[String, DataFrame] = {
    def writeBucketed(df: DataFrame, e: Entity, path: String): DataFrame = {
      StreamPipeline.createTarget(StreamPipeline.withBucket(df, e.keys, numBuckets), path, numBuckets)
      readTarget(spark, path)
    }
    def runEntity(e: Entity): Seq[(String, DataFrame)] = {
      val validated = Expectations.validate(
        withTombstones(StageReader.typed(stage(spark, e), e.casts), e),
        e.expectations)
      val typed = validated.kept
      val clean = Scd1.latestByKey(typed, e.keys, scd1Order(e), sinkDeleteCol(e))
      val cleanOut = writeBucketed(clean, e, s"$outDir/clean/${e.name}")
      val dim = if (e.scd2) {
        val h = Scd2.buildHistory(typed, e.keys, e.changeTs, e.tieBreak, sinkDeleteCol(e))
        Seq(s"dim/${e.name}" -> writeBucketed(h, e, s"$outDir/dim/${e.name}"))
      } else Nil
      val quarantine =
        if (e.expectations.exists(_.policy == Expectations.Quarantine)) {
          val p = s"$outDir/quarantine/${e.name}"
          validated.quarantined.write.mode("overwrite").parquet(p)
          Seq(s"quarantine/${e.name}" -> readPlain(spark, p))
        } else Nil
      // after the clean write (the observed action) — counts are ready;
      // serialized so concurrent entities can share a plain collector
      if (e.expectations.nonEmpty) {
        val m = validated.metrics()
        callbackLock.synchronized(onExpectations(e.name, m))
      }
      Seq(s"clean/${e.name}" -> cleanOut) ++ dim ++ quarantine
    }
    val par = math.max(1, math.min(entityParallelism, cfg.entities.size))
    val entityOut: Map[String, DataFrame] =
      if (par <= 1) cfg.entities.flatMap(runEntity).toMap
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try Await.result(
          Future.sequence(cfg.entities.map(e => Future(runEntity(e)))),
          Duration.Inf).flatten.toMap
        finally pool.shutdown()
      }
    entityOut ++ buildFacts(spark, cfg, outDir,
      entityOut.filter { case (k, _) => !k.startsWith("quarantine/") })
  }

  /** A written clean/dim target read back with the schema its parquet
    * footers declare, read on the driver, instead of Spark's
    * schema-inference job (through the merge sinks' reader; the bucket
    * column is dropped). Falls back to inference loudly.
    */
  private def readTarget(spark: SparkSession, path: String): DataFrame =
    StreamPipeline.mergedTargetRead(spark, path).parquet(path).drop(StreamPipeline.BucketCol)

  /** [[readTarget]] for a plain (unbucketed) fact or quarantine dir. */
  private def readPlain(spark: SparkSession, path: String): DataFrame =
    SnapshotStore.mergedSchemaRead(spark, Seq(path)).parquet(path)

  /** (Re)build every fact from the PERSISTED clean/dim layers under
    * `outDir` — callable standalone after an incremental pass so the
    * fact layer catches up with the entity layers it derives from.
    */
  def runFacts(spark: SparkSession, cfg: Config, outDir: String): Map[String, DataFrame] = {
    val entityOut = cfg.entities.flatMap { e =>
      val layers = Seq("clean" -> true, "dim" -> e.scd2).collect { case (l, true) => l }
      layers.map(l => s"$l/${e.name}" -> readTarget(spark, s"$outDir/$l/${e.name}"))
    }.toMap
    buildFacts(spark, cfg, outDir, entityOut) ++ entityOut
  }

  /** Every fact, in declared order, from the entity layers `entityOut`
    * (and the facts built before it); returns the facts only.
    */
  private def buildFacts(spark: SparkSession, cfg: Config, outDir: String,
                         entityOut: Map[String, DataFrame]): Map[String, DataFrame] =
    cfg.facts.foldLeft(entityOut) { (built, f) =>
      val missing = f.inputs.filterNot(built.contains)
      require(missing.isEmpty, s"fact ${f.name}: unknown inputs $missing")
      val path = s"$outDir/fact/${f.name}"
      f.build(built.view.filterKeys(f.inputs.contains).toMap)
        .write.mode("overwrite").parquet(path)
      built + (s"fact/${f.name}" -> readPlain(spark, path))
    }.view.filterKeys(_.startsWith("fact/")).toMap

  /** Incremental run (the cron-task analog): each entity's stage
    * directory becomes a file-source stream, typed on the fly, folded
    * into the bucket-partitioned clean target ([[StreamPipeline
    * .upsertBatch]]) — and, for `scd2` entities, into the SCD2 history
    * target — by an `AvailableNow` trigger: process everything staged
    * since the last checkpoint, then stop (re-invoke on whatever cron
    * cadence; state lives in the checkpoint, cost per run is
    * O(new files + touched buckets)).
    *
    * Facts are batch artifacts over the entity layers — after the
    * returned queries drain (`awaitTermination`), call [[runFacts]] to
    * bring the fact layer up to date with the entities it derives
    * from; the streams themselves never touch `cfg.facts`.
    *
    * Quarantined rows append to `<out>/quarantine/<e>` once per
    * version (`keys` + `tieBreak`): a fresh-checkpoint catchup after
    * [[runBatch]] or a replayed batch adds none it already holds, and a
    * batch with no quarantine violation launches no quarantine job.
    *
    * @param onExpectations per-batch expectation report (entity name →
    *   rule → violation count), serialized like [[runBatch]]'s. It
    *   reports what each batch validated, so a catchup that re-reads
    *   files [[runBatch]] already validated reports their violations
    *   again, although their quarantined rows are not stored twice.
    */
  def runIncremental(spark: SparkSession, cfg: Config, outDir: String,
                     checkpointDir: String, numBuckets: Int = 16,
                     onExpectations: (String, Map[String, Long]) => Unit = (_, _) => ())
      : Seq[StreamingQuery] =
    cfg.entities.map { e =>
      val schema = StageReader.textSchema(e.columns)
      val staged = e.format match {
        case "csv"  => StreamPipeline.auditedCsvStream(spark, e.stagePath, schema)
        case "json" => StreamPipeline.auditedJsonStream(spark, e.stagePath, schema)
        case other  => throw new IllegalArgumentException(
          s"stage format $other is batch-only (runBatch); file streams need a " +
            "text schema-on-read source (csv/json)")
      }
      val typed = withTombstones(StageReader.typed(staged, e.casts), e)
      typed.writeStream
        .option("checkpointLocation", s"$checkpointDir/${e.name}")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // per-batch validation: Fail pre-flights before any write
          val validated = Expectations.validate(batch.toDF(), e.expectations)
          // one touched-bucket probe per batch, shared by both sinks (the
          // dim re-probes only if its bucket layout differs); it is the
          // first action on `kept`, so it also fills the rule counts
          val cleanDir = s"$outDir/clean/${e.name}"
          val delta = StreamPipeline.delta(validated.kept, e.keys,
            StreamPipeline.layoutBuckets(cleanDir, numBuckets))
          val counts = validated.metrics()
          StreamPipeline.upsertDelta(delta, cleanDir,
            e.keys, scd1Order(e), numBuckets, sinkDeleteCol(e))
          if (e.scd2)
            StreamPipeline.scd2ApplyDelta(delta, s"$outDir/dim/${e.name}",
              e.keys, e.changeTs, e.tieBreak, numBuckets, sinkDeleteCol(e))
          if (e.expectations.exists(r => r.policy == Expectations.Quarantine &&
                counts.getOrElse(r.name, 0L) > 0))
            appendQuarantine(spark, validated.quarantined, e, s"$outDir/quarantine/${e.name}")
          // serialized like runBatch's callback: each entity's stream
          // runs its batches on its own thread, so a shared collector
          // would otherwise race across entities
          if (e.expectations.nonEmpty)
            callbackLock.synchronized(onExpectations(e.name, counts))
        }
        .start()
    }

  /** Append `rows` to the quarantine layer at `path`, minus the
    * versions (`keys` + `tieBreak`) it already holds: a fresh-checkpoint
    * catchup after [[runBatch]], or a replayed micro-batch, re-validates
    * files whose violators are stored already. Null-safe on the
    * identity, so a row quarantined for a null key is stored once too.
    */
  private def appendQuarantine(spark: SparkSession, rows: DataFrame, e: Entity,
                               path: String): Unit = {
    val id = e.keys :+ e.tieBreak
    val fresh =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) rows
      else {
        val held = readPlain(spark, path).select(id.map(c => col(c).as(s"__held_$c")): _*)
        rows.join(held, id.map(c => col(c) <=> col(s"__held_$c")).reduce(_ && _), "left_anti")
      }
    fresh.write.mode("append").parquet(path)
  }

  /** Periodic maintenance — the cron-TASK analog for the transactional
    * snapshot tables the streaming sinks maintain (reference:
    * `task_proc.sql:32-40` schedules exactly this kind of recurring
    * housekeeping): compact fragmented buckets (optionally clustering
    * rows for row-group skipping) then vacuum unreferenced versions,
    * per table root. Returns root → (version after compaction, paths
    * vacuum deleted). Each table's maintenance is independent — a
    * concurrent committer racing the compaction simply wins the OCC
    * arbiter and the compaction re-runs its census on the new base.
    */
  def maintain(spark: SparkSession, roots: Seq[String], minFiles: Int = 2,
               clusterBy: Seq[String] = Nil,
               keepVersions: Int = 2,
               zOrderBy: Seq[String] = Nil,
               maxRecordsPerFile: Long = 0L,
               tombstoneFoldBytes: Long = 0L): Map[String, (Long, Int)] =
    roots.map { r =>
      val v = graft.store.SnapshotStore.compact(spark, r, minFiles,
        clusterBy = clusterBy, zOrderBy = zOrderBy,
        maxRecordsPerFile = maxRecordsPerFile,
        tombstoneFoldBytes = tombstoneFoldBytes)
      val deleted = graft.store.SnapshotStore.vacuum(spark, r, keepLast = keepVersions)
      r -> (v, deleted)
    }.toMap
}
