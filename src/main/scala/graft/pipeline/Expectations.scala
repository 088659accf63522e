package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations over a frame — the
  * constraint/quality-gate layer the reference pipeline lacks: its
  * procedures `TRY_TO_NUMBER`/`TRY_TO_TIMESTAMP` every column
  * (`/root/reference/07 Delivery Agent.sql:99-138`), so a malformed
  * value silently becomes NULL and flows into the warehouse.
  * Expectations make that contract explicit per entity: each rule is a
  * named boolean predicate plus a policy for rows that violate it.
  *
  * Policies (the Delta Live Tables expectation triple, plus
  * quarantine):
  *   - [[Warn]]       keep the row, count the violation
  *   - [[Drop]]       drop the row, count the violation
  *   - [[Quarantine]] drop the row AND surface it (with the names of
  *                    every rule it failed) on the quarantine frame for
  *                    persistence/triage
  *   - [[Fail]]       abort the run if ANY row violates
  *
  * Scale design: validation is ONE narrow projection — every rule
  * evaluates in the same pass that the downstream write already scans,
  * and violation counts ride that existing action via `observe()`
  * (`CollectMetrics`: aggregated on executors alongside the job, no
  * second pass, no accumulator races). The quarantine frame is only
  * materialized if the caller writes it, and `Fail` rules cost one
  * extra metadata-cheap pre-flight ONLY when declared — the price of
  * aborting BEFORE any output is written rather than after.
  */
object Expectations {

  sealed trait Policy
  case object Warn extends Policy
  case object Drop extends Policy
  case object Quarantine extends Policy
  case object Fail extends Policy

  /** One rule: `predicate` must hold on every row of the validated
    * frame; `name` keys the violation count and the quarantine reason.
    */
  final case class Expectation(name: String, predicate: Column,
                               policy: Policy = Warn)

  final class FailedExpectationException(val rule: String, val rows: Long)
    extends RuntimeException(
      s"expectation '$rule' (policy=Fail) violated by $rows row(s)")

  /** The marker column quarantined rows carry: the names of every
    * violated expectation (not just the first — triage wants all).
    */
  val ReasonCol = "_exp_failed"

  /** Result of [[validate]]: `kept` is the downstream frame (violators
    * of Drop/Quarantine rules removed), `quarantined` holds Quarantine
    * violators with [[ReasonCol]] appended, and `metrics()` returns
    * rule-name → violation count. Counts ride the caller's FIRST
    * action on `kept` via observe — run one before calling `metrics()`
    * (it blocks until the metrics exist). That action must scan every
    * row: one that stops early (`isEmpty`, `head`, a limit) reports the
    * rows it read. `Warehouse.runBatch`'s first action is the clean
    * write; `runIncremental`'s is the touched-bucket probe
    * ([[graft.streaming.StreamPipeline.delta]]), which reads the whole
    * micro-batch.
    */
  final case class Validated(kept: DataFrame, quarantined: DataFrame,
                             private val observation: Option[Observation]) {
    def metrics(): Map[String, Long] = observation.fold(Map.empty[String, Long])(
      _.get.map { case (k, v) => k -> v.asInstanceOf[Long] })
  }

  /** NULL predicate = violation (a rule that cannot evaluate did not
    * hold). Shared with the snapshot-commit validation path.
    */
  private[graft] def violated(e: Expectation): Column = !coalesce(e.predicate, lit(false))

  /** Validate `df` against `rules`. `Fail` rules run a pre-flight
    * count (one job over the source scan) so nothing downstream is
    * written when they trip; the rest evaluate lazily inside the
    * caller's own first action on `kept`.
    *
    * Stable-source assumption: `df`'s lineage is evaluated once per
    * action over it — the Fail pre-flight, every action on `kept` (in
    * `Warehouse.runIncremental`: the touched-bucket probe, the clean
    * merge and, for an SCD2 entity, the dim merge) and the quarantine
    * write — and these are only mutually consistent when the source
    * yields the same rows each time (a streaming micro-batch does: it
    * is a fixed set of files). A source that can change
    * between actions (e.g. a stage directory still receiving files)
    * should be pinned first (`persist`/`localCheckpoint`) by the
    * caller, or validated inside the snapshot-commit path
    * ([[graft.store.SnapshotStore.commitDelta]]'s `failRules`, which
    * observes the single attempt-dir write — one evaluation, abort
    * before visibility, no extra scan).
    */
  def validate(df: DataFrame, rules: Seq[Expectation]): Validated = {
    require(rules.map(_.name).distinct.size == rules.size,
      "expectation names must be unique")
    val failRules = rules.filter(_.policy == Fail)
    if (failRules.nonEmpty) {
      // one pre-flight pass: count every Fail rule's violations together
      val counts = df.select(failRules.map(e =>
        sum(violated(e).cast("long")).as(e.name)): _*).head()
      failRules.zipWithIndex.foreach { case (e, i) =>
        val n = if (counts.isNullAt(i)) 0L else counts.getLong(i)
        if (n > 0) throw new FailedExpectationException(e.name, n)
      }
    }
    val removing = rules.filter(e => e.policy == Drop || e.policy == Quarantine)
    val quarantining = rules.filter(_.policy == Quarantine)
    val obs = if (rules.isEmpty) None else Some(Observation())
    val observed = obs.fold(df) { o =>
      val counts = rules.map(e => sum(violated(e).cast("long")).as(e.name))
      df.observe(o, counts.head, counts.tail: _*)
    }
    val kept =
      if (removing.isEmpty) observed
      else observed.where(!removing.map(violated).reduce(_ || _))
    val quarantined =
      if (quarantining.isEmpty)
        df.limit(0).withColumn(ReasonCol, lit(null).cast("array<string>"))
      else df
        .withColumn(ReasonCol, filter(array(quarantining.map(e =>
          when(violated(e), lit(e.name))): _*), x => x.isNotNull))
        .where(size(col(ReasonCol)) > 0)
    Validated(kept, quarantined, obs)
  }
}
