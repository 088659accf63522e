package graft.connector

import java.util.{Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

import graft.store.SnapshotStore

/** SQL-visible table maintenance — the DSv2 procedure surface behind
  * `CALL graft.system.<proc>(...)`. The reference runs its maintenance
  * as scheduled SQL procedures (`with procedures/task_proc.sql:32-40`);
  * graft's equivalents were library-only until now, which left a
  * SQL-session operator (the persona every `*_proc.sql` is written
  * for) unable to compact, vacuum, or roll back a table at all.
  *
  * {{{
  *   CALL graft.system.compact(table => 'sales.orders')
  *   CALL graft.system.compact(table => 'sales.orders',
  *                             zorder_by => 'o_custkey,o_orderdate')
  *   CALL graft.system.vacuum(table => 'sales.orders', keep_last => 3)
  *   CALL graft.system.restore(table => 'sales.orders', version => 7)
  *   CALL graft.system.checkpoint(table => 'sales.orders')
  * }}}
  *
  * Each procedure resolves its `table` argument against the SAME
  * catalog root and identifier validation as a table reference
  * (path-traversal parts are rejected before they touch the
  * filesystem), delegates to the [[graft.store.SnapshotStore]]
  * maintenance verbs — so every CALL goes through the ordinary
  * exclusive-create commit arbiter and is safe against concurrent
  * writers — and returns a one-row result describing what happened,
  * via [[LocalScan]] (maintenance output is a single metadata row;
  * shipping it through a distributed scan would be ceremony).
  *
  * At 100 TB this surface matters more, not less: compaction and
  * sidecar folding are scheduled jobs there, and a scheduler speaks
  * SQL, not library calls.
  */
object GraftProcedures {

  private val Namespace = Array("system")

  private val names = Seq("compact", "vacuum", "restore", "checkpoint",
    "clone", "rebucket", "materialize", "detail", "history", "analyze",
    "branch", "publish_branch", "drop_branch", "branches",
    "tag", "drop_tag", "tags")

  def list(catalog: GraftCatalog, namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Namespace))
      names.map(n => Identifier.of(Namespace, n)).toArray
    else Array.empty

  def load(catalog: GraftCatalog, ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Namespace) &&
      names.contains(ident.name().toLowerCase(java.util.Locale.ROOT)),
      s"unknown graft procedure ${ident.namespace().mkString(".")}.${ident.name()} — " +
        s"available: ${names.map("system." + _).mkString(", ")}")
    new Unbound(catalog, ident.name().toLowerCase(java.util.Locale.ROOT))
  }

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def in(name: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private final class Unbound(catalog: GraftCatalog, proc: String)
      extends UnboundProcedure {
    override def name(): String = proc
    override def description(): String = proc match {
      case "compact"    => "rewrite fragmented buckets to one file each, fold delete sidecars, optionally cluster/z-order"
      case "vacuum"     => "delete data versions older than the newest keep_last (respecting feed/clone/tag retention); dry_run => true reports without deleting"
      case "restore"    => "commit a new version whose content is a past version (roll back without losing history)"
      case "checkpoint" => "write a manifest checkpoint so cold reads replay O(1) deltas"
      case "clone"      => "zero-copy clone: the target's v0 points at the source's data; O(manifest) at any size"
      case "rebucket"   => "rewrite the table under a new hash-bucket count (one O(table) commit; later deltas compose)"
      case "materialize" => "re-home every cloned bucket locally, cutting the clone's dependency on its source"
      case "detail"     => "one row per bucket: files, bytes, recorded rows, tombstone debt — the compaction/fold planning view"
      case "history"    => "one row per retained version: in-commit timestamp + current marker — what VERSION/TIMESTAMP AS OF resolves against"
      case "analyze"    => "one aggregation pass computing per-column NDV/nulls/min/max, published for the optimizer (version-pinned)"
      case "branch"     => "fork a write-audit-publish branch: a zero-copy clone under <root>/_branch/<name>, isolated until published"
      case "publish_branch" => "land a branch's state on main as ONE atomic fast-forward commit (refuses if main advanced); adopts data dirs by rename"
      case "drop_branch" => "abandon a branch: release its retention hold on main and delete it"
      case "branches"   => "one row per live branch: name, fork base version, branch's own current version"
      case "tag"        => "name a retained version (immutable ref): VERSION AS OF '<name>' and t.tag_<name> read it; vacuum keeps history from the oldest tag"
      case "drop_tag"   => "delete a tag, releasing the history it pins"
      case "tags"       => "one row per tag: name, pinned version (-1 for a torn create)"
    }
    override def bind(inputType: StructType): BoundProcedure = new Bound(catalog, proc)
  }

  private final class Bound(catalog: GraftCatalog, proc: String)
      extends BoundProcedure {
    override def name(): String = proc
    // every procedure commits (or deletes) table state
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = proc match {
      case "compact" => Array(
        in("table", StringType),
        in("min_files", IntegerType, "2"),
        in("cluster_by", StringType, "''"),
        in("zorder_by", StringType, "''"),
        in("max_records_per_file", LongType, "0"),
        in("tombstone_fold_bytes", LongType, "0"))
      case "vacuum" => Array(
        in("table", StringType),
        in("keep_last", IntegerType, "1"),
        in("dry_run", BooleanType, "false"),
        // reader-protection age floor (see SnapshotStore.VacuumMinAgeMs);
        // -1 = the engine default sysprop
        in("min_age_ms", LongType, "-1"))
      case "restore" => Array(
        in("table", StringType),
        in("version", LongType))
      case "checkpoint" => Array(
        in("table", StringType))
      case "clone" => Array(
        in("table", StringType),
        in("target", StringType))
      case "rebucket" => Array(
        in("table", StringType),
        in("num_buckets", IntegerType))
      case "materialize" => Array(
        in("table", StringType))
      case "detail" => Array(
        in("table", StringType))
      case "history" => Array(
        in("table", StringType))
      case "analyze" => Array(
        in("table", StringType),
        in("columns", StringType, "''"))
      case "branch" | "publish_branch" | "drop_branch" => Array(
        in("table", StringType),
        in("name", StringType))
      case "branches" => Array(
        in("table", StringType))
      case "tag" => Array(
        in("table", StringType),
        in("name", StringType),
        in("version", LongType, "-1")) // -1 = the current version
      case "drop_tag" => Array(
        in("table", StringType),
        in("name", StringType))
      case "tags" => Array(
        in("table", StringType))
    }

    private def outSchema: StructType = proc match {
      case "compact"    => new StructType().add("version", LongType)
      case "vacuum"     => new StructType().add("removed_versions", IntegerType)
      case "restore"    => new StructType().add("version", LongType)
      case "checkpoint" => new StructType().add("version", LongType)
      case "clone"      => new StructType().add("version", LongType)
      case "rebucket"   => new StructType().add("version", LongType)
      case "materialize" => new StructType().add("version", LongType)
      case "detail"  => GraftMetadataTable.schemaOf("detail")
      case "history" => GraftMetadataTable.schemaOf("history")
      case "analyze" => new StructType()
        .add("version", LongType)
        .add("analyzed_columns", IntegerType)
        .add("rows", LongType)
      case "branch"         => new StructType().add("base_version", LongType)
      case "publish_branch" => new StructType().add("version", LongType)
      case "drop_branch"    => new StructType().add("dropped", BooleanType)
      case "tag"      => new StructType().add("version", LongType)
      case "drop_tag" => new StructType().add("dropped", BooleanType)
      case "tags"     => GraftMetadataTable.schemaOf("tags")
      case "branches" => GraftMetadataTable.schemaOf("branches")
    }

    private def csv(s: String): Seq[String] =
      s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val table = Option(input.getUTF8String(0)).map(_.toString).getOrElse(
        throw new IllegalArgumentException(s"$proc: 'table' must not be NULL"))
      val root = catalog.resolveTableDir(table)
      // the row-SET procedures share their schema and row builders with
      // the `t.meta_<kind>` relations (GraftMetadataTable) — one truth
      if (Set("detail", "history", "tags", "branches")(proc))
        return java.util.Collections.singletonList[Scan](
          new ResultScan(outSchema,
            GraftMetadataTable.rowsOf(spark, root, proc))).iterator()
      if (proc == "analyze") {
        val ts = SnapshotStore.analyze(spark, root,
          csv(input.getUTF8String(1).toString))
        val row = new GenericInternalRow(
          Array[Any](ts.version, ts.cols.size, ts.rows))
        return java.util.Collections.singletonList[Scan](
          new ResultScan(outSchema, Array[InternalRow](row))).iterator()
      }
      val result: Any = proc match {
        case "compact" =>
          SnapshotStore.compact(spark, root,
            minFiles = input.getInt(1),
            clusterBy = csv(input.getUTF8String(2).toString),
            zOrderBy = csv(input.getUTF8String(3).toString),
            maxRecordsPerFile = input.getLong(4),
            tombstoneFoldBytes = input.getLong(5))
        case "vacuum" =>
          val minAge =
            if (input.isNullAt(3) || input.getLong(3) < 0L)
              SnapshotStore.VacuumMinAgeMs
            else input.getLong(3)
          SnapshotStore.vacuum(spark, root, keepLast = input.getInt(1),
            dryRun = !input.isNullAt(2) && input.getBoolean(2),
            minAgeMs = minAge)
        case "restore" =>
          SnapshotStore.restore(spark, root, toVersion = input.getLong(1))
        case "checkpoint" =>
          SnapshotStore.checkpoint(spark, root)
        case "clone" =>
          val target = Option(input.getUTF8String(1)).map(_.toString).getOrElse(
            throw new IllegalArgumentException("clone: 'target' must not be NULL"))
          SnapshotStore.cloneTable(spark, root,
            catalog.resolveNewTableDir(target))
        case "rebucket" =>
          SnapshotStore.rebucket(spark, root, persistedKeys(spark, root),
            newNumBuckets = input.getInt(1))
        case "materialize" =>
          SnapshotStore.materialize(spark, root, persistedKeys(spark, root))
        case "branch" =>
          SnapshotStore.createBranch(spark, root, branchName(input))
        case "publish_branch" =>
          SnapshotStore.publishBranch(spark, root, branchName(input))
        case "drop_branch" =>
          SnapshotStore.dropBranch(spark, root, branchName(input)); true
        case "tag" =>
          // an explicit NULL version means "current", same as the -1
          // default (getLong on a null slot would silently read 0 —
          // pinning the empty CREATE commit forever)
          SnapshotStore.createTag(spark, root, branchName(input),
            if (input.isNullAt(2)) None
            else Some(input.getLong(2)).filter(_ >= 0))
        case "drop_tag" =>
          SnapshotStore.dropTag(spark, root, branchName(input)); true
      }
      val row = new GenericInternalRow(Array[Any](result))
      java.util.Collections.singletonList[Scan](
        new ResultScan(outSchema, Array[InternalRow](row))).iterator()
    }

    private def branchName(input: InternalRow): String =
      Option(input.getUTF8String(1)).map(_.toString).getOrElse(
        throw new IllegalArgumentException(s"$proc: 'name' must not be NULL"))

    /** The table's manifest-persisted merge keys (rebucket/materialize
      * rewrite by them; SQL has no channel to re-supply them — exactly
      * what key persistence is for).
      */
    private def persistedKeys(spark: SparkSession, root: String): Seq[String] = {
      val keys = GraftTable.manifestAt(spark, root, None).keys
      require(keys.nonEmpty,
        s"table at $root predates persisted keys (manifest format < 4): " +
          s"run $proc through the library API, which takes them explicitly")
      keys
    }
  }

  /** One metadata row, driver-local — the procedure already ran; this
    * is just how `CALL` surfaces its outcome to the SQL session.
    */
  private final class ResultScan(schema: StructType, out: Array[InternalRow])
      extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = out
  }
}
