package graft.connector

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableCatalogCapability, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint, PrimaryKey, Unique}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.store.SnapshotStore

/** A DSv2 catalog over a directory of graft tables — name-first SQL
  * access, completing the consumption story the path-based connector
  * started:
  * {{{
  *   spark.sql.catalog.graft      = graft.connector.GraftCatalog
  *   spark.sql.catalog.graft.root = /warehouse/graft
  *
  *   SELECT * FROM graft.sales.orders
  *   SELECT * FROM graft.sales.orders VERSION AS OF 7      -- time travel
  *   SELECT * FROM graft.sales.orders TIMESTAMP AS OF '...'
  *   SHOW TABLES IN graft.sales
  * }}}
  *
  * Layout is the obvious one: `<root>/<ns...>/<table>` where a table
  * directory is recognized by its `_commits` log. Namespaces are
  * directories; metadata beyond existence is deliberately none.
  * Tables are CREATED by writers (`SnapshotStore.init` /
  * `df.write.format("graft").save(dir)`) because creation fixes the
  * bucket layout from actual keys — a catalog CREATE TABLE with no
  * data has no keys to bucket by, so it is rejected with that
  * guidance rather than half-supported.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with ProcedureCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var root: String = _

  private def spark: SparkSession = SparkSession.active
  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"graft catalog '$name' needs a warehouse directory: " +
        s"set spark.sql.catalog.$name.root"))
  }

  override def name(): String = catalogName

  /** ANSI table constraints are first-class: `CHECK` is write-ENFORCED
    * (every write path guards it — see `SnapshotStore.writeVersionData`),
    * `PRIMARY KEY`/`UNIQUE` are accepted as informational metadata when
    * they name exactly the merge keys (the engine's one-row-per-key
    * invariant is what backs the claim).
    */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  /** Identifier parts become path segments, so a part that IS path
    * syntax would escape the warehouse root (`` `..` `` climbing out,
    * a backticked `a/b` injecting a level, an absolute `/etc` part
    * replacing the root entirely — `new Path(parent, "/x")` resolves
    * to `/x`). Reject instead of resolve.
    */
  private def validPart(part: String): String = {
    require(part.nonEmpty, "empty identifier part")
    require(!part.contains("/") && !part.contains("\\") &&
      part != "." && part != "..",
      s"invalid graft identifier part '$part': identifier parts map to " +
        "single path segments under the warehouse root and cannot " +
        "contain path separators or be a relative-path token")
    part
  }
  private def dirOf(parts: Seq[String]): Path =
    parts.foldLeft(new Path(root))((p, part) => new Path(p, validPart(part)))
  private def tableDir(ident: Identifier): Path =
    dirOf(ident.namespace().toSeq :+ ident.name())
  private def isTable(p: Path): Boolean =
    fs.exists(new Path(p, "_commits"))

  // ------------------------------------------------------------------
  // tables
  // ------------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(name() +: namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def tableExists(ident: Identifier): Boolean = isTable(tableDir(ident))

  override def loadTable(ident: Identifier): Table = loadAt(ident, None)

  /** SQL `VERSION AS OF <v>` lands here — a non-numeric value resolves
    * as a TAG name (`VERSION AS OF 'stable'`), the release-bookmark
    * read (`CALL system.tag` creates one).
    */
  override def loadTable(ident: Identifier, version: String): Table =
    version.toLongOption match {
      case Some(v) => loadAt(ident, Some(v))
      case None =>
        // tags resolve against the table the identifier addresses —
        // for `t.meta_<kind>` that is the PARENT table (the view pins
        // wherever a data read can pin)
        val dir = metaParentDir(ident).getOrElse {
          val d = resolveReadDir(ident)
          if (!isTable(d)) throw new NoSuchTableException(ident)
          d
        }
        val v = SnapshotStore.tagVersion(spark, dir.toString, version)
          .getOrElse(throw new IllegalArgumentException(
            s"no version or tag '$version' on $ident — " +
              s"tags: ${SnapshotStore.listTags(spark, dir.toString)
                .map(_._1).mkString(", ")}"))
        loadAt(ident, Some(v))
    }

  /** The parent table's directory when `ident` is a `meta_<kind>` view
    * identifier over a real table; None otherwise.
    */
  private def metaParentDir(ident: Identifier): Option[Path] =
    if (ident.name().startsWith("meta_") && ident.namespace().nonEmpty &&
        GraftMetadataTable.Kinds(ident.name().stripPrefix("meta_")) &&
        !isTable(tableDir(ident))) {
      Some(dirOf(ident.namespace().toSeq)).filter(isTable)
    } else None

  /** SQL `TIMESTAMP AS OF <ts>` (micros since epoch): the newest
    * version whose manifest was committed at or before the instant,
    * resolved from the manifests' own in-commit `ts:` timestamps
    * (monotonic per table; skew-proof, since no file mtime is read) —
    * the same resolution rule as Delta's.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = metaParentDir(ident).getOrElse {
      val d = resolveReadDir(ident)
      if (!isTable(d)) throw new NoSuchTableException(ident)
      d
    }
    val at = SnapshotStore.versionAt(spark, dir.toString, timestamp / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    loadAt(ident, Some(at))
  }

  private def loadAt(ident: Identifier, version: Option[Long]): Table = {
    val dir = resolveReadDir(ident)
    if (!isTable(dir)) {
      // `cat.ns.t.tag_<name>`: table `cat.ns.t` pinned at tag <name> —
      // the read-only sibling of the branch_ convention (writes refuse
      // through the versioned table's own guards). A REAL table always
      // wins the name; tags never list/create/drop through identifiers.
      // `cat.ns.t.meta_<kind>`: inspection views (history / detail /
      // files / tags / branches / props) as SELECT-able relations —
      // the composable form of CALL system.<kind>
      if (ident.name().startsWith("meta_") && ident.namespace().nonEmpty) {
        val parent = dirOf(ident.namespace().toSeq)
        val kind = ident.name().stripPrefix("meta_")
        if (isTable(parent) && GraftMetadataTable.Kinds(kind)) {
          // table-STATE views pin like the table itself (meta_props
          // resolves the pinned version's own epoch's contracts);
          // ref/ANALYZE views refuse — rowsOf owns both rules
          require(version.isEmpty || GraftMetadataTable.VersionableKinds(kind),
            s"metadata view $ident reflects the CURRENT table state — " +
              "VERSION/TIMESTAMP AS OF does not apply")
          return new GraftMetadataTable(parent.toString, kind, version)
        }
      }
      if (ident.name().startsWith("tag_") && ident.namespace().nonEmpty) {
        val parent = dirOf(ident.namespace().toSeq)
        if (isTable(parent)) {
          SnapshotStore.tagVersion(spark, parent.toString,
              ident.name().stripPrefix("tag_")).foreach { tv =>
            require(version.isEmpty,
              s"cannot combine VERSION/TIMESTAMP AS OF with tag identifier $ident")
            val tagBound =
              GraftTable.resolveSchemaBound(spark, parent.toString, Some(tv))
            return new GraftTable(parent.toString, Some(tv), tagBound.schema,
              fromCatalog = true, boundInstanceIn = Some(tagBound.instance))
          }
        }
      }
      throw new NoSuchTableException(ident)
    }
    val bound = GraftTable.resolveSchemaBound(spark, dir.toString, version)
    new GraftTable(dir.toString, version, bound.schema,
      fromCatalog = true, boundEpochIn = bound.epoch,
      boundInstanceIn = Some(bound.instance))
  }

  /** Identifier → directory for READ/WRITE resolution, recognizing the
    * branch convention: `cat.ns.t.branch_<name>` addresses table
    * `cat.ns.t`'s write-audit-publish branch `<name>` — SELECT, INSERT
    * and row-level DML against the staged state from pure SQL (the
    * audit step of WAP needs no Scala). A REAL table always wins the
    * name; branches never list, create, drop, or rename through the
    * identifier (the `system.branch*` procedures own their lifecycle).
    */
  private def resolveReadDir(ident: Identifier): Path = {
    val direct = tableDir(ident)
    if (isTable(direct)) return direct
    if (ident.name().startsWith("branch_") && ident.namespace().nonEmpty) {
      val parent = dirOf(ident.namespace().toSeq)
      if (isTable(parent)) {
        val br = new Path(SnapshotStore.branchRoot(parent.toString,
          ident.name().stripPrefix("branch_")))
        if (isTable(br)) return br
      }
    }
    direct
  }

  /** SQL `CREATE TABLE` / CTAS. The merge-identity keys come from a
    * `keys` table property (TBLPROPERTIES or OPTIONS) and are
    * persisted in the v0 manifest, which is what lets every later
    * options-less SQL write (INSERT INTO) resolve them. The table is
    * created EMPTY as an ordinary version-0 commit — concurrent
    * creates serialize through the same manifest arbiter as any
    * commit — plus a `_schema` breadcrumb so reads and INSERT column
    * resolution work before the first row lands (data footers take
    * over after).
    */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    createAt(tableDir(ident), ident, schema, partitions, properties)
    loadTable(ident)
  }

  /** The CREATE TABLE body against an explicit directory — shared by
    * the direct path (`dir` = the table's real home) and the staging
    * path (`dir` = a hidden `_staging/` location the staged commit
    * later adopts; see [[stageCreate]]).
    */
  private def createAt(dir: Path, ident: Identifier, schema: StructType,
                       partitions: Array[Transform],
                       properties: JMap[String, String]): Unit = {
    require(partitions.isEmpty,
      "graft tables are hash-bucketed by their merge keys (the 'keys' " +
        "property); PARTITIONED BY is not supported")
    require(schema.nonEmpty, "graft CREATE TABLE needs a column list (or AS SELECT)")
    val props = new CaseInsensitiveStringMap(properties)
    def prop(k: String): Option[String] =
      Option(props.get(k)).orElse(Option(props.get(TableCatalog.OPTION_PREFIX + k)))
    val keys = prop("keys").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(throw new IllegalArgumentException(
        s"graft CREATE TABLE needs the merge-identity columns: " +
          s"TBLPROPERTIES ('keys'='k1,k2') — they fix the bucket layout " +
          s"and every INSERT INTO upserts on them"))
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"key column '$k' is not in the table schema " +
        s"(${schema.fieldNames.mkString(", ")})"))
    val numBuckets = prop("numBuckets").map(_.toInt).getOrElse(16)
    val statsCols = prop("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // free-form TBLPROPERTIES (beyond the layout trio, which live in
    // the manifest) persist in the table's `_props` breadcrumb —
    // VALIDATED (like column contracts below) BEFORE the base create
    // commits, so a refused property never leaves an orphaned table
    // that blocks the corrected retry
    val extra = {
      import scala.jdk.CollectionConverters._
      properties.asScala.toMap.filter { case (k, _) =>
        val lk = k.toLowerCase(java.util.Locale.ROOT)
        !ReservedProps(lk) && !lk.startsWith(TableCatalog.OPTION_PREFIX)
      }.map { case (k, v) =>
        // managed keys normalize to canonical form — a case-variant
        // 'DML.Mode' would skip validation AND the enforcement lookups
        canonicalProp(k) -> v
      }
    }
    extra.keys.foreach { k =>
      val lk = k.toLowerCase(java.util.Locale.ROOT)
      require(!lk.startsWith("constraint."),
        s"'$k': constraints are declared via CONSTRAINT clauses (validated), " +
          "not raw TBLPROPERTIES")
      require(!lk.startsWith("generated."),
        s"'$k': generated columns are declared via GENERATED ALWAYS AS " +
          "(analyzer-validated), not raw TBLPROPERTIES")
      require(!lk.startsWith("identity."),
        s"'$k': identity columns are declared via GENERATED ... AS IDENTITY, " +
          "not raw TBLPROPERTIES")
    }
    extra.foreach { case (k, v) => validManagedValue(k, v) }
    // GENERATED ALWAYS AS columns: the analyzer already validated each
    // expression (deterministic, no subqueries, references only
    // non-generated columns); record them as `generated.<col>` props
    // so EVERY write path computes omitted values and refuses
    // mismatched ones (the writeVersionData projection — same
    // no-extra-pass door as CHECK and the delta key contract)
    val genProps = schema.fields.toSeq.flatMap { f =>
      org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(f).map { sql =>
          require(!keys.contains(f.name),
            s"merge key '${f.name}' cannot be GENERATED ALWAYS AS — " +
              "row identity must come from the data itself")
          ("generated." + f.name) -> SnapshotStore.encPropValue(sql)
        }
    }.toMap
    // IDENTITY columns (the reference's AUTOINCREMENT surrogate keys,
    // `09 Order Entity.sql:71`): recorded as `identity.<col>` props so
    // every write path mints omitted values through the distributed
    // block allocator (SnapshotStore.reserveIdentityBlock)
    val idProps = schema.fields.toSeq.flatMap { f =>
      org.apache.spark.sql.catalyst.util.IdentityColumn
        .getIdentityInfo(f).map { s =>
          require(f.dataType == org.apache.spark.sql.types.LongType,
            s"identity column '${f.name}' must be BIGINT — the " +
              "distributed allocator reserves per-partition id lanes " +
              "in the full 64-bit space")
          ("identity." + f.name) ->
            s"${s.getStart},${s.getStep},${s.isAllowExplicitInsert}"
        }
    }.toMap
    val allProps = extra ++ genProps ++ idProps
    // everything validated — commit the base table, then its props
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    try SnapshotStore.init(spark, dir.toString, empty, keys, numBuckets, statsCols)
    catch {
      case e: IllegalArgumentException if e.getMessage != null &&
          e.getMessage.contains("already exists") =>
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(ident.toString)
    }
    GraftTable.writeSchemaFile(spark, dir.toString, schema)
    if (allProps.nonEmpty) SnapshotStore.writeProps(spark, dir.toString, allProps)
  }

  /** `CREATE TABLE ... CONSTRAINT ...` — the TableInfo overload carries
    * the constraint list. Constraints are validated BEFORE the base
    * create commits: a refused constraint (wrong key set, FK,
    * duplicate name) must fail the whole statement without leaving an
    * orphaned table behind (an empty new table vacuously satisfies any
    * accepted CHECK, so no data validation is needed).
    */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    createInfoAt(tableDir(ident), ident, info)
    loadTable(ident)
  }

  private def createInfoAt(dir: Path, ident: Identifier, info: TableInfo): Unit = {
    val cs = info.constraints()
    val constraintProps =
      if (cs.isEmpty) Map.empty[String, String]
      else {
        val keys = keysFromProperties(info.properties())
        cs.foldLeft(Map.empty[String, String])((p, c) =>
          p + constraintProp(c, keys, p))
      }
    // column-level contracts ride the v2 Column array, NOT StructField
    // metadata (info.schema() arrives stripped) — validated BEFORE the
    // base create so a refused contract leaves no orphan table
    val colProps = columnContractProps(info.columns(),
      keysFromProperties(info.properties()))
    createAt(dir, ident, info.schema(), info.partitions(), info.properties())
    val extraProps = constraintProps ++ colProps
    if (extraProps.nonEmpty) {
      SnapshotStore.writeProps(spark, dir.toString,
        SnapshotStore.readProps(spark, dir.toString) ++ extraProps)
    }
  }

  // ------------------------------------------------------------------
  // staged (atomic) CTAS / RTAS — StagingTableCatalog
  // ------------------------------------------------------------------

  /** Atomic `CREATE TABLE … AS SELECT`: the SELECT's output is written
    * to a hidden staging table under `<ns>/_staging/`; commit is ONE
    * directory rename into the real name. A failed or aborted CTAS
    * leaves nothing visible — no half-created table blocking the
    * corrected retry (which is exactly what the non-staged path risks:
    * createTable committed an empty v0 before the first data row).
    */
  override def stageCreate(ident: Identifier,
                           info: TableInfo): org.apache.spark.sql.connector.catalog.StagedTable = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident.toString)
    stage(ident, info, GraftStagedTable.Create)
  }

  /** Atomic `REPLACE TABLE … AS SELECT`: stage the new content, then
    * commit it as ONE new version of the existing table
    * ([[SnapshotStore.adoptAsReplace]] — zero-copy rename adoption,
    * history preserved for time travel, layout/keys/schema free to
    * change). The old content stays readable until the commit instant;
    * a failed SELECT leaves the table untouched.
    */
  override def stageReplace(ident: Identifier,
                            info: TableInfo): org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stage(ident, info, GraftStagedTable.Replace)
  }

  override def stageCreateOrReplace(ident: Identifier,
                                    info: TableInfo): org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info, GraftStagedTable.CreateOrReplace)

  private def stage(ident: Identifier, info: TableInfo,
                    mode: GraftStagedTable.Mode): GraftStagedTable = {
    if (!namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(name() +: ident.namespace())
    val stagingParent = new Path(dirOf(ident.namespace().toSeq), "_staging")
    sweepStaleStaging(stagingParent, ident.name())
    val staged = new Path(stagingParent, validPart(ident.name()) + "-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12))
    createInfoAt(staged, ident, info)
    new GraftStagedTable(spark, ident, staged, tableDir(ident), mode,
      GraftTable.resolveSchema(spark, staged.toString, None))
  }

  /** A crashed CTAS/RTAS (driver died between stage and commit/abort)
    * orphans its staging directory. Nothing ever revisits it by name,
    * so the next stage of the SAME table sweeps siblings older than
    * `spark.graft.staging.ttlHours` (default 24) — old enough that no
    * live statement can still own them; a concurrent CTAS of the same
    * name is hours younger and untouched.
    */
  private def sweepStaleStaging(stagingParent: Path, table: String): Unit = {
    if (!fs.exists(stagingParent)) return
    val cutoff = System.currentTimeMillis() - SnapshotStore.stagingTtlMs(spark)
    fs.listStatus(stagingParent).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(table + "-"))
      .filter(_.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** `generated.<col>` / `identity.<col>` props from the CREATE
    * statement's column list: GENERATED ALWAYS AS expressions were
    * analyzer-validated (deterministic, no subqueries, non-generated
    * references only); IDENTITY is the reference's AUTOINCREMENT
    * surrogate key (`09 Order Entity.sql:71`) backed by the
    * distributed block allocator.
    */
  private def columnContractProps(
      cols: Array[org.apache.spark.sql.connector.catalog.Column],
      keys: Seq[String]): Map[String, String] =
    cols.toSeq.flatMap { c =>
      val gen = Option(c.generationExpression()).map { sql =>
        require(!keys.contains(c.name()),
          s"merge key '${c.name()}' cannot be GENERATED ALWAYS AS — " +
            "row identity must come from the data itself")
        // DDL formatting (newlines in a multi-line CASE) survives into
        // the expression text; _props is line-oriented, so escape
        ("generated." + c.name()) -> SnapshotStore.encPropValue(sql)
      }
      val id = Option(c.identityColumnSpec()).map { s =>
        require(c.dataType() == org.apache.spark.sql.types.LongType,
          s"identity column '${c.name()}' must be BIGINT — the " +
            "distributed allocator reserves per-partition id lanes " +
            "in the full 64-bit space")
        ("identity." + c.name()) ->
          s"${s.getStart},${s.getStep},${s.isAllowExplicitInsert}"
      }
      gen.toSeq ++ id.toSeq
    }.toMap

  /** The `keys` table property, parsed exactly as the base create does
    * (shared so constraint validation can run pre-create).
    */
  private def keysFromProperties(properties: JMap[String, String]): Seq[String] = {
    val props = new CaseInsensitiveStringMap(properties)
    Option(props.get("keys"))
      .orElse(Option(props.get(TableCatalog.OPTION_PREFIX + "keys")))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(throw new IllegalArgumentException(
        s"graft CREATE TABLE needs the merge-identity columns: " +
          s"TBLPROPERTIES ('keys'='k1,k2') — they fix the bucket layout " +
          s"and every INSERT INTO upserts on them"))
  }

  private val ConstraintPrefixes =
    Seq("constraint.check.", "constraint.pk.", "constraint.unique.")

  /** Persisted form of one accepted constraint (refusing the shapes the
    * engine cannot back): `constraint.check.<name>` = predicate SQL,
    * `constraint.pk.<name>` / `constraint.unique.<name>` = column CSV
    * (must equal the merge keys — uniqueness there is the engine's own
    * one-row-per-key invariant, anywhere else it would be a claim
    * nothing enforces).
    */
  private def constraintProp(c: Constraint, keys: Seq[String],
                             existing: Map[String, String]): (String, String) = {
    require(!ConstraintPrefixes.exists(p => existing.contains(p + c.name())),
      s"constraint '${c.name()}' already exists")
    c match {
      case ch: Check =>
        require(ch.predicateSql() != null && ch.predicateSql().nonEmpty,
          s"CHECK constraint '${ch.name()}' has no SQL predicate")
        ("constraint.check." + ch.name()) -> ch.predicateSql()
      case pk: PrimaryKey =>
        val cols = pk.columns().map(_.fieldNames().mkString(".")).toSeq
        require(cols.sorted == keys.sorted,
          s"PRIMARY KEY (${cols.mkString(", ")}) must name exactly the " +
            s"merge keys (${keys.mkString(", ")}) — that uniqueness is the " +
            "engine's one-row-per-key invariant; any other column set is " +
            "an unenforceable claim")
        ("constraint.pk." + pk.name()) -> cols.mkString(",")
      case u: Unique =>
        val cols = u.columns().map(_.fieldNames().mkString(".")).toSeq
        require(cols.sorted == keys.sorted,
          s"UNIQUE (${cols.mkString(", ")}) must name exactly the merge " +
            s"keys (${keys.mkString(", ")}) — see PRIMARY KEY")
        ("constraint.unique." + u.name()) -> cols.mkString(",")
      case other =>
        throw new UnsupportedOperationException(
          s"graft tables support CHECK (write-enforced) and PRIMARY KEY/" +
            s"UNIQUE over the merge keys (informational); " +
            s"${other.getClass.getSimpleName} is not supported")
    }
  }

  /** Properties owned elsewhere: the layout trio lives in the manifest
    * (fixed at creation), the rest are Spark-reserved metadata.
    */
  private val ReservedProps = Set("keys", "numbuckets", "statscols", "version",
    "graft.schema.epoch", // stamped by REPLACE TABLE, never user-set
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
    TableCatalog.PROP_COMMENT, TableCatalog.PROP_OWNER,
    TableCatalog.PROP_EXTERNAL, "transient_lastddltime")

  private def validDmlMode(v: String): Unit =
    require(v == "cow" || v == "delta",
      s"dml.mode must be 'cow' or 'delta', got '$v'")

  /** ENGINE-MANAGED property keys normalize to canonical lowercase —
    * a case-variant ('DML.Mode', 'Write.Clustered') would record an
    * inert property that skips validation and every enforcement
    * lookup.
    */
  private val ManagedProps = Set("dml.mode", "write.clustered")
  private def canonicalProp(k: String): String = {
    val lk = k.toLowerCase(java.util.Locale.ROOT)
    if (ManagedProps(lk)) lk else k
  }

  /** Same inert-property trap for VALUES: `'write.clustered'='TRUE'`
    * would record cleanly and silently never engage.
    */
  private def validManagedValue(k: String, v: String): Unit = k match {
    case "dml.mode" => validDmlMode(v)
    case "write.clustered" => require(v == "true" || v == "false",
      s"write.clustered must be 'true' or 'false', got '$v'")
    case _ => ()
  }

  /** SQL `ALTER TABLE`: ADDITIVE evolution only — `ADD COLUMN` (new
    * nullable top-level column, appended; history null-fills, exactly
    * the library's additive-evolution rule) and `SET/UNSET
    * TBLPROPERTIES`. Setting `dml.mode=delta` verifies the EXISTING
    * keys are null-free before recording the contract (writes enforce
    * it from then on). Everything that would rewrite history — drops,
    * renames, type changes, layout changes — refuses loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val root = dir.toString
    // serialize behind an in-flight REPLACE/restore contract swap (and
    // HEAL a crashed one) before the read-modify-write below: reading
    // `_schema`/`_props` mid-swap would compose this ALTER against a
    // torn half-epoch and persist the wrong base. (An ALTER racing a
    // swap that starts AFTER this wait remains last-writer-wins on the
    // props file — ALTER commits no manifest to arbitrate with.)
    SnapshotStore.latestVersion(spark, root)
      .foreach(v => SnapshotStore.awaitContractQuiescence(spark, root, v))
    // The contracts LOCK serializes this compose-and-write against
    // rival ALTERs (previously last-writer-wins: one statement's
    // changes could vanish silently) and against a swap's
    // executeContractSwap (previously an ALTER landing mid-swap could
    // re-instate the displaced epoch's breadcrumb over the new
    // epoch's). Compose happens INSIDE the lock so it always reads the
    // rival-complete state.
    SnapshotStore.withContractsLock(spark, root) {
      // a swap whose flagged commit landed AFTER the quiescence wait
      // above writes its contracts under this same lock — composing
      // now would pair this ALTER with a half-displaced epoch: refuse
      // with the documented conflict instead
      SnapshotStore.latestVersion(spark, root).foreach { v =>
        if (SnapshotStore.unstampedEpochStart(spark, root, v) >= 0)
          throw new java.util.ConcurrentModificationException(
            s"ALTER TABLE at $root raced a REPLACE/restore contract " +
              "swap — re-run against the new contract")
      }
      // TWO-PHASE: every change validates and composes against PENDING
      // in-memory state; nothing persists until the whole statement
      // validated — a multi-change ALTER that fails partway must not
      // leave earlier changes applied (non-atomic DDL turns a reported
      // failure into a half-applied schema the retry then trips over).
      var pendingSchema: Option[StructType] = None
      var pendingProps: Option[Map[String, String]] = None
      // the FOOTER-MERGED schema (not just the breadcrumb): a column
      // added by library-side additive evolution must be alterable too.
      // failOnDegraded: an ALTER based on a footers-only resolution
      // would PERSIST a breadcrumb missing earlier ALTERs' columns —
      // fail loudly instead (r15 advice #4)
      def curSchema: StructType = pendingSchema.getOrElse(
        GraftTable.resolveSchema(spark, root, None, failOnDegraded = true))
      def curProps: Map[String, String] = pendingProps.getOrElse(
        SnapshotStore.readProps(spark, root))
      changes.foreach {
        case add: TableChange.AddColumn =>
          require(add.fieldNames().length == 1,
            s"graft ALTER TABLE ADD COLUMN supports top-level columns only, " +
              s"got nested '${add.fieldNames().mkString(".")}'")
          val colName = add.fieldNames()(0)
          require(add.isNullable,
            s"new column '$colName' must be nullable: existing rows null-fill " +
              "(additive evolution cannot conjure values for history)")
          require(add.position() == null,
            s"column position is not supported — new columns append " +
              s"(column order is presentation, not layout)")
          require(add.defaultValue() == null,
            s"ADD COLUMN with DEFAULT would need a retroactive value for " +
              "history, which additive evolution null-fills by contract — " +
              "add the column, then ALTER TABLE ... ALTER COLUMN ... SET " +
              "DEFAULT for FUTURE inserts")
          val cur = curSchema
          require(cur.nonEmpty, s"table $ident has no resolvable schema")
          require(!cur.fieldNames.exists(_.equalsIgnoreCase(colName)),
            s"column '$colName' already exists in $ident")
          val field = {
            val f = org.apache.spark.sql.types.StructField(colName,
              add.dataType(), nullable = true)
            if (add.comment() != null) f.withComment(add.comment()) else f
          }
          pendingSchema = Some(StructType(cur.fields.toSeq :+ field))
        case upd: TableChange.UpdateColumnDefaultValue =>
          // CURRENT default only: applies to FUTURE inserts (the analyzer
          // materializes it into written rows); history keeps its real
          // values / null-fill — no retroactive EXISTS_DEFAULT claims
          require(upd.fieldNames().length == 1,
            "SET DEFAULT supports top-level columns only")
          val colName = upd.fieldNames()(0)
          val cur = curSchema
          require(cur.fieldNames.exists(_.equalsIgnoreCase(colName)),
            s"no column '$colName' in $ident")
          val updated = StructType(cur.fields.toSeq.map { f =>
            if (!f.name.equalsIgnoreCase(colName)) f
            else {
              val mb = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
              val sql = Option(upd.newCurrentDefault())
                .flatMap(d => Option(d.getSql))
                .orElse(Option(upd.newDefaultValue()))
                .filter(_.nonEmpty)
              sql match {
                case Some(s) => f.copy(metadata =
                  mb.putString("CURRENT_DEFAULT", s).build())
                case None => f.copy(metadata =
                  mb.remove("CURRENT_DEFAULT").build()) // DROP DEFAULT
              }
            }
          })
          pendingSchema = Some(updated)
        case add: TableChange.AddConstraint =>
          // ENFORCED CHECKs were already validated against existing rows
          // by Spark's AddCheckConstraintExec before this call; recording
          // the property makes every write path enforce it from now on
          val keys = SnapshotStore.readManifest(spark, root,
            SnapshotStore.latestVersion(spark, root).getOrElse(
              throw new NoSuchTableException(ident))).keys
          val props = curProps
          pendingProps = Some(props + constraintProp(add.constraint(), keys, props))
        case drop: TableChange.DropConstraint =>
          val props = curProps
          ConstraintPrefixes.map(_ + drop.name()).find(props.contains) match {
            case Some(k) => pendingProps = Some(props - k)
            case None =>
              require(drop.ifExists(),
                s"no constraint named '${drop.name()}' on $ident")
          }
        case set: TableChange.SetProperty =>
          // managed keys normalize to their canonical (lowercase) form —
          // a case-variant 'DML.Mode' that silently skipped validation
          // AND enforcement lookups would record a contract nothing honors
          val k = canonicalProp(set.property())
          require(!ReservedProps(k.toLowerCase(java.util.Locale.ROOT)),
            s"property '$k' is layout/reserved metadata and cannot be set — " +
              "bucket layout evolves via CALL system.rebucket")
          require(!k.toLowerCase(java.util.Locale.ROOT).startsWith("constraint."),
            s"constraints are managed via ALTER TABLE ADD/DROP CONSTRAINT " +
              "(which validates existing data), not raw TBLPROPERTIES")
          require(!k.toLowerCase(java.util.Locale.ROOT).startsWith("generated."),
            s"generated columns are declared at CREATE via GENERATED ALWAYS " +
              "AS (analyzer-validated), not raw TBLPROPERTIES")
          require(!k.toLowerCase(java.util.Locale.ROOT).startsWith("identity."),
            s"identity columns are declared at CREATE via GENERATED ... AS " +
              "IDENTITY, not raw TBLPROPERTIES")
          validManagedValue(k, set.value())
          if (k == "dml.mode") {
            if (set.value() == "delta") {
              val keys = SnapshotStore.readManifest(spark, root,
                SnapshotStore.latestVersion(spark, root).getOrElse(
                  throw new NoSuchTableException(ident))).keys
              require(keys.nonEmpty,
                s"dml.mode=delta needs merge keys; $ident has none")
              // the contract must hold for data already in the table —
              // one column-pruned scan of the key columns, at ALTER time
              val nullKeys = spark.read.format("graft").load(root)
                .where(keys.map(org.apache.spark.sql.functions.col(_).isNull)
                  .reduce(_ || _)).limit(1).count()
              require(nullKeys == 0,
                s"cannot set dml.mode=delta on $ident: existing rows hold " +
                  "null merge keys — the delta row-identity contract " +
                  "requires non-null keys; clean them first")
            }
          }
          pendingProps = Some(curProps + (k -> set.value()))
        case rm: TableChange.RemoveProperty =>
          val k = canonicalProp(rm.property())
          require(!ReservedProps(k.toLowerCase(java.util.Locale.ROOT)),
            s"property '$k' is layout/reserved metadata")
          require(!k.toLowerCase(java.util.Locale.ROOT)
            .startsWith("constraint."),
            s"constraints are dropped via ALTER TABLE DROP CONSTRAINT, " +
              "not TBLPROPERTIES")
          require(!k.toLowerCase(java.util.Locale.ROOT)
            .startsWith("generated."),
            s"a GENERATED ALWAYS AS contract cannot be dropped — readers " +
              "and history rely on it")
          require(!k.toLowerCase(java.util.Locale.ROOT)
            .startsWith("identity."),
            s"an IDENTITY contract cannot be dropped — minted ids and " +
              "the reservation ledger rely on it")
          pendingProps = Some(curProps - k)
        case other =>
          throw new UnsupportedOperationException(
            s"graft ALTER TABLE supports ADD COLUMN (nullable, appended), " +
              s"ALTER COLUMN SET/DROP DEFAULT, ADD/DROP CONSTRAINT, and " +
              s"SET/UNSET TBLPROPERTIES; ${other.getClass.getSimpleName} would " +
              "rewrite history (drop/rename/retype) or change fixed layout — " +
              "refusing")
      }
      // every change validated — persist once
      pendingSchema.foreach(s => GraftTable.writeSchemaFile(spark, root, s))
      pendingProps.foreach(p => SnapshotStore.writeProps(spark, root, p))
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) return false
    // un-materialized clones OF this table read its directories by
    // absolute path — deleting it would silently lose THEIR data, so
    // the drop refuses while any clone-retention consumer is
    // registered (same guard as renameTable)
    // the table's own BRANCHES are clones living inside its subtree —
    // they die with it, so they must not block the drop
    requireNoClones(dir, s"drop $ident", dyingWith = Some(dir))
    // an un-materialized clone holds retention on its source — release
    // before the breadcrumb disappears with the directory
    SnapshotStore.releaseClone(spark, dir.toString)
    fs.delete(dir, true)
  }

  private def requireNoClones(dir: Path, op: String,
                              dyingWith: Option[Path] = None): Unit = {
    val clones = graft.store.ChangeFeed.cloneConsumerIds(spark, dir.toString)
      .filterNot { id =>
        // a clone that is itself inside the subtree being dropped dies
        // with its source — no dangling reference survives
        dyingWith.exists { sub =>
          val cloneRoot = new Path(id.stripPrefix("clone:"))
          val qSub = fs.makeQualified(sub).toString + "/"
          (fs.makeQualified(cloneRoot).toString + "/").startsWith(qSub)
        }
      }
    require(clones.isEmpty,
      s"cannot $op: un-materialized clones still reference its " +
        s"directories (${clones.mkString(", ")}) — materialize or drop " +
        "them first")
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    val to = tableDir(newIdent)
    require(!fs.exists(to), s"rename target $to already exists")
    // un-materialized clones OF this table reference its directories by
    // ABSOLUTE path — moving it would dangle every one of them, so the
    // rename refuses while any clone-retention consumer is registered
    requireNoClones(from, s"rename $oldIdent")
    // manifests reference their own data RELATIVE to the table root
    // (absolute only for entries pointing INTO a clone source, which a
    // move does not disturb), so a directory move is a complete rename
    if (!fs.rename(from, to))
      throw new IllegalStateException(s"rename $from -> $to failed")
    // this table's OWN retention consumer on its clone source is keyed
    // by its root — re-key it
    SnapshotStore.relocateClone(spark, to.toString, from.toString)
  }

  // ------------------------------------------------------------------
  // procedures — SQL-visible maintenance (CALL graft.system.compact …)
  // ------------------------------------------------------------------

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(this, namespace)

  /** Resolve a procedure's `table` argument ('ns.table', dot-separated)
    * to its directory under the warehouse root — same per-part
    * validation as a table reference, so a `CALL` can't name a path
    * outside the root either.
    */
  private[connector] def resolveTableDir(table: String): String = {
    val parts = table.split("\\.").toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"malformed table argument '$table' — expected 'ns.table' relative to catalog '$catalogName'")
    val dir = dirOf(parts)
    if (!isTable(dir))
      throw new NoSuchTableException(
        Identifier.of(parts.init.toArray, parts.last))
    dir.toString
  }

  /** Same validation for a procedure argument naming a table that must
    * NOT exist yet (`CALL clone`'s target) — the parent namespace must
    * exist, the target must not.
    */
  private[connector] def resolveNewTableDir(table: String): String = {
    val parts = table.split("\\.").toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"malformed table argument '$table' — expected 'ns.table' relative to catalog '$catalogName'")
    val parent = dirOf(parts.init)
    require(fs.exists(parent) && !isTable(parent),
      s"namespace ${parts.init.mkString(".")} does not exist")
    val dir = dirOf(parts)
    require(!fs.exists(dir), s"target $table already exists")
    dir.toString
  }

  // ------------------------------------------------------------------
  // functions — the bucket transform behind storage-partitioned joins
  // ------------------------------------------------------------------

  /** `bucket` resolves from the catalog's top level (where Spark looks
    * partition transforms up) and from any namespace (where SQL
    * `SELECT cat.ns.bucket(...)` might) — it is layout arithmetic, not
    * namespaced state.
    */
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name().toLowerCase(java.util.Locale.ROOT) == "bucket")
      GraftBucketFunction
    else throw new NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespaceExists(namespace))
      Array(Identifier.of(namespace, "bucket"))
    else throw new NoSuchNamespaceException(name() +: namespace)

  // ------------------------------------------------------------------
  // namespaces = directories
  // ------------------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(name() +: namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable)
      .filterNot(_.getName.startsWith("_"))
      .map(p => namespace :+ p.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = dirOf(namespace.toSeq)
    namespace.isEmpty || (fs.exists(dir) && !isTable(dir))
  }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(name() +: namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    fs.mkdirs(dirOf(namespace.toSeq)): Unit
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir)) return false
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    // cascading over an un-materialized clone must release its hold on
    // the source (as dropTable does) before the breadcrumb disappears;
    // and a cascaded table with un-materialized clones OUTSIDE the
    // dropped subtree refuses exactly like dropTable (clones inside it
    // die with their source — those don't block)
    def releaseClonesUnder(p: Path): Unit =
      if (isTable(p)) {
        requireNoClones(p, s"drop namespace ${namespace.mkString(".")} " +
          s"(cascades over table $p)", dyingWith = Some(dir))
        SnapshotStore.releaseClone(spark, p.toString)
      }
      else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
        .foreach(releaseClonesUnder)
    if (cascade) releaseClonesUnder(dir)
    fs.delete(dir, true)
  }
}
