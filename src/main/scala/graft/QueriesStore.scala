package graft

import org.apache.spark.sql.functions._

import graft.store.ChangeFeed

/** Storage-layer queries (SURVEY.md §2 connector rows): the snapshot
  * table format exercised END TO END through the public connector —
  * create + keyed upsert via `df.write.format("graft")`, pruned read
  * via `spark.read.format("graft")`, and the change feed — each
  * DuckDB-oracle-checked against the equivalent SQL over the raw
  * parquet (the oracle recomputes the upsert/diff semantics
  * relationally, so a hash match proves the whole table format:
  * bucketing, manifest reconstruction, merge, and scan).
  */
object QueriesStore {
  import Queries.Q

  // every invocation builds its table in a fresh dir (Bench re-runs
  // each key several times); all of them are reclaimed when the JVM
  // exits so repeated gate/bench runs don't accumulate under /tmp
  private val createdRoots = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      createdRoots.forEach { p =>
        // per-root NonFatal guard: the lazy walk throws
        // UncheckedIOException (not IOException) when concurrent
        // shutdown hooks race deletions — one root's failure must not
        // leak every root after it
        try {
          val walk = java.nio.file.Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
          finally walk.close()
        } catch { case scala.util.control.NonFatal(_) => () }
      }))
  }

  private def freshRoot(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    createdRoots.add(dir)
    dir.toString + "/t"
  }

  // =====================================================================
  // w01 — connector round trip: create from orders, upsert a keyed
  // delta, read back through the pushdown scan, aggregate. The oracle
  // recomputes the final state with a CASE over raw orders.
  // =====================================================================
  val w01: Q = (s, d) => {
    val root = freshRoot("w01")
    val src = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus").as("status"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"))
    src.write.format("graft")
      .option("keys", "o_orderkey").option("numBuckets", "8")
      .option("statsCols", "o_custkey").save(root)
    src.where(col("o_orderkey") % 10 === 0).withColumn("status", lit("X"))
      .write.format("graft").option("keys", "o_orderkey").mode("append").save(root)
    s.read.format("graft").load(root)
      .where(col("o_custkey") <= 500) // pushed → bucket/file pruning
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(cents) AS BIGINT)").as("sum_cents"))
  }

  val w01Sql: String =
    """WITH fin AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS status,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM fin WHERE o_custkey <= 500 GROUP BY 1""".stripMargin

  // =====================================================================
  // w02 — change feed vs relational history: init + one keyed upsert,
  // then readChanges(-1, 1]. The oracle reconstructs the exact change
  // rows (v0 inserts, v1 pre/post images for the touched keys) from
  // raw orders — a hash match proves the manifest-guided diff.
  // =====================================================================
  val w02: Q = (s, d) => {
    val root = freshRoot("w02")
    val src = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"))
    src.write.format("graft")
      .option("keys", "o_orderkey").option("numBuckets", "8").save(root)
    src.where(col("o_orderkey") % 10 === 0).withColumn("status", lit("X"))
      .write.format("graft").option("keys", "o_orderkey").mode("append").save(root)
    ChangeFeed.readChanges(s, root, Seq("o_orderkey"), -1L, 1L)
      .select(col("o_orderkey"), col("status"),
        col(ChangeFeed.ChangeType).as("change_type"),
        col(ChangeFeed.CommitVersion).as("commit_version"))
  }

  val w02Sql: String =
    """SELECT o_orderkey, o_orderstatus AS status,
      |  'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, 'update_preimage', CAST(1 AS BIGINT)
      |FROM orders WHERE o_orderkey % 10 = 0
      |UNION ALL
      |SELECT o_orderkey, 'X', 'update_postimage', CAST(1 AS BIGINT)
      |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin

  // =====================================================================
  // w03 — SQL-only DML round trip through the DSv2 catalog: CTAS from
  // orders, INSERT INTO (keyed upsert), aggregate over the cataloged
  // table — not one library call on the write path. The oracle is the
  // same relational recompute as w01 (CASE over raw orders), so a hash
  // match proves CREATE TABLE AS / INSERT INTO / catalog scan end to
  // end. Reference: every load procedure is exactly this
  // SQL-write-then-SQL-read shape (`with procedures/order_proc.sql`).
  // =====================================================================
  private lazy val w03Warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_w03cat")
    createdRoots.add(dir)
    dir.toString
  }

  val w03: Q = (s, d) => {
    // the catalog instance is cached per session at first use, so the
    // warehouse root is fixed per JVM; each invocation gets its own
    // table name under it (Bench re-runs keys)
    s.conf.set("spark.sql.catalog.graft_w03",
      classOf[graft.connector.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_w03.root", w03Warehouse)
    val t = "t" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    Tables.orders(s, d).createOrReplaceTempView("w03_orders_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_w03.sales")
    s.sql(
      s"""CREATE TABLE graft_w03.sales.$t USING graft
         |TBLPROPERTIES ('keys'='o_orderkey', 'numBuckets'='8')
         |AS SELECT o_orderkey, o_custkey, o_orderstatus AS status,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
         |FROM w03_orders_src""".stripMargin)
    s.sql(
      s"""INSERT INTO graft_w03.sales.$t
         |SELECT o_orderkey, o_custkey, 'X',
         |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
         |FROM w03_orders_src WHERE o_orderkey % 10 = 0""".stripMargin)
    s.sql(
      s"""SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM graft_w03.sales.$t WHERE o_custkey <= 500
         |GROUP BY status""".stripMargin)
  }

  val w03Sql: String =
    """WITH fin AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS status,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM fin WHERE o_custkey <= 500 GROUP BY 1""".stripMargin

  // =====================================================================
  // w04 — MERGE builder vs relational recompute: one merge commit
  // carrying updates (%10 keys → status X), deletes (%7 keys not
  // already updated), and inserts (%13 keys re-keyed high), driven by
  // a source-only `op` column the clauses condition on. The oracle
  // rebuilds the final state with CASE + filter + UNION — a hash match
  // proves clause routing, bucket CoW, and physical delete folding.
  // Reference: every `*_proc.sql` is exactly this MERGE shape.
  // =====================================================================
  val w04: Q = (s, d) => {
    val root = freshRoot("w04")
    val base = Tables.orders(s, d).select(
      col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"))
    base.write.format("graft")
      .option("keys", "k").option("numBuckets", "8").save(root)
    val source =
      base.where(col("k") % 10 === 0)
        .withColumn("status", lit("X")).withColumn("op", lit("U"))
      .unionByName(base.where(col("k") % 7 === 0 && col("k") % 10 =!= 0)
        .withColumn("op", lit("D")))
      .unionByName(base.where(col("k") % 13 === 0)
        .withColumn("k", col("k") + 100000000L)
        .withColumn("status", lit("N")).withColumn("op", lit("I")))
    graft.store.GraftMerge.into(s, root)
      .using(source)
      .whenMatchedDelete(expr("source.op = 'D'"))
      .whenMatchedUpdate(expr("source.op = 'U'"))
      .whenNotMatchedInsert()
      .execute()
    s.read.format("graft").load(root)
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(cents) AS BIGINT)").as("sum_cents"))
  }

  val w04Sql: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS status,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |merged AS (
      |  SELECT k, CASE WHEN k % 10 = 0 THEN 'X' ELSE status END AS status, cents
      |  FROM base WHERE NOT (k % 7 = 0 AND k % 10 <> 0)
      |  UNION ALL
      |  SELECT k + 100000000, 'N', cents FROM base WHERE k % 13 = 0)
      |SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM merged GROUP BY 1""".stripMargin

  // =====================================================================
  // w05 — SQL MERGE INTO vs relational recompute: the same mixed
  // update/delete/insert shape as w04, but as a LITERAL SQL statement
  // against the cataloged table (group-based copy-on-write rewrite:
  // CoW scan + runtime group narrowing + replaceBuckets commit). The
  // oracle is w04's relational rebuild — a hash match proves clause
  // routing, Spark's cardinality semantics, and the bucket-group
  // replace end to end. Reference: every `*_proc.sql` IS this
  // statement.
  // =====================================================================
  private def catalogInit(s: org.apache.spark.sql.SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.graft_w03",
      classOf[graft.connector.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_w03.root", w03Warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_w03.sales")
  }

  val w05: Q = (s, d) => {
    catalogInit(s)
    val t = "t" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    Tables.orders(s, d).createOrReplaceTempView("w05_orders_src")
    s.sql(
      s"""CREATE TABLE graft_w03.sales.$t USING graft
         |TBLPROPERTIES ('keys'='k', 'numBuckets'='8')
         |AS SELECT o_orderkey AS k, o_orderstatus AS status,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
         |FROM w05_orders_src""".stripMargin)
    s.sql(
      s"""MERGE INTO graft_w03.sales.$t t
         |USING (
         |  SELECT o_orderkey AS k, 'X' AS status,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents,
         |    'U' AS op
         |  FROM w05_orders_src WHERE o_orderkey % 10 = 0
         |  UNION ALL
         |  SELECT o_orderkey, NULL, CAST(0 AS BIGINT), 'D'
         |  FROM w05_orders_src WHERE o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 100000000, 'N',
         |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT), 'I'
         |  FROM w05_orders_src WHERE o_orderkey % 13 = 0
         |) s ON t.k = s.k
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET status = s.status
         |WHEN NOT MATCHED THEN INSERT (k, status, cents) VALUES (s.k, s.status, s.cents)
         |""".stripMargin)
    s.sql(
      s"""SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM graft_w03.sales.$t GROUP BY status""".stripMargin)
  }

  val w05Sql: String = w04Sql // identical relational recompute

  // =====================================================================
  // w06 — SQL DELETE + UPDATE round trip: DELETE with a translatable
  // predicate commits merge-on-read tombstones (no bucket rewrite),
  // UPDATE runs the group rewrite; the read back proves the in-scan
  // tombstone subtraction composes with the rewritten buckets. The
  // oracle rebuilds the final state with WHERE + CASE.
  // =====================================================================
  val w06: Q = (s, d) => {
    catalogInit(s)
    val t = "t" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    Tables.orders(s, d).createOrReplaceTempView("w06_orders_src")
    s.sql(
      s"""CREATE TABLE graft_w03.sales.$t USING graft
         |TBLPROPERTIES ('keys'='k', 'numBuckets'='8', 'statsCols'='k')
         |AS SELECT o_orderkey AS k, o_orderstatus AS status,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
         |FROM w06_orders_src""".stripMargin)
    s.sql(s"DELETE FROM graft_w03.sales.$t WHERE k % 5 = 0")
    s.sql(s"UPDATE graft_w03.sales.$t SET status = 'U' WHERE k % 3 = 0")
    s.sql(
      s"""SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM graft_w03.sales.$t GROUP BY status""".stripMargin)
  }

  val w06Sql: String =
    """WITH fin AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 3 = 0 THEN 'U' ELSE o_orderstatus END AS status,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 5 <> 0)
      |SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM fin GROUP BY 1""".stripMargin

  // =====================================================================
  // w07 — the SAME literal MERGE as w05, on a TBLPROPERTIES
  // dml.mode=delta table: the statement runs the SupportsDelta rewrite
  // (O(changed-rows) staging, runtime source-bucket filtering on the
  // target scan via DeltaDmlRuntimeFiltering) and must hash-match the
  // identical relational recompute — mode is an execution choice, never
  // a semantics choice. This puts the delta engine (and its runtime
  // filter) under the driver's DuckDB gate, not just ScalaTest.
  // =====================================================================
  val w07: Q = (s, d) => {
    catalogInit(s)
    val t = "t" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    Tables.orders(s, d).createOrReplaceTempView("w07_orders_src")
    s.sql(
      s"""CREATE TABLE graft_w03.sales.$t USING graft
         |TBLPROPERTIES ('keys'='k', 'numBuckets'='8', 'dml.mode'='delta')
         |AS SELECT o_orderkey AS k, o_orderstatus AS status,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
         |FROM w07_orders_src""".stripMargin)
    s.sql(
      s"""MERGE INTO graft_w03.sales.$t t
         |USING (
         |  SELECT o_orderkey AS k, 'X' AS status,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents,
         |    'U' AS op
         |  FROM w07_orders_src WHERE o_orderkey % 10 = 0
         |  UNION ALL
         |  SELECT o_orderkey, NULL, CAST(0 AS BIGINT), 'D'
         |  FROM w07_orders_src WHERE o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 100000000, 'N',
         |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT), 'I'
         |  FROM w07_orders_src WHERE o_orderkey % 13 = 0
         |) s ON t.k = s.k
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET status = s.status
         |WHEN NOT MATCHED THEN INSERT (k, status, cents) VALUES (s.k, s.status, s.cents)
         |""".stripMargin)
    s.sql(
      s"""SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM graft_w03.sales.$t GROUP BY status""".stripMargin)
  }

  val w07Sql: String = w04Sql // identical relational recompute

  // =====================================================================
  // w08 — GENERATED ALWAYS AS + column DEFAULT under the DuckDB gate:
  // the INSERT omits both columns; the engine materializes the default
  // and computes the generation expression inside the write projection
  // (Footers.writeVersionData), so the aggregate read back must
  // match a relational recompute of both contracts.
  // =====================================================================
  private lazy val w08Warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_w08cat")
    createdRoots.add(dir)
    dir.toString
  }

  val w08: Q = (s, d) => {
    s.conf.set("spark.sql.catalog.graft_w08",
      classOf[graft.connector.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_w08.root", w08Warehouse)
    val t = "t" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    Tables.orders(s, d).createOrReplaceTempView("w08_orders_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_w08.sales")
    s.sql(
      s"""CREATE TABLE graft_w08.sales.$t (
         |  o_orderkey BIGINT, cents BIGINT,
         |  src STRING DEFAULT 'web',
         |  band STRING GENERATED ALWAYS AS (
         |    CASE WHEN cents >= 20000000 THEN 'HIGH'
         |         WHEN cents >= 5000000 THEN 'MID' ELSE 'LOW' END))
         |USING graft TBLPROPERTIES ('keys'='o_orderkey', 'numBuckets'='8')""".stripMargin)
    s.sql(
      s"""INSERT INTO graft_w08.sales.$t (o_orderkey, cents)
         |SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
         |FROM w08_orders_src""".stripMargin)
    s.sql(
      s"""SELECT band, src, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM graft_w08.sales.$t GROUP BY band, src""".stripMargin)
  }

  val w08Sql: String =
    """WITH fin AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT CASE WHEN cents >= 20000000 THEN 'HIGH'
      |            WHEN cents >= 5000000 THEN 'MID' ELSE 'LOW' END AS band,
      |  'web' AS src, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM fin GROUP BY 1, 2""".stripMargin

  // =====================================================================
  // w09 — write-audit-publish under the DuckDB gate: fork a branch,
  // stage two commits on it (the second a read-modify-write of the
  // branch's own state), audit, publish as one fast-forward commit,
  // aggregate MAIN. The oracle recomputes the final state relationally
  // from raw orders — a hash match proves isolation, multi-commit
  // adoption, and the atomic publish end to end.
  // =====================================================================
  val w09: Q = (s, d) => {
    val root = freshRoot("w09")
    val src = Tables.orders(s, d).select(
      col("o_orderkey"),
      col("o_orderstatus").as("status"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"))
    src.write.format("graft").option("keys", "o_orderkey")
      .option("numBuckets", "8").save(root)
    graft.store.SnapshotStore.createBranch(s, root, "audit")
    // stage 1: flag every 10th order, on the branch only
    src.where(col("o_orderkey") % 10 === 0).withColumn("status", lit("X"))
      .write.format("graft").option("branch", "audit").mode("append").save(root)
    // stage 2: derived from the BRANCH's own staged state
    s.read.format("graft").option("branch", "audit").load(root)
      .where(col("o_orderkey") % 7 === 0)
      .withColumn("cents", col("cents") * 2)
      .write.format("graft").option("branch", "audit").mode("append").save(root)
    // the audit step: key-count invariant holds on the branch → publish
    val staged = s.read.format("graft").option("branch", "audit").load(root)
    require(staged.count() == src.count(), "audit failed: key drift on branch")
    graft.store.SnapshotStore.publishBranch(s, root, "audit")
    s.read.format("graft").load(root)
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(cents) AS BIGINT)").as("sum_cents"))
  }

  val w09Sql: String =
    """WITH fin AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS status,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
      |      * (CASE WHEN o_orderkey % 7 = 0 THEN 2 ELSE 1 END) AS cents
      |  FROM orders)
      |SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM fin GROUP BY 1""".stripMargin

  // =====================================================================
  // w10 — atomic REPLACE TABLE AS SELECT under the DuckDB gate: CTAS
  // an order-grain table, atomically REPLACE it with a customer-grain
  // rollup of ITSELF (different keys, different bucket count — one
  // zero-copy adoption commit through StagingTableCatalog), aggregate
  // the replaced table. The oracle recomputes the rollup-of-rollup
  // relationally from raw orders — a hash match proves the staged
  // write, the adoption commit, and the post-replace scan (new layout,
  // new keys) end to end.
  // =====================================================================
  val w10: Q = (s, d) => {
    catalogInit(s)
    val t = "t" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    Tables.orders(s, d).createOrReplaceTempView("w10_orders_src")
    s.sql(
      s"""CREATE TABLE graft_w03.sales.$t USING graft
         |TBLPROPERTIES ('keys'='o_orderkey', 'numBuckets'='8')
         |AS SELECT o_orderkey, o_custkey,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
         |FROM w10_orders_src""".stripMargin)
    s.sql(
      s"""REPLACE TABLE graft_w03.sales.$t USING graft
         |TBLPROPERTIES ('keys'='o_custkey', 'numBuckets'='4')
         |AS SELECT o_custkey, count(*) AS n_orders,
         |  CAST(sum(cents) AS BIGINT) AS cents
         |FROM graft_w03.sales.$t GROUP BY o_custkey""".stripMargin)
    s.sql(
      s"""SELECT o_custkey % 10 AS cohort, count(*) AS customers,
         |  CAST(sum(n_orders) AS BIGINT) AS orders,
         |  CAST(sum(cents) AS BIGINT) AS cents
         |FROM graft_w03.sales.$t GROUP BY o_custkey % 10""".stripMargin)
  }

  val w10Sql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |cust AS (
      |  SELECT o_custkey, count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS cents
      |  FROM base GROUP BY 1)
      |SELECT o_custkey % 10 AS cohort, count(*) AS customers,
      |  CAST(sum(n_orders) AS BIGINT) AS orders, CAST(sum(cents) AS BIGINT) AS cents
      |FROM cust GROUP BY 1""".stripMargin

  val all: Map[String, Q] = Map(
    "w01_table_roundtrip" -> w01,
    "w02_change_feed" -> w02,
    "w03_sql_dml" -> w03,
    "w04_merge" -> w04,
    "w05_sql_merge" -> w05,
    "w06_sql_delete_update" -> w06,
    "w07_sql_merge_delta" -> w07,
    "w08_sql_generated" -> w08,
    "w09_wap_publish" -> w09,
    "w10_sql_rtas" -> w10)

  val oracles: Map[String, String] = Map(
    "w01_table_roundtrip" -> w01Sql,
    "w02_change_feed" -> w02Sql,
    "w03_sql_dml" -> w03Sql,
    "w04_merge" -> w04Sql,
    "w05_sql_merge" -> w05Sql,
    "w06_sql_delete_update" -> w06Sql,
    "w07_sql_merge_delta" -> w07Sql,
    "w08_sql_generated" -> w08Sql,
    "w09_wap_publish" -> w09Sql,
    "w10_sql_rtas" -> w10Sql)
}
