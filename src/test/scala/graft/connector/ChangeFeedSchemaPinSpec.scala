package graft.connector

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** The sourceSchema→createSource pin's lifecycle (r15 "what's wrong"
  * #2): Spark calls the two V1 provider methods on DIFFERENT
  * instances, so the pin bridges them through a companion map keyed by
  * root. R16 findings and fixes, pinned here:
  *
  *  - pins are CONSUMED at createSource — an entry lives only for the
  *    load()→start() window; no JVM-lifetime growth;
  *  - the r15 claim that a cross-pin "stays a LOUD engine assertion"
  *    was measured FALSE for same-arity epochs (the engine checks
  *    attribute count only and substitutes positionally — a UTF8String
  *    read as LONG is garbage, not an exception), so the one gateway —
  *    a second load() of the same root while a different-shape pin is
  *    pending — is now REFUSED loudly at load time;
  *  - the start persists its schema into the query's checkpoint, so a
  *    RESTART (stale DataFrame, pin long consumed, even a fresh JVM)
  *    runs with the schema its relation was created with.
  */
class ChangeFeedSchemaPinSpec extends SparkSpec {

  private val warehouse = Files.createTempDirectory("graft-pinspec").toString
  locally {
    spark.conf.set("spark.sql.catalog.pns", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pns.root", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pns.ns")
  }

  test("pins are consumed at start: no JVM-lifetime growth across ephemeral roots") {
    val baseline = GraftChangeFeedSource.pinnedRootCount
    val roots = (1 to 3).map { i =>
      spark.sql(s"""CREATE TABLE pns.ns.g$i (k BIGINT, v BIGINT) USING graft
                    TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
      spark.sql(s"INSERT INTO pns.ns.g$i VALUES (1, $i)")
      s"$warehouse/ns/g$i"
    }
    // load() pins each root...
    val dfs = roots.map(r => spark.readStream.format("graft")
      .option("path", r).option("keys", "k").option("startingVersion", "-1")
      .load())
    assert(GraftChangeFeedSource.pinnedRootCount == baseline + 3,
      "each load() must pin its root")
    // ...and each start() CONSUMES its pin
    dfs.zip(roots).zipWithIndex.foreach { case ((df, r), i) =>
      val q = df.writeStream
        .option("checkpointLocation",
          Files.createTempDirectory(s"graft-pin-ck$i").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: Dataset[Row], _: Long) => { b.count(): Unit })
        .start()
      assert(q.awaitTermination(300000), s"drain of $r did not stop")
    }
    assert(GraftChangeFeedSource.pinnedRootCount == baseline,
      "pins must not outlive their load()→start() window")
  }

  test("two concurrent same-shape load()s each get their own consume (counted pins, r16 advice #1)") {
    // pre-fix, same-shape load()s collapsed into ONE pin entry: the
    // first start() consumed it and the second start() fell back to a
    // fresh resolution — a REPLACE in that second query's
    // load()→start() window re-opened the same-arity silent mis-bind.
    // Pins are now counted per root: one consume per load().
    val baseline = GraftChangeFeedSource.pinnedRootCount
    spark.sql("""CREATE TABLE pns.ns.cc (k BIGINT, v BIGINT) USING graft
                 TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
    spark.sql("INSERT INTO pns.ns.cc VALUES (1, 10)")
    val root = s"$warehouse/ns/cc"
    def load() = spark.readStream.format("graft")
      .option("path", root).option("keys", "k").option("startingVersion", "-1")
      .option("replaceBoundary", "refresh")
      .load()
    val df1 = load()
    val df2 = load() // same shape: must COUNT, not collapse
    assert(GraftChangeFeedSource.pinnedRootCount == baseline + 1,
      "same-shape pins share one root entry")
    def drain(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val q = df.writeStream
        .option("checkpointLocation",
          Files.createTempDirectory(s"graft-pin-$tag").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: Dataset[Row], _: Long) => { b.count(): Unit })
        .start()
      assert(q.awaitTermination(300000), s"$tag did not drain")
    }
    drain(df1, "cc1")
    assert(GraftChangeFeedSource.pinnedRootCount == baseline + 1,
      "the first start() consumed BOTH loads' pins — the second query " +
        "would fall back to a fresh resolution across any swap")
    // a same-arity REPLACE lands in df2's load()→start() window — the
    // exact hazard; df2's start must still run from ITS pin
    spark.sql("""REPLACE TABLE pns.ns.cc TBLPROPERTIES ('keys'='c')
                 AS SELECT 'r' AS c, CAST(1 AS BIGINT) AS n""")
    drain(df2, "cc2")
    assert(GraftChangeFeedSource.pinnedRootCount == baseline,
      "both consumes must retire the entry (no lifetime growth)")
  }

  test("a second load() colliding with a pending different-shape pin is refused LOUDLY at load") {
    val baseline = GraftChangeFeedSource.pinnedRootCount
    // the cross-pin hazard (r15 "what's wrong" #2): the engine's batch
    // assertion checks attribute COUNT only and rewrites positionally,
    // so a same-arity cross-epoch pin would deliver silently mis-bound
    // rows. The one gateway is a second load() of the same root while
    // an un-consumed pin of a different shape is pending — it must be
    // refused at load time, and both recoveries must work.
    spark.sql("""CREATE TABLE pns.ns.x (k BIGINT, v BIGINT) USING graft
                 TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
    spark.sql("INSERT INTO pns.ns.x VALUES (1, 10)")
    val root = s"$warehouse/ns/x"
    // Q1 loads (pins the k/v epoch's feed schema)...
    val df1 = spark.readStream.format("graft")
      .option("path", root).option("keys", "k").option("startingVersion", "-1")
      .option("replaceBoundary", "refresh")
      .load()
    // ...a REPLACE swaps the contract to a different (same-arity!) shape...
    spark.sql("""REPLACE TABLE pns.ns.x TBLPROPERTIES ('keys'='c')
                 AS SELECT 'r' AS c, CAST(1 AS BIGINT) AS n""")
    // ...and a second load() straddling the swap is the ambiguity —
    // refused loudly instead of queueing a silent mis-bind
    val e = intercept[java.util.ConcurrentModificationException] {
      spark.readStream.format("graft")
        .option("path", root).option("keys", "c").option("startingVersion", "-1")
        .option("replaceBoundary", "refresh")
        .load()
    }
    assert(e.getMessage.contains("straddled a contract swap"),
      s"wrong refusal: ${e.getMessage}")
    // recovery 1: Q1 starts normally — its pin matches its relation
    // (the seed-15 load→swap→start window the pin exists for)
    val q1 = df1.writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-pin-x1").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: Dataset[Row], _: Long) => { b.count(): Unit })
      .start()
    assert(q1.awaitTermination(300000), "Q1 (pin == relation) must drain")
    // recovery 2: re-creating the refused DataFrame pins the new epoch
    // and drains cleanly
    val df2 = spark.readStream.format("graft")
      .option("path", root).option("keys", "c").option("startingVersion", "-1")
      .option("replaceBoundary", "refresh")
      .load()
    val q2 = df2.writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-pin-x2").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: Dataset[Row], _: Long) => { b.count(): Unit })
      .start()
    assert(q2.awaitTermination(300000), "the re-created query must drain")
    assert(GraftChangeFeedSource.pinnedRootCount == baseline,
      "all of THIS dance's pins must be consumed at its end")
  }

  test("a restart — stale DataFrame, pin long consumed — recovers its schema from the checkpoint") {
    spark.sql("""CREATE TABLE pns.ns.r (k BIGINT, v BIGINT) USING graft
                 TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
    spark.sql("INSERT INTO pns.ns.r VALUES (1, 10)")
    val root = s"$warehouse/ns/r"
    val ck = Files.createTempDirectory("graft-pin-restart").toString
    val df = spark.readStream.format("graft")
      .option("path", root).option("keys", "k").option("startingVersion", "-1")
      .option("replaceBoundary", "refresh")
      .load()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    def run(): Unit = {
      val q = df.writeStream
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: Dataset[Row], _: Long) => {
          seen.add(b.columns.toSeq): Unit; b.collect(): Unit
        })
        .start()
      assert(q.awaitTermination(300000), "drain did not stop")
    }
    run() // first run consumes the pin and persists the schema
    // a REPLACE lands while the query is down; the restart must run
    // with the schema the query was CREATED with (from its checkpoint),
    // not a fresh resolution that would mis-bind against the stale
    // relation
    spark.sql("""REPLACE TABLE pns.ns.r TBLPROPERTIES ('keys'='c')
                 AS SELECT 'r' AS c, CAST(1 AS BIGINT) AS n""")
    spark.sql("INSERT INTO pns.ns.r VALUES ('s', 2)")
    run() // restart: no pin pending — checkpoint-persisted schema wins
    assert(seen.asScala.forall(_.take(2) == Seq("k", "v")),
      s"restart delivered a foreign shape: ${seen.asScala.toSeq}")
  }

  test("the start files are published whole and a start file deleted under its reader reads as absent") {
    // bcfs:// is the breadcrumb double: it records every write-open and
    // can delete a file at the moment it is opened
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.bcfs.impl", classOf[graft.store.BreadcrumbFS].getName)
    conf.set("fs.AbstractFileSystem.bcfs.impl", classOf[graft.store.BreadcrumbAfs].getName)
    spark.sql("""CREATE TABLE pns.ns.ck (k BIGINT, v BIGINT) USING graft
                 TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
    spark.sql("INSERT INTO pns.ns.ck VALUES (1, 10)")
    val root = s"$warehouse/ns/ck"
    val local = Files.createTempDirectory("graft-pin-files").toString + "/sources/0"
    val mp = "bcfs://" + local
    graft.store.BreadcrumbFS.reset()
    try {
      def start(): StructType = {
        GraftChangeFeedSource.verifyStartIdentity(spark, Some(mp), root)
        GraftChangeFeedSource.startSchema(spark, Some(mp), root, None)
      }
      val first = start() // persists both files
      assert(start() == first) // a restart reads both back
      val live = Seq("_graft_feed_schema", "_graft_feed_identity").map(n => s"$local/$n")
      val opened = graft.store.BreadcrumbFS.writeOpened.asScala.toSeq
      assert(opened.intersect(live).isEmpty,
        s"a live start file was opened for writing (a restart can read it empty): $opened")
      graft.store.BreadcrumbFS.vanishOnOpen = _.getName.startsWith("_graft_feed_")
      assert(start() == first)
    } finally graft.store.BreadcrumbFS.reset()
  }
}
