package graft.connector

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode

import graft.SparkSpec
import graft.store.{Breadcrumbs, SnapshotStore}

/** The branch-lifecycle race pair found by BranchChaosBlast (seed
  * 4001, POSIX) on its first high-intensity sweep — pinned here:
  *
  *  1. publishBranch's post-commit cleanup was INSTANCE-BLIND: a
  *     successor branch re-created under the same name between the
  *     publish's commit and its dropBranch was deleted outright, and
  *     the retention consumer the two instances share by path was
  *     released — main's vacuum then reclaimed directories the live
  *     successor still referenced (observed as a raw FNF out of a
  *     branch compact). Now every branch carries an instance token
  *     (`_branch_base` line 2) and the publish's cleanup no-ops when a
  *     successor owns the name.
  *  2. recoverPublish would roll back a LIVE rival publisher's
  *     adoption renames (its `_publishing` marker had no age gate, and
  *     the marker was not an exclusive create) — the rival's committed
  *     manifest then referenced directories that had just been moved
  *     away. Now the marker is the publish MUTEX (exclusive create,
  *     arbiter-routed on plain-PUT) and the rollback path refuses a
  *     marker younger than the reclaim grace with the documented
  *     in-flight conflict.
  */
class BranchLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String): String = {
    val root = Files.createTempDirectory(tag).toString + "/t"
    SnapshotStore.init(spark, root,
      (1L to 12L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    root
  }
  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("an instance-scoped drop no-ops when a successor branch owns the name") {
    val root = freshTable("graft-brinst")
    val fs = fsOf(root)
    val br = SnapshotStore.branchRoot(root, "s")
    // generation 1: fork, capture its instance token, consume it
    SnapshotStore.createBranch(spark, root, "s"): Unit
    val tokA = Breadcrumbs.branchInstance(fs, br)
    assert(tokA.nonEmpty, "createBranch must mint an instance token")
    SnapshotStore.dropBranch(spark, root, "s") // = a publish consuming gen 1
    // generation 2: the successor, re-created under the same name
    SnapshotStore.createBranch(spark, root, "s"): Unit
    val tokB = Breadcrumbs.branchInstance(fs, br)
    assert(tokB.nonEmpty && tokB != tokA, "successor must mint a NEW token")
    Seq((99L, "succ")).toDF("k", "v")
      .write.format("graft").option("branch", "s").mode(SaveMode.Append).save(root)
    // the STRAGGLER: generation 1's publisher finally runs its cleanup.
    // Pre-fix this deleted the successor and released its retention
    // consumer; now it must be a complete no-op.
    SnapshotStore.dropBranch(spark, root, "s", expectInstance = tokA)
    assert(SnapshotStore.versions(spark, br).nonEmpty,
      "the straggler's instance-scoped drop deleted the successor branch")
    assert(SnapshotStore.read(spark, br).where("k = 99").count() == 1L)
    // the successor's retention pin also survived: main's vacuum must
    // still retain the successor's fork base
    SnapshotStore.commitDelta(spark, root, Seq((1L, "x")).toDF("k", "v"),
      Seq("k"), SnapshotStore.upsertMerge(Seq("k")))
    SnapshotStore.vacuum(spark, root, keepLast = 1, minAgeMs = 0L): Unit
    assert(SnapshotStore.read(spark, br).count() == 13L,
      "main's vacuum reclaimed dirs the live successor references — " +
        "its consumer row was released by the straggler")
    // a matching token still drops (the normal publish cleanup)
    SnapshotStore.dropBranch(spark, root, "s", expectInstance = tokB)
    assert(SnapshotStore.listBranches(spark, root).isEmpty)
  }

  test("a LIVE publisher's young _publishing marker refuses rollback; an aged one resolves") {
    val root = freshTable("graft-brlive")
    val fs = fsOf(root)
    SnapshotStore.createBranch(spark, root, "p"): Unit
    Seq((500L, "staged")).toDF("k", "v")
      .write.format("graft").option("branch", "p").mode(SaveMode.Append).save(root)
    val br = SnapshotStore.branchRoot(root, "p")
    // manufacture a mid-flight publish: marker written, one dir
    // adopted, commit not yet landed — the live publisher is "between
    // its renames and its commit"
    val staged = fs.listStatus(new Path(br)).map(_.getPath.getName)
      .filter(_.startsWith("v=1-")).head
    val target = s"v=1-pub-p-${staged.stripPrefix("v=")}"
    val out = fs.create(new Path(br, "_publishing"), true)
    out.write(s"pub:1\n$staged\t$target\n".getBytes("UTF-8")); out.close()
    assert(fs.rename(new Path(br, staged), new Path(root, target)))
    // a rival publish AND a dropBranch must both refuse to roll the
    // live marker back — rolling back would corrupt the in-flight
    // publisher's about-to-land commit
    val e1 = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.publishBranch(spark, root, "p")
    }
    assert(e1.getMessage.contains("IN FLIGHT"), s"wrong refusal: ${e1.getMessage}")
    val e2 = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.dropBranch(spark, root, "p")
    }
    assert(e2.getMessage.contains("IN FLIGHT"))
    assert(fs.exists(new Path(root, target)),
      "a refused recovery must not touch the live publisher's adopted dirs")
    // the publisher crashes for real: past the grace the marker
    // resolves — rollback restores the branch whole, then the publish
    // refuses the stale fast-forward (main advanced meanwhile? no —
    // same base, so it actually LANDS here)
    val old = System.currentTimeMillis() - 700000L
    fs.setTimes(new Path(br, "_publishing"), old, old)
    val pub = SnapshotStore.publishBranch(spark, root, "p")
    assert(pub == 1L)
    assert(SnapshotStore.read(spark, root).where("k = 500").count() == 1L)
  }

  test("publish refuses a branch whose REPLACE contract swap is mid-flight (never a frankenstate on main)") {
    // found by BranchChaosBlast 8×18 (seed 4002): a branch REPLACE
    // commits its manifest FIRST and swaps `_schema`/`_props` after; a
    // publish in that window read the branch's pre-swap breadcrumbs
    // (still equal to main's), passed the contract check, and
    // fast-forwarded the post-REPLACE data onto main — main's head then
    // carried foreign-epoch columns under the old declared schema, and
    // every resolution from then on was a 4-column union. Publish now
    // serializes behind the branch's in-flight swap
    // (awaitContractQuiescence on the branch root) before comparing.
    val warehouse = Files.createTempDirectory("graft-brswap-wh").toString
    spark.conf.set("spark.sql.catalog.blw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.blw.root", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS blw.ns")
    spark.sql("""CREATE TABLE blw.ns.t (k BIGINT, v BIGINT) USING graft
                 TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
    spark.sql("INSERT INTO blw.ns.t SELECT id, id FROM range(0, 8)")
    val root = s"$warehouse/ns/t"
    SnapshotStore.createBranch(spark, root, "f"): Unit
    val br = SnapshotStore.branchRoot(root, "f")
    spark.conf.set("spark.sql.catalog.blwb", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.blwb.root", root)
    // pause the branch REPLACE in its commit→swap window; shrink the
    // waiter grace so the publish self-heals the "crashed" swap fast
    val gateIn = new java.util.concurrent.CountDownLatch(1)
    val gateOut = new java.util.concurrent.CountDownLatch(1)
    SnapshotStore.replaceSwapHook = (r, _) =>
      if (r == br) {
        gateIn.countDown()
        gateOut.await(30, java.util.concurrent.TimeUnit.SECONDS): Unit
      }
    System.setProperty("graft.snapshot.contractSwapGraceMs", "400")
    try {
      import scala.concurrent.ExecutionContext.Implicits.global
      val rep = scala.concurrent.Future(spark.sql(
        """REPLACE TABLE blwb.`_branch`.f TBLPROPERTIES ('keys'='c')
           AS SELECT 'r' AS c, CAST(1 AS BIGINT) AS n"""))
      gateIn.await()
      // the branch head now carries the c/n manifest; its breadcrumbs
      // are still k/v — pre-fix the publish landed HERE
      val e = intercept[java.util.ConcurrentModificationException] {
        SnapshotStore.publishBranch(spark, root, "f")
      }
      assert(e.getMessage.contains("contracts") ||
        e.getMessage.contains("IN FLIGHT"), s"wrong refusal: ${e.getMessage}")
      gateOut.countDown()
      Await.result(rep, 120.seconds): Unit
    } finally {
      SnapshotStore.replaceSwapHook = (_, _) => ()
      System.clearProperty("graft.snapshot.contractSwapGraceMs")
      gateOut.countDown()
    }
    // main is UNTOUCHED: k/v contracts, k/v head, original rows
    assert(spark.table("blw.ns.t").columns.toSeq == Seq("k", "v"),
      s"frankenstate on main: ${spark.table("blw.ns.t").columns.toSeq}")
    assert(spark.table("blw.ns.t").count() == 8L)
  }

  test("a rival publish bounces off an in-flight marker instead of interleaving (exclusive create)") {
    val root = freshTable("graft-brmutex")
    SnapshotStore.createBranch(spark, root, "m"): Unit
    Seq((600L, "w")).toDF("k", "v")
      .write.format("graft").option("branch", "m").mode(SaveMode.Append).save(root)
    val fs = fsOf(root)
    val br = SnapshotStore.branchRoot(root, "m")
    // a rival's marker lands first (content headerless = the window
    // between its exclusive create and its content write)
    fs.create(new Path(br, "_publishing"), false).close()
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.publishBranch(spark, root, "m")
    }
    assert(e.getMessage.contains("IN FLIGHT") || e.getMessage.contains("in flight"),
      s"wrong refusal: ${e.getMessage}")
    // rival resolves (crash → aged): publish proceeds
    val old = System.currentTimeMillis() - 700000L
    fs.setTimes(new Path(br, "_publishing"), old, old)
    assert(SnapshotStore.publishBranch(spark, root, "m") == 1L)
  }
}
