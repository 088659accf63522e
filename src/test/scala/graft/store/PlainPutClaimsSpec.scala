package graft.store

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** SURVEY §5 matrix row 2, closed: on a plain-PUT store (no
  * conditional writes) the NON-manifest exclusive-create sites —
  * identity-block claims, tag creates, checkpoint work-dedup claims —
  * are the same broken check-then-act primitive as the manifest
  * commit, and r14 guarded only the manifest. This spec proves the
  * widened [[ClaimArbiter]] routing: every site serializes through the
  * arbiter row, crashed claimers are superseded past the staleness
  * grace, and the per-site ZOMBIE FENCE turns a grace-defying
  * suspended claimer's late clobber into a loud INDETERMINATE instead
  * of silent corruption (overlapping identity ranges / a silently
  * re-pointed tag).
  */
class PlainPutClaimsSpec extends SparkSpec {
  import spark.implicits._

  locally {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.osim.impl", classOf[ObjectStoreSim].getName)
  }

  private def osimRoot(tag: String): String =
    "osim://" + Files.createTempDirectory(s"graft-ppc-$tag").toString

  /** Run `body` in the hardest store personality: plain PUT (no
    * conditional create) with the external arbiter plugged in.
    */
  private def withPlainPutArbiter[A](staleMs: Long = -1L)(body: => A): A =
    try {
      ObjectStoreSim.conditionalCreate = false
      SnapshotStore.manifestArbiter = Some(new InMemoryClaimArbiter(staleMs))
      body
    } finally {
      SnapshotStore.manifestArbiter = None
      SnapshotStore.claimWriteHook = (_, _) => ()
      ObjectStoreSim.reset()
    }

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def initTable(root: String): Unit =
    SnapshotStore.init(spark, root,
      (1L to 8L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
      Seq("k"), numBuckets = 2)

  // ------------------------------------------------------------------
  // tags
  // ------------------------------------------------------------------

  test("tag creates: N racers on plain-PUT + arbiter, exactly one winner") {
    withPlainPutArbiter() {
      val root = osimRoot("tagrace")
      initTable(root)
      val gate = new CountDownLatch(1)
      val futs = (0 until 4).map { i =>
        Future {
          gate.await()
          try { SnapshotStore.createTag(spark, root, "stable"); Right(i) }
          catch { case e: IllegalStateException => Left(e.getMessage) }
        }
      }
      gate.countDown()
      val results = Await.result(Future.sequence(futs), 120.seconds)
      val winners = results.collect { case Right(i) => i }
      assert(winners.size == 1,
        s"tags are immutable — exactly one racer may win: $results")
      results.collect { case Left(m) => m }.foreach(m =>
        assert(m.contains("already exists"), s"loser got wrong shape: $m"))
      assert(SnapshotStore.tagVersion(spark, root, "stable").contains(0L))
    }
  }

  test("branch-name recycle on plain-PUT: refused inside the grace (anti-zombie fence), succeeds past it") {
    // Pins the DOCUMENTED posture (cloneTable's CME + the hunts'
    // uniqueNames recipe): commit-class claim rows are deliberately
    // permanent — unlike the tag/ledger rows r18 releases, a dropped
    // branch's v0 row must keep fencing the path while a suspended
    // committer of the predecessor could still land a late PUT over
    // the successor's manifest. Inside the grace: documented CME with
    // the wait-or-fresh-path recipe; past it: the recycle works.
    // grace must comfortably exceed the clone+drop Spark latency (the
    // v0 row's age at the re-create is that whole interval), and the
    // ageing wait must exceed the grace
    withPlainPutArbiter(staleMs = 10000L) {
      val root = osimRoot("brrec")
      initTable(root)
      SnapshotStore.createBranch(spark, root, "wap"): Unit
      SnapshotStore.dropBranch(spark, root, "wap")
      val e = intercept[java.util.ConcurrentModificationException] {
        SnapshotStore.createBranch(spark, root, "wap")
      }
      assert(e.getMessage.contains("fenced"),
        s"wrong refusal shape: ${e.getMessage}")
      Thread.sleep(11000) // the predecessor's v0 row ages past the grace
      SnapshotStore.createBranch(spark, root, "wap"): Unit
      assert(SnapshotStore.versions(spark,
        SnapshotStore.branchRoot(root, "wap")).nonEmpty)
    }
  }

  test("dropTag releases the arbiter row: drop-then-recreate of a tag name works immediately") {
    // r18, the ledger-row lesson applied to tags: the permanent claim
    // row's only job is arbitrating creates of a LIVE name — left
    // behind after the drop deleted the file, it refused a
    // re-creation of the same tag name for the whole staleness grace
    // with the misleading "already exists" (pre-fix this intercepted
    // an IllegalStateException here).
    withPlainPutArbiter(staleMs = 600000L) { // grace far above test time
      val root = osimRoot("tagdrop")
      initTable(root)
      SnapshotStore.commitDelta(spark, root,
        Seq((1L, "x", 100L)).toDF("k", "v", "ts"), Seq("k"),
        SnapshotStore.upsertMerge(Seq("k")))
      assert(SnapshotStore.createTag(spark, root, "rel", Some(0L)) == 0L)
      SnapshotStore.dropTag(spark, root, "rel")
      // re-point the name at a different version, inside the grace
      assert(SnapshotStore.createTag(spark, root, "rel", Some(1L)) == 1L)
      assert(SnapshotStore.tagVersion(spark, root, "rel").contains(1L))
    }
  }

  test("tag ZOMBIE FENCE: a superseded creator's late clobber reports INDETERMINATE, never success") {
    withPlainPutArbiter(staleMs = 150L) {
      val root = osimRoot("tagzombie")
      initTable(root)
      SnapshotStore.commitDelta(spark, root,
        Seq((1L, "x", 100L)).toDF("k", "v", "ts"), Seq("k"),
        SnapshotStore.upsertMerge(Seq("k"))) // v1 exists → two taggable versions
      val suspended = new CountDownLatch(1)
      val resume = new CountDownLatch(1)
      val first = new java.util.concurrent.atomic.AtomicBoolean(true)
      SnapshotStore.claimWriteHook = (site, p) =>
        if (site == "tag" && p.toString.contains("tagzombie") &&
            first.getAndSet(false)) {
          suspended.countDown()
          resume.await(120, TimeUnit.SECONDS): Unit
        }
      // A claims the tag row for version 0, suspends before its PUT…
      val a = Future {
        try Right(SnapshotStore.createTag(spark, root, "rel", Some(0L)))
        catch { case e: Throwable => Left(e) }
      }
      assert(suspended.await(120, TimeUnit.SECONDS), "A never claimed the tag")
      Thread.sleep(200) // …ages past the arbiter staleness grace…
      // …B supersedes, tags version 1 and is ACKNOWLEDGED…
      assert(SnapshotStore.createTag(spark, root, "rel", Some(1L)) == 1L)
      assert(SnapshotStore.tagVersion(spark, root, "rel").contains(1L))
      // …A's late PUT clobbers B's tag — A must fail loudly
      resume.countDown()
      Await.result(a, 120.seconds) match {
        case Left(e) =>
          val m = Option(e.getMessage).getOrElse("")
          assert(m.contains("INDETERMINATE") && m.contains("superseded"),
            s"zombie tag creator must surface the repair signal, got: $m")
        case Right(v) => fail(
          s"zombie tag creator reported SUCCESS for version $v — " +
            "B's acknowledged tag was silently re-pointed")
      }
    }
  }

  // ------------------------------------------------------------------
  // identity blocks
  // ------------------------------------------------------------------

  test("identity blocks: racing allocators on plain-PUT + arbiter never mint overlapping ranges") {
    withPlainPutArbiter() {
      val warehouse = osimRoot("idrace")
      spark.conf.set("spark.sql.catalog.ppid",
        classOf[graft.connector.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.ppid.root", warehouse)
      try {
        spark.sql("CREATE NAMESPACE IF NOT EXISTS ppid.ns")
        spark.sql("""CREATE TABLE ppid.ns.t (
                       sk BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 3),
                       k BIGINT)
                     USING graft TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
        val gate = new CountDownLatch(1)
        val futs = (0 until 4).map { t =>
          Future {
            gate.await()
            (0 until 3).foreach { op =>
              val lo = t * 100 + op * 10
              // OCC attempt budgets are per-call; under 4-way plainput
              // contention (no rebase fast path) a call can exhaust its
              // laps — re-issuing is the documented client recipe and
              // must never re-mint a duplicate id
              var landed = false
              var tries = 0
              while (!landed) {
                tries += 1
                try {
                  spark.sql(s"INSERT INTO ppid.ns.t (k) " +
                    s"SELECT id FROM range($lo, ${lo + 5})")
                  landed = true
                } catch {
                  case e: Throwable if tries < 6 &&
                      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
                        .take(6).exists(x => Option(x.getMessage)
                          .exists(_.contains("commit races"))) => ()
                }
              }
            }
          }
        }
        gate.countDown()
        Await.result(Future.sequence(futs), 300.seconds)
        val sks = spark.table("ppid.ns.t").select("sk").as[Long].collect()
        assert(sks.length == 60, s"expected 60 rows, got ${sks.length}")
        assert(sks.toSet.size == 60,
          s"identity ids must be unique under racing allocators on a " +
            s"plain-PUT store: ${sks.length - sks.toSet.size} duplicates")
        assert(sks.forall(sk => sk >= 10 && (sk - 10) % 3 == 0),
          "ids must stay on the start/step lattice")
      } finally {
        spark.conf.unset("spark.sql.catalog.ppid")
        spark.conf.unset("spark.sql.catalog.ppid.root")
      }
    }
  }

  test("identity ZOMBIE FENCE: a superseded allocator with a DIFFERENT count fails loudly, never silently shrinks the frontier") {
    withPlainPutArbiter(staleMs = 150L) {
      val root = osimRoot("idzombie")
      val fs = fsOf(root)
      initTable(root)
      val suspended = new CountDownLatch(1)
      val resume = new CountDownLatch(1)
      val first = new java.util.concurrent.atomic.AtomicBoolean(true)
      SnapshotStore.claimWriteHook = (site, p) =>
        if (site == "identity" && p.toString.contains("idzombie") &&
            first.getAndSet(false)) {
          suspended.countDown()
          resume.await(120, TimeUnit.SECONDS): Unit
        }
      // A reserves a SMALL block (count=2), suspends pre-PUT…
      val a = Future {
        try Right(Identity.reserveIdentity(spark, root, "sk", 2L))
        catch { case e: Throwable => Left(e) }
      }
      assert(suspended.await(120, TimeUnit.SECONDS), "A never claimed a block")
      Thread.sleep(200) // …past the staleness grace…
      // …B supersedes the same (seq, first) with a LARGER count and
      // mints per it — B's ids are acknowledged downstream
      val bFirst = Identity.reserveIdentity(spark, root, "sk", 5L)
      // …A's late PUT clobbers B's payload with count=2: if A reported
      // a clean win OR a clean loss, the next frontier read would sit
      // INSIDE B's minted range. The fence must fail A loudly.
      resume.countDown()
      Await.result(a, 120.seconds) match {
        case Left(e) =>
          val m = Option(e.getMessage).getOrElse("")
          assert(m.contains("INDETERMINATE") && m.contains("superseded"),
            s"zombie allocator must surface the repair signal, got: $m")
        case Right(f) => fail(
          s"zombie allocator reported a reserved block at $f — " +
            "overlapping identity ranges are now possible")
      }
      assert(bFirst >= 1L)
      assert(fs.exists(new Path(root, "_identity/sk")))
    }
  }

  test("a crashed identity claimer's arbiter row is superseded past its staleness grace") {
    withPlainPutArbiter(staleMs = 150L) {
      val root = osimRoot("idstale")
      val fs = fsOf(root)
      initTable(root)
      // first block lands normally: seq 0, first 1
      assert(Identity.reserveIdentity(spark, root, "sk", 4L) == 1L)
      // a dead claimer holds the NEXT block's row and wrote nothing
      // (plain-PUT crash pre-close leaves no object, only the row)
      val next = new Path(root, "_identity/sk/" + f"block-${1L}%020d" + "_5")
      val arb = SnapshotStore.manifestArbiter.get
      assert(arb.claim(fs.makeQualified(next).toString, "dead-claimer"))
      Thread.sleep(200) // age the row past staleMs
      val f2 = Identity.reserveIdentity(spark, root, "sk", 3L)
      assert(f2 == 5L,
        s"the stale row must be superseded and the chain continue at 5, got $f2")
    }
  }

  // ------------------------------------------------------------------
  // checkpoint work-dedup claims
  // ------------------------------------------------------------------

  test("checkpoints claim through the arbiter on plain-PUT and publish self-validating") {
    withPlainPutArbiter() {
      val root = osimRoot("cpclaim")
      val fs = fsOf(root)
      initTable(root)
      SnapshotStore.commitDelta(spark, root,
        Seq((1L, "x", 100L)).toDF("k", "v", "ts"), Seq("k"),
        SnapshotStore.upsertMerge(Seq("k")))
      // two concurrent checkpoint requests for the same version: the
      // arbiter dedups the work; both return, the dir validates
      val gate = new CountDownLatch(1)
      val futs = (0 until 2).map { _ =>
        Future { gate.await(); SnapshotStore.checkpoint(spark, root) }
      }
      gate.countDown()
      val vs = Await.result(Future.sequence(futs), 120.seconds)
      assert(vs.forall(_ == 1L))
      val cp = new Path(root, "_commits/" + f"cp-${1L}%020d")
      val marker = new Path(cp, "_SUCCESS")
      assert(fs.exists(marker))
      // object-store publish stamps the exact file set it vouches for;
      // the listing must agree (no mixed-generation dir)
      val in = fs.open(marker)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val vouched = body.linesIterator.filter(_.nonEmpty).toSet
      val listed = fs.listStatus(cp).filter(_.isFile)
        .map(_.getPath.getName).filterNot(_ == "_SUCCESS").toSet
      assert(vouched.nonEmpty && vouched == listed,
        s"marker/listing disagree: vouched=$vouched listed=$listed")
      assert(fs.listStatus(cp).forall(_.isFile),
        "checkpoint dir must contain no stray subdirectories")
    }
  }
  // ------------------------------------------------------------------
  // table instance id (r16 advice #4)
  // ------------------------------------------------------------------

  test("tableInstanceId never fabricates: an indeterminate id fails loudly, then converges on the winner") {
    // pre-fix, a create that LOST while the winner's write was still
    // in flight returned this caller's locally-minted token — an id
    // that might never land on disk. A stream checkpoint persisting it
    // would later mismatch the winner's durable id and falsely refuse
    // a legitimate resume as "dropped and re-created".
    withPlainPutArbiter() {
      // a BARE root (no init — init's r17 eager mint would already own
      // the claim row): the id is still unminted, exactly the lazy
      // first-use window the fabrication bug lived in
      val root = osimRoot("tid")
      val fs = fsOf(root)
      val p = new Path(root, "_table_id")
      // a rival holds the claim but has not completed its write yet
      val key = fs.makeQualified(p).toString
      assert(SnapshotStore.manifestArbiter.get.claim(key, "rival-tok"))
      val e = intercept[IllegalStateException] {
        SnapshotStore.tableInstanceId(spark, root)
      }
      assert(e.getMessage.contains("indeterminate"),
        s"wrong failure: ${e.getMessage}")
      // the winner's id lands — every later caller converges on it
      val out = fs.create(p, true)
      out.write("winner-id".getBytes("UTF-8")); out.close()
      assert(SnapshotStore.tableInstanceId(spark, root) == "winner-id")
    }
  }
}
