package graft.store

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Scd1

/** The object-store (S3A-class) commit-semantics audit (r13 verdict
  * item #1): every arbitration and publish protocol in the store runs
  * here against [[ObjectStoreSim]] — PUT-visible-on-close, close-time
  * conditional create, copy+delete rename, optional legacy listing lag
  * — instead of the POSIX filesystem the other suites use.
  *
  * The companion findings matrix lives in SURVEY §5: which invariants
  * hold on a conditional-PUT store (all of the arbitration sites),
  * which DEGRADE gracefully (rebase → recompute; archives under lag),
  * and which a plain-PUT store (no If-None-Match) fundamentally cannot
  * support (manifest arbitration — reproduced as a silent lost commit
  * below, on demand).
  */
class ObjectStoreSemanticsSpec extends SparkSpec {
  import spark.implicits._

  locally {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.osim.impl", classOf[ObjectStoreSim].getName)
  }

  /** A fresh osim:// table root (the local dir exists; the sim maps
    * osim paths straight onto it).
    */
  private def osimRoot(tag: String): String =
    "osim://" + Files.createTempDirectory(s"graft-osim-$tag").toString

  private val merge = (cur: org.apache.spark.sql.DataFrame,
                       delta: org.apache.spark.sql.DataFrame) =>
    Scd1.merge(cur, delta, Seq("k"), Seq(col("ts").desc))

  private def rows(root: String): Set[(Long, String, Long)] =
    SnapshotStore.read(spark, root).select("k", "v", "ts")
      .as[(Long, String, Long)].collect().toSet

  private def withSim[A](body: => A): A =
    try body finally ObjectStoreSim.reset()

  test("table lifecycle round-trips on a conditional-PUT object store") {
    withSim {
      val root = osimRoot("basic")
      SnapshotStore.init(spark, root,
        (1L to 40L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
        Seq("k"), numBuckets = 4, statsCols = Seq("ts"))
      SnapshotStore.commitDelta(spark, root,
        Seq((1L, "x", 100L)).toDF("k", "v", "ts"), Seq("k"), merge)
      SnapshotStore.commitDeletes(spark, root, Seq(2L).toDF("k"), Seq("k"))
      val expect = (1L to 40L).collect {
        case 1L => (1L, "x", 100L)
        case k if k != 2L => (k, s"v$k", k)
      }.toSet
      assert(rows(root) == expect)
      // time travel + range pruning work over osim manifests
      assert(SnapshotStore.readVersion(spark, root, 0L).count() == 40L)
      assert(rows(root).size == 39)
    }
  }

  test("the OCC commit fleet converges exactly on a conditional-PUT object store") {
    withSim {
      val root = osimRoot("fleet")
      SnapshotStore.init(spark, root,
        Seq((1000L, "seed", 0L)).toDF("k", "v", "ts"), Seq("k"), numBuckets = 2)
      val nWriters = 4
      val opsPer = 2
      val gate = new CountDownLatch(1)
      val futs = (0 until nWriters).map { i =>
        Future {
          gate.await()
          (1 to opsPer).map { op =>
            SnapshotStore.commitDelta(spark, root,
              Seq((i.toLong, s"w$i-op$op", op.toLong)).toDF("k", "v", "ts"),
              Seq("k"), SnapshotStore.upsertMerge(Seq("k")),
              maxAttempts = 8 * nWriters)
          }
        }
      }
      gate.countDown()
      val versions = Await.result(Future.sequence(futs), 300.seconds).flatten
      assert(versions.size == nWriters * opsPer &&
        versions.toSet.size == versions.size,
        s"every commit must be granted a DISTINCT version: $versions")
      assert(SnapshotStore.latestVersion(spark, root)
        .contains((nWriters * opsPer).toLong))
      val end = rows(root)
      (0 until nWriters).foreach { i =>
        assert(end((i.toLong, s"w$i-op$opsPer", opsPer.toLong)),
          s"writer $i's final upsert must survive")
      }
      assert(end((1000L, "seed", 0L)) && end.size == nWriters + 1)
    }
  }

  test("DOCUMENTED DANGER: without conditional writes, plain PUT arbitration silently loses a committed manifest") {
    // This is the r13 local-FS TOCTOU find transplanted to its real
    // home: on an object store with NO If-None-Match support,
    // create(overwrite=false) can only be an existence CHECK followed
    // by an unconditional last-writer-wins PUT. Two committers of the
    // same version can both pass the check; the later PUT replaces the
    // earlier writer's ALREADY-ACKNOWLEDGED manifest, and its
    // post-write terminator readback sees its own token — both report
    // success, one committed write is silently gone. Conclusion for
    // SURVEY §5: the commit log REQUIRES conditional writes (S3
    // If-None-Match / GCS preconditions / ABFS leases) or an external
    // arbiter; there is no protocol fix above a clobbering PUT.
    withSim {
      ObjectStoreSim.conditionalCreate = false
      val root = osimRoot("plainput")
      SnapshotStore.init(spark, root,
        (1L to 8L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
        Seq("k"), numBuckets = 2)
      val manifest1 = f"${1L}%020d"
      val paused = new CountDownLatch(1)
      val resume = new CountDownLatch(1)
      val first = new java.util.concurrent.atomic.AtomicBoolean(true)
      ObjectStoreSim.betweenCheckAndAct = p =>
        if (p.getName == manifest1 && first.getAndSet(false)) {
          paused.countDown()
          resume.await(60, TimeUnit.SECONDS): Unit
        }
      // writer B passes the existence check for v1, then stalls pre-PUT
      val b = Future {
        SnapshotStore.commitDelta(spark, root,
          Seq((1L, "fromB", 200L)).toDF("k", "v", "ts"), Seq("k"), merge)
      }
      assert(paused.await(120, TimeUnit.SECONDS), "writer B never reached the window")
      // writer A commits v1 end-to-end and its write is readable
      val aV = SnapshotStore.commitDelta(spark, root,
        Seq((2L, "fromA", 300L)).toDF("k", "v", "ts"), Seq("k"), merge)
      assert(aV == 1L)
      assert(rows(root).contains((2L, "fromA", 300L)))
      // B's unconditional PUT now replaces A's manifest
      resume.countDown()
      val bV = Await.result(b, 120.seconds)
      assert(bV == 1L, "the clobberer is ALSO granted version 1 — the double-win")
      val end = rows(root)
      assert(end.contains((1L, "fromB", 200L)))
      assert(!end.exists(_._2 == "fromA"),
        "A's acknowledged commit should now be silently gone — that IS the finding")
    }
  }

  test("an external claim arbiter restores exactly-one-winner on a PLAIN-PUT store") {
    // the documented remedy for matrix row 1: on a store with no
    // conditional writes, a DynamoDB-style mutex table serializes the
    // manifest create. Re-run the double-win interleave AND the OCC
    // fleet with the arbiter plugged in — the lost commit is gone.
    withSim {
      ObjectStoreSim.conditionalCreate = false
      SnapshotStore.manifestArbiter = Some(new InMemoryClaimArbiter())
      try {
        val root = osimRoot("arb")
        SnapshotStore.init(spark, root,
          (1L to 8L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
          Seq("k"), numBuckets = 2)
        val nWriters = 4
        val gate = new CountDownLatch(1)
        val futs = (0 until nWriters).map { i =>
          Future {
            gate.await()
            (1 to 2).map { op =>
              SnapshotStore.commitDelta(spark, root,
                Seq((100L + i, s"w$i-op$op", op.toLong)).toDF("k", "v", "ts"),
                Seq("k"), SnapshotStore.upsertMerge(Seq("k")),
                maxAttempts = 8 * nWriters)
            }
          }
        }
        gate.countDown()
        val versions = Await.result(Future.sequence(futs), 300.seconds).flatten
        assert(versions.toSet.size == versions.size && versions.size == 8,
          s"every commit must be granted a DISTINCT version: $versions")
        assert(SnapshotStore.latestVersion(spark, root).contains(8L))
        val end = rows(root)
        (0 until nWriters).foreach { i =>
          assert(end((100L + i, s"w$i-op2", 2L)), s"writer $i's write lost")
        }
        assert(end.size == 8 + nWriters)
      } finally SnapshotStore.manifestArbiter = None
    }
  }

  test("ZOMBIE FENCE: a superseded claimer that completes its late upload reports INDETERMINATE, never a second success") {
    // the one schedule plain PUT cannot kill at the store: claimer A
    // wins the row, suspends mid-upload past the staleness grace,
    // superseder B lands + ACKNOWLEDGES version v; A's unconditional
    // PUT then completes, clobbering B's manifest — and A's readback
    // sees A's own token. Without the post-readback owner fence BOTH
    // report success for v and B's acknowledged commit is silently
    // replaced. With it, A throws INDETERMINATE (loud repair signal).
    withSim {
      ObjectStoreSim.conditionalCreate = false
      SnapshotStore.manifestArbiter = Some(new InMemoryClaimArbiter(staleMs = 150L))
      val root = osimRoot("zombie")
      SnapshotStore.init(spark, root,
        (1L to 8L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
        Seq("k"), numBuckets = 2)
      val suspended = new CountDownLatch(1) // A is inside its upload window
      val resume = new CountDownLatch(1)
      val first = new java.util.concurrent.atomic.AtomicBoolean(true)
      SnapshotStore.manifestWriteHook = (r, v) =>
        if (r == root && v == 1L && first.getAndSet(false)) {
          suspended.countDown()
          resume.await(120, TimeUnit.SECONDS): Unit
        }
      try {
        val a = Future {
          try Right(SnapshotStore.commitDelta(spark, root,
            Seq((1L, "fromA", 100L)).toDF("k", "v", "ts"), Seq("k"), merge))
          catch { case e: Throwable => Left(e) }
        }
        assert(suspended.await(120, TimeUnit.SECONDS), "A never claimed v1")
        Thread.sleep(200) // age A's row past staleMs
        // B supersedes, commits v1 end-to-end and is ACKNOWLEDGED
        val bV = SnapshotStore.commitDelta(spark, root,
          Seq((2L, "fromB", 200L)).toDF("k", "v", "ts"), Seq("k"), merge)
        assert(bV == 1L)
        assert(rows(root).contains((2L, "fromB", 200L)))
        // A wakes and finishes its upload — the clobber happens, but A
        // must NOT report success (nor a clean loss)
        resume.countDown()
        val aRes = Await.result(a, 120.seconds)
        aRes match {
          case Left(e) =>
            val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
              .take(5).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
            assert(chain.contains("INDETERMINATE") && chain.contains("superseded"),
              s"zombie must surface the INDETERMINATE repair signal, got: $chain")
          case Right(v) => fail(
            s"zombie reported SUCCESS for version $v — double-acknowledged commit")
        }
      } finally {
        SnapshotStore.manifestWriteHook = (_, _) => ()
        SnapshotStore.manifestArbiter = None
      }
    }
  }

  test("a crashed claimer's arbiter row is superseded past its staleness grace") {
    withSim {
      ObjectStoreSim.conditionalCreate = false
      val arb = new InMemoryClaimArbiter(staleMs = 150L)
      SnapshotStore.manifestArbiter = Some(arb)
      try {
        val root = osimRoot("arbstale")
        SnapshotStore.init(spark, root,
          Seq((1L, "a", 1L)).toDF("k", "v", "ts"), Seq("k"), numBuckets = 2)
        // a dead claimer holds v1's row and wrote NOTHING (crash before
        // its PUT completed — the key is absent, only the claim lives)
        val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val p = fs.makeQualified(new Path(root, "_commits/" + f"${1L}%020d")).toString
        assert(arb.claim(p, "dead-claimer-token"))
        Thread.sleep(200) // age the row past staleMs
        val v = SnapshotStore.commitDelta(spark, root,
          Seq((2L, "b", 2L)).toDF("k", "v", "ts"), Seq("k"), merge,
          maxAttempts = 8)
        assert(v == 1L, s"stale claim must be superseded, got version $v")
        assert(rows(root)((2L, "b", 2L)))
      } finally SnapshotStore.manifestArbiter = None
    }
  }

  test("conditional PUT turns the same interleave into a clean loss at close()") {
    withSim {
      val root = osimRoot("condput")
      SnapshotStore.init(spark, root,
        (1L to 8L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
        Seq("k"), numBuckets = 2)
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val p = new Path(root, "_commits/" + f"${1L}%020d")
      // B opens its upload while the key is still absent…
      val bOut = Claims.createExclusive(fs, p)
      assert(bOut.isDefined, "no object at the key yet — the upload may open")
      bOut.get.write("not-a-manifest\n".getBytes("UTF-8"))
      // …A lands the real v1 commit in the meantime…
      val aV = SnapshotStore.commitDelta(spark, root,
        Seq((2L, "fromA", 300L)).toDF("k", "v", "ts"), Seq("k"), merge)
      assert(aV == 1L)
      // …and the store rejects B's completion: the acknowledged
      // manifest is untouchable
      intercept[java.io.IOException](bOut.get.close())
      assert(rows(root).contains((2L, "fromA", 300L)))
      assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L))
      assert(SnapshotStore.readManifest(spark, root, 1L).version == 1L)
    }
  }

  test("tag creation: N racing creators, exactly one winner, losers get the immutable-tag error") {
    withSim {
      val root = osimRoot("tags")
      SnapshotStore.init(spark, root,
        Seq((1L, "a", 1L)).toDF("k", "v", "ts"), Seq("k"), numBuckets = 2)
      SnapshotStore.commitDelta(spark, root,
        Seq((1L, "b", 2L)).toDF("k", "v", "ts"), Seq("k"), merge)
      val gate = new CountDownLatch(1)
      val futs = (0 until 6).map { i =>
        Future {
          gate.await()
          try Right(SnapshotStore.createTag(spark, root, "stable",
            Some(if (i % 2 == 0) 0L else 1L)))
          catch { case e: IllegalStateException => Left(e.getMessage) }
        }
      }
      gate.countDown()
      val outcomes = Await.result(Future.sequence(futs), 120.seconds)
      val wins = outcomes.collect { case Right(v) => v }
      assert(wins.size == 1, s"exactly one creator may win: $outcomes")
      assert(outcomes.collect { case Left(m) => m }
        .forall(_.contains("already exists")))
      // the tag resolves to the winner's version, not a torn mix
      assert(SnapshotStore.tagVersion(spark, root, "stable").contains(wins.head))
    }
  }

  test("checkpoints publish reader-safe without rename; vacuum floor works on osim") {
    val prev = sys.props.get("graft.snapshot.checkpointInterval")
    sys.props("graft.snapshot.checkpointInterval") = "3"
    try withSim {
      val root = osimRoot("cp")
      SnapshotStore.init(spark, root,
        (1L to 16L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
        Seq("k"), numBuckets = 4)
      (1L to 7L).foreach { i =>
        SnapshotStore.commitDelta(spark, root,
          Seq((i, s"u$i", 100L + i)).toDF("k", "v", "ts"), Seq("k"), merge)
      }
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(3L, 6L).foreach { v =>
        assert(fs.exists(new Path(root, f"_commits/cp-$v%020d/_SUCCESS")),
          s"cadence checkpoint at $v missing")
      }
      assert(SnapshotStore.vacuum(spark, root, keepLast = 2) > 0)
      (6L to 7L).foreach { v =>
        val expect = (1L to 16L).map { k =>
          if (k <= v) (k, s"u$k", 100L + k) else (k, s"v$k", k)
        }.toSet
        assert(SnapshotStore.readVersion(spark, root, v).select("k", "v", "ts")
          .as[(Long, String, Long)].collect().toSet == expect, s"version $v")
      }
      // a checkpoint TORN mid-publish (data objects landed, _SUCCESS
      // did not — the crash window of the reader-safe order) is dead
      // weight, not poison: readers ignore it, and the next writer of
      // the same version completes it in place
      val cp9 = new Path(root, f"_commits/cp-${9L}%020d")
      fs.mkdirs(cp9)
      fs.create(new Path(cp9, "part-torn.parquet"), true).close()
      // the floor-advance vacuum committed an empty serialization v8,
      // so these land at v9 and v10 (v9 hits the cadence: interval 3)
      (8L to 9L).foreach { i =>
        SnapshotStore.commitDelta(spark, root,
          Seq((i, s"u$i", 100L + i)).toDF("k", "v", "ts"), Seq("k"), merge)
      }
      assert(fs.exists(new Path(cp9, "_SUCCESS")),
        "cadence checkpoint at 9 must complete the torn attempt")
      assert(!fs.exists(new Path(cp9, "part-torn.parquet")),
        "the torn attempt's stale part file must be cleared, not merged " +
          "into the completed checkpoint (a whole-dir read would consume both)")
      def upTo(n: Long) = (1L to 16L).map { k =>
        if (k <= n) (k, s"u$k", 100L + k) else (k, s"v$k", k)
      }.toSet
      assert(SnapshotStore.readVersion(spark, root, 9L).select("k", "v", "ts")
        .as[(Long, String, Long)].collect().toSet == upTo(8L))
      assert(SnapshotStore.readVersion(spark, root, 10L).select("k", "v", "ts")
        .as[(Long, String, Long)].collect().toSet == upTo(9L))
    } finally {
      prev.fold { sys.props.remove("graft.snapshot.checkpointInterval"): Unit } {
        v => sys.props("graft.snapshot.checkpointInterval") = v }
    }
  }

  test("mutable small files publish as ONE atomic PUT: no vanish window under concurrent readers") {
    // the POSIX path swaps tmp→live with one rename(2); an object
    // store has no rename, and S3A's copy+delete emulation would give
    // every reader a window where `_props` is GONE (contracts silently
    // off for a racing commit). The store publishes by direct PUT
    // there — readers see the old bytes or the new, never neither.
    withSim {
      val root = osimRoot("props")
      SnapshotStore.init(spark, root,
        Seq((1L, "a", 1L)).toDF("k", "v", "ts"), Seq("k"), numBuckets = 2)
      SnapshotStore.writeProps(spark, root, Map("epochStamp" -> "0"))
      @volatile var stop = false
      val violations = new java.util.concurrent.atomic.AtomicInteger
      val reader = Future {
        while (!stop) {
          val p = SnapshotStore.readProps(spark, root)
          if (!p.contains("epochStamp")) violations.incrementAndGet(): Unit
        }
      }
      (1 to 60).foreach { i =>
        SnapshotStore.writeProps(spark, root, Map("epochStamp" -> i.toString))
      }
      stop = true
      Await.result(reader, 60.seconds)
      assert(violations.get == 0,
        s"${violations.get} reads observed a missing _props during republish")
      assert(SnapshotStore.readProps(spark, root)("epochStamp") == "60")
    }
  }

  test("WAP branch fork → write → publish round-trips on osim (adoption is copy-based, commit point is the manifest)") {
    // publishBranch adopts branch data dirs into the main root via
    // fs.rename — client-side copy+delete on an object store. That is
    // O(branch data) instead of the POSIX O(1), but correctness never
    // rode on the rename being atomic: readers resolve only dirs a
    // COMMITTED manifest references, and the _publishing breadcrumb
    // rolls a crashed adoption wholly forward or back.
    withSim {
      val root = osimRoot("wap")
      SnapshotStore.init(spark, root,
        (1L to 12L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
        Seq("k"), numBuckets = 2)
      SnapshotStore.createBranch(spark, root, "audit")
      val br = SnapshotStore.branchRoot(root, "audit")
      SnapshotStore.commitDelta(spark, br,
        Seq((1L, "staged", 500L), (99L, "new", 501L)).toDF("k", "v", "ts"),
        Seq("k"), merge)
      // main is unchanged while the branch diverges
      assert(!rows(root).exists(_._2 == "staged"))
      val pubV = SnapshotStore.publishBranch(spark, root, "audit")
      assert(pubV == 1L)
      val end = rows(root)
      assert(end((1L, "staged", 500L)) && end((99L, "new", 501L)) &&
        end.size == 13)
      // adopted dirs are manifest-referenced, breadcrumb consumed
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new Path(br, "_publishing")))
      assert(SnapshotStore.readVersion(spark, root, 0L).count() == 12L)
    }
  }

  test("a publish crashed MID-ADOPTION rolls back by DISCARDING the partial copy — never nesting it into the intact branch") {
    // On an object store the adoption "rename" is copy+delete, so a
    // crash can leave the destination a PARTIAL copy while the branch
    // source is still whole. The pre-R14 rollback renamed the partial
    // BACK — S3A rename onto an existing directory moves INTO it, so
    // the junk nested inside the branch dir the rollback exists to
    // preserve. Adoption now copies without consuming the source, and
    // rollback discards the destination whenever the source survives.
    withSim {
      val root = osimRoot("pubcrash")
      SnapshotStore.init(spark, root,
        (1L to 12L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
        Seq("k"), numBuckets = 2)
      SnapshotStore.createBranch(spark, root, "a")
      val br = SnapshotStore.branchRoot(root, "a")
      SnapshotStore.commitDelta(spark, br,
        Seq((99L, "branchrow", 500L)).toDF("k", "v", "ts"), Seq("k"), merge)
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // manufacture the crashed publish: breadcrumb written, one
      // adoption copy started and torn, process died before commit
      val bm = SnapshotStore.readManifest(spark, br,
        SnapshotStore.latestVersion(spark, br).get)
      val vd = bm.buckets.values.flatMap(e => e.dir +: e.tombstones)
        .filter(!new Path(_).isAbsolute).map(_.takeWhile(_ != '/')).head
      val pubV = SnapshotStore.latestVersion(spark, root).get + 1
      val n = s"v=$pubV-pub-a-${vd.stripPrefix("v=")}"
      val out = fs.create(new Path(br, "_publishing"), true)
      out.write(s"pub:$pubV\n$vd\t$n\n".getBytes("UTF-8")); out.close()
      // age past the reclaim grace: a YOUNG marker is a live publisher
      // since R16 and recovery refuses to roll it back (in-flight CME)
      val oldT = System.currentTimeMillis() - 700000L
      fs.setTimes(new Path(br, "_publishing"), oldT, oldT)
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(br, vd),
        fs, new Path(root, n), false, fs.getConf)
      def leafFiles(p: Path): Seq[Path] = fs.listStatus(p).toSeq.flatMap(st =>
        if (st.isDirectory) leafFiles(st.getPath) else Seq(st.getPath))
      fs.delete(leafFiles(new Path(root, n)).head, false) // the tear
      // recovery runs inside the next publish: rollback must DISCARD
      // the partial, leave the branch whole, then publish cleanly
      val got = SnapshotStore.publishBranch(spark, root, "a")
      assert(got == pubV)
      val end = rows(root)
      assert(end((99L, "branchrow", 500L)) && end.size == 13,
        s"published state wrong: $end")
      // the adopted dir is whole (no nested junk, no missing file):
      // re-read through the committed manifest round-trips
      assert(SnapshotStore.readVersion(spark, root, pubV).count() == 13L)
    }
  }

  test("REPLACE contract swap + cross-epoch time travel hold on osim") {
    // the epoch protocol's moving parts — write-ahead contract bundle,
    // schema/props archival, live-file swap, epoch stamp — are all
    // small-file PUTs and exclusive creates; none leans on rename
    withSim {
      val root = osimRoot("epoch")
      spark.conf.set("spark.sql.catalog.gos", classOf[graft.connector.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gos.root", root)
      try {
        spark.sql("CREATE NAMESPACE IF NOT EXISTS gos.ns")
        spark.sql("""CREATE TABLE gos.ns.t (k BIGINT, v BIGINT) USING graft
                     TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
        spark.sql("INSERT INTO gos.ns.t VALUES (1, 10), (2, 20)")
        spark.sql("""REPLACE TABLE gos.ns.t TBLPROPERTIES ('keys'='name')
                     AS SELECT 'alpha' AS name, CAST(7 AS BIGINT) AS n""")
        val tRoot = s"$root/ns/t"
        // stamp landed (swap completed), bundle consumed
        assert(SnapshotStore.readProps(spark, tRoot)("graft.schema.epoch").toLong == 2L)
        val tfs = new Path(tRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(!tfs.listStatus(new Path(tRoot)).exists(
          _.getPath.getName.startsWith("_pending_contracts-")))
        // each epoch time-travels under its OWN contract
        val old = spark.sql("SELECT * FROM gos.ns.t VERSION AS OF 1")
        assert(old.columns.toSeq == Seq("k", "v") && old.count() == 2L)
        val now = spark.sql("SELECT * FROM gos.ns.t")
        assert(now.columns.toSeq == Seq("name", "n") && now.count() == 1L)
      } finally {
        spark.conf.unset("spark.sql.catalog.gos")
        spark.conf.unset("spark.sql.catalog.gos.root")
      }
    }
  }

  test("contract-op chaos round holds its invariants on osim (same op mix as ChaosHuntSpec)") {
    withSim {
      val warehouse = "osim://" + Files.createTempDirectory("graft-osim-chaos").toString
      spark.conf.set("spark.sql.catalog.gosc", classOf[graft.connector.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gosc.root", warehouse)
      try {
        spark.sql("CREATE NAMESPACE IF NOT EXISTS gosc.ns")
        graft.connector.ChaosOps.hunt(spark, "gosc", warehouse, "hos",
          seed = 41, nThreads = 3, opsPer = 8, info = info(_)): Unit
      } finally {
        spark.conf.unset("spark.sql.catalog.gosc")
        spark.conf.unset("spark.sql.catalog.gosc.root")
      }
    }
  }

  test("the full contract-op chaos mix holds on a PLAIN-PUT store with the arbiter in") {
    // the hardest combination the matrix allows: no conditional
    // writes at all, every manifest commit arbitrated externally,
    // REPLACE/restore/WAP/compaction/checkpoint chaos on top
    withSim {
      ObjectStoreSim.conditionalCreate = false
      SnapshotStore.manifestArbiter = Some(new InMemoryClaimArbiter())
      val warehouse = "osim://" + Files.createTempDirectory("graft-osim-arbch").toString
      spark.conf.set("spark.sql.catalog.goscp", classOf[graft.connector.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.goscp.root", warehouse)
      try {
        spark.sql("CREATE NAMESPACE IF NOT EXISTS goscp.ns")
        // 6×15 @ seed 1001 is the configuration whose thread pressure
        // reliably drove a racing REPLACE's retry back onto the SAME
        // un-listable publish version — the schedule that exposed the
        // rename-onto-itself adoption explosion on object stores
        // (fixed: self-moves skip; losers await the in-flight
        // terminator so retries probe the winner's version)
        graft.connector.ChaosOps.hunt(spark, "goscp", warehouse, "hap",
          seed = 1001, nThreads = 6, opsPer = 15, info = info(_)): Unit
      } finally {
        SnapshotStore.manifestArbiter = None
        spark.conf.unset("spark.sql.catalog.goscp")
        spark.conf.unset("spark.sql.catalog.goscp.root")
      }
    }
  }

  test("change-feed syncDerived mirrors an osim source onto an osim target through upserts and deletes") {
    // the feed consumer's offset registration, manifest diffs and the
    // mirror's own commits all ride the same conditional-PUT protocols
    withSim {
      val src = osimRoot("cfsrc")
      val dst = osimRoot("cfdst")
      SnapshotStore.init(spark, src,
        (1L to 20L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
        Seq("k"), numBuckets = 2)
      ChangeFeed.syncDerived(spark, src, dst, "m", Seq("k"), numBuckets = 2): Unit
      SnapshotStore.commitDelta(spark, src,
        Seq((1L, "x", 100L), (21L, "new", 101L)).toDF("k", "v", "ts"),
        Seq("k"), merge)
      SnapshotStore.commitDeletes(spark, src, Seq(2L).toDF("k"), Seq("k"))
      ChangeFeed.syncDerived(spark, src, dst, "m", Seq("k"), numBuckets = 2): Unit
      assert(rows(dst) == rows(src) && rows(dst).size == 20)
      // redelivery is a no-op (offset consumed)
      ChangeFeed.syncDerived(spark, src, dst, "m", Seq("k"), numBuckets = 2): Unit
      assert(rows(dst) == rows(src))
    }
  }

  test("commits and reads converge under legacy eventually-consistent listings (dense-version probe)") {
    withSim {
      val root = osimRoot("lag")
      SnapshotStore.init(spark, root,
        (1L to 8L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
        Seq("k"), numBuckets = 2)
      // LIST hides young manifests for 60s — far longer than the test;
      // only per-key GET/HEAD can see the tip. Scoped to the commit
      // log: Spark's own data-file writes assume the strong listings
      // every current store provides (SURVEY §5 note).
      ObjectStoreSim.listingLagMs = 60000L
      ObjectStoreSim.listingLagPathFilter = _.contains("/_commits")
      (1L to 3L).foreach { i =>
        val v = SnapshotStore.commitDelta(spark, root,
          Seq((i, s"u$i", 100L + i)).toDF("k", "v", "ts"), Seq("k"), merge)
        assert(v == i, s"commit $i stalled or double-granted under listing lag: got $v")
      }
      // the version listing itself recovers the hidden tail by probing
      // successive numbers with consistent per-key reads
      assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L, 2L, 3L))
      val expect = (1L to 8L).map { k =>
        if (k <= 3L) (k, s"u$k", 100L + k) else (k, s"v$k", k)
      }.toSet
      assert(rows(root) == expect)
    }
  }
}
