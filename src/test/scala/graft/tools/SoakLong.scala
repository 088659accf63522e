package graft.tools

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.DurationInt

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.store.SnapshotStore

/** SOAK_r17: the LONG-lived, commit-count-heavy soak (r16 verdict item
  * 4). SOAK_r16 proved the protocol at scale but stayed commit-count-
  * SMALL (~24 writer commits); this soak drives HUNDREDS of commits
  * through one table under the full maintenance mix — vacuum (floor
  * markers + serialization commits), compact, checkpoint cadence,
  * version-less ALTER, clone+release, and branch fork→write→publish
  * cycles (`_publishing` marker lifecycle) — to answer the questions
  * only history DEPTH asks:
  *
  *  - does commit latency stay FLAT as the manifest chain grows
  *    (checkpoint cadence must keep snapshot resolution O(cadence),
  *    never O(history))? Reported as per-quartile means over commit
  *    completion order + a first→last quartile ratio.
  *  - do the hygiene sweeps keep marker/claim populations BOUNDED at
  *    realistic depth (sub-max `_floorv-` subsumed, aged intents
  *    dropped, no `_pending_*` or `_publishing` leftovers)? Reported
  *    as end-state census counts, asserted tight.
  *  - is the fleet still LOSSLESS after hundreds of interleaved
  *    commits (every writer's last round fully present, row count
  *    exact)?
  *
  * Usage: Test/runMain graft.tools.SoakLong [workDir] [outJson] [rounds] [arbiter]
  *   (reads /root/testdata/sf0.01/orders.parquet as the base corpus;
  *   4th arg "arbiter" routes EVERY exclusive-create claim through an
  *   [[graft.store.InMemoryClaimArbiter]] — the plain-PUT commit-row
  *   protocol at 300-commit depth, asserting the row population keeps
  *   the designed shape: permanent commit rows plus released locks,
  *   never runaway. Added r18, when the ledger/tag release paths
  *   landed — no prior soak had run the arbiter at depth.)
  */
object SoakLong {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-soaklong").toString)
    val outJson = if (args.length > 1) args(1) else "SOAK_r17.json"
    val rounds = if (args.length > 2) args(2).toInt else 50
    val useArbiter = args.length > 3 && args(3) == "arbiter"
    val arbiter =
      if (useArbiter) Some(new graft.store.InMemoryClaimArbiter()) else None
    arbiter.foreach(a => SnapshotStore.manifestArbiter = Some(a))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val corpus = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val totalRows = corpus.count()
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val root = s"$work/wh/ns/longsoak"
    val nb = 16
    val (_, initS) = timed {
      SnapshotStore.init(spark, root, corpus, Seq("o_orderkey"),
        numBuckets = nb, statsCols = Seq("o_orderkey"))
    }
    out("rows") = totalRows
    out("num_buckets") = nb
    out("init_full_write_s") = math.rint(initS * 1000) / 1000

    val cat = "soaklcat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.connector.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", s"$work/wh")

    // writer i owns ~150 keys hashing to bucket i: disjoint touched
    // sets, so the fleet's OCC laps rebase rather than recompute
    val nWriters = 6
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("b").orderBy("o_orderkey")
    val perBucket: Map[Int, Array[Long]] = corpus
      .select(col("o_orderkey"),
        SnapshotStore.bucketColumn(Seq(col("o_orderkey")), nb).as("b"))
      .where(col("b") < nWriters)
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 150)
      .select(col("b"), col("o_orderkey"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).map { case (b, ks) => b -> ks.map(_._2) }
    require(perBucket.size == nWriters, s"need $nWriters owned buckets")

    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      nWriters + 4,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // (completion order index, seconds) — the flatness series
    val commitSeq = new java.util.concurrent.atomic.AtomicInteger(0)
    val commitTimes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
    val maintCounts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
    def bump(k: String): Unit = { maintCounts.merge(k, 1, (a, b) => a + b); () }
    val gate = new java.util.concurrent.CountDownLatch(1)
    @volatile var writersDone = false
    val writerRetries = new java.util.concurrent.atomic.AtomicInteger(0)
    // publish-pause gate: under constant writer churn every publish
    // legally refuses the stale fast-forward (main advanced since the
    // fork), which exercises the `_publishing` lifecycle but never the
    // LANDED path at depth. The publisher raises the pause, waits for
    // in-flight commits to drain (bounded), fork→write→publishes in
    // the gap, then releases — so the soak measures BOTH outcomes.
    val publishPause = new java.util.concurrent.atomic.AtomicBoolean(false)
    val commitsInFlight = new java.util.concurrent.atomic.AtomicInteger(0)

    val writers = (0 until nWriters).map { i =>
      Future {
        gate.await()
        val ks = perBucket(i).map(Long.box).toSeq
        (1 to rounds).foreach { r =>
          val delta = corpus.where(col("o_orderkey").isin(ks: _*))
            .withColumn("o_orderstatus", lit(s"W${i}r$r"))
          var landed = false
          var laps = 0
          while (!landed) {
            laps += 1
            // yield to a pending publish (bounded: liveness over purity)
            val pDeadline = System.currentTimeMillis() + 3000L
            while (publishPause.get() &&
                   System.currentTimeMillis() < pDeadline) Thread.sleep(20)
            commitsInFlight.incrementAndGet()
            try {
              val (_, s) = timed {
                SnapshotStore.commitDelta(spark, root, delta, Seq("o_orderkey"),
                  SnapshotStore.upsertMerge(Seq("o_orderkey")),
                  maxAttempts = 16 * nWriters)
              }
              commitTimes.add((commitSeq.incrementAndGet(), s)): Unit
              landed = true
            } catch {
              case _: java.util.ConcurrentModificationException if laps < 20 =>
                writerRetries.incrementAndGet(): Unit
            } finally commitsInFlight.decrementAndGet()
          }
        }
      }
    }
    // maintenance: the full mix, including branch publish cycles (the
    // `_publishing` marker lifecycle at depth — with writers advancing
    // main constantly, most publishes legally refuse the stale
    // fast-forward; the marker must never leak either way)
    val maint = (0 until 2).map { t =>
      Future {
        gate.await()
        val rnd = new scala.util.Random(1700 + t)
        var i = 0
        while (!writersDone) {
          i += 1
          try rnd.nextInt(6) match {
            case 0 =>
              SnapshotStore.vacuum(spark, root, keepLast = 3): Unit
              bump("vacuum")
            case 1 =>
              val cRoot = s"$work/wh/ns/longsoak_c$t$i"
              SnapshotStore.cloneTable(spark, root, cRoot): Unit
              // landed publishes add their marker rows (keys >= 9e6);
              // the base corpus must be whole regardless
              require(SnapshotStore.read(spark, cRoot)
                  .where(col("o_orderkey") < 9000000L).count() == totalRows,
                "clone must read the full fleet state")
              SnapshotStore.releaseClone(spark, cRoot)
              bump("clone_cycle")
            case 2 =>
              spark.sql(s"ALTER TABLE $cat.ns.longsoak SET TBLPROPERTIES " +
                s"('soak_m$t$i'='1')")
              bump("alter")
            case 3 =>
              SnapshotStore.compact(spark, root, minFiles = 2): Unit
              bump("compact")
            case 4 =>
              SnapshotStore.checkpoint(spark, root): Unit
              bump("checkpoint")
            case 5 =>
              val bn = s"sb$t$i"
              if (!publishPause.compareAndSet(false, true))
                bump("publish_skipped_rival")
              else try {
                // drain in-flight commits (bounded), then fork in the gap
                val drain = System.currentTimeMillis() + 5000L
                while (commitsInFlight.get() > 0 &&
                       System.currentTimeMillis() < drain) Thread.sleep(20)
                SnapshotStore.createBranch(spark, root, bn): Unit
                try {
                  spark.sql(s"INSERT INTO $cat.ns.longsoak" +
                    s".`_branch`.$bn (o_orderkey, o_custkey, o_orderstatus, " +
                    s"o_totalprice) VALUES (${9000000 + i}, 1, 'B', 0.0)")
                  SnapshotStore.publishBranch(spark, root, bn): Unit
                  bump("publish_landed")
                } catch {
                  case _: Throwable =>
                    SnapshotStore.dropBranch(spark, root, bn)
                    bump("publish_refused")
                }
              } finally publishPause.set(false)
          } catch {
            case _: java.util.ConcurrentModificationException =>
              bump("documented_conflict")
            case e: Throwable if {
                val text = Iterator.iterate(e: Throwable)(_.getCause)
                  .takeWhile(_ != null).take(10)
                  .flatMap(x => Option(x.getMessage)).mkString("\n")
                text.contains("concurrently initialized") ||
                  text.contains("does not exist") ||
                  text.contains("FileNotFound") ||
                  text.contains("No such file") ||
                  text.contains("reclaimed") ||
                  text.contains("cannot fast-forward") ||
                  // maintenance's documented contention give-up: under
                  // a 6-writer constant-commit fleet, compact can
                  // legitimately lose its bounded OCC laps — re-run
                  // later, never a failure (found on SoakLong's first
                  // 300-commit run; the short soaks never hit it)
                  text.contains("consecutive commit races")
              } =>
              bump("documented_conflict")
          }
          Thread.sleep(20)
        }
      }
    }
    val (_, fleetS) = timed {
      gate.countDown()
      try Await.result(Future.sequence(writers), 5400.seconds): Unit
      finally writersDone = true
      Await.result(Future.sequence(maint), 5400.seconds): Unit
    }

    // ---- lossless exactness ----
    // branch publishes that LANDED legally replaced main's head with
    // branch state forked BEFORE some writers' later rounds — but a
    // publish only lands when main has not advanced since its fork, so
    // writer rounds that committed before the fork are in the branch
    // state too; the final state must hold every writer's LAST round
    val state = SnapshotStore.read(spark, root)
    (0 until nWriters).foreach { i =>
      val got = state.where(col("o_orderstatus") === s"W${i}r$rounds").count()
      require(got == perBucket(i).length,
        s"writer $i lost rows: $got != ${perBucket(i).length}")
    }
    require(state.where(col("o_orderkey") < 9000000L).count() == totalRows,
      "fleet changed the base row count")
    SnapshotStore.versions(spark, root).foreach(v =>
      require(SnapshotStore.readVersion(spark, root, v).count() >= 0L))

    // ---- latency flatness over history depth ----
    val series = commitTimes.toArray(Array.empty[(Int, Double)])
      .sortBy(_._1).map(_._2)
    val nCommits = series.length
    val q = math.max(nCommits / 4, 1)
    val quartileMeans = (0 until 4).map { j =>
      val slice = series.slice(j * q, if (j == 3) nCommits else (j + 1) * q)
      math.rint(slice.sum / slice.length * 1000) / 1000
    }
    out("writer_commits") = nCommits
    out("writer_commit_retries") = writerRetries.get()
    out("fleet_wall_s") = math.rint(fleetS * 1000) / 1000
    out("commit_mean_s") = math.rint(series.sum / nCommits * 1000) / 1000
    out("commit_quartile_means_s") = quartileMeans.mkString("[", ", ", "]")
    val flatness = quartileMeans.last / math.max(quartileMeans.head, 1e-9)
    out("commit_q4_over_q1") = math.rint(flatness * 100) / 100
    require(flatness < 3.0,
      s"commit latency GREW with history depth: quartile means " +
        s"$quartileMeans (q4/q1 = $flatness) — manifest-chain length is " +
        "leaking into the commit path")
    import scala.jdk.CollectionConverters._
    maintCounts.asScala.toSeq.sortBy(_._1).foreach { case (k, v) =>
      out(s"maint_$k") = v.intValue()
    }

    // ---- hygiene census at depth ----
    // converge maintenance (bounded laps), then count every marker
    // class: the sweeps must keep populations BOUNDED regardless of
    // how many commits/vacuums the history saw
    var lapVs = SnapshotStore.versions(spark, root)
    var laps = 0
    var converged = false
    while (!converged && laps < 6) {
      laps += 1
      SnapshotStore.vacuum(spark, root, keepLast = 3): Unit
      val now = SnapshotStore.versions(spark, root)
      if (now.count(v => !lapVs.contains(v)) == 0) converged = true
      lapVs = now
    }
    require(converged, s"vacuum did not converge within 6 laps")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitsDir = new Path(root, "_commits")
    val names = fs.listStatus(commitsDir).map(_.getPath.getName)
    def countBy(p: String => Boolean) = names.count(p)
    val census = scala.collection.mutable.LinkedHashMap[String, Int](
      "manifests" -> countBy(n => n.forall(_.isDigit)),
      "checkpoints" -> countBy(_.startsWith("cp-")),
      "cp_claims" -> countBy(_.startsWith("claim-")),
      "floor_intents" -> countBy(_.startsWith("_floor_intent-")),
      "floor_values" -> countBy(_.startsWith("_floorv-")),
      "legacy_floor" -> countBy(_ == "_floor"),
      "other" -> names.count(n => !n.forall(_.isDigit) &&
        !n.startsWith("cp-") && !n.startsWith("claim-") &&
        !n.startsWith("_floor")))
    census.foreach { case (k, v) => out(s"census_$k") = v }
    out("census_commits_dir_total") = names.length
    out("retained_versions") = lapVs.length
    out("vacuum_converge_laps") = laps
    out("floor") = SnapshotStore.vacuumFloor(spark, root)
    // the bounds the hygiene sweeps promise
    require(census("floor_intents") == 0,
      s"live floor intents leaked: ${census("floor_intents")}")
    require(census("floor_values") <= 1,
      s"sub-max _floorv- files not subsumed: ${census("floor_values")}")
    val rootNames = fs.listStatus(new Path(root)).map(_.getPath.getName)
    val pendings = rootNames.count(n => n.startsWith("_pending_contracts-") ||
      n.startsWith("_pending_identity-"))
    out("census_pending_bundles") = pendings
    require(pendings == 0, s"pending contract bundles leaked: $pendings")
    SnapshotStore.listBranches(spark, root).foreach { case (n, _, _) =>
      require(!fs.exists(new Path(SnapshotStore.branchRoot(root, n), "_publishing")),
        s"branch '$n' left mid-publish")
    }
    // manifests retained = retained versions (+ nothing unbounded):
    // the chain length is governed by vacuum, not by commit count
    require(census("manifests") <= lapVs.length + 2,
      s"manifest files (${census("manifests")}) exceed retained " +
        s"versions (${lapVs.length}) — chain hygiene leak")

    // ---- arbiter row-population shape (plain-PUT personality) ----
    // commit rows are PERMANENT by design (one per version slot ever
    // claimed — the zombie fence); lock rows release on exit, and the
    // r18 ledger/tag releases fold their families too. The population
    // must therefore track commit-ish event count, never attempts or
    // laps (a runaway here would be a leaked transient-claim family).
    arbiter.foreach { a =>
      out("arbiter_rows") = a.size
      require(a.size <= nCommits * 12 + 500,
        s"arbiter row population (${a.size}) far exceeds the commit-ish " +
          s"event count ($nCommits writer commits) — a transient claim " +
          "family is leaking rows")
    }

    def render(v: Any): String = v match {
      case m: scala.collection.mutable.LinkedHashMap[_, _] =>
        m.map { case (k, x) => s""""$k": ${render(x)}""" }
          .mkString("{", ", ", "}")
      case s: String => s""""$s""""
      case x => x.toString
    }
    val json = render(out)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8")): Unit
    println(s"[soak-long] wrote $outJson")
    println(json)
    pool.shutdown()
    spark.stop()
  }
}
