package graft.tools

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.store.SnapshotStore

/** SOAK_r16: the concurrent-writer OCC fleet re-run at SCALE-100 with
  * the maintenance vocabulary the r15 protocol work added — vacuum
  * (whose data-freeing floor advance now publishes one serialization
  * commit through the commit log), zero-copy clone+release, and
  * version-less ALTER (serialized on the contracts lock) — all racing
  * the writers (r15 verdict item #6; the prior fleet soaks, SOAK_r14b/c,
  * stopped at scale-10 and predate both protocols).
  *
  * Two legs (scale 10 and scale 100) in one JVM so the artifact can
  * show COST TRACKS TOUCHED BUCKETS, not table size: each writer
  * commit rewrites ~1 of 64 buckets, so its wall time is bounded by
  * the touched bucket's bytes plus fixed manifest work — reported as
  * `commit_vs_full_rewrite` (mean commit seconds over the full-table
  * init seconds at the same scale), which must stay well under the
  * touched fraction's ceiling at both scales.
  *
  * Quantified per r15 verdict: merge RECOMPUTE counts (lost races that
  * could not rebase), and the per-vacuum floor-advance EMPTY-COMMIT
  * overhead (a data-freeing sweep's serialization commit vs a
  * converged no-op sweep).
  *
  * Usage: Test/runMain graft.tools.SoakOcc [workDir] [outJson]
  *   (reads /root/testdata/sf0.01/orders.parquet as the base corpus)
  */
object SoakOcc {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-soakocc").toString)
    val outJson = if (args.length > 1) args(1) else "SOAK_r16.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    Seq(10, 100).foreach { scale =>
      val leg = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      val root = s"$work/wh$scale/ns/occ"
      val corpus = base
        .crossJoin(spark.range(scale).select(col("id").as("__rep")))
        .select(
          (col("o_orderkey") * scale + col("__rep")).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val totalRows = 15000L * scale
      val nb = 64
      val (_, initS) = timed {
        SnapshotStore.init(spark, root, corpus, Seq("o_orderkey"),
          numBuckets = nb, statsCols = Seq("o_orderkey"))
      }
      leg("rows") = totalRows
      leg("num_buckets") = nb
      leg("init_full_write_s") = math.rint(initS * 1000) / 1000

      // catalog door for the version-less ALTER mutators
      val cat = s"soccat$scale"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.connector.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", s"$work/wh$scale")

      // writer i owns ~200 keys that all hash to bucket i: racing
      // pairs' touched sets are disjoint, so every lost race OUGHT to
      // rebase; maintenance commits (compact, vacuum's floor-advance
      // serialization commit) CAN touch a writer's bucket and push it
      // into the designed recompute fallback — counted, not hidden
      val nWriters = 8
      val rounds = 3
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("b").orderBy("o_orderkey")
      val perBucket: Map[Int, Array[Long]] = corpus
        .select(col("o_orderkey"),
          SnapshotStore.bucketColumn(Seq(col("o_orderkey")), nb).as("b"))
        .where(col("b") < nWriters)
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 200)
        .select(col("b"), col("o_orderkey"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
        .groupBy(_._1).map { case (b, ks) => b -> ks.map(_._2) }
      require(perBucket.size == nWriters, s"need $nWriters owned buckets")

      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        nWriters + 4,
        (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val mergeRuns = new java.util.concurrent.atomic.AtomicInteger(0)
      val commitTimes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
      val maintCounts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
      def bump(k: String): Unit =
        { maintCounts.merge(k, 1, (a, b) => a + b); () }
      val gate = new java.util.concurrent.CountDownLatch(1)
      @volatile var writersDone = false

      val writerRetries = new java.util.concurrent.atomic.AtomicInteger(0)
      val writers = (0 until nWriters).map { i =>
        Future {
          gate.await()
          val ks = perBucket(i).map(Long.box).toSeq
          (1 to rounds).foreach { r =>
            val delta = corpus.where(col("o_orderkey").isin(ks: _*))
              .withColumn("o_orderstatus", lit(s"W${i}r$r"))
            // the dutiful-client loop: documented conflicts (e.g. the
            // recycled-slot fence when a racing vacuum reclaims this
            // writer's base snapshot mid-commit, the explicit "re-run
            // the statement" recipe) are re-run, never data loss
            var landed = false
            var laps = 0
            while (!landed) {
              laps += 1
              try {
                val (_, s) = timed {
                  SnapshotStore.commitDelta(spark, root, delta, Seq("o_orderkey"),
                    (cur, d) => {
                      mergeRuns.incrementAndGet()
                      SnapshotStore.upsertMerge(Seq("o_orderkey"))(cur, d)
                    }, maxAttempts = 16 * nWriters)
                }
                commitTimes.add(s): Unit
                landed = true
              } catch {
                case _: java.util.ConcurrentModificationException if laps < 20 =>
                  writerRetries.incrementAndGet(): Unit
              }
            }
          }
        }
      }
      // two maintenance threads: vacuum / clone+release / ALTER /
      // compact / checkpoint racing the fleet the whole time
      val maint = (0 until 2).map { t =>
        Future {
          gate.await()
          val rnd = new scala.util.Random(900 + t)
          var i = 0
          while (!writersDone) {
            i += 1
            try rnd.nextInt(5) match {
              case 0 =>
                SnapshotStore.vacuum(spark, root, keepLast = 2): Unit
                bump("vacuum")
              case 1 =>
                val cRoot = s"$work/wh$scale/ns/occ_c$t$i"
                SnapshotStore.cloneTable(spark, root, cRoot): Unit
                require(SnapshotStore.read(spark, cRoot).count() == totalRows,
                  "clone must read the full fleet state")
                SnapshotStore.releaseClone(spark, cRoot)
                bump("clone_cycle")
              case 2 =>
                spark.sql(s"ALTER TABLE $cat.ns.occ SET TBLPROPERTIES " +
                  s"('soak_m$t$i'='1')")
                bump("alter")
              case 3 =>
                SnapshotStore.compact(spark, root, minFiles = 2): Unit
                bump("compact")
              case 4 =>
                SnapshotStore.checkpoint(spark, root): Unit
                bump("checkpoint")
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
                    text.contains("reclaimed")
                } =>
                // a clone read racing vacuum, or a fenced re-create:
                // the documented maintenance conflicts
                bump("documented_conflict")
            }
            Thread.sleep(25)
          }
        }
      }
      val (_, fleetS) = timed {
        gate.countDown()
        try Await.result(Future.sequence(writers), 3600.seconds): Unit
        finally writersDone = true // maintenance must stop even on failure
        Await.result(Future.sequence(maint), 3600.seconds): Unit
      }

      // ---- lossless exactness ----
      val state = SnapshotStore.read(spark, root)
      require(state.count() == totalRows,
        s"scale-$scale fleet changed row count")
      (0 until nWriters).foreach { i =>
        val got = state.where(col("o_orderstatus") === s"W${i}r$rounds").count()
        require(got == perBucket(i).length,
          s"scale-$scale writer $i lost rows: $got != ${perBucket(i).length}")
      }
      // every retained version still reads
      SnapshotStore.versions(spark, root).foreach(v =>
        require(SnapshotStore.readVersion(spark, root, v).count() >= 0L))

      val times = commitTimes.toArray(Array.empty[java.lang.Double])
        .map(_.doubleValue()).sorted
      val meanCommit = times.sum / times.length
      leg("fleet_wall_s") = math.rint(fleetS * 1000) / 1000
      leg("writer_commits") = nWriters * rounds
      leg("merge_recomputes") = mergeRuns.get() - nWriters * rounds -
        writerRetries.get()
      leg("writer_commit_retries") = writerRetries.get()
      leg("commit_mean_s") = math.rint(meanCommit * 1000) / 1000
      leg("commit_p50_s") = math.rint(times(times.length / 2) * 1000) / 1000
      leg("commit_max_s") = math.rint(times.last * 1000) / 1000
      // the 100 TB claim: a touched-bucket commit costs a fraction of
      // a full-table rewrite AT THE SAME SCALE (8 of 64 buckets owned,
      // each commit rewrites ~1 bucket + manifest)
      leg("commit_vs_full_rewrite") = math.rint(meanCommit / initS * 1000) / 1000
      import scala.jdk.CollectionConverters._
      maintCounts.asScala.toSeq.sortBy(_._1).foreach { case (k, v) =>
        leg(s"maint_$k") = v.intValue()
      }

      // ---- floor-advance empty-commit overhead, quantified ----
      // the fleet left reclaimable history; each data-freeing sweep
      // publishes exactly one serialization commit, and with keepLast=2
      // consecutive sweeps can legally keep freeing the residual
      // superseded dirs of the shrinking suffix for a few laps — the
      // documented convergence claim is that an UNCHANGED table reaches
      // a sweep that commits nothing, within a bounded lap count
      val vsBefore = SnapshotStore.versions(spark, root)
      val (_, vacS) = timed {
        SnapshotStore.vacuum(spark, root, keepLast = 2): Unit
      }
      val vsAfter = SnapshotStore.versions(spark, root)
      val floorCommits = vsAfter.count(v => !vsBefore.contains(v))
      var lapVs = vsAfter
      var laps = 0
      var converged = false
      var noopS = 0.0
      while (!converged && laps < 5) {
        laps += 1
        val (_, s) = timed {
          SnapshotStore.vacuum(spark, root, keepLast = 2): Unit
        }
        val now = SnapshotStore.versions(spark, root)
        if (now.count(v => !lapVs.contains(v)) == 0) {
          converged = true; noopS = s
        }
        lapVs = now
      }
      require(converged,
        "maintenance on an unchanged table must converge to a no-op " +
          s"within 5 sweeps (still committing after $laps)")
      leg("final_vacuum_s") = math.rint(vacS * 1000) / 1000
      leg("final_vacuum_floor_commits") = floorCommits
      leg("vacuum_converge_laps") = laps
      leg("noop_vacuum_s") = math.rint(noopS * 1000) / 1000
      leg("retained_versions") = lapVs.length
      leg("floor") = SnapshotStore.vacuumFloor(spark, root)

      out(s"scale_$scale") = leg
      pool.shutdown()
      println(s"[soak-occ] scale-$scale: " + leg.map { case (k, v) =>
        s"$k=$v" }.mkString(" "))
    }

    val s10 = out("scale_10").asInstanceOf[
      scala.collection.mutable.LinkedHashMap[String, Any]]
    val s100 = out("scale_100").asInstanceOf[
      scala.collection.mutable.LinkedHashMap[String, Any]]
    val ratio = s100("commit_mean_s").asInstanceOf[Double] /
      math.max(s10("commit_mean_s").asInstanceOf[Double], 1e-9)
    out("commit_mean_scale_ratio_100_over_10") = math.rint(ratio * 100) / 100

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
    println(s"[soak-occ] wrote $outJson")
    println(json)
    spark.stop()
  }
}
