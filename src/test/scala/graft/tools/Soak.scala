package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.sources.DataGen
import graft.store.SnapshotStore

/** Scale soak: synthesize a ~`scale`× corpus (DataGen documents /
  * embeddings / events at scale× the base row counts; lineitem+orders
  * replicated with consistently shifted keys so joins stay real; dims
  * copied), run the headline queries at BOTH scales in one JVM, run a
  * full snapshot-table maintenance cycle (init → upsert → MoR delete →
  * clustered compact → restore → vacuum) on the scaled corpus, and
  * emit one JSON artifact. The point is the RATIO column: a query
  * whose soak/base ratio far exceeds the scale factor has a
  * superlinear term (driver-side loop, skew cliff, quadratic
  * candidate set) that sf0.1 was too small to expose.
  *
  * Usage: Test/runMain graft.tools.Soak [scale] [workDir] [outJson]
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val work = if (args.length > 1) args(1) else "/tmp/graft_soak"
    val outJson = if (args.length > 2) args(2) else "SOAK_r6.json"
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MPB", "16777216"))
      .config("spark.sql.files.openCostInBytes", "1048576")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, math.round((System.nanoTime() - t0) / 1e6) / 1e3)
    }
    def ms(v: Double): Double = math.round(v * 1000) / 1000.0

    // ---------------- 1. synthesize the scaled corpus ----------------
    val gen = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def write(name: String, df: DataFrame): Unit = {
      val (_, t) = timed(df.write.mode("overwrite").parquet(s"$work/$name.parquet"))
      gen(name) = t
    }
    write("documents", DataGen.documents(spark, 5000L * scale))
    write("embeddings", DataGen.embeddings(spark, 2000L * scale))
    write("events", DataGen.events(spark, 100000L * scale))
    // lineitem/orders: replicate with the SAME orderkey shift so the
    // order↔line relationship (and part/supp/cust joins) stay real
    val orders0 = Tables.orders(spark, baseDir)
    val line0 = Tables.lineitem(spark, baseDir)
    val shift = orders0.agg(max("o_orderkey")).head().getLong(0) + 1L
    def replicate(df: DataFrame, keyCol: String): DataFrame =
      df.crossJoin(spark.range(scale).select(col("id").as("__rep")))
        .withColumn(keyCol, col(keyCol) + col("__rep") * shift)
        .drop("__rep")
    write("orders", replicate(orders0, "o_orderkey"))
    write("lineitem", replicate(line0, "l_orderkey"))
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(t, spark.read.parquet(s"$baseDir/$t.parquet"))
    }

    // ---------------- 2. headline queries, base vs soak --------------
    val headline = Seq(
      "q05_orders_fact", "q21_market_basket", "q25_gap_percentiles",
      "q26_sessionization", "q34_salted_join", "q40_funnel",
      "d01_dedup_exact", "d02_dedup_minhash", "d04_dedup_ngram",
      "d07_dedup_clusters", "d08_passage_dedup",
      "s02_ann_lsh", "s04_ann_ivf", "s06_ann_pq", "s07_ann_ivfpq",
      "t12_doc_freq_score", "a01_asof_attribution", "k02_heavy_hitters")
    val qmap = SparkEntry.queries
    // codegen warm-up at the smallest SF, as Bench does
    headline.foreach { q =>
      try { qmap(q)(spark, warmDir).count(); () } catch { case _: Throwable => () }
      spark.catalog.clearCache(); graft.Caching.unpersistAll()
    }
    def run(q: String, dir: String): Double = {
      val times = (1 to 2).map { _ =>
        spark.catalog.clearCache(); graft.Caching.unpersistAll()
        val (_, t) = timed(qmap(q)(spark, dir).count())
        t
      }
      times.min
    }
    val queryRows = headline.map { q =>
      val base = run(q, baseDir)
      val soak = run(q, work)
      println(f"[soak] $q%-22s base=$base%8.3fs soak=$soak%8.3fs ratio=${soak / base}%6.2f")
      q -> (base, soak)
    }

    // ---------------- 3. maintenance cycle on the scaled corpus ------
    val root = s"$work/table_documents"
    val maint = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[A](name: String)(body: => A): A = {
      val (a, t) = timed(body); maint(name) = t; a
    }
    val docs = spark.read.parquet(s"$work/documents.parquet")
    phase("init") {
      SnapshotStore.init(spark, root, docs, Seq("doc_id"), numBuckets = 32,
        statsCols = Seq("n_chars", "doc_id"))
    }
    phase("upsert") {
      SnapshotStore.commitDelta(spark, root,
        docs.where(col("doc_id") % 97 === 0)
          .withColumn("source", lit("src_upserted")),
        Seq("doc_id"), SnapshotStore.upsertMerge(Seq("doc_id")))
    }
    phase("mor_delete") {
      SnapshotStore.commitDeletes(spark, root,
        docs.select("doc_id").where(col("doc_id") % 101 === 0), Seq("doc_id"))
    }
    phase("compact_zorder") {
      SnapshotStore.compact(spark, root, minFiles = 2,
        zOrderBy = Seq("n_chars", "doc_id"), maxRecordsPerFile = 4000L)
    }
    val pruned = phase("pruned_range_read") {
      SnapshotStore.readRange(spark, root, "n_chars", 100, 160).count()
    }
    phase("restore") { SnapshotStore.restore(spark, root, 0L) }
    phase("vacuum") { SnapshotStore.vacuum(spark, root, keepLast = 1): Unit }
    val finalRows = SnapshotStore.read(spark, root).count()
    require(finalRows == 5000L * scale,
      s"restore lost rows: $finalRows != ${5000L * scale}")

    // ---------------- 3b. SQL DML at scale ---------------------------
    // The §5 O(delta) claim under the SQL path: a selective MERGE /
    // UPDATE must rewrite (and, in delta mode, READ) only the buckets
    // its keys hash into; a translatable DELETE must rewrite nothing.
    // Bucket-touch counts come from manifest dir-pointer diffs — the
    // same observable RowLevelSpec pins at unit scale.
    val dml = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val dmlN = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def dphase[A](name: String)(body: => A): A = {
      val (a, t) = timed(body); dml(name) = t; a
    }
    spark.conf.set("spark.sql.catalog.soak",
      classOf[graft.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.soak.root", s"$work/wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS soak.ns")
    spark.read.parquet(s"$work/orders.parquet")
      .createOrReplaceTempView("soak_orders")
    val totalOrders = spark.table("soak_orders").count()
    val nb = 64
    def mfst(t: String) = SnapshotStore.readManifest(spark, s"$work/wh/ns/$t",
      SnapshotStore.latestVersion(spark, s"$work/wh/ns/$t").get)
    def touched(t: String, before: SnapshotStore.Manifest): Long =
      mfst(t).buckets.count { case (b, e) => before.buckets.get(b).forall(_.dir != e.dir) }.toLong
    def runDml(t: String, deltaMode: Boolean): Unit = {
      val tag = if (deltaMode) "delta" else "cow"
      val prop = if (deltaMode) ", 'dml.mode'='delta'" else ""
      dphase(s"create_$tag") {
        spark.sql(s"""CREATE TABLE soak.ns.$t USING graft
          |TBLPROPERTIES('keys'='o_orderkey','numBuckets'='$nb',
          |  'statsCols'='o_orderkey'$prop)
          |AS SELECT * FROM soak_orders""".stripMargin)
      }
      // selective MERGE: 10 fixed keys — rewrite scope must be ≤ 10
      // buckets of 64, whatever the table size. Keys are materialized
      // driver-side first: a LIMIT-shaped source is not replayable and
      // would (correctly) disable the delta path's runtime filter.
      val m0 = mfst(t)
      val tenKeys = spark.sql("""SELECT o_orderkey FROM soak_orders
        WHERE o_orderkey % 100000 = 0 ORDER BY o_orderkey LIMIT 10""")
        .collect().map(_.getLong(0))
      spark.table("soak_orders")
        .where(col("o_orderkey").isin(tenKeys.map(Long.box): _*))
        .createOrReplaceTempView(s"soak_merge_src_$t")
      dphase(s"merge_10keys_$tag") {
        spark.sql(s"""MERGE INTO soak.ns.$t t
          |USING soak_merge_src_$t s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET o_orderstatus = 'S'
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      dmlN(s"merge_10keys_${tag}_touched_buckets") = touched(t, m0)
      // translatable DELETE (fixed ~300-key In-list — a `%` predicate
      // would NOT translate and correctly fall back to the group
      // rewrite): pure tombstones — ZERO bucket rewrite at any scale
      val delKeys = spark.sql("""SELECT o_orderkey FROM soak_orders
        WHERE o_orderkey % 5003 = 0 ORDER BY o_orderkey""")
        .collect().map(_.getLong(0))
      val m1 = mfst(t)
      dphase(s"delete_tombstone_$tag") {
        spark.sql(s"DELETE FROM soak.ns.$t WHERE o_orderkey IN " +
          delKeys.mkString("(", ",", ")"))
      }
      dmlN(s"delete_tombstone_${tag}_rewrote_buckets") = touched(t, m1)
      // group/delta UPDATE on a handful of keys
      val m2 = mfst(t)
      dphase(s"update_selective_$tag") {
        spark.sql(s"""UPDATE soak.ns.$t SET o_orderstatus = 'U'
          |WHERE o_orderkey IN (7, 5003, 99991)""".stripMargin)
      }
      dmlN(s"update_selective_${tag}_touched_buckets") = touched(t, m2)
      // fold the tombstone debt, then verify the final state
      dphase(s"compact_fold_$tag") {
        spark.sql(s"CALL soak.system.compact(table => 'ns.$t')")
      }
      val expectDeleted = spark.sql(
        "SELECT count(*) FROM soak_orders WHERE o_orderkey % 5003 = 0")
        .head().getLong(0)
      val fin = spark.table(s"soak.ns.$t").count()
      require(fin == totalOrders - expectDeleted,
        s"$tag DML end state wrong: $fin != $totalOrders - $expectDeleted")
      dmlN(s"final_rows_$tag") = fin
    }
    runDml("ocow", deltaMode = false)
    runDml("odelta", deltaMode = true)
    dmlN("num_buckets") = nb.toLong
    dmlN("table_rows") = totalOrders

    // ---------------- 3c. WAP branch cycle at scale ------------------
    // The publish claim: fork is O(manifest) (zero-copy clone), and
    // publish is O(branch-touched dirs) renames + one delta manifest —
    // both independent of table size. Evidence: their wall times
    // against the O(table) CTAS, plus the adopted-dir count.
    val wapT = "owap"
    dphase("wap_create") {
      spark.sql(s"""CREATE TABLE soak.ns.$wapT USING graft
        |TBLPROPERTIES('keys'='o_orderkey','numBuckets'='$nb')
        |AS SELECT * FROM soak_orders""".stripMargin)
    }
    val wapRoot = s"$work/wh/ns/$wapT"
    dphase("wap_branch") {
      spark.sql(s"CALL soak.system.branch(table => 'ns.$wapT', name => 'stage')")
    }
    spark.table("soak_orders")
      .where(col("o_orderkey") % 100000 === 0)
      .createOrReplaceTempView("soak_wap_src")
    dphase("wap_stage_merge") {
      spark.sql(s"""MERGE INTO soak.ns.$wapT.branch_stage t
        |USING soak_wap_src s ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_orderstatus = 'W'""".stripMargin)
    }
    val wapM0 = mfst(wapT)
    dphase("wap_publish") {
      spark.sql(
        s"CALL soak.system.publish_branch(table => 'ns.$wapT', name => 'stage')")
    }
    dmlN("wap_publish_touched_buckets") = touched(wapT, wapM0)
    dmlN("wap_publish_adopted_dirs") = mfst(wapT).buckets.values
      .map(_.dir.takeWhile(_ != '/')).toSet.count(_.contains("-pub-")).toLong
    require(spark.table(s"soak.ns.$wapT").count() == totalOrders,
      "WAP publish changed the row count")

    // ---------------- 3d. atomic RTAS + tag retention at scale -------
    // The claim: REPLACE TABLE AS SELECT costs the staged write of the
    // NEW content plus an O(adopted-dirs) rename commit — never a copy
    // of the old table. Evidence: replacing the scale-10 order table
    // with its ~handful-row status rollup takes rollup-write time, not
    // table-copy time (compare wap_create, the O(table) CTAS of the
    // same source). A tag pins the pre-replace history through vacuum;
    // dropping it releases the old versions.
    val rtasV0 = graft.store.SnapshotStore.latestVersion(spark, wapRoot).get
    dphase("rtas_replace") {
      spark.sql(s"""REPLACE TABLE soak.ns.$wapT
        |TBLPROPERTIES('keys'='o_orderstatus','numBuckets'='4')
        |AS SELECT o_orderstatus, count(*) AS n
        |FROM soak.ns.$wapT GROUP BY o_orderstatus""".stripMargin)
    }
    val rtasM = mfst(wapT)
    require(rtasM.version == rtasV0 + 1, "RTAS must commit exactly one version")
    dmlN("rtas_adopted_dirs") = rtasM.buckets.values
      .map(_.dir.takeWhile(_ != '/')).toSet.count(_.contains("-rtas-")).toLong
    require(spark.table(s"soak.ns.$wapT")
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
      == totalOrders, "RTAS rollup lost rows")
    spark.sql(s"CALL soak.system.tag(table => 'ns.$wapT', " +
      s"name => 'prereplace', version => $rtasV0)")
    dphase("rtas_vacuum_tag_pinned") {
      spark.sql(s"CALL soak.system.vacuum(table => 'ns.$wapT', keep_last => 1)")
    }
    require(spark.sql(
      s"SELECT count(*) FROM soak.ns.$wapT VERSION AS OF 'prereplace'")
      .head().getLong(0) == totalOrders,
      "tag failed to pin the pre-replace history through vacuum")
    spark.sql(s"CALL soak.system.drop_tag(table => 'ns.$wapT', name => 'prereplace')")
    dphase("rtas_vacuum_released") {
      spark.sql(s"CALL soak.system.vacuum(table => 'ns.$wapT', keep_last => 1)")
    }
    require(graft.store.SnapshotStore.versions(spark, wapRoot)
      .forall(_ >= rtasM.version),
      "drop_tag + vacuum should have reclaimed the replaced history")

    dml.foreach { case (k, v) => println(f"[soak-dml] $k%-32s $v%8.3fs") }
    dmlN.foreach { case (k, v) => println(f"[soak-dml] $k%-32s $v%8d") }

    // ---------------- 3e. concurrent-writer OCC at scale -------------
    // SOAK_r11 proved single-writer O(delta); this section soaks the
    // OCC surface itself (r11 verdict item #5). Claims under test:
    // (a) N writers racing on DISJOINT buckets all commit, and every
    //     lost version race resolves by REBASE (rename + re-point, no
    //     merge recompute) — the merge-callback invocation count is
    //     the direct observable;
    // (b) a branch publish racing a main-table commit has exactly one
    //     winner; the loser's retry path is the documented one
    //     (publish: re-create the branch and re-apply);
    // (c) two racing RTAS both land as single atomic versions, last
    //     writer wins.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    val occ = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val occN = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def ophase[A](name: String)(body: => A): A = {
      val (a, t) = timed(body); occ(name) = t; a
    }
    val nWriters = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters + 2)
    implicit val occEc: ExecutionContext = ExecutionContext.fromExecutor(pool)

    // (a) disjoint-bucket writer fleet
    val occRoot = s"$work/occ_orders"
    val occNb = 64
    ophase("occ_init") {
      SnapshotStore.init(spark, occRoot,
        spark.read.parquet(s"$work/orders.parquet"),
        Seq("o_orderkey"), numBuckets = occNb,
        statsCols = Seq("o_orderkey")): Unit
    }
    val v0occ = SnapshotStore.latestVersion(spark, occRoot).get
    // writer i owns ~200 keys that all hash to bucket i: every racing
    // pair's touched sets are disjoint, so every lost race MUST rebase
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("b").orderBy("o_orderkey")
    val perBucket: Map[Int, Array[Long]] = spark.table("soak_orders")
      .select(col("o_orderkey"),
        SnapshotStore.bucketColumn(Seq(col("o_orderkey")), occNb).as("b"))
      .where(col("b") < nWriters)
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 200)
      .select(col("b"), col("o_orderkey"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).map { case (b, ks) => b -> ks.map(_._2) }
    val mergeRuns = new java.util.concurrent.atomic.AtomicInteger(0)
    val startGate = new java.util.concurrent.CountDownLatch(1)
    val writerFuts = (0 until nWriters).map { i =>
      Future {
        startGate.await()
        val ks = perBucket(i)
        val delta = spark.read.parquet(s"$work/orders.parquet")
          .where(col("o_orderkey").isin(ks.map(Long.box).toSeq: _*))
          .withColumn("o_orderstatus", lit(s"W$i"))
        SnapshotStore.commitDelta(spark, occRoot, delta, Seq("o_orderkey"),
          (cur, d) => {
            mergeRuns.incrementAndGet()
            SnapshotStore.upsertMerge(Seq("o_orderkey"))(cur, d)
          }, maxAttempts = 4 * nWriters)
      }
    }
    val writerVersions = ophase("occ_disjoint_fleet") {
      startGate.countDown()
      Await.result(Future.sequence(writerFuts), 1200.seconds)
    }
    require(writerVersions.toSet.size == nWriters &&
      SnapshotStore.latestVersion(spark, occRoot).get == v0occ + nWriters,
      s"OCC fleet: expected $nWriters distinct commits, got $writerVersions")
    val occState = SnapshotStore.read(spark, occRoot)
    (0 until nWriters).foreach { i =>
      val got = occState.where(col("o_orderstatus") === s"W$i").count()
      require(got == perBucket(i).length,
        s"writer $i lost rows: $got != ${perBucket(i).length}")
    }
    require(occState.count() == totalOrders, "OCC fleet changed row count")
    occN("occ_writers") = nWriters.toLong
    occN("occ_commits") = writerVersions.toSet.size.toLong
    // every writer merges exactly once <=> all lost races REBASED
    // (r13: requires tryRebase's await of a mid-write winner's
    // terminator — without it, losers probing during the winner's
    // flush window fell into full merge recomputes, 3/8 measured)
    occN("occ_merge_recomputes") = (mergeRuns.get() - nWriters).toLong
    // tryRebase's terminator await bounds at 2s — a pathologically slow
    // winner flush can legitimately push a loser into the designed
    // recompute fallback, so allow rare outliers without letting a
    // systematic regression (r13 measured 3/8 pre-fix) slip through
    require(mergeRuns.get() - nWriters <= 1,
      s"disjoint-bucket fleet must resolve lost races by REBASE: " +
        s"${mergeRuns.get() - nWriters} merge recomputes")

    // (b) publish racing a main commit — exactly one winner
    spark.sql(s"CALL soak.system.branch(table => 'ns.ocow', name => 'race')")
    spark.sql(s"""MERGE INTO soak.ns.ocow.branch_race t
      |USING soak_wap_src s ON t.o_orderkey = s.o_orderkey
      |WHEN MATCHED THEN UPDATE SET o_orderstatus = 'R'""".stripMargin)
    val cowRoot = s"$work/wh/ns/ocow"
    val raceBase = SnapshotStore.latestVersion(spark, cowRoot).get
    val pubFut = Future {
      try Right(spark.sql(
        s"CALL soak.system.publish_branch(table => 'ns.ocow', name => 'race')")
        .collect()): Either[Throwable, Any]
      catch { case e: Throwable => Left(e) }
    }
    val commitFut = Future {
      try Right(SnapshotStore.commitDelta(spark, cowRoot,
        spark.read.parquet(s"$work/orders.parquet")
          .where(col("o_orderkey") % 100000 === 1)
          .withColumn("o_orderstatus", lit("M")),
        Seq("o_orderkey"),
        SnapshotStore.upsertMerge(Seq("o_orderkey")))): Either[Throwable, Any]
      catch { case e: Throwable => Left(e) }
    }
    val (pubRes, comRes) = ophase("occ_publish_race") {
      (Await.result(pubFut, 600.seconds), Await.result(commitFut, 600.seconds))
    }
    require(comRes.isRight, s"plain main commit must always land: $comRes")
    pubRes match {
      case Right(_) => // publish won its version; commit rebased after
        occN("occ_publish_race_publish_won") = 1L
        require(SnapshotStore.latestVersion(spark, cowRoot).get == raceBase + 2,
          "publish + commit must be two versions")
      case Left(e) => // commit won: publish refuses with the retry recipe
        occN("occ_publish_race_publish_won") = 0L
        require(e.toString.contains("re-create the branch") ||
          (e.getCause != null && e.getCause.toString.contains("re-create the branch")),
          s"publish loser must carry the documented retry path, got: $e")
    }

    // (c) two racing RTAS: both land atomically, last writer wins
    val rtasResults = ophase("occ_rtas_race") {
      val fa = Future(spark.sql(
        s"""REPLACE TABLE soak.ns.ocow TBLPROPERTIES('keys'='o_orderstatus')
           |AS SELECT o_orderstatus, count(*) AS n
           |FROM soak_orders GROUP BY o_orderstatus""".stripMargin))
      val fb = Future(spark.sql(
        s"""REPLACE TABLE soak.ns.ocow TBLPROPERTIES('keys'='o_orderpriority')
           |AS SELECT o_orderpriority, count(*) AS n
           |FROM soak_orders GROUP BY o_orderpriority""".stripMargin))
      Await.result(Future.sequence(Seq(fa, fb)), 600.seconds)
    }
    require(rtasResults.size == 2, "both racing RTAS must complete")
    val rtasCols = spark.table("soak.ns.ocow").columns.toSeq
    require(rtasCols == Seq("o_orderstatus", "n") ||
      rtasCols == Seq("o_orderpriority", "n"),
      s"racing RTAS end state must be one replacement exactly: $rtasCols")
    occN("occ_rtas_both_landed") = 1L

    // (d) a cross-epoch RESTORE racing a REPLACE — both are contract
    // swaps; the epoch flag + completion-stamp protocol must serialize
    // their swaps in commit order, leaving a coherent head whichever
    // lands last (r13: the swap-serialization + roll-forward round)
    val restoreTargetCols =
      spark.sql(s"SELECT * FROM soak.ns.ocow VERSION AS OF $raceBase")
        .columns.toSeq
    val preRaceV = SnapshotStore.latestVersion(spark, cowRoot).get
    val (resR, repR) = ophase("occ_restore_replace_race") {
      val fr = Future(
        try Right(SnapshotStore.restore(spark, cowRoot, raceBase))
          : Either[Throwable, Long]
        catch { case e: Throwable => Left(e) })
      val fp = Future(
        try Right(spark.sql(
          """REPLACE TABLE soak.ns.ocow TBLPROPERTIES('keys'='o_orderpriority')
            |AS SELECT o_orderpriority, count(*) AS n
            |FROM soak_orders GROUP BY o_orderpriority""".stripMargin))
          : Either[Throwable, Any]
        catch { case e: Throwable => Left(e) })
      (Await.result(fr, 600.seconds), Await.result(fp, 600.seconds))
    }
    require(resR.isRight && repR.isRight,
      s"restore and REPLACE must BOTH land through OCC retries: $resR / $repR")
    val rrHead = SnapshotStore.latestVersion(spark, cowRoot).get
    require(rrHead == preRaceV + 2,
      s"restore + REPLACE must be two committed versions, head at $rrHead")
    val restoreWonLast = resR.toOption.contains(rrHead)
    // the head's live contracts must match whichever swap landed last
    val headCols = spark.table("soak.ns.ocow").columns.toSeq
    val expectCols =
      if (restoreWonLast) restoreTargetCols
      else Seq("o_orderpriority", "n")
    require(headCols == expectCols,
      s"post-race head must carry the LAST swap's schema: got $headCols, " +
        s"expected $expectCols (restoreWonLast=$restoreWonLast)")
    require(SnapshotStore.readProps(spark, cowRoot)("graft.schema.epoch").toLong
      == rrHead, "epoch stamp must sit at the last contract swap's version")
    occN("occ_restore_replace_both_landed") = 1L
    occN("occ_restore_won_last") = if (restoreWonLast) 1L else 0L

    // ---------------- 3f. overlapping-bucket chaos fleet -------------
    // §3e(a)'s fleet is bucket-DISJOINT by construction, so every lost
    // race rebases and the merge never re-runs. This fleet inverts the
    // geometry: every writer's keys hash across the SAME four buckets
    // (disjoint KEYS, shared buckets), so lost races CANNOT rebase —
    // each must take the documented re-merge path. The invariant is
    // exactness: each writer's keys must end at that writer's LAST op
    // (upsert value, or gone if deleted), and bystander rows owned by
    // nobody must pass through every re-merge untouched — a re-merge
    // that reads a stale snapshot, drops a competitor's committed row,
    // or resurrects a deleted key fails the accounting.
    {
      import spark.implicits._
      val chaosRoot = s"$work/occ_chaos"
      val nChaos = 4
      val opsPer = 6
      ophase("chaos_init") {
        SnapshotStore.init(spark, chaosRoot,
          spark.range(1000000L, 1000100L)
            .select(col("id").as("k"), lit(-1L).as("val")),
          Seq("k"), numBuckets = 4): Unit
      }
      val chaosMerges = new java.util.concurrent.atomic.AtomicInteger(0)
      val chaosUpserts = new java.util.concurrent.atomic.AtomicInteger(0)
      val chaosDeletes = new java.util.concurrent.atomic.AtomicInteger(0)
      val chaosGate = new java.util.concurrent.CountDownLatch(1)
      val chaosFuts = (0 until nChaos).map { i =>
        Future {
          chaosGate.await()
          val rnd = new scala.util.Random(1000 + i)
          val myKeys = (i * 100L until i * 100L + 20L).toList
          val last = scala.collection.mutable.Map.empty[Long, Option[Long]]
          (1 to opsPer).foreach { op =>
            val subset = rnd.shuffle(myKeys).take(1 + rnd.nextInt(8))
            if (rnd.nextInt(4) == 0) {
              SnapshotStore.commitDeletes(spark, chaosRoot,
                subset.toDF("k"), Seq("k"), maxAttempts = 8 * nChaos)
              chaosDeletes.incrementAndGet()
              subset.foreach(k => last(k) = None)
            } else {
              val v = i * 1000L + op
              SnapshotStore.commitDelta(spark, chaosRoot,
                subset.toDF("k").withColumn("val", lit(v)),
                Seq("k"), (cur, d) => {
                  chaosMerges.incrementAndGet()
                  SnapshotStore.upsertMerge(Seq("k"))(cur, d)
                }, maxAttempts = 8 * nChaos)
              chaosUpserts.incrementAndGet()
              subset.foreach(k => last(k) = Some(v))
            }
          }
          (i, last.toMap)
        }
      }
      val chaosModels = ophase("chaos_fleet") {
        chaosGate.countDown()
        Await.result(Future.sequence(chaosFuts), 1800.seconds)
      }
      val endState = SnapshotStore.read(spark, chaosRoot)
        .select("k", "val").as[(Long, Long)].collect().toMap
      chaosModels.foreach { case (i, model) =>
        model.foreach {
          case (k, Some(v)) => require(endState.get(k).contains(v),
            s"chaos writer $i: key $k must read $v, got ${endState.get(k)}")
          case (k, None) => require(!endState.contains(k),
            s"chaos writer $i: key $k was deleted last, but survives")
        }
      }
      require((1000000L until 1000100L).forall(k =>
        endState.get(k).contains(-1L)),
        "chaos fleet must not disturb bystander rows")
      occN("chaos_commits") = (chaosUpserts.get() + chaosDeletes.get()).toLong
      occN("chaos_delete_commits") = chaosDeletes.get().toLong
      // recomputes are EXPECTED here (shared buckets make rebases
      // impossible) — recorded, not bounded: the invariant is that
      // every recompute was LOSSLESS, which the accounting above pins
      occN("chaos_merge_recomputes") =
        (chaosMerges.get() - chaosUpserts.get()).toLong
    }

    // ---------------- 3g. contract-op chaos -------------------------
    // §3e races contract swaps PAIRWISE with a deterministic winner
    // count; this section races them RANDOMLY: three threads each run
    // a seeded stream of inserts, MoR deletes, schema-changing
    // REPLACEs, restores to random retained versions, compactions,
    // tags, and checkpoints on ONE catalog table. No content model is
    // possible (the serialization order is whatever OCC produced), so
    // the invariants are the protocol's own: every op either lands or
    // throws a DOCUMENTED conflict (concurrent-modification, or an
    // analysis error from a schema that changed between an op's plan
    // and its execution); after quiescence the epoch stamp sits at the
    // newest epoch-flagged version, every retained version time-travels
    // to a readable two-column frame, and no write-ahead bundle
    // remains. Any other exception type anywhere fails the soak.
    {
      spark.sql(s"""CREATE TABLE soak.ns.chaos (k BIGINT, v BIGINT)
                    USING graft TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
      spark.sql("INSERT INTO soak.ns.chaos VALUES (1, 0)")
      val cRoot = s"$work/wh/ns/chaos"
      val landed = new java.util.concurrent.atomic.AtomicInteger(0)
      val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
      val analysisErrs = new java.util.concurrent.atomic.AtomicInteger(0)
      val epochN = new java.util.concurrent.atomic.AtomicInteger(0)
      val cgate = new java.util.concurrent.CountDownLatch(1)
      def documented(e: Throwable): Boolean = {
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .take(6).toSeq
        chain.exists {
          case _: java.util.ConcurrentModificationException => true
          case x => x.getClass.getName.contains("AnalysisException") ||
            // a racer's schema moved between plan and execution
            x.getMessage != null &&
              (x.getMessage.contains("UNRESOLVED_COLUMN") ||
               x.getMessage.contains("cannot be resolved") ||
               x.getMessage.contains("not enough data columns") ||
               // a stale plan executing across an epoch flip fails the
               // ANSI cast of the old epoch's literals — loud, documented
               x.getMessage.contains("CAST_INVALID_INPUT") ||
               x.getMessage.contains("lost") && x.getMessage.contains("race"))
        }
      }
      val cfuts = (0 until 3).map { t =>
        Future {
          cgate.await()
          val rnd = new scala.util.Random(4000 + t)
          var ok = 0
          (1 to 6).foreach { _ =>
            try {
              rnd.nextInt(7) match {
                case 0 =>
                  val cols = spark.table("soak.ns.chaos").columns
                  val key =
                    if (cols.head == "k") rnd.nextInt(40).toString
                    else s"'x${rnd.nextInt(40)}'"
                  spark.sql(s"INSERT INTO soak.ns.chaos (${cols.mkString(", ")}) " +
                    s"VALUES ($key, ${rnd.nextInt(100)})")
                case 1 =>
                  val cols = spark.table("soak.ns.chaos").columns
                  spark.sql(s"DELETE FROM soak.ns.chaos WHERE ${cols.head} = " +
                    (if (cols.head == "k") rnd.nextInt(40).toString
                     else s"'x${rnd.nextInt(40)}'"))
                case 2 =>
                  val c = s"e${epochN.incrementAndGet()}t$t"
                  spark.sql(s"""REPLACE TABLE soak.ns.chaos
                    TBLPROPERTIES ('keys'='$c')
                    AS SELECT 'r' AS $c, CAST(1 AS BIGINT) AS n""")
                case 3 =>
                  val vs = SnapshotStore.versions(spark, cRoot)
                  SnapshotStore.restore(spark, cRoot,
                    vs(rnd.nextInt(vs.length))): Unit
                case 4 => SnapshotStore.compact(spark, cRoot): Unit
                case 5 => SnapshotStore.createTag(spark, cRoot,
                  s"chaos-t$t-${rnd.nextInt(1000000)}"): Unit
                case 6 => SnapshotStore.checkpoint(spark, cRoot): Unit
              }
              ok += 1
            } catch {
              case e: Throwable if documented(e) =>
                (if (Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
                    .take(6).exists(
                      _.isInstanceOf[java.util.ConcurrentModificationException]))
                  conflicts else analysisErrs).incrementAndGet(): Unit
              case e: Throwable =>
                throw new IllegalStateException(
                  s"contract chaos thread $t hit an UNDOCUMENTED failure", e)
            }
          }
          ok
        }
      }
      val chaosOks = ophase("contract_chaos") {
        cgate.countDown()
        Await.result(Future.sequence(cfuts), 1800.seconds)
      }
      landed.set(chaosOks.sum)
      // quiesce (any contract op heals stragglers), then sweep
      spark.sql("ALTER TABLE soak.ns.chaos SET TBLPROPERTIES ('cq'='1')")
      val stamped = SnapshotStore.readProps(spark, cRoot)("graft.schema.epoch").toLong
      val newestEpoch = spark.sql(
        """SELECT max(version) FROM soak.ns.chaos.meta_history
           WHERE is_epoch_start""").collect().head.getLong(0)
      require(stamped == newestEpoch,
        s"epoch stamp $stamped must sit at the newest flagged version $newestEpoch")
      val retained = SnapshotStore.versions(spark, cRoot)
      retained.foreach { v =>
        val df = spark.sql(s"SELECT * FROM soak.ns.chaos VERSION AS OF $v")
        require(df.columns.length == 2 && df.count() >= 0L,
          s"version $v must time-travel to a readable two-column frame")
      }
      require(!new java.io.File(cRoot).listFiles().exists(
        _.getName.startsWith("_pending_contracts-")),
        "all write-ahead bundles must be consumed after quiescence")
      occN("contract_chaos_landed") = landed.get().toLong
      occN("contract_chaos_conflicts") = conflicts.get().toLong
      occN("contract_chaos_analysis_errs") = analysisErrs.get().toLong
      occN("contract_chaos_retained_versions") = retained.size.toLong
    }
    pool.shutdown()

    occ.foreach { case (k, v) => println(f"[soak-occ] $k%-32s $v%8.3fs") }
    occN.foreach { case (k, v) => println(f"[soak-occ] $k%-32s $v%8d") }

    // ---------------- 4. artifact ------------------------------------
    def jmap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val queriesJson = queryRows.map { case (q, (b, s)) =>
      "\"" + q + "\":{\"base\":" + ms(b) + ",\"soak\":" + ms(s) +
        ",\"ratio\":" + ms(s / b) + "}"
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"soak","scale":$scale,"base_sf":"$baseDir","unit":"sec",""" +
        s""""gen":${jmap(gen)},"queries":$queriesJson,""" +
        s""""maintenance":${jmap(maint)},"pruned_range_rows":$pruned,""" +
        s""""sql_dml":${jmap(dml)},""" +
        s""""sql_dml_counts":${dmlN.map { case (k, v) =>
          "\"" + k + "\":" + v }.mkString("{", ",", "}")},""" +
        s""""occ":${jmap(occ)},""" +
        s""""occ_counts":${occN.map { case (k, v) =>
          "\"" + k + "\":" + v }.mkString("{", ",", "}")},""" +
        s""""final_rows":$finalRows}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
