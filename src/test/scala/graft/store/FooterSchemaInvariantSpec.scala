package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the invariant `SnapshotStore.mergedFooterSchema` relies on
  * (r18 optimization: one driver-side footer read per bucket dir
  * replaces the distributed mergeSchema inference job): EVERY data
  * file inside one bucket dir carries the same parquet schema, because
  * each version dir is written by exactly one job under one write
  * schema. If a future change ever appends a second schema into an
  * existing dir, this spec fails loudly instead of the scan silently
  * null-filling columns the representative footer doesn't know about
  * (r18 VERDICT "what's wrong" #4 / ADVICE medium).
  */
class FooterSchemaInvariantSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-footer-$tag").toString

  private def footerSchemas(dir: String) = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map(st => org.apache.spark.sql.graft.GraftSqlShims
        .parquetFooterSchema(spark, hconf, st.getPath))
  }

  test("every bucket dir of every committed version holds ONE footer schema") {
    val root = tmpDir("inv")
    // several input partitions so bucket dirs hold >1 data file —
    // the case where a per-dir representative could lie
    val v0 = spark.range(0, 4000, 1, 8)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"),
        (col("id") % 97).as("ts"))
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4)
    val delta = Seq((1L, "v1b", 200L), (2L, "v2b", 200L), (4001L, "new", 200L))
      .toDF("k", "v", "ts")
    SnapshotStore.commitDelta(spark, root, delta, Seq("k"),
      SnapshotStore.upsertMerge(Seq("k")))

    val latest = SnapshotStore.latestVersion(spark, root).get
    val dirs = (0L to latest).flatMap { v =>
      SnapshotStore.readManifest(spark, root, v).buckets.values
        .map(e => new Path(root, e.dir).toString)
    }.distinct
    assert(dirs.nonEmpty)
    var multiFileDirs = 0
    dirs.foreach { d =>
      val schemas = footerSchemas(d)
      assert(schemas.nonEmpty, s"no data files in $d")
      if (schemas.size > 1) multiFileDirs += 1
      assert(schemas.distinct.size == 1,
        s"bucket dir $d mixes footer schemas: ${schemas.distinct.mkString(" vs ")}")
    }
    // the test must actually exercise the >1-file case or it proves nothing
    assert(multiFileDirs > 0, "no bucket dir held more than one file — widen the input")
  }

  test("mergedFooterSchema unions per-dir representatives exactly like mergeSchema inference") {
    // two dirs with additively-evolved schemas — the cross-DIR merge
    // (per-dir homogeneity is the invariant above; across dirs the
    // helper must union like the inference job it replaces)
    val base = tmpDir("merge")
    val d1 = s"$base/old"
    val d2 = s"$base/new"
    Seq((1L, "a")).toDF("k", "v").write.parquet(d1)
    Seq((2L, "b", 9L)).toDF("k", "v", "extra").write.parquet(d2)
    val got = SnapshotStore.mergedFooterSchema(spark, Seq(d1, d2))
    val inferred = spark.read.option("mergeSchema", "true")
      .parquet(d1, d2).schema
    assert(got.contains(inferred),
      s"footer merge $got != inference $inferred")
  }

  test("numeric manifest stats from footers == the rollup job's numbers (r19 footer-stats path)") {
    // two tables with IDENTICAL content: one whose numeric statsCols
    // take the r19 footer path, and a reference whose stats are forced
    // through the rollup job by adding a string stats column (strings
    // keep the job). Per-bucket min/max and row counts must agree
    // exactly — the footer path must be indistinguishable.
    // A DOUBLE stats column whose minimum is 0.0 rides along: its
    // footer min reads -0.0 where the job's min() says 0.0, so it must
    // not take the footer path.
    val rows = spark.range(0, 3000, 1, 6)
      .select(col("id").as("k"), (col("id") % 1000 - 500).as("ts"),
        concat(lit("v"), col("id")).as("v"), (col("id") % 3).cast("double").as("d"))
    val footerRoot = tmpDir("fstats")
    val jobRoot = tmpDir("jstats")
    val doubleRoot = tmpDir("dstats")
    SnapshotStore.init(spark, footerRoot, rows, Seq("k"), numBuckets = 4,
      statsCols = Seq("ts"))
    SnapshotStore.init(spark, jobRoot, rows, Seq("k"), numBuckets = 4,
      statsCols = Seq("ts", "v", "d"))
    SnapshotStore.init(spark, doubleRoot, rows, Seq("k"), numBuckets = 4,
      statsCols = Seq("d"))
    val mD = SnapshotStore.readManifest(spark, doubleRoot, 0L)
    val mF = SnapshotStore.readManifest(spark, footerRoot, 0L)
    val mJ = SnapshotStore.readManifest(spark, jobRoot, 0L)
    assert(mF.buckets.keySet == mJ.buckets.keySet)
    mF.buckets.foreach { case (b, eF) =>
      val eJ = mJ.buckets(b)
      assert(eF.stats.head == eJ.stats.head,
        s"bucket $b ts stats diverge: footer=${eF.stats.head} job=${eJ.stats.head}")
      assert(eF.rows == eJ.rows, s"bucket $b row counts diverge")
      assert(mD.buckets(b).stats.head == eJ.stats(2),
        s"bucket $b d stats diverge: ${mD.buckets(b).stats.head} vs job=${eJ.stats(2)}")
    }
    // and pruning still behaves on the footer-derived stats
    val pruned = SnapshotStore.read(spark, footerRoot).where(col("ts") === -500L)
    assert(pruned.count() == rows.where(col("ts") === -500L).count())
  }

  test("mergedFooterSchema is None (loud inference fallback) when a dir has no data file") {
    val base = tmpDir("empty")
    val d1 = s"$base/only"
    Files.createDirectories(java.nio.file.Paths.get(d1))
    assert(SnapshotStore.mergedFooterSchema(spark, Seq(d1)).isEmpty)
  }
}
