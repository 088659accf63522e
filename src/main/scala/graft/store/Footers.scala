package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import SnapshotStore.{BucketCol, BucketEntry, attemptDir, readProps, withBucket}
import Identity.{identitySpecs, reserveIdentityBlock}

/** Data-file side of a commit: [[Footers.writeVersionData]] writes a
  * frame under its attempt dir (identity minting, generated columns,
  * NOT NULL / CHECK / delta-key guards fused into one projection) and
  * turns the written parquet FOOTERS into manifest entries (row counts
  * and per-bucket/per-file min/max) without a Spark job whenever they
  * prove the numbers. Also the footer-schema reader every scan of
  * several bucket dirs uses ([[Footers.mergedSchemaRead]]).
  */
private[graft] object Footers {

  /** Bounded driver-side thread pool for footer/listing metadata I/O.
    * The footer-read helpers replaced distributed jobs with driver
    * work (r18); at real scale a commit can reference thousands of
    * dirs/files, and serializing O(files) object-store round-trips on
    * one driver thread would hand the saved job time straight back
    * (guide §5: the driver should do almost no data work — and as
    * little SERIAL metadata work as possible). 8–16 concurrent GETs is
    * the classic sweet spot for footer-sized reads; daemon threads so
    * an exiting driver never hangs on the pool.
    */
  private lazy val footerIoPool: java.util.concurrent.ExecutorService = {
    val n = math.min(16, math.max(4, Runtime.getRuntime.availableProcessors() / 2))
    java.util.concurrent.Executors.newFixedThreadPool(n, (r: Runnable) => {
      val t = new Thread(r, "graft-footer-io")
      t.setDaemon(true)
      t
    })
  }

  /** Map `f` over `xs` on [[footerIoPool]] (order-preserving). The
    * first failing element's own exception rethrows, unwrapped, so a
    * caller sees exactly the sequential failure. `f` must not itself
    * call this (a pool task waiting on the pool can deadlock it).
    */
  private[graft] def parFooterIo[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.sizeIs <= 1) xs.map(f)
    else xs.map { x =>
      footerIoPool.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = f(x)
      })
    }.map { fut =>
      try fut.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }

  /** The parquet files of one data or sidecar directory (`_`- and
    * `.`-prefixed names are markers and checksums).
    */
  private[graft] def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))

  /** Reader for a set of bucket dirs whose union schema spans additive
    * evolution (old rows null-fill new columns). The schema comes from
    * ONE driver-side footer read per DIR — every dir is written by one
    * job under one schema, so per-dir representatives merge to exactly
    * what the distributed `mergeSchema` inference computes, without
    * its every-footer Spark job per scan (the single largest driver
    * cost of the table-lifecycle bench keys — 24% of w09's wall time).
    * Any listing/footer failure falls back to the inference path, so
    * error behavior is unchanged.
    */
  private[graft] def mergedFooterSchema(spark: SparkSession,
                                        dirs: Seq[String]): Option[StructType] =
    mergedOrInference(spark) { hconf =>
      // one listing + footer per dir, read CONCURRENTLY (bounded
      // pool) — at thousands of dirs the old per-dir serial loop was
      // O(dirs) driver round-trips
      parFooterIo(dirs.sorted) { d =>
        val p = new Path(d)
        firstFooterSchema(spark, hconf, dataFiles(p.getFileSystem(hconf), p))
      }
    }

  /** [[mergedFooterSchema]] of dirs the caller has already listed (dir
    * → its [[dataFiles]]), so a caller that goes on to read the files
    * lists each dir once.
    */
  private[graft] def mergedListedSchema(spark: SparkSession,
                                        listed: Seq[(String, Seq[FileStatus])]): Option[StructType] =
    mergedOrInference(spark) { hconf =>
      parFooterIo(listed.sortBy(_._1)) { case (_, files) => firstFooterSchema(spark, hconf, files) }
    }

  /** One dir's schema: the footer of its first data file by name. */
  private def firstFooterSchema(spark: SparkSession, hconf: Configuration,
                                files: Seq[FileStatus]): Option[StructType] =
    files.sortBy(_.getPath.getName).headOption.map(first =>
      org.apache.spark.sql.graft.GraftSqlShims.parquetFooterSchema(spark, hconf, first.getPath))

  /** Merges per-dir footer schemas; None (the caller infers instead)
    * when a dir has no data file or a listing/footer read failed.
    */
  private def mergedOrInference(spark: SparkSession)(
      perDir: Configuration => Seq[Option[StructType]]): Option[StructType] =
    try {
      val schemas = perDir(spark.sessionState.newHadoopConf())
      // a dir with no data file: let inference decide (unchanged)
      if (schemas.isEmpty || schemas.exists(_.isEmpty)) None
      // asNullable matches inference: Spark writes parquet columns
      // nullable, and file-source relations present nullable fields
      else Some(org.apache.spark.sql.graft.GraftSqlShims.asNullable(
        schemas.flatten.reduce(org.apache.spark.sql.graft.GraftSqlShims.mergeStructs)))
    } catch {
      case scala.util.control.NonFatal(e) =>
        // visible because silent fallback = a silent perf regression
        System.err.println(s"[graft] footer-schema read failed " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}) — falling back to inference")
        None
    }

  private[graft] def mergedSchemaRead(spark: SparkSession, dirs: Seq[String])
      : org.apache.spark.sql.DataFrameReader =
    mergedFooterSchema(spark, dirs) match {
      case Some(s) => spark.read.schema(s)
      case None => inferenceFallback(spark, dirs)
    }

  /** The slow path of every footer-schema read: a mergeSchema reader,
    * announced on stderr because a silent fallback is a silent perf
    * regression (the inference job re-reads every footer distributed).
    */
  private[graft] def inferenceFallback(spark: SparkSession, dirs: Seq[String])
      : org.apache.spark.sql.DataFrameReader = {
    System.err.println(
      s"[graft] footer-schema read fell back to mergeSchema inference for ${dirs.take(2).mkString(",")}")
    spark.read.option("mergeSchema", "true")
  }

  /** Per-bucket AND per-file (min, max) of the declared stats columns
    * over freshly written data — ONE O(delta) rollup aggregate per
    * commit, grouped by (bucket, file) with the bucket subtotal rows
    * giving the bucket-level stats (metadata-sized result: ≤ files+
    * buckets rows). The per-file granularity is the micro-partition
    * analog: [[SnapshotStore.readRange]] prunes buckets on the bucket stats, then
    * FILES inside kept buckets on the file stats.
    */
  private def collectStats(written: DataFrame, statsCols: Seq[(String, String)])
      : (Map[Int, Seq[Option[(String, String)]]],
         Map[Int, Map[String, Seq[Option[(String, String)]]]],
         Map[Int, Long]) = {
    if (statsCols.isEmpty) return (Map.empty, Map.empty, Map.empty)
    // min/max are computed in the column's NATIVE type (string-cast
    // first would give lexicographic extremes — "9" > "10"), then
    // string-encoded for the manifest. Row counts ride the SAME rollup
    // (bucket-subtotal rows) — no separate count job per commit.
    val aggs = statsCols.flatMap { case (c, _) =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c"))
    } :+ count(lit(1)).as("__graft_rows")
    def encVal(v: Any): String = v match {
      case t: java.sql.Timestamp => (t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString
      case other => other.toString
    }
    val rows = written
      .withColumn("__file", element_at(split(input_file_name(), "/"), -1))
      .rollup(col(BucketCol), col("__file"))
      .agg(grouping(col(BucketCol)).as("__gb"),
        (grouping(col("__file")).as("__gf") +: aggs): _*)
      .where(col("__gb") === 0) // drop the grand-total row
      .collect()
    // schema: bucket, __file, __gb, __gf, then (mn, mx) pairs
    def statsOf(r: Row): Seq[Option[(String, String)]] = statsCols.indices.map { i =>
      val mn = r.get(4 + 2 * i)
      val mx = r.get(5 + 2 * i)
      if (mn == null || mx == null) None else Some((encVal(mn), encVal(mx)))
    }
    val bucketStats = rows.filter(_.getByte(3) == 1).map { r =>
      r.getInt(0) -> statsOf(r)
    }.toMap
    val fileStats = rows.filter(_.getByte(3) == 0).groupBy(_.getInt(0)).map {
      case (b, rs) => b -> rs.map(r => r.getString(1) -> statsOf(r)).toMap
    }
    val rowCounts = rows.filter(_.getByte(3) == 1).map { r =>
      r.getInt(0) -> r.getLong(4 + 2 * statsCols.size)
    }.toMap
    (bucketStats, fileStats, rowCounts)
  }

  /** Type tags for declared stats columns, from the frame's schema. */
  private[store] def tagStatsCols(df: DataFrame, statsCols: Seq[String]): Seq[(String, String)] =
    statsCols.map { c =>
      c -> (df.schema(c).dataType match {
        case org.apache.spark.sql.types.TimestampType => "ts"
        case org.apache.spark.sql.types.StringType => "str"
        case _: org.apache.spark.sql.types.NumericType => "num"
        case other => throw new IllegalArgumentException(
          s"stats column $c: unsupported type $other (numeric, string, timestamp)")
      })
    }

  /** Write `df`'s rows under this attempt's `v=<n>-<token>/` dir
    * partitioned by bucket; returns bucket → (dir, stats) for the
    * buckets that actually got files.
    *
    * `failRules` validate IN the attempt-dir write: violation counts
    * ride the write job via `observe` (no extra source scan), and a
    * violation deletes the attempt dir and throws BEFORE any manifest
    * is published — abort-before-visibility at zero pre-flight cost
    * (vs [[graft.pipeline.Expectations.validate]]'s documented extra
    * Fail pass). The attempt dir is never referenced, so even a crash
    * mid-abort leaves only vacuum-food.
    */
  private[store] def writeVersionData(df: DataFrame, root: String, v: Long, token: String,
                               keys: Seq[String], numBuckets: Int,
                               statsCols: Seq[(String, String)],
                               fs: FileSystem,
                               failRules: Seq[graft.pipeline.Expectations.Expectation] = Nil)
      : Map[Int, BucketEntry] = {
    import graft.pipeline.Expectations
    val rel = attemptDir(v, token)
    val vdir = new Path(root, rel)
    val obs = if (failRules.isEmpty) None
      else Some(org.apache.spark.sql.Observation())
    // a table declaring `dml.mode=delta` carries the not-null-merge-key
    // contract: reject a null key value IN the write (a guard fused
    // into the projection — no extra pass), so the contract holds over
    // every write path and the non-nullable key schema the connector
    // presents is truthful for all readers
    val props = readProps(df.sparkSession, root)
    // identity columns FIRST (a generation expression may reference
    // one): a NULL value means "mint the next id". The frame goes
    // through ONE deterministic exchange — `repartition(n)` with an
    // EXPLICIT n, which adaptive planning never overrides — so the
    // partition count the lane math assumes is exact by construction
    // (no `.rdd` side-planning, no second execution of the source).
    // monotonically_increasing_id is (partitionId << 33) + rowIndex,
    // so `base + step * monotonic` stays inside the reserved
    // `n << 33` block for any row distribution and is deterministic
    // under task retry; a per-row guard turns any violated assumption
    // into a loud error, never a silent id collision. Non-null values
    // pass through (row-level rewrites copy existing ids; explicit-
    // INSERT policy is the SQL door's, where ALWAYS-mode refuses).
    val idCols = identitySpecs(props)
      .filter { case (c, _) => df.columns.contains(c) }
    val minted =
      if (idCols.isEmpty) df
      else {
        val n = math.max(numBuckets,
          df.sparkSession.sparkContext.defaultParallelism)
        val span = n.toLong << 33
        idCols.foldLeft(df.repartition(n)) { case (d, (cname, spec)) =>
          val base = reserveIdentityBlock(d.sparkSession, root, cname, spec, span)
          val mono = monotonically_increasing_id()
          d.withColumn(cname,
            when(d(cname).isNull,
              when(mono >= span, raise_error(lit(
                s"identity lane overflow minting '$cname' at $root — " +
                  "write partitioning exceeded the reserved block; re-run"))
                .cast(d.schema(cname).dataType))
                .otherwise((lit(base) + lit(spec.step) * mono)
                  .cast(d.schema(cname).dataType)))
              .otherwise(d(cname)))
        }
      }
    // GENERATED ALWAYS AS columns (`generated.<col>` props, recorded
    // at CREATE): a NULL value means "engine, compute it" — which
    // covers INSERTs that omit the column (the analyzer null-fills) —
    // and any non-null value must MATCH the generation expression, or
    // the write refuses. Corollary the spec pins: a row-level UPDATE
    // changing a generation SOURCE must also SET the generated column
    // (to the new value, or to NULL to recompute); silently keeping
    // the stale derived value would corrupt the contract.
    // read ONCE per write: the breadcrumb feeds both the generated-
    // column type lookup and the NOT NULL list below (per-column
    // re-reads would be N filesystem round-trips on the write path)
    val declared = Breadcrumbs.declaredSchema(df.sparkSession, root)
    val generatedFilled = props.toSeq.sortBy(_._1).collect {
      case (k, sql) if k.startsWith("generated.") =>
        (k.stripPrefix("generated."), Breadcrumbs.decPropValue(sql))
    }.foldLeft(minted) { case (d, (gname, sql)) =>
      // CASE-INSENSITIVE membership (Spark's default resolution): a
      // frame supplying "Dollars" for declared "dollars" must flow
      // into the validating branch — the exact-match test would take
      // the omitted branch and silently REPLACE the supplied values
      d.columns.find(_.equalsIgnoreCase(gname)) match {
        case None =>
          // a frame OMITTING the column outright (path/library door —
          // SQL resolves every column) gets it COMPUTED, not silently
          // absent: files lacking the column would null-fill on read
          // under a contract that promises the generated value. The
          // declared type comes from the `_schema` breadcrumb; without
          // one (path-created table carrying generated props — not a
          // reachable state today) the expression's natural type stands.
          val declType = declared
            .flatMap(_.fields.find(_.name.equalsIgnoreCase(gname)))
            .map(_.dataType)
          val e = declType.fold(expr(sql))(t => expr(sql).cast(t))
          d.withColumn(gname, e)
        case Some(actual) =>
          val e = expr(sql).cast(d.schema(actual).dataType)
          d.withColumn(actual,
            when(d(actual).isNull, e)
              .when(!(d(actual) <=> e), raise_error(lit(
                s"generated column '$gname' (GENERATED ALWAYS AS $sql): a " +
                  "written row supplies a value that differs from the " +
                  s"generation expression on the table at $root")))
              .otherwise(d(actual)))
      }
    }
    val checked =
      if (keys.isEmpty || !props.get("dml.mode").contains("delta")) generatedFilled
      else keys.foldLeft(generatedFilled)((d, k) => d.withColumn(k,
        when(col(k).isNull, raise_error(lit(
          s"null merge key '$k' rejected: the table at $root declares " +
            "dml.mode=delta, whose row-identity contract requires " +
            "non-null merge keys"))).otherwise(col(k))))
    // ANSI NOT NULL (declared at CREATE, recorded in the `_schema`
    // breadcrumb): fused into the same projection, so EVERY write door
    // rejects a null in a declared non-nullable column — which is what
    // makes the non-nullable read schema truthful. SQL writes also get
    // Spark's own ANSI store-assignment runtime check; this guard
    // covers the library/path/streaming doors that never pass the
    // analyzer. A source frame MISSING the column is caught too: the
    // upsert merge null-fills its rows before this projection runs.
    val notNullCols = declared
      .map(_.fields.toSeq.filter(!_.nullable).map(_.name)).getOrElse(Nil)
    // a frame MISSING the column outright must refuse too: on the
    // overwrite/init doors nothing merges a null in for the guard to
    // catch — the files would simply lack the column, and reads would
    // null-fill under a schema that promises non-null (silently wrong
    // IS NULL folding). Append doors are unaffected: the upsert merge
    // materializes the column before this projection runs.
    // case-INSENSITIVE matching, like the generated-column block above:
    // a library/path-door frame supplying 'ID' for declared NOT NULL
    // 'id' resolves fine everywhere else in Spark (default resolver),
    // so a case-sensitive presence check would spuriously reject it as
    // omitting the column — and the guard below must address the
    // frame's ACTUAL column name (StructType.apply is exact-match)
    locally {
      val missing = notNullCols.filterNot(n =>
        checked.columns.exists(_.equalsIgnoreCase(n)))
      require(missing.isEmpty,
        s"write to $root omits declared NOT NULL column(s) " +
          s"${missing.mkString(", ")} — a null-filled history would " +
          "violate the declaration")
    }
    val notNullGuarded = notNullCols
      .foldLeft(checked) { (d, declaredName) =>
        val c = d.columns.find(_.equalsIgnoreCase(declaredName))
          .getOrElse(declaredName)
        d.withColumn(c,
          when(col(c).isNull, raise_error(lit(
            s"NOT NULL column '$c' rejected a null value on the table at " +
              root)).cast(d.schema(c).dataType)).otherwise(col(c)))
      }
    // ANSI CHECK constraints (`constraint.check.<name>` props, recorded
    // by the catalog's ADD CONSTRAINT after validating existing data):
    // fused into the same projection — ANY write path (SQL, library,
    // path-based, streaming, DML rewrite) rejects a violating row at
    // write time. ANSI semantics: only a FALSE predicate violates
    // (NULL passes).
    val constrained = props.toSeq.sortBy(_._1).collect {
      case (k, sql) if k.startsWith("constraint.check.") =>
        (k.stripPrefix("constraint.check."), sql)
    }.foldLeft(notNullGuarded) { case (d, (cname, sql)) =>
      val anchor = d.columns.head
      d.withColumn(anchor,
        when(coalesce(expr(sql), lit(true)) === false, raise_error(lit(
          s"CHECK constraint '$cname' ($sql) violated by a written row " +
            s"on the table at $root"))).otherwise(col(anchor)))
    }
    val bucketed = withBucket(constrained, keys, numBuckets)
    val observed = obs.fold(bucketed) { o =>
      val counts = failRules.map(e =>
        sum(Expectations.violated(e).cast("long")).as(e.name))
      bucketed.observe(o, counts.head, counts.tail: _*)
    }
    // `write.clustered=true` (TBLPROPERTIES, opt-in — the
    // optimized-write analog): ONE exchange pins each bucket to a
    // single task, so every commit lands exactly one file per touched
    // bucket instead of one per (shuffle partition × bucket). Trades
    // an extra shuffle of the rewrite data for zero fragmentation —
    // right for trickle-upsert tables that would otherwise accrue
    // compaction debt every commit; leave off for huge bulk loads
    // where write parallelism above numBuckets matters more.
    val placed =
      if (props.get("write.clustered").contains("true"))
        observed.repartition(numBuckets, col(BucketCol))
      else observed
    placed.write.mode("overwrite").partitionBy(BucketCol).parquet(vdir.toString)
    obs.foreach { o =>
      val counts = o.get
      failRules.foreach { e =>
        val n = counts.get(e.name).collect { case l: Long => l }.getOrElse(0L)
        if (n > 0) {
          fs.delete(vdir, true)
          throw new Expectations.FailedExpectationException(e.name, n)
        }
      }
    }
    writtenEntries(df.sparkSession, root, rel, fs, statsCols, placed.schema)
  }

  /** The manifest entries of a freshly written attempt dir `rel` (its
    * `schema` is the written frame's): per bucket that got files, its
    * dir, exact row count, and the min/max of `statsCols` per bucket
    * and per file. Bookkeeping minimized per guide §1.2/§2.4: the
    * just-written parquet FOOTERS, read on the driver, answer it with
    * ZERO Spark jobs whenever they prove the job's numbers
    * ([[footerBucketStats]]); otherwise ONE job over an explicit-schema
    * read (Spark 4's ParquetUtils.inferSchema would launch an
    * inference job even for one footer) — the stats rollup
    * ([[collectStats]], which rides the row counts along), or with no
    * stats columns the count job ([[bucketRowCounts]]).
    */
  private[store] def writtenEntries(spark: SparkSession, root: String, rel: String,
                             fs: FileSystem, statsCols: Seq[(String, String)],
                             schema: org.apache.spark.sql.types.StructType)
      : Map[Int, BucketEntry] = {
    val vdir = new Path(root, rel)
    if (!fs.exists(vdir)) return Map.empty
    val bucketNames = fs.listStatus(vdir).toSeq
      .map(_.getPath.getName).filter(_.startsWith(s"$BucketCol="))
    if (bucketNames.isEmpty) return Map.empty
    val (stats, fstats, counts) =
      footerBucketStats(spark, vdir, bucketNames, fs, statsCols, schema).getOrElse {
        if (statsCols.isEmpty) (Map.empty[Int, Seq[Option[(String, String)]]],
          Map.empty[Int, Map[String, Seq[Option[(String, String)]]]],
          bucketRowCounts(spark, vdir.toString))
        else collectStats(spark.read.schema(schema).parquet(vdir.toString), statsCols)
      }
    bucketNames.map { name =>
      val b = name.stripPrefix(s"$BucketCol=").toInt
      b -> BucketEntry(s"$rel/$name", stats.getOrElse(b, statsCols.map(_ => None)),
        fstats.getOrElse(b, Map.empty), Nil, counts.getOrElse(b, 0L))
    }.toMap
  }

  /** Exact per-bucket row counts, plus per-bucket AND per-file
    * min/max stats for declared INTEGRAL stats columns, from the
    * attempt dir's parquet FOOTERS on the driver — zero Spark jobs
    * (guide §1.2/§6: a stats rollup or count job re-reads what was
    * just written; a committed footer's row counts are final, and its
    * column statistics carry the same min/max for integral columns,
    * exactly). Returns None (→ the job) when any stats column is
    * non-integral (string/timestamp encodings are the job's; a
    * float/double footer can report -0.0 where the job's min() says
    * 0.0), missing from a footer, or carries absent statistics, or on
    * any I/O surprise — so the fallback keeps behavior bit-identical
    * whenever the footer path cannot PROVE the same numbers. With no
    * stats columns it answers the row counts alone (and no file stats).
    */
  private def footerBucketStats(spark: SparkSession, vdir: Path,
                                bucketNames: Seq[String], fs: FileSystem,
                                statsCols: Seq[(String, String)],
                                dataSchema: org.apache.spark.sql.types.StructType)
      : Option[(Map[Int, Seq[Option[(String, String)]]],
                Map[Int, Map[String, Seq[Option[(String, String)]]]],
                Map[Int, Long])] = {
    import org.apache.spark.sql.types._
    val supported = statsCols.forall { case (c, tag) =>
      tag == "num" && (dataSchema.fields.find(_.name == c).map(_.dataType) match {
        case Some(LongType | IntegerType | ShortType | ByteType) => true
        case _ => false
      })
    }
    if (!supported) return None
    try {
      import scala.jdk.CollectionConverters._
      val hconf = spark.sessionState.newHadoopConf()
      // list bucket dirs concurrently, then read EVERY file's footer
      // concurrently (bounded pool) — a per-file serial loop was the
      // scale hazard the r18 verdict flagged (O(files) driver
      // round-trips per commit)
      val perBucket = parFooterIo(bucketNames) { name =>
        val b = name.stripPrefix(s"$BucketCol=").toInt
        b -> dataFiles(fs, new Path(vdir, name)).map(_.getPath)
      }
      // one footer read per file: (bucket, fileName, rows, per-col min/max)
      val perFile = parFooterIo(perBucket.flatMap { case (b, ps) => ps.map(b -> _) }) {
        case (b, path) =>
          val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            hconf, path,
            org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
          val blocks = footer.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          val colStats: Seq[Option[(Comparable[Any], Comparable[Any])]] = statsCols.map { case (c, _) =>
            // merge min/max across this file's row groups; any block
            // with absent/unusable stats poisons the whole attempt
            var mn: Comparable[Any] = null
            var mx: Comparable[Any] = null
            blocks.foreach { blk =>
              val col = blk.getColumns.asScala
                .find(_.getPath.toDotString == c)
                .getOrElse(throw new IllegalStateException(s"no column chunk for $c"))
              val st = col.getStatistics
              if (st == null) throw new IllegalStateException(s"no statistics for $c")
              if (st.hasNonNullValue) {
                val bMn = st.genericGetMin.asInstanceOf[Comparable[Any]]
                val bMx = st.genericGetMax.asInstanceOf[Comparable[Any]]
                if (mn == null || bMn.compareTo(mn) < 0) mn = bMn
                if (mx == null || bMx.compareTo(mx) > 0) mx = bMx
              } else if (!st.isNumNullsSet || st.getNumNulls != blk.getRowCount) {
                // not provably all-null: stats were omitted (e.g. NaN) —
                // cannot reproduce the job's numbers from here
                throw new IllegalStateException(s"unusable statistics for $c")
              } // else: all-null block, contributes nothing (like the job's min/max)
            }
            if (mn == null || mx == null) None
            else Some((mn, mx))
          }
          (b, path.getName, rows, colStats)
      }
      val byBucket = perFile.groupBy(_._1)
      val counts = perBucket.map { case (b, _) =>
        b -> byBucket.get(b).fold(0L)(_.map(_._3).sum)
      }.toMap
      val fileStats =
        if (statsCols.isEmpty) Map.empty[Int, Map[String, Seq[Option[(String, String)]]]]
        else byBucket.map { case (b, fs0) =>
          b -> fs0.map { case (_, name, _, cs) =>
            name -> cs.map(_.map { case (mn, mx) => (mn.toString, mx.toString) })
          }.toMap
        }
      // merge per-file extremes under the SAME Comparable ordering the
      // per-file merge used (all files share one primitive type)
      implicit val cmpOrd: Ordering[Comparable[Any]] =
        (a: Comparable[Any], b: Comparable[Any]) => a.compareTo(b)
      val bucketStats = byBucket.map { case (b, fs0) =>
        b -> statsCols.indices.map { i =>
          val present = fs0.flatMap(_._4(i))
          if (present.isEmpty) None
          else Some((present.map(_._1).min.toString,
            present.map(_._2).max.toString))
        }
      }
      Some((bucketStats, fileStats, counts))
    } catch {
      case scala.util.control.NonFatal(e) =>
        val (what, job) = if (statsCols.isEmpty) ("row-count", "a count job")
          else ("stats", "the stats job")
        System.err.println(s"[graft] footer $what read failed " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}) — falling back to $job")
        None
    }
  }

  /** Exact per-bucket row counts of a freshly written attempt dir —
    * an empty-projection count over partitioned parquet, which the
    * vectorized reader answers from footer row counts alone (no data
    * pages) — O(files) metadata, not O(rows). Feeds the manifest's
    * `rows:` lines (COUNT(*) pushdown / reported statistics).
    * An attempt dir with NO bucket partitions (a tombstone fold that
    * emptied every rewritten bucket writes only _SUCCESS) counts as
    * empty — `read.parquet` on it would fail schema inference.
    */
  private def bucketRowCounts(spark: SparkSession, vdir: String): Map[Int, Long] = {
    val p = new Path(vdir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val anyBucket = fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith(s"$BucketCol="))
    if (!anyBucket) Map.empty
    else spark.read.parquet(vdir).groupBy(col(BucketCol)).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }
}
