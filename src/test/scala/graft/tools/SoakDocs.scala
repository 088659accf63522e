package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.TextFuncs
import graft.operators.{Dedup, Similarity}
import graft.sources.DataGen
import graft.store.SnapshotStore
import graft.streaming.StreamPipeline

/** Documents-side STREAMING soak (r13 verdict item 3): run the three
  * LLM-data maintenance sinks — [[StreamPipeline.passageDedupStream]],
  * [[Similarity.ivfIndexSink]], [[Dedup.nearDupIndexSink]] — plus the
  * stateless [[StreamPipeline.contaminationGuard]] under a LONG
  * micro-batch run (one file per trigger, Trigger.AvailableNow) over a
  * scale×-synthesized corpus, with the RocksDB state store provider,
  * and assert stream ≡ batch at the end of each:
  *
  *  - passage dedup streams the corpus TWICE (2×`nDocFiles` batches):
  *    pass 2 must emit ZERO rows and add ZERO state — state is
  *    content-addressed (one boolean per distinct passage), so it
  *    tracks corpus CONTENT, not stream length. Survivors must equal
  *    the batch first-occurrence set exactly. Per-batch state totals
  *    come from the query progress log (RocksDB numRowsTotal).
  *  - ivfIndexSink lands one atomic snapshot version per batch; the
  *    final index must equal batch ivfAssign over the union corpus;
  *    the imbalance hook fires on its documented cadence.
  *  - nearDupIndexSink likewise; the final band index must equal batch
  *    minhashBands, and a probe's candidates against the streamed
  *    index must equal the same probe against the batch frame.
  *  - contaminationGuard runs every batch APPEND-mode with an empty
  *    stateOperators list — the zero-state row ("flat across
  *    batches") the 100 TB story needs: benchmark decontamination
  *    costs a broadcast, never state.
  *
  * Emits one JSON line (SOAK_r14.json by default). Usage:
  *   Test/runMain graft.tools.SoakDocs [scale] [workDir] [outJson]
  */
object SoakDocs {
  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val work = if (args.length > 1) args(1) else "/tmp/graft_soak_docs"
    val outJson = if (args.length > 2) args(2) else "SOAK_r14.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ").head.toDouble
      catch { case _: Throwable => -1.0 }
    val load0 = loadavg()

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, math.round((System.nanoTime() - t0) / 1e6) / 1e3)
    }
    def ms(v: Double): Double = math.round(v * 1000) / 1000.0
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // ------------- corpus + one file per future micro-batch ----------
    val nDocs = 5000L * scale
    val nVecs = 2000L * scale
    val nDocFiles = 40
    val nVecFiles = 20
    val docsPath = s"$work/documents.parquet"
    val (_, tGen) = timed {
      DataGen.documents(spark, nDocs).write.mode("overwrite").parquet(docsPath)
      DataGen.embeddings(spark, nVecs).write.mode("overwrite")
        .parquet(s"$work/embeddings.parquet")
    }
    times("gen") = tGen
    val docs = spark.read.parquet(docsPath)
    val embs = spark.read.parquet(s"$work/embeddings.parquet")

    /** Carve `df` into `n` single-file contiguous id-range slices named
      * so LIST order == id order == modification-time order: the file
      * stream source then delivers ids in ascending order, which makes
      * the stream's first-occurrence winner the GLOBAL first occurrence
      * — the exact batch-d08 tie-break, comparable set-for-set.
      * `tag` offsets the file names so a second pass sorts after the
      * first.
      */
    def carve(df: DataFrame, idCol: String, total: Long, n: Int,
              dir: String, tag: Int): Unit = {
      val per = (total + n - 1) / n
      (0 until n).foreach { i =>
        val tmp = s"$dir-tmp"
        df.where(col(idCol) >= i * per && col(idCol) < (i + 1) * per)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new Path(tmp))
          .map(_.getPath).find(_.getName.startsWith("part-")).get
        fs.mkdirs(new Path(dir))
        fs.rename(part, new Path(dir, f"b${tag * 10000 + i}%05d.parquet"))
        fs.delete(new Path(tmp), true)
        Thread.sleep(2) // distinct mtimes: source order == name order
      }
    }

    val docStream1 = s"$work/docs_stream"
    val (_, tCarve) = timed {
      carve(docs, "doc_id", nDocs, nDocFiles, docStream1, tag = 0)
      carve(embs, "vec_id", nVecs, nVecFiles, s"$work/emb_stream", tag = 0)
    }
    times("carve") = tCarve

    def runAvailableNow(q: StreamingQuery): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      q.awaitTermination()
      q.recentProgress.toSeq.filter(_.numInputRows >= 0)
    }
    def fileStream(dir: String, like: DataFrame): DataFrame =
      spark.readStream.schema(like.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)

    // ------------- A. passage dedup: corpus streamed TWICE -----------
    val pdOut = s"$work/pdedup_out"
    val pdCkpt = s"$work/pdedup_ckpt"
    def startPassageQuery(): StreamingQuery =
      StreamPipeline.passageDedupStream(fileStream(docStream1, docs), "text", "doc_id")
        .writeStream.format("parquet")
        .option("path", pdOut).option("checkpointLocation", pdCkpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()

    val (prog1, tPass1) = timed(runAvailableNow(startPassageQuery()))
    times("passage_pass1") = tPass1
    val stateAfter1 = prog1.flatMap(_.stateOperators.headOption)
      .lastOption.map(_.numRowsTotal).getOrElse(-1L)
    val emitted1 = spark.read.parquet(pdOut).count()

    // pass 2: the SAME corpus re-arrives as fresh files
    carve(docs, "doc_id", nDocs, nDocFiles, docStream1, tag = 1)
    val (prog2, tPass2) = timed(runAvailableNow(startPassageQuery()))
    times("passage_pass2") = tPass2
    val stateByBatch2 = prog2.flatMap(_.stateOperators.headOption)
      .map(_.numRowsTotal)
    val stateAfter2 = stateByBatch2.lastOption.getOrElse(-2L)
    val emitted2 = spark.read.parquet(pdOut).count() - emitted1

    // batch twin: global first occurrence per distinct passage
    val passages = docs
      .select(col("doc_id"), TextFuncs.tokens(col("text")).as("__t"))
      .where(size(col("__t")) > 0)
      .select(col("doc_id"),
        posexplode(TextFuncs.passageChunks(col("__t"), 8)).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk"))
    val firstOcc = passages
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("chunk")).orderBy(col("doc_id"), col("chunk_idx"))))
      .where(col("__rn") === 1).drop("__rn")
    val streamedP = spark.read.parquet(pdOut)
      .select("doc_id", "chunk_idx", "chunk")
    val (pdDiff, tPdCmp) = timed(
      streamedP.exceptAll(firstOcc).count() + firstOcc.exceptAll(streamedP).count())
    times("passage_batch_compare") = tPdCmp
    val distinctChunks = passages.select("chunk").distinct().count()
    counts("passage_batches") = (prog1.size + prog2.size).toLong
    counts("passage_survivors") = emitted1
    counts("passage_distinct_chunks") = distinctChunks
    counts("passage_state_rows_pass1") = stateAfter1
    counts("passage_state_rows_pass2") = stateAfter2
    counts("passage_pass2_emitted") = emitted2
    counts("passage_stream_vs_batch_diff") = pdDiff
    assert(pdDiff == 0, "passage stream ≠ batch first-occurrence")
    assert(emitted2 == 0, s"pass 2 re-emitted $emitted2 passages")
    assert(stateAfter1 == distinctChunks && stateAfter2 == distinctChunks,
      s"state must equal distinct-passage count: $stateAfter1/$stateAfter2 vs $distinctChunks")
    assert(stateByBatch2.forall(_ == distinctChunks),
      "state grew during pass 2 — not content-addressed")
    println(s"[soak-docs] passage: ${counts("passage_batches")} batches, " +
      s"$emitted1 survivors, state flat at $distinctChunks across pass 2")

    // ------------- B. IVF index maintenance --------------------------
    val ivfRoot = s"$work/ivf_index"
    val nlist = 16
    val (cents, tTrain) = timed(
      Similarity.ivfTrain(embs, "vec_id", "embedding", nlist = nlist))
    times("ivf_train") = tTrain
    var imbalanceCalls = 0
    val (ivfProg, tIvf) = timed {
      val q = Similarity.ivfIndexSink(
        fileStream(s"$work/emb_stream", embs), ivfRoot, s"$work/ivf_ckpt",
        "vec_id", "embedding", cents, numBuckets = 16,
        maxBalanceRatioE6 = 1500000L, balanceCheckEvery = 8,
        onImbalance = _ => imbalanceCalls += 1)
      // foreachBatch sinks don't propagate AvailableNow from the
      // writeStream builder inside the helper — drain and stop instead
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      q.recentProgress.toSeq
    }
    times("ivf_stream") = tIvf
    val ivfVersions = SnapshotStore.versions(spark, ivfRoot)
    val streamedIdx = SnapshotStore.read(spark, ivfRoot).select("vec_id", "list_id")
    val batchIdx = Similarity.ivfAssign(embs, "vec_id", "embedding", cents)
      .select("vec_id", "list_id")
    val (ivfDiff, tIvfCmp) = timed(
      streamedIdx.exceptAll(batchIdx).count() + batchIdx.exceptAll(streamedIdx).count())
    times("ivf_batch_compare") = tIvfCmp
    counts("ivf_batches") = ivfProg.count(_.numInputRows > 0).toLong
    counts("ivf_versions") = ivfVersions.size.toLong
    counts("ivf_rows") = SnapshotStore.read(spark, ivfRoot).count()
    counts("ivf_stream_vs_batch_diff") = ivfDiff
    counts("ivf_imbalance_calls") = imbalanceCalls.toLong
    assert(ivfDiff == 0, "ivf stream index ≠ batch ivfAssign")
    assert(counts("ivf_rows") == nVecs)
    assert(ivfVersions.size == nVecFiles,
      s"one atomic version per batch: ${ivfVersions.size} vs $nVecFiles")
    println(s"[soak-docs] ivf: ${ivfVersions.size} versions, " +
      s"${counts("ivf_rows")} rows, $imbalanceCalls imbalance calls")

    // ------------- C. near-dup band index maintenance ----------------
    val ndRoot = s"$work/neardup_index"
    val docStream2 = s"$work/docs_stream2"
    carve(docs, "doc_id", nDocs, nDocFiles, docStream2, tag = 0)
    val (ndProg, tNd) = timed {
      val q = Dedup.nearDupIndexSink(
        fileStream(docStream2, docs), ndRoot, s"$work/nd_ckpt",
        "text", "doc_id", numBuckets = 16)
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      q.recentProgress.toSeq
    }
    times("neardup_stream") = tNd
    val streamedNd = SnapshotStore.read(spark, ndRoot)
      .select("doc_id", "band_idx", "band_key")
    val batchNd = Dedup.minhashBands(docs, "text", "doc_id")
      .select("doc_id", "band_idx", "band_key")
    val (ndDiff, tNdCmp) = timed(
      streamedNd.exceptAll(batchNd).count() + batchNd.exceptAll(streamedNd).count())
    times("neardup_batch_compare") = tNdCmp
    // probe equivalence: candidates against the STREAMED index ==
    // against the batch band frame, and the planted near-dups surface
    val probe = docs.where(col("doc_id") % 97 === 0)
    val candS = Dedup.nearDupCandidatesAgainst(
      SnapshotStore.read(spark, ndRoot), probe, "text", "doc_id")
    val candB = Dedup.nearDupCandidatesAgainst(batchNd, probe, "text", "doc_id")
    val (candDiff, tCand) = timed(
      candS.exceptAll(candB).count() + candB.exceptAll(candS).count())
    times("neardup_probe_compare") = tCand
    counts("neardup_batches") = ndProg.count(_.numInputRows > 0).toLong
    counts("neardup_versions") = SnapshotStore.versions(spark, ndRoot).size.toLong
    counts("neardup_rows") = SnapshotStore.read(spark, ndRoot).count()
    counts("neardup_stream_vs_batch_diff") = ndDiff
    counts("neardup_probe_candidates") = candS.count()
    counts("neardup_probe_diff") = candDiff
    assert(ndDiff == 0, "near-dup stream index ≠ batch minhashBands")
    assert(candDiff == 0, "probe candidates differ stream vs batch")
    assert(counts("neardup_probe_candidates") > 0, "planted near-dups not surfaced")
    println(s"[soak-docs] neardup: ${counts("neardup_versions")} versions, " +
      s"${counts("neardup_rows")} band rows, " +
      s"${counts("neardup_probe_candidates")} probe candidates")

    // ------------- D. decontamination guard: zero state --------------
    val bench = docs.where(col("doc_id") % 50 === 0).select("text")
    val (cgProg, tCg) = timed {
      val q = StreamPipeline.contaminationGuard(
          fileStream(docStream2, docs), bench, "text", "doc_id", "text")
        .writeStream.format("parquet")
        .option("path", s"$work/contam_out")
        .option("checkpointLocation", s"$work/contam_ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      runAvailableNow(q)
    }
    times("contam_stream") = tCg
    val cgStateRows = cgProg.map(_.stateOperators.length.toLong)
    val cgHits = spark.read.parquet(s"$work/contam_out")
      .where(col("is_benchmark_hit")).count()
    counts("contam_batches") = cgProg.count(_.numInputRows > 0).toLong
    counts("contam_state_operators") = cgStateRows.sum
    counts("contam_hits") = cgHits
    assert(cgStateRows.forall(_ == 0L),
      "contaminationGuard grew stream state — it must stay a stateless annotation")
    assert(cgHits > 0, "benchmark passages sampled from the corpus must hit")
    println(s"[soak-docs] contam: ${counts("contam_batches")} batches, " +
      s"ZERO state operators, $cgHits hit passages")

    // ------------- artifact ------------------------------------------
    val loadN = loadavg()
    def jmap[A](m: Iterable[(String, A)])(f: A => String): String =
      m.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"soak_docs","scale":$scale,"unit":"sec",""" +
        s""""docs":$nDocs,"vectors":$nVecs,""" +
        s""""loadavg_start":$load0,"loadavg_end":$loadN,""" +
        s""""times":${jmap(times)(v => ms(v).toString)},""" +
        s""""counts":${jmap(counts)(_.toString)}}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
