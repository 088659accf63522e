package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFuncs, VecFuncs}
import graft.operators.{Dedup, Similarity}
import graft.sources.DataGen

/** Scale-growth soak (r14 verdict item #5): pin the sub-quadratic
  * exponents of the LLM-data operators EMPIRICALLY, not just by
  * design. Runs the work-counter measurements for d02 (MinHash-LSH
  * banding), d08 (passage dedup), d10 (SemDeDup) and s07 (IVF-PQ
  * probe) at two corpus scales (default 10 and 100 — 50k and 500k
  * docs / 20k and 200k vectors) and reports the measured growth
  * exponent e where work ~ N^e, next to the designed one:
  *
  *  - d02 candidate pairs: designed ~N^1 (banding buckets, never
  *    all-pairs; planted near-dup fraction is constant, so candidates
  *    track corpus size linearly);
  *  - d08 passages + first-occurrence dedup: designed ~N^1 (one
  *    hash-shuffle over passages);
  *  - d10 SemDeDup intra-cluster pair work Σ n·(n−1)/2 with
  *    nlist ≈ √N: designed ~N^1.5 (the paper's trade);
  *  - s07 IVF-PQ candidates (nprobe probed lists × occupancy, fixed
  *    100-query probe set shared across scales, nlist ≈ √N): designed
  *    ~N^0.5 per probe set — SUB-linear, the compressed-domain win.
  *
  * Work counters are computed from the same frames the operators use
  * (band join for d02, list occupancies for d10/s07); wall-times for
  * the full operators are recorded alongside but the EXPONENT claims
  * ride the counters — wall-clock on a shared box is noise-bound.
  *
  * Emits one JSON line (SOAK_r15.json by default). Usage:
  *   Test/runMain graft.tools.SoakScale [scaleA] [scaleB] [workDir] [outJson]
  */
object SoakScale {
  def main(args: Array[String]): Unit = {
    val scaleA = args.headOption.map(_.toInt).getOrElse(10)
    val scaleB = if (args.length > 1) args(1).toInt else 100
    val work = if (args.length > 2) args(2) else "/tmp/graft_soak_scale"
    val outJson = if (args.length > 3) args(3) else "SOAK_r15.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
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

    /** All counters + times for one scale. */
    def measure(scale: Int): scala.collection.mutable.LinkedHashMap[String, Double] = {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val nDocs = 5000L * scale
      val nVecs = 2000L * scale
      val dir = s"$work/sf$scale"
      DataGen.documents(spark, nDocs).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      DataGen.embeddings(spark, nVecs).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      out("n_docs") = nDocs.toDouble
      out("n_vecs") = nVecs.toDouble

      // ---- d02: LSH banding candidates --------------------------------
      val (candCount, tCand) = timed {
        Dedup.candidatePairs(
          Dedup.minhashBands(docs, "text", "doc_id"), "doc_id").count()
      }
      out("d02_candidates") = candCount.toDouble
      out("d02_time_s") = tCand

      // breakdown of the d02 exponent (the r15 watch note): planted
      // near-dup pairs (texts equal after stripping DataGen's " extra"
      // marker — these ARE the operator's recall target and grow ~N)
      // vs coincidental band collisions (fixed-vocab birthday pairs —
      // a corpus artifact whose super-linear growth is what pushed the
      // headline exponent past 1.0). Measured separately so the claim
      // "the operator's work is linear in true dups" rides its own
      // counter instead of the blended one.
      val (plantedCount, _) = timed {
        val cands = Dedup.candidatePairs(
          Dedup.minhashBands(docs, "text", "doc_id"), "doc_id")
        val norm = docs.select(col("doc_id"),
          regexp_replace(col("text"), " extra$", "").as("__norm"))
        cands
          .join(norm.toDF("id_a", "__na"), "id_a")
          .join(norm.toDF("id_b", "__nb"), "id_b")
          .where(col("__na") === col("__nb")).count()
      }
      out("d02_planted") = plantedCount.toDouble
      out("d02_coincident") = (candCount - plantedCount).toDouble

      // ---- d08: passage explode + first-occurrence dedup --------------
      val (pCounts, tPass) = timed {
        val passages = docs
          .select(col("doc_id"), TextFuncs.tokens(col("text")).as("__t"))
          .where(size(col("__t")) > 0)
          .select(col("doc_id"),
            posexplode(TextFuncs.passageChunks(col("__t"), 8))
              .as(Seq("chunk_idx", "chunk")))
        val total = passages.count()
        val distinct = passages.groupBy("chunk")
          .agg(min(struct(col("doc_id"), col("chunk_idx")))).count()
        (total, distinct)
      }
      out("d08_passages") = pCounts._1.toDouble
      out("d08_distinct") = pCounts._2.toDouble
      out("d08_time_s") = tPass

      // ---- shared √N codebook for d10 / s07 ---------------------------
      val nlist = math.ceil(math.sqrt(nVecs.toDouble)).toInt
      out("nlist") = nlist.toDouble
      val (cents, tTrain) = timed(
        Similarity.ivfTrain(embs, "vec_id", "embedding", nlist = nlist))
      out("ivf_train_time_s") = tTrain
      val occ = Similarity.ivfAssign(embs, "vec_id", "embedding", cents)
        .groupBy("list_id").count()

      // ---- d10: SemDeDup intra-cluster pair work ----------------------
      val (pairWork, _) = timed {
        occ.agg(sum(col("count") * (col("count") - 1) / 2).cast("long"))
          .first().getLong(0)
      }
      out("d10_pair_work") = pairWork.toDouble
      val (d10Dropped, tSem) = timed {
        Dedup.semanticDedup(embs, "vec_id", "embedding", cents,
          threshold = 0.92).where(!col("is_kept")).count()
      }
      out("d10_dropped") = d10Dropped.toDouble
      out("d10_time_s") = tSem

      // ---- s07: IVF probe candidates (fixed 100-query set) ------------
      val nprobe = 8
      // array<float>, matching the embeddings element type graft_dot_e12 expects
      val centDf = cents.zipWithIndex
        .map { case (c, i) => (i + 1, c.map(_.toFloat)) }.toDF("list_id", "centroid")
      val queries = embs.where(col("vec_id") < 100)
      val (ivfCand, _) = timed {
        val probed = queries
          .select(col("vec_id").as("qid"), col("embedding"))
          .crossJoin(broadcast(centDf))
          .withColumn("__dot",
            VecFuncs.dotE12Native(col("embedding"), col("centroid")))
          .withColumn("__r", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("__dot").desc, col("list_id"))))
          .where(col("__r") <= nprobe).select("qid", "list_id")
        probed.join(occ, Seq("list_id"))
          .agg(coalesce(sum("count"), lit(0L))).first().getLong(0)
      }
      out("s07_candidates") = ivfCand.toDouble
      val (s07Rows, tPq) = timed {
        Similarity.ivfPqTopK(embs, queries, "vec_id", "embedding",
          k = 10, nlist = nlist, nprobe = nprobe, dim = 64).count()
      }
      out("s07_topk_rows") = s07Rows.toDouble
      out("s07_time_s") = tPq
      out
    }

    val (a, tA) = timed(measure(scaleA))
    val (b, tB) = timed(measure(scaleB))
    val ratio = (5000.0 * scaleB) / (5000.0 * scaleA)

    def exponent(key: String): Double = {
      val e = math.log(b(key) / a(key)) / math.log(ratio)
      math.round(e * 1000) / 1000.0
    }
    val measured = scala.collection.immutable.ListMap(
      "d02_candidates" -> exponent("d02_candidates"),
      "d02_planted" -> exponent("d02_planted"),
      "d02_coincident" -> exponent("d02_coincident"),
      "d08_passages" -> exponent("d08_passages"),
      "d10_pair_work" -> exponent("d10_pair_work"),
      "s07_candidates" -> exponent("s07_candidates"))
    val designed = scala.collection.immutable.ListMap(
      "d02_candidates" -> 1.0, "d02_planted" -> 1.0,
      "d02_coincident" -> 2.0, // fixed-vocab birthday pairs: corpus artifact
      "d08_passages" -> 1.0,
      "d10_pair_work" -> 1.5, "s07_candidates" -> 0.5)

    // loose bounds — the claim is the ASYMPTOTE CLASS, not the digit
    assert(measured("d02_candidates") <= 1.35,
      s"LSH candidates grew super-linearly: ${measured("d02_candidates")}")
    assert(measured("d02_planted") <= 1.15,
      s"planted-dup candidates (the operator's real work) grew " +
        s"super-linearly: ${measured("d02_planted")}")
    assert(measured("d08_passages") <= 1.15,
      s"passage work grew super-linearly: ${measured("d08_passages")}")
    assert(measured("d10_pair_work") <= 1.8,
      s"SemDeDup pair work approaching quadratic: ${measured("d10_pair_work")}")
    assert(measured("s07_candidates") <= 0.9,
      s"IVF probe candidates not sub-linear: ${measured("s07_candidates")}")

    def jmap[A](m: Iterable[(String, A)])(f: A => String): String =
      m.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"soak_scale","unit":"exponent","scales":[$scaleA,$scaleB],""" +
        s""""loadavg_start":$load0,"loadavg_end":${loadavg()},""" +
        s""""wall_s":{"sf$scaleA":$tA,"sf$scaleB":$tB},""" +
        s""""measured_exponents":${jmap(measured)(_.toString)},""" +
        s""""designed_exponents":${jmap(designed)(_.toString)},""" +
        s""""sf$scaleA":${jmap(a)(_.toString)},""" +
        s""""sf$scaleB":${jmap(b)(_.toString)}}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
