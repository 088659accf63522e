package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.VecFuncs
import graft.store.SnapshotStore

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * [[bruteForceTopK]] is the exact baseline: broadcast the (small)
  * query set against the corpus — linear in corpus size, no shuffle of
  * the corpus itself. [[lshTopK]] is the 100 TB path: random-hyperplane
  * signatures put vectors into buckets; candidates come from an
  * equi-join on the bucket key, and only candidates are exactly
  * reranked. Hyperplanes are generated from a fixed seed so results
  * are reproducible.
  */
object Similarity {

  /** Exact top-k neighbors per query vector (cosine, exact-decimal
    * intermediates; ties broken by neighbor id).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.GraftFunctions.register(corpus.sparkSession)
    // norms are precomputed once per vector (not per pair) — same
    // exact-integer→double values, 1/3 of the per-pair work
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      VecFuncs.normSqE12Native(col(vecCol)).cast("double").as("qn"))
    val c = Parallelize.ensure(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        VecFuncs.normSqE12Native(col(vecCol)).cast("double").as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        VecFuncs.dotE12Native(col("qv"), col("cv")).cast("double") /
          sqrt(col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
        floor(col("cos") * 1000d).cast("long").as("cos_e3"))
  }

  /** Deterministic random hyperplanes: `planes` × dim gaussian matrix. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** `numTables` independent plane sets (table t seeded `seed + t`). */
  def planeTables(numTables: Int, planesPerTable: Int, dim: Int,
                  seed: Long = 42L): Seq[Seq[Seq[Double]]] =
    (0 until numTables).map(t => hyperplanes(planesPerTable, dim, seed + t))

  /** All tables' sign-LSH buckets for one vector as ONE native
    * expression ([[graft.plans.SignBuckets]]): a tight
    * tables × planes × dim primitive loop per row. The earlier
    * nested-HOF pyramid (transform → aggregate → zip_with over a
    * typedLit plane tensor) interpreted a lambda tree per element —
    * the dominant cost of the whole LSH path at corpus scale.
    */
  def tableBuckets(vec: Column, tables: Seq[Seq[Seq[Double]]]): Column =
    call_function("graft_sign_buckets", vec, typedLit(tables))

  /** ANN top-k via multi-table, multi-probe LSH + exact rerank of
    * candidates only.
    *
    * Recall engineering (single-table sign-LSH recall is poor — a
    * near neighbor missing ONE bucket bit is lost forever):
    *  - `numTables` independent hyperplane sets; a neighbor is a
    *    candidate if it collides in ANY table (union of candidates,
    *    1−(1−p^n)^L recall).
    *  - 1-bit multi-probe on the query side (`probeBits = 1`): each
    *    query also probes every bucket at hamming distance 1, lifting
    *    per-table collision from p^n to p^n + n·p^(n-1)(1−p). Fan-out
    *    is on the (tiny, broadcast) query side only.
    *  - degenerate-bucket cap: corpus buckets larger than
    *    `maxBucketSize` are skipped — at 100 TB a hot bucket would
    *    otherwise re-create the brute-force scan for every query that
    *    hashes into it (those vectors are still reachable through the
    *    other L−1 tables).
    *
    * Plan shape: corpus fans out ×numTables into (table, bucket) rows;
    * candidates come from an equi-join on (table_idx, bucket) against
    * the broadcast probe set; ONLY the distinct candidate id-pairs are
    * then joined back to the vectors for the exact cosine rerank — no
    * vector ever rides the bucket fan-out shuffle.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              numTables: Int = 12, planesPerTable: Int = 6, dim: Int = 64,
              probeBits: Int = 1, maxBucketSize: Long = 1L << 20): DataFrame = {
    graft.GraftFunctions.register(corpus.sparkSession)
    val tables = planeTables(numTables, planesPerTable, dim)

    // query probes: the exact bucket plus every 1-bit flip of it
    def probeSet(b: Column): Column =
      if (probeBits < 1) array(b)
      else array(b +: (0 until planesPerTable).map(i => b.bitwiseXOR(lit(1L << i))): _*)
    val probes = queries.select(col(idCol).as("query_id"),
        posexplode(tableBuckets(col(vecCol), tables)).as(Seq("table_idx", "bucket0")))
      .select(col("query_id"), col("table_idx"),
        explode(probeSet(col("bucket0"))).as("bucket"))

    // the broadcast probe join explodes only probe-HIT buckets' members
    val grouped = Buckets.members(
      Parallelize.ensure(corpus).select(col(idCol).as("neighbor_id"),
        posexplode(tableBuckets(col(vecCol), tables)).as(Seq("table_idx", "bucket"))),
      Seq("table_idx", "bucket"), "neighbor_id", maxBucketSize)
    val cand = grouped.join(broadcast(probes), Seq("table_idx", "bucket"))
      .select(col("query_id"), explode(col("members")).as("neighbor_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()

    exactRerank(cand, corpus, queries, idCol, vecCol, k)
  }

  /** Exact cosine rerank of candidate (query_id, neighbor_id) pairs —
    * only candidates ever touch a vector again: one hash join on
    * neighbor_id against the corpus vectors, queries broadcast.
    */
  private def exactRerank(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int): DataFrame = {
    val cv = Parallelize.ensure(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        VecFuncs.normSqE12Native(col(vecCol)).cast("double").as("cn"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      VecFuncs.normSqE12Native(col(vecCol)).cast("double").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand.join(cv, Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cos",
        VecFuncs.dotE12Native(col("qv"), col("cv")).cast("double") /
          sqrt(col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
        floor(col("cos") * 1000d).cast("long").as("cos_e3"))
  }

  /** The query's `nprobe` nearest coarse lists (1-based ids), by dot
    * against every centroid, index tie-break — the probe-side half of
    * any IVF-family index. Per-QUERY-row HOF sort over nlist structs:
    * interpreted, but queries are the bounded broadcast side.
    */
  private def probeListsExpr(vec: Column, centroids: Seq[Seq[Double]],
                             nprobe: Int): Column = {
    val n = centroids.size
    val structs = zip_with(centroidDots(centroids)(vec),
      sequence(lit(1), lit(n)), (d, i) => struct(d.as("d"), i.as("i")))
    val sorted = array_sort(structs, (l, r) =>
      when(l.getField("d") > r.getField("d"), -1)
        .when(l.getField("d") < r.getField("d"), 1)
        .when(l.getField("i") < r.getField("i"), -1)
        .otherwise(1).cast("int"))
    transform(slice(sorted, 1, math.min(nprobe, n)), s => s.getField("i").cast("int"))
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids
    * partitions the corpus into inverted lists; each query probes only
    * its `nprobe` nearest lists and reranks those candidates exactly.
    *
    * Quantizer training is a driver-side METADATA step (`nlist`
    * deterministically-sampled corpus vectors, unit-normalized — the
    * IVF-flat analog of a trained codebook; every ANN index trains its
    * quantizer somewhere small). List ASSIGNMENT and probing are pure
    * distributed expressions: one nested-HOF pass computes all
    * centroid dots, argmax assigns, and the corpus shuffles once on
    * the list id. `nprobe = nlist` probes everything — output then
    * equals the exact brute force (spec-asserted), which is the
    * correctness oracle for the machinery; smaller `nprobe` trades
    * recall for a ~nprobe/nlist fraction of the scan.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4, trainIters: Int = 1): DataFrame = {
    val centroids = ivfTrain(corpus, idCol, vecCol, nlist, trainIters)

    val c = ivfAssign(corpus, idCol, vecCol, centroids)
      .select(col(idCol).as("neighbor_id"), col("list_id").as("__list"))
    val q = queries.select(col(idCol).as("query_id"),
      explode(probeListsExpr(col(vecCol), centroids, nprobe)).as("__list"))
    val cand = c.join(broadcast(q), Seq("__list"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    exactRerank(cand, corpus, queries, idCol, vecCol, k)
  }

  /** One `nlist`-wide array of codegen'd e12 centroid dots for a vector
    * (the DotProductE12 hot path — the interpreted HOF form was ~100×
    * slower and made Lloyd passes the dominant cost). e12 integer dots
    * order identically to exact dots up to e6 quantization, with index
    * tie-breaks deterministic either way.
    */
  private def centroidDots(cents: Seq[Seq[Double]])(vec: Column): Column =
    array(cents.map(c =>
      VecFuncs.dotE12Native(vec, typedLit(c.map(_.toFloat))).cast("double")): _*)

  /** IVF quantizer training: deterministic sample init, then
    * `trainIters` distributed Lloyd refinements. Assignment is a pure
    * expression pass over the corpus; the centroid update is one
    * groupBy over (list, dim) with INTEGER-exact e6 sums (the s03
    * trick) so the refined codebook is bit-deterministic — double
    * summation order could flip near-tie assignments run to run.
    * Only nlist×dim aggregated values ever reach the driver
    * (metadata-sized, the codebook).
    */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, trainIters: Int = 1): Seq[Seq[Double]] = {
    graft.GraftFunctions.register(corpus.sparkSession)
    var centroids: Seq[Seq[Double]] = corpus
      .select(col(idCol).cast("string").as("__sid"), col(vecCol).as("__v"))
      .orderBy(md5(col("__sid"))).limit(nlist)
      .collect().toSeq
      .map { r =>
        // element type may be float OR double — unbox via Number
        val v = r.getSeq[Number](1).map(_.doubleValue())
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n > 0) v.map(_ / n) else v
      }
    require(centroids.nonEmpty, "ivfTrain: empty corpus — no centroids to train")
    val corpusPar = Parallelize.ensure(corpus)
    (1 to trainIters).foreach { _ =>
      // assignment in its own select BELOW the posexplode one: a
      // generator alongside it would hoist the argmax above the
      // Generate and re-evaluate it per exploded element (dim×/row).
      // The argmax itself is the [[ivfAssignExpr]] kernel — identical
      // arithmetic to the former 2·nlist-dot array_position tree
      val assigned0 = corpusPar.select(col(vecCol),
        ivfAssignExpr(col(vecCol), centroids).as("__list"))
        .select(col("__list"), posexplode(col(vecCol)).as(Seq("__i", "__x")))
      val updated = assigned0
        .groupBy(col("__list"), col("__i"))
        .agg(sum(round(col("__x") * 1e6).cast("long")).as("__se6"),
          count(lit(1)).as("__n"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (list, rows) =>
          val dims = rows.sortBy(_.getInt(1))
            .map(r => r.getLong(2).toDouble / 1e6 / r.getLong(3))
          val nrm = math.sqrt(dims.map(x => x * x).sum)
          list -> (if (nrm > 0) dims.map(_ / nrm).toSeq else dims.toSeq)
        }
      // lists that captured no vectors keep their previous centroid
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        updated.getOrElse(i + 1, old)
      }
    }
    centroids
  }

  /** The assignment as a pure COLUMN (argmax of the centroid dots,
    * first-max tie-break): callers that already hold the vector column
    * compute the list inline — no join against a corpus-sized
    * assignment frame.
    */
  def ivfAssignExpr(vec: Column, centroids: Seq[Seq[Double]]): Column =
    // one native kernel node replacing the nlist-dot argmax tree —
    // same e12 dots of the float-cast centroids, same first-max
    // tie-break, same null algebra ([[graft.plans.ArgmaxDotsE12]])
    call_function("graft_argmax_dots", vec, typedLit(centroids))

  /** Distributed list assignment against a trained codebook: one pure
    * expression pass (argmax over the centroid dots; array_position
    * takes the FIRST max — deterministic tie-break by centroid index).
    * Returns (idCol, list_id) — the narrow frame the index build
    * shuffles on, and the input to [[ivfListStats]].
    */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: Seq[Seq[Double]]): DataFrame = {
    graft.GraftFunctions.register(corpus.sparkSession)
    Parallelize.ensure(corpus)
      .select(col(idCol), ivfAssignExpr(col(vecCol), centroids).as("list_id"))
  }

  /** Streaming IVF index maintenance: keep the ANN list assignment
    * fresh as a corpus streams in. Each micro-batch runs the pure-
    * expression [[ivfAssign]] pass against the FROZEN trained codebook
    * and upserts the (id, list_id) rows into a [[SnapshotStore]] table
    * — one atomic version per batch, O(batch + touched buckets) like
    * every snapshot sink, and redelivery-idempotent via the manifest
    * txn (an at-least-once replay re-derives the identical assignment
    * and is skipped by batch id anyway).
    *
    * Retrain trigger: assignment against a stale codebook degrades as
    * the corpus distribution drifts — hot lists push probe cost back
    * toward brute force. Every `balanceCheckEvery` batches the sink
    * computes [[ivfListStats]] over the index (one map-side-combined
    * groupBy on the narrow 2-column table, collapsing to nlist rows
    * per partition before the shuffle) and, when the worst list's
    * balance ratio exceeds `maxBalanceRatioE6`, calls `onImbalance`
    * with it — the operator's cue to [[ivfTrain]] a fresh codebook and
    * rebuild (the sink itself keeps assigning against the frozen one:
    * swapping codebooks mid-stream would make the index a mix of two
    * quantizers, unsearchable by either).
    *
    * @param onImbalance called with the max balance ratio (e6;
    *   1e6 = perfectly balanced) whenever it exceeds the threshold
    */
  def ivfIndexSink(stream: DataFrame, root: String, checkpointDir: String,
                   idCol: String, vecCol: String,
                   centroids: Seq[Seq[Double]],
                   numBuckets: Int = 16,
                   maxBalanceRatioE6: Long = 4000000L,
                   // the check reads the WHOLE index (narrow 2-column
                   // scan, but O(index) not O(batch)) — every batch
                   // would let it dominate a small-batch steady state
                   balanceCheckEvery: Int = 16,
                   onImbalance: Long => Unit = _ => ()): StreamingQuery = {
    require(balanceCheckEvery >= 1, "balanceCheckEvery must be ≥ 1")
    val nlist = centroids.size
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val txn = Some(checkpointDir -> batchId)
        if (!batch.isEmpty) {
          val assigned = ivfAssign(batch.toDF(), idCol, vecCol, centroids)
          if (SnapshotStore.latestVersion(spark, root).isEmpty) {
            SnapshotStore.init(spark, root, assigned, Seq(idCol), numBuckets, txn = txn)
          } else {
            // upsert: a re-streamed id keeps ONE row (the assignment is
            // deterministic under a frozen codebook, so old == new)
            SnapshotStore.commitDelta(spark, root, assigned, Seq(idCol),
              SnapshotStore.upsertMerge(Seq(idCol)), txn = txn)
          }
          if (batchId % balanceCheckEvery == 0) {
            val worst = ivfListStats(SnapshotStore.read(spark, root), nlist)
              .agg(max(col("balance_ratio_e6"))).collect()(0).getLong(0)
            if (worst > maxBalanceRatioE6) onImbalance(worst)
          }
        }: Unit
      }
      .start()
  }

  /** IVF list-balance diagnostics: per-list occupancy plus its share
    * and balance ratio (n_vectors · nlist / total, e6 — 1e6 = perfectly
    * balanced). The operational pre-flight for choosing `nlist`: a
    * ratio ≫ 1e6 means a hot list that degrades probe cost back toward
    * brute force; many empty lists mean wasted probes. One groupBy on
    * the (metadata-sized key domain) list id; the corpus total rides
    * the same pass via a window over the nlist-row aggregate — no
    * second scan. Lists that captured no vectors are emitted with
    * n_vectors = 0.
    */
  def ivfListStats(assignments: DataFrame, nlist: Int): DataFrame = {
    val spark = assignments.sparkSession
    import spark.implicits._
    val counts = assignments.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vectors"))
    val allLists = (1 to nlist).toDF("list_id")
    val w = Window.partitionBy()
    allLists.join(counts, Seq("list_id"), "left")
      .select(col("list_id").cast("long").as("list_id"),
        coalesce(col("n_vectors"), lit(0L)).as("n_vectors"))
      .withColumn("__total", sum(col("n_vectors")).over(w))
      .withColumn("share_e6", expr("(1000000 * n_vectors) div __total"))
      .withColumn("balance_ratio_e6",
        expr(s"(1000000 * n_vectors * $nlist) div __total"))
      .drop("__total")
  }

  // ------------------------------------------------------------------
  // product quantization (PQ) — compressed-domain ANN
  // ------------------------------------------------------------------

  /** Unit-normalize a vector column (zero vectors pass through). PQ
    * codes the NORMALIZED corpus so one dot against the reconstruction
    * approximates cosine directly — the norm needn't be stored.
    */
  private def normalized(vec: Column): Column = {
    // normSqE12 is in 1e-12 units — the true norm is sqrt(e12)/1e6
    val n = sqrt(VecFuncs.normSqE12Native(vec).cast("double")) / 1e6
    when(n === 0d, vec).otherwise(transform(vec, x => x / n))
  }

  /** The per-subspace code array for one (normalized, float-cast)
    * vector against a full set of codebooks — shared by training,
    * encode, and any reranker. Per subspace this is plain
    * (non-spherical) Lloyd assignment: argmin L2 = argmax(dot − ‖c‖²/2)
    * with half-norms scaled to the dot's e12 units (PQ centroids must
    * sit at the data mean to minimize reconstruction error; a
    * unit-norm constraint would inflate it). ONE native kernel node
    * ([[graft.plans.PqCodesE12]]): identical arithmetic (e12 dots of
    * the float-cast codebooks, half-norm-adjusted argmin-L2, first-max
    * tie-break) to the former m·k-dot
    * `array(array_position(scores, array_max(scores)) …)` tree, whose
    * hundreds of literal-array nodes made Catalyst planning HALF of
    * the PQ keys' wall time.
    */
  private def pqCodes(nv: Column, codebooks: Seq[Seq[Seq[Double]]], w: Int): Column =
    call_function("graft_pq_codes", nv, typedLit(codebooks))

  /** Train PQ codebooks: the (normalized) vector splits into `m`
    * contiguous subspaces and each gets its own `k`-centroid plain
    * k-means codebook — `m · k` centroids of `dim/m` values, metadata-
    * sized (broadcast as literals into every downstream expression).
    * Deterministic: md5-ordered sample init + integer-exact updates.
    *
    * ALL subspaces train together: one seed collect, then ONE
    * distributed pass per Lloyd round (every subspace's assignment is
    * an expression in the same projection; elements explode once and
    * aggregate by (subspace, list, dim) — m·k·(dim/m) rows to the
    * driver). A per-subspace loop would cost m× the scheduler round
    * trips for identical results.
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int, dim: Int, trainIters: Int = 2): Seq[Seq[Seq[Double]]] = {
    graft.GraftFunctions.register(corpus.sparkSession)
    val base = Parallelize.ensure(corpus)
      .select(col(idCol).cast("string").as("__sid"),
        // float-cast: the e12 dot kernel is array<float>-typed, and PQ
        // precision is bounded by the quantizer, not the element width
        normalized(col(vecCol)).cast("array<float>").as("__nv"))
    pqTrainCore(base, m, k, dim, trainIters)
  }

  /** Lloyd over a PREPARED `(__sid, __nv: array<float>)` frame — the
    * shared core of [[pqTrain]] (normalized vectors) and [[ivfPqTopK]]
    * (coarse-centroid residuals, which must NOT be re-normalized:
    * their magnitude IS the information the codebook must capture).
    */
  private def pqTrainCore(base: DataFrame, m: Int, k: Int, dim: Int,
                          trainIters: Int): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val w = dim / m
    val seeds: Seq[Seq[Double]] = base.orderBy(md5(col("__sid"))).limit(k)
      .select(col("__nv")).collect().toSeq
      .map(_.getSeq[Number](0).map(_.doubleValue()).toSeq)
    require(seeds.nonEmpty, "pqTrain: empty corpus")
    var books: Seq[Seq[Seq[Double]]] =
      (0 until m).map(sub => seeds.map(_.slice(sub * w, sub * w + w)))
    (1 to trainIters).foreach { _ =>
      val sub = floor(col("__i") / w).cast("int")
      // two selects, NOT one: a generator in the same projection would
      // hoist every other expression ABOVE the Generate (analyzer
      // generator extraction), re-evaluating the m·k-dot assignment
      // once per exploded ELEMENT (dim× per row) instead of once per row
      val updated = base
        .select(col("__nv"), pqCodes(col("__nv"), books, w).as("__codes"))
        .select(col("__codes"), posexplode(col("__nv")).as(Seq("__i", "__x")))
        .groupBy(sub.as("__sub"),
          element_at(col("__codes"), sub + 1).as("__list"),
          (col("__i") % w).as("__d"))
        .agg(sum(round(col("__x") * 1e6).cast("long")).as("__se6"),
          count(lit(1)).as("__n"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((s, list), rows) =>
          (s, list) -> rows.sortBy(_.getInt(2))
            .map(r => r.getLong(3).toDouble / 1e6 / r.getLong(4)).toSeq
        }
      books = books.zipWithIndex.map { case (cb, s) =>
        cb.zipWithIndex.map { case (old, i) => updated.getOrElse((s, i + 1), old) }
      }
    }
    books
  }

  /** Encode the corpus against trained codebooks: each vector becomes
    * `m` small integers (codebook indices, 1-based) — with m=8, k≤256
    * that is 8 bytes standing in for `dim` floats, the 16–32×
    * compression that lets a 100 TB corpus' ANN index live in memory.
    * One pure-expression pass, no shuffle. Returns (idCol, codes).
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: Seq[Seq[Seq[Double]]], dim: Int): DataFrame = {
    graft.GraftFunctions.register(corpus.sparkSession)
    val m = codebooks.size
    val w = dim / m
    val nv = normalized(col(vecCol)).cast("array<float>")
    Parallelize.ensure(corpus)
      .select(col(idCol), pqCodes(nv, codebooks, w).as("codes"))
  }

  /** ADC top-k with exact rerank: score every CODE against each query
    * via the query's dot with the code's reconstruction (subspace
    * centroids concatenate back to a full vector — all literals, so
    * the scan touches only the (id, codes) table), shortlist the top
    * `shortlist` per query, then rerank ONLY the shortlist with the
    * exact e12 cosine against the full vectors. The corpus' float
    * vectors are read once by the encode and once per shortlist row —
    * the ADC scan itself runs in the compressed domain, which is what
    * survives at 100 TB. Same output shape as [[bruteForceTopK]]
    * (query_id, rank, neighbor_id, cos_e3).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, codebooks: Seq[Seq[Seq[Double]]], dim: Int,
             k: Int, shortlist: Int = 100): DataFrame = {
    graft.GraftFunctions.register(corpus.sparkSession)
    val m = codebooks.size
    val w = dim / m
    val enc = pqEncode(corpus, idCol, vecCol, codebooks, dim)
    val q = queries.select(col(idCol).as("query_id"),
      normalized(col(vecCol)).cast("array<float>").as("__qv"))
    // ADC dot against the code's reconstruction as ONE kernel node
    // ([[graft.plans.PqAdcE12]]): identical to the former
    // concat(element_at(litFloat(cb), code)) → dot_e12 tree (same e6
    // float rounding, same null algebra), minus the per-row concat
    // allocation and the m·k literal-array plan nodes
    val adc = call_function("graft_pq_adc", col("__qv"), col("codes"),
      typedLit(codebooks)).cast("double")
    val wd = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("neighbor_id").asc)
    val short = enc.select(col(idCol).as("neighbor_id"), col("codes"))
      .crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__adc", adc)
      .withColumn("__r", row_number().over(wd))
      .where(col("__r") <= shortlist)
      .select("query_id", "neighbor_id")
    // exact rerank on the shortlist only (broadcast: nq·shortlist rows)
    exactRerank(broadcast(short), corpus, queries, idCol, vecCol, k)
  }

  /** IVF-PQ (Jégou, Douze & Schmid 2011, "Product Quantization for
    * Nearest Neighbor Search" §IV): the composition that serves ANN at
    * 100 TB. A coarse `nlist`-centroid quantizer prunes the scan to
    * each query's `nprobe` nearest inverted lists, and within them
    * candidates are scored in the COMPRESSED domain against PQ codes of
    * the coarse RESIDUAL (x − c_list — what the paper encodes: residual
    * magnitudes are small, so the same code budget buys far less
    * quantization error than coding raw vectors). The ADC estimate
    * decomposes as dot(q, c_list) + dot(q, residual-reconstruction) —
    * two codegen'd e12 dots per candidate, codebooks all literals.
    * Exact e12 rerank on the per-query shortlist only.
    *
    * Plan shape at scale: corpus → one narrow (id, list, codes) frame
    * (8 ints standing in for dim floats); candidates from an equi-join
    * on the list id against the broadcast probe set (nq × nprobe rows);
    * full vectors touched only by the shortlist rerank. With
    * `nprobe = nlist` and `shortlist ≥ corpus` this degenerates to the
    * exact brute force (spec-asserted) — the correctness oracle for
    * the whole machinery.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, pqK: Int = 16, dim: Int = 64,
                trainIters: Int = 1, pqIters: Int = 2,
                shortlist: Int = 100): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    graft.GraftFunctions.register(corpus.sparkSession)
    val w = dim / m
    val cents = ivfTrain(corpus, idCol, vecCol, nlist, trainIters)
    val centsF = cents.map(_.map(_.toFloat))
    // normalized vector, coarse list, residual — one narrow pass,
    // persisted (tracked): referenced by PQ training (seed + rounds)
    // AND the encode
    val prepped = graft.Caching.persistTracked(
      Parallelize.ensure(corpus).select(
        col(idCol).as("__id"),
        col(idCol).cast("string").as("__sid"),
        normalized(col(vecCol)).cast("array<float>").as("__fnv"))
      .withColumn("__list", ivfAssignExpr(col("__fnv"), cents))
      .withColumn("__nv",
        zip_with(col("__fnv"), element_at(typedLit(centsF), col("__list")),
          (a, b) => a - b).cast("array<float>")))
    val books = pqTrainCore(prepped.select(col("__sid"), col("__nv")),
      m, pqK, dim, pqIters)
    val enc = prepped.select(col("__id").as("neighbor_id"), col("__list"),
      pqCodes(col("__nv"), books, w).as("codes"))
    val probed = queries.select(col(idCol).as("query_id"),
      normalized(col(vecCol)).cast("array<float>").as("__qv"))
      .select(col("query_id"), col("__qv"),
        explode(probeListsExpr(col("__qv"), cents, nprobe)).as("__list"))
    // residual ADC term as one kernel node (see [[pqTopK]]); the coarse
    // term stays a single e12 dot against the looked-up list centroid
    val adc = (VecFuncs.dotE12Native(col("__qv"),
        element_at(typedLit(centsF), col("__list"))) +
      call_function("graft_pq_adc", col("__qv"), col("codes"),
        typedLit(books))).cast("double")
    val wd = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("neighbor_id").asc)
    // each corpus row lives in exactly ONE list and probed lists are
    // distinct per query, so (query, neighbor) pairs are unique here
    val short = enc.join(broadcast(probed), Seq("__list"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__adc", adc)
      .withColumn("__r", row_number().over(wd))
      .where(col("__r") <= shortlist)
      .select("query_id", "neighbor_id")
    exactRerank(broadcast(short), corpus, queries, idCol, vecCol, k)
  }
}
