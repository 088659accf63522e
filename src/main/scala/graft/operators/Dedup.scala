package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFuncs, VecFuncs}

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine.
  *
  * Scale design: every near-dup path is LSH-banded — candidate pairs
  * come from equi-joins on band/bucket keys (shuffle on the key, never
  * an all-pairs product). The only quadratic path is
  * [[embeddingNearDups]] over an explicitly bounded subset, kept as
  * the verifiable baseline.
  */
object Dedup {

  // ------------------------------------------------------------------
  // exact
  // ------------------------------------------------------------------

  /** Per-row exact-dup annotation: content hash, group size, dup flag,
    * and canonical-keeper flag (min id per group). One shuffle on the
    * content hash.
    */
  def exactDupFlags(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    df.withColumn("content_hash", md5(col(textCol)))
      .withColumn("dup_count", count(lit(1)).over(w))
      .withColumn("is_dup", col("dup_count") > 1)
      .withColumn("is_canonical", col(idCol) === min(col(idCol)).over(w))
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** Universal-hash parameters (a,b) for the MinHash family, fixed by
    * seed so signatures are reproducible across runs/executors.
    */
  def minhashParams(numHashes: Int, seed: Long = 7L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)((rnd.nextInt(Dedup.MersennePrime.toInt - 1).toLong + 1L,
      rnd.nextInt(Dedup.MersennePrime.toInt).toLong))
  }

  val MersennePrime: Long = 2147483647L // 2^31 - 1

  /** MinHash signature column (array<bigint> of length numHashes) over
    * n-token shingles. h_i(s) = (a_i * (crc32(s) mod p) + b_i) mod p;
    * empty shingle sets get the sentinel p. Pure expressions — the
    * signature computation is embarrassingly parallel.
    */
  def minhashSignature(text: Column, params: Seq[(Long, Long)], shingleSize: Int = 3): Column = {
    val sh = TextFuncs.shingles(text, shingleSize)
    val hashes = transform(sh, s => crc32(s) % MersennePrime)
    array(params.map { case (a, b) =>
      coalesce(array_min(transform(hashes, x => (lit(a) * x + lit(b)) % MersennePrime)),
        lit(MersennePrime))
    }: _*)
  }

  /** Band keys for LSH banding: md5 over each band's slice of the
    * signature (bandIdx prefixed so bands don't collide across index).
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { j =>
      md5(concat_ws(",", (lit(j) +: (0 until rowsPerBand)
        .map(r => sig.getItem(j * rowsPerBand + r))): _*))
    }: _*)

  /** The corpus's DISTINCT shingle hashes, exploded to (id, __h) rows
    * — the shared narrow form both the MinHash signature pass and the
    * exact-Jaccard verify pass consume (min over distinct hashes
    * equals min over all, and Jaccard is defined on the distinct
    * sets). Callers running both passes should build this ONCE and
    * persist it: the shingle expression is the dominant CPU cost of
    * the whole dedup pipeline. explode_outer keeps shingle-less docs
    * as an (id, null) row (minhash → sentinel signature, sizes → 0).
    */
  def shingleHashes(docs: DataFrame, textCol: String, idCol: String,
                    shingleSize: Int = 3): DataFrame =
    Parallelize.ensure(docs).select(col(idCol),
      explode_outer(array_distinct(transform(
        TextFuncs.shingles(col(textCol), shingleSize), s => crc32(s)))).as("__h"))

  /** Documents annotated with MinHash signature + exploded band keys:
    * (id, band_idx, band_key). [[candidatePairs]] turns the docs that
    * share a band_key into the near-dup candidate pairs.
    *
    * Implementation: explode shingles once and take the 64 minima in a
    * single groupBy pass (map-side partial agg, one shuffle on the doc
    * id). The pure-expression [[minhashSignature]] form is ~100×
    * slower at scale because Catalyst's CollapseProject re-inlines the
    * shingle expression into each of the 64 hash lanes.
    */
  def minhashBands(df: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleSize: Int = 3): DataFrame =
    minhashBandsFromHashes(shingleHashes(df, textCol, idCol, shingleSize),
      idCol, numHashes, bands)

  /** [[minhashBands]] over a pre-built [[shingleHashes]] frame. */
  def minhashBandsFromHashes(hashes: DataFrame, idCol: String,
                             numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    val params = minhashParams(numHashes)
    val exploded = hashes.withColumn("__x", col("__h") % MersennePrime)
    val aggs = params.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("__x") + lit(b)) % MersennePrime).as(s"__h$i")
    }
    val sig = exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val sigArr = array((0 until numHashes)
      .map(i => coalesce(col(s"__h$i"), lit(MersennePrime))): _*)
    sig.select(col(idCol), bandKeys(sigArr, bands, rowsPerBand).as("bks"))
      .select(col(idCol), posexplode(col("bks")).as(Seq("band_idx", "band_key")))
  }

  /** Bucket cap of the MinHash and embedding LSH candidate paths: a
    * band or bucket with more distinct members is skipped: e.g. the
    * sentinel band every shingle-less doc shares (its pairs all score
    * `jaccard_e6 = 0`), or a band of more than 10,000 exact dups,
    * which [[exactDupFlags]] finds in one shuffle.
    */
  val MaxBucketSize: Long = 10000L

  /** Distinct candidate pairs (id_a < id_b) of docs sharing a band key
    * ([[Buckets.pairs]], one shuffle on band_key); a band of more than
    * [[MaxBucketSize]] docs yields no pair.
    */
  def candidatePairs(bandsDf: DataFrame, idCol: String): DataFrame =
    Buckets.pairs(bandsDf, Seq("band_key"), idCol, MaxBucketSize, "id_a", "id_b")

  /** Exact n-gram Jaccard verification for candidate pairs.
    * Jaccard is emitted as floor(1e6 * |∩| / |∪|) — integer-exact.
    * Shingles are compared as crc32 hashes: set intersection over
    * int64 is far cheaper than over strings and collisions are
    * negligible for per-document set sizes.
    *
    * Scale design (exploded-intersection form): no array-valued column
    * ever crosses a shuffle. Shingle sets are exploded once into
    * (doc_id, shingle_hash) rows; |∩| is a plain equi-join of the pair
    * fan-out with the exploded form followed by a count, and
    * |∪| = |A| + |B| − |∩| from per-doc set sizes. The earlier
    * array-carrying form (join full shingle arrays to every candidate
    * pair, array_intersect per row) shipped both docs' entire shingle
    * sets through the pair shuffle — 9.5 s of a 29 s bench at sf0.1;
    * this form is one narrow fan-out + two hash joins. `pairs` (for
    * LSH candidates, itself a whole signature pipeline) is referenced
    * exactly ONCE — left joins keep empty-intersection pairs alive
    * through the fan-out, so no second pass over the candidate subtree
    * is needed (ReuseExchange can't always dedup it: AQE turning one
    * side into a broadcast breaks subtree identity).
    */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, textCol: String, idCol: String,
                   shingleSize: Int = 3): DataFrame =
    // ONE shingle expansion, materialized: it is referenced by both
    // sides of the intersection join AND the size derivation — the
    // lazy form evaluated the shingle expression four times per call.
    // (Registered in graft.Caching — callers release via Caching.unpersistAll().)
    ngramJaccardFromHashes(pairs,
      graft.Caching.persistTracked(shingleHashes(docs, textCol, idCol, shingleSize)),
      idCol)

  /** [[ngramJaccard]] over a pre-built (ideally persisted)
    * [[shingleHashes]] frame — the form d04/d07 use so the MinHash
    * candidate pass and this verify pass share one shingle expansion.
    */
  def ngramJaccardFromHashes(pairs: DataFrame, hashes: DataFrame, idCol: String): DataFrame = {
    val exploded = hashes.select(col(idCol).as("__id"), col("__h"))
    val sizes = exploded.groupBy(col("__id"))
      .agg(count(col("__h")).cast("int").as("__sz"))
    // fan each pair out by doc A's shingles, then match doc B's
    // shingles on (id_b, hash): matched rows are the shared shingles.
    // Left joins keep zero-shingle / zero-overlap pairs (count of a
    // null match column = 0). |A| rides the SAME aggregation —
    // count of A's non-null hashes per pair is exactly doc A's set
    // size, so only |B| needs the sizes join (r19, guide §2.4: one
    // join against the corpus-sized per-doc size table removed).
    pairs
      .join(exploded.select(col("__id").as("id_a"), col("__h")), Seq("id_a"), "left")
      .join(exploded.select(col("__id").as("id_b"), col("__h"), lit(1).as("__m")),
        Seq("id_b", "__h"), "left")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(col("__m")).cast("int").as("n_inter"),
        count(col("__h")).cast("int").as("__sz_a"))
      .join(sizes.select(col("__id").as("id_b"), col("__sz").as("__sz_b")), Seq("id_b"))
      .withColumn("n_union", col("__sz_a") + col("__sz_b") - col("n_inter"))
      .withColumn("jaccard_e6",
        when(col("n_union") > 0,
          floor(col("n_inter").cast("double") * 1000000d / col("n_union")))
          .otherwise(lit(0L)))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"), col("jaccard_e6"))
  }

  // ------------------------------------------------------------------
  // pair → cluster closure (connected components)
  // ------------------------------------------------------------------

  /** Connected components over near-dup pairs: the transitive-closure
    * step that turns pairwise matches into dedup CLUSTERS (keep one
    * canonical doc per component — a pair list alone can't say which
    * docs are transitively the same).
    *
    * Algorithm: min-label propagation with pointer jumping (the
    * Kiveris et al. "Connected Components in MapReduce and Beyond"
    * SoCC 2014 family; public algorithm). Each round every node takes
    * the min label over itself + its neighbors, then labels compress
    * through their own labels (label(label(node)) — pointer jumping),
    * so convergence is O(log diameter) rounds even on path graphs, not
    * O(diameter). Each round is two joins + one groupBy, and the
    * frames are eagerly localCheckpoint'ed: lineage (and Catalyst
    * plan size) stays CONSTANT per round instead of nesting — the
    * thing that makes a 20-round iterative job on a 100 TB graph
    * plannable at all. The driver evaluates one scalar convergence
    * flag per round; no data is collected.
    *
    * Returns (node, cluster_id) for every node appearing in `pairs`,
    * cluster_id = min node id of the component (deterministic).
    *
    * @param reliable when true, rounds checkpoint to the session's
    *   reliable checkpoint dir (`sc.setCheckpointDir` must be set) —
    *   the 100 TB option: an executor loss mid-iteration recovers from
    *   the checkpoint files instead of killing the job. The default
    *   eager `localCheckpoint` stores blocks on executors (no extra
    *   I/O) and is the right call when the cluster is assumed stable
    *   (local mode, short jobs). Both truncate lineage, which is what
    *   keeps the per-round plan size CONSTANT.
    */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIter: Int = 30, reliable: Boolean = false,
               localThreshold: Long = 1000000L): DataFrame = {
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    // symmetrize via explode, NOT a union of two selects: a union
    // references `pairs` twice, and `pairs` is typically the tail of a
    // whole candidate-generation + verification pipeline — one
    // reference means one execution of it
    val edgesPlan = pairs
      .select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
    // The gate count is FOLDED into the checkpoint materialization: a
    // LAZY localCheckpoint marks the plan, and the count() is the one
    // action that both materializes the blocks and returns the gate
    // cardinality — one scheduler round-trip, not an eager-checkpoint
    // job followed by a count job. (The reliable path keeps the eager
    // checkpoint: a lazy RDD checkpoint re-runs the job to write the
    // checkpoint files after the first action, which costs more than
    // the count job it would save.)
    val (edges, edgeCount) =
      if (reliable) { val e = ckpt(edgesPlan); (e, e.count()) }
      else { val e = edgesPlan.localCheckpoint(false); (e, e.count()) }
    // ADAPTIVE path selection on the materialized edge count (free —
    // `edges` is already checkpointed): the verified near-dup PAIR set
    // is orders of magnitude smaller than the corpus, and when it is
    // metadata-sized the O(log d) pointer-jumping loop pays ~20
    // scheduler round-trips to label a graph a single core unions in
    // microseconds. Same adaptivity argument as AQE's
    // runtime-cardinality re-planning; at 100 TB a billions-of-pairs
    // graph exceeds the threshold and takes the distributed loop.
    // DedupSpec proves both paths produce identical labelings.
    // Guarded to LongType ids so the local path can never change the
    // output schema or choke on string/UUID ids — those fall through
    // to the type-generic distributed loop.
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && edgeCount <= localThreshold) return clustersLocal(edges)
    var labels = ckpt(edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")))
    var round = 0
    var converged = false
    while (!converged && round < maxIter) {
      round += 1
      // (1) min over self + neighborhood
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("label")).as("__nbr"))
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("__nbr"), col("label"))).as("label"),
          coalesce(col("__nbr") < col("label"), lit(false)).as("__imp"))
      // (2) pointer jumping: follow the label's own label. Step and
      // jump are fused into ONE checkpointed frame — one
      // materialization job per round, not two. `stepped` appears on
      // both sides of the self-join, but its heavy part (the
      // neighborhood exchange) canonicalizes identically, so
      // ReuseExchange / AQE stage reuse computes it once; the rest of
      // each reference is a cheap map over the cached `labels`.
      labels = ckpt(stepped.as("x")
        .join(stepped.select(col("node").as("__ln"), col("label").as("__ll")),
          col("x.label") === col("__ln"), "left")
        .select(col("x.node").as("node"),
          coalesce(col("__ll"), col("x.label")).as("label"),
          col("x.__imp").as("__imp")))
      // converged = the min-label step found no improvement (at that
      // fixpoint every label is already the component minimum and the
      // jump was the identity). A single-stage max-aggregate over the
      // just-cached frame is ONE scheduler round-trip — `isEmpty`'s
      // take(1) escalates through up to 4 partial-scan jobs exactly
      // when it matters (the converged, empty case).
      converged = !labels.agg(coalesce(max(col("__imp")), lit(false)))
        .head.getBoolean(0)
    }
    // partially-converged labels would silently mark several
    // "canonical" docs inside one true component — fail loudly
    // instead. With pointer jumping maxIter=30 covers diameter ~2^30;
    // hitting this is a bug, not a data property.
    if (!converged) throw new IllegalStateException(
      s"Dedup.clusters did not converge in $maxIter rounds")
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** Driver-side union-find over a METADATA-SIZED edge set of LongType
    * ids (the adaptive small-graph path of [[clusters]] — bounded by
    * `localThreshold`, never offered raw corpus data; non-long ids
    * take the distributed loop). Path-halving + union-by-min gives the
    * same min-label-per-component output as the distributed loop; the
    * result re-enters the cluster as a parallelized frame.
    */
  private def clustersLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val labeled = parent.keys.toSeq.sorted.map(n => (n, find(n)))
    spark.createDataset(labeled).toDF("node", "cluster_id")
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 64-bit SimHash per document: explode tokens, one groupBy on the
    * id (single shuffle, map-side partial agg), per-bit signed counts,
    * then reassemble the fingerprint. `chunks` 16-bit sub-keys support
    * hamming-≤k LSH banding.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = Parallelize.ensure(df).select(col(idCol),
        explode(TextFuncs.tokens(col(textCol))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$k")
    }
    val agged = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map { k =>
      when(col(s"b$k") > 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val withFp = agged.select(col(idCol), fp.as("simhash"))
    (0 until 4).foldLeft(withFp) { case (d, c) =>
      d.withColumn(s"chunk$c",
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL))
    }
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ------------------------------------------------------------------
  // embedding cosine
  // ------------------------------------------------------------------

  /** Near-dup pairs by embedding cosine over a bounded subset
    * (all-pairs baseline — the scale path is LSH bucketing in
    * [[Similarity]]). Cosine goes through exact-decimal intermediates
    * so an external oracle agrees to ~1 ulp.
    */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    graft.GraftFunctions.register(emb.sparkSession)
    cosineAtLeast(pairSide(Parallelize.ensure(emb), idCol, vecCol, "a")
      .crossJoin(pairSide(emb, idCol, vecCol, "b"))
      .where(col("vec_id_a") < col("vec_id_b")), threshold)
  }

  /** One side of an embedding pair, suffixed `a`/`b`: id, vector,
    * label and squared norm (precomputed per vector, not per pair).
    */
  private def pairSide(emb: DataFrame, idCol: String, vecCol: String, s: String): DataFrame =
    emb.select(col(idCol).as(s"vec_id_$s"), col(vecCol).as(s"v$s"), col("label").as(s"label_$s"),
      VecFuncs.normSqE12Native(col(vecCol)).cast("double").as(s"n$s"))

  /** The exact cosine filter over joined [[pairSide]]s, shared by
    * both embedding near-dup paths: (vec_id_a, vec_id_b, same_label,
    * cos_e3) of the pairs at or above `threshold`.
    */
  private def cosineAtLeast(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.withColumn("cos",
        VecFuncs.dotE12Native(col("va"), col("vb")).cast("double") /
          sqrt(col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"),
        (col("label_a") === col("label_b")).as("same_label"),
        floor(col("cos") * 1000d).cast("long").as("cos_e3"))

  /** The 100 TB path for embedding near-dup: candidate pairs from
    * sign-LSH bucket collisions across `numTables` independent tables
    * (equi-join on (table, bucket) — shuffle on the key, never an
    * all-pairs product), then the exact cosine filter on candidates
    * only. Same output schema as [[embeddingNearDups]]; precision is 1
    * by construction (every emitted pair passed the exact threshold),
    * recall is the multi-table collision probability — near-identical
    * vectors (the dedup regime, cos → 1) agree on almost every plane
    * sign and collide in essentially every table.
    */
  def embeddingNearDupsLsh(emb: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, numTables: Int = 12,
                           planesPerTable: Int = 6, dim: Int = 64,
                           maxBucketSize: Long = MaxBucketSize): DataFrame = {
    graft.GraftFunctions.register(emb.sparkSession)
    val tables = Similarity.planeTables(numTables, planesPerTable, dim)
    // a hot bucket (e.g. zero/padding vectors sharing every table's
    // bucket) is dropped; its members stay reachable through tables
    // where they spread normally
    val fanout = Parallelize.ensure(emb).select(col(idCol).as("__id"),
      posexplode(Similarity.tableBuckets(col(vecCol), tables)).as(Seq("table_idx", "bucket")))
    val cand = Buckets.pairs(fanout, Seq("table_idx", "bucket"), "__id", maxBucketSize,
      "vec_id_a", "vec_id_b")
    cosineAtLeast(cand.join(pairSide(emb, idCol, vecCol, "a"), Seq("vec_id_a"))
      .join(pairSide(emb, idCol, vecCol, "b"), Seq("vec_id_b")), threshold)
  }

  /** Semantic dedup (the SemDeDup recipe, Abbas et al.,
    * arXiv:2303.09540): k-means-cluster the embeddings, then compare
    * pairs ONLY within a cluster and greedily drop every vector whose
    * cosine to some LOWER-ID vector of its cluster reaches
    * `threshold` (id order replaces the paper's arbitrary scan order —
    * deterministic in any engine). The kept set is τ-separated within
    * every cluster: if kept j < kept i had cos ≥ τ, i would have been
    * dropped by j.
    *
    * Scale: the quadratic step is per-cluster (the whole point — pick
    * `nlist` ≈ √N so clusters stay ~√N and total pair work stays ~N^1.5
    * bounded, vs N² all-pairs); the self-join is an equi-join on
    * list_id, co-partitioned by one shuffle; cross-cluster near-dups
    * are the recall trade the paper accepts. `centroids` come from
    * [[Similarity.ivfTrain]] — metadata-sized, broadcast inside the
    * assignment expression.
    *
    * Returns (idCol, list_id, is_kept).
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Seq[Double]], threshold: Double): DataFrame = {
    graft.GraftFunctions.register(emb.sparkSession)
    // list assignment computed INLINE (the codebook is a literal) — a
    // join against an ivfAssign frame would shuffle the corpus against
    // a corpus-sized derived table for no reason. The narrow (id,
    // list, vec, normSq) frame feeds BOTH self-join sides —
    // materialize once (the d04 lesson: AQE broadcasting one side
    // would re-run the assignment pipeline per side)
    val base = graft.Caching.persistTracked(
      Parallelize.ensure(emb).select(col(idCol),
        Similarity.ivfAssignExpr(col(vecCol), centroids).as("list_id"),
        col(vecCol),
        VecFuncs.normSqE12Native(col(vecCol)).cast("double").as("__nsq")))
    def side(suffix: String) = base.select(col("list_id"),
      col(idCol).as(s"__id_$suffix"), col(vecCol).as(s"__v_$suffix"),
      col("__nsq").as(s"__nsq_$suffix"))
    val dropped = side("a").join(side("b"), Seq("list_id"))
      .where(col("__id_a") < col("__id_b"))
      .where(VecFuncs.dotE12Native(col("__v_a"), col("__v_b")).cast("double")
        / sqrt(col("__nsq_a") * col("__nsq_b")) >= threshold)
      .select(col("__id_b").as(idCol)).distinct()
    base.join(dropped.withColumn("__dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("list_id"),
        coalesce(col("__dup"), lit(false)).unary_!.as("is_kept"))
  }

  /** Streaming near-dup index maintenance — the text-side twin of
    * [[graft.operators.Similarity.ivfIndexSink]]: keep a MinHash-LSH
    * band index fresh as a corpus streams in. Each micro-batch runs
    * the batch [[minhashBands]] pass (signatures + band keys — the
    * hash family is seed-frozen, so batch and backfill agree) and
    * upserts the (doc_id, band_idx, band_key) rows into a
    * [[graft.store.SnapshotStore]] table keyed (doc_id, band_idx):
    * one atomic version per batch, O(batch + touched buckets),
    * redelivery-idempotent via the manifest txn (and a re-streamed
    * doc re-derives identical band rows anyway).
    *
    * Query side: [[nearDupCandidatesAgainst]] bands the probe docs
    * with the SAME frozen family and equi-joins the index on
    * band_key — candidates only; callers verify with [[ngramJaccard]]
    * exactly as in the batch pipeline.
    */
  def nearDupIndexSink(stream: DataFrame, root: String, checkpointDir: String,
                       textCol: String, idCol: String,
                       numHashes: Int = 64, bands: Int = 16,
                       shingleSize: Int = 3,
                       numBuckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.store.SnapshotStore
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val txn = Some(checkpointDir -> batchId)
        if (!batch.isEmpty) {
          // persisted for the batch's lifetime: the commit evaluates
          // its delta several times (touched-bucket census, merge
          // write, stats rollup, any race retry) and the banding
          // pipeline's shingle expansion is the dominant CPU cost —
          // unlike ivfIndexSink's cheap assignment expression
          val banded = minhashBands(batch.toDF(), textCol, idCol,
            numHashes, bands, shingleSize).persist()
          try {
            val keys = Seq(idCol, "band_idx")
            if (SnapshotStore.latestVersion(spark, root).isEmpty) {
              SnapshotStore.init(spark, root, banded, keys, numBuckets, txn = txn)
            } else {
              SnapshotStore.commitDelta(spark, root, banded, keys,
                SnapshotStore.upsertMerge(keys), txn = txn)
            }
          } finally banded.unpersist()
        }: Unit
      }
      .start()
  }

  /** Near-dup candidate pairs of `probeDocs` against a
    * [[nearDupIndexSink]]-maintained index: band the probes with the
    * same frozen hash family, equi-join on band_key (shuffle on the
    * key, never an all-pairs product), self-matches dropped. Returns
    * (probe id, index doc_id) distinct pairs — the exact-verify input.
    * Unlike [[candidatePairs]] it applies no bucket cap: a band shared
    * by more than [[MaxBucketSize]] docs still yields its candidates.
    */
  def nearDupCandidatesAgainst(index: DataFrame, probeDocs: DataFrame,
                               textCol: String, idCol: String,
                               numHashes: Int = 64, bands: Int = 16,
                               shingleSize: Int = 3): DataFrame = {
    val probes = minhashBands(probeDocs, textCol, idCol,
      numHashes, bands, shingleSize)
      .select(col("band_key"), col(idCol).as("probe_id"))
    index.select(col("band_key"), col(idCol))
      .join(probes, Seq("band_key"))
      .where(col("probe_id") =!= col(idCol))
      .select(col("probe_id"), col(idCol)).distinct()
  }
}
