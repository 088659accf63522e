package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
  private def docs = Seq(
    (0L, base),
    (1L, base),                                    // exact dup of 0
    (2L, base.replace("lazy", "sleepy")),          // near dup of 0
    (3L, "completely different text about spark sql engines and shuffles at scale"),
    (4L, "another unrelated document mentioning databases and storage formats")
  ).toDF("doc_id", "text")

  test("exactDupFlags groups identical texts and picks the min-id canonical") {
    val out = Dedup.exactDupFlags(docs, "text", "doc_id")
      .select("doc_id", "is_dup", "is_canonical").as[(Long, Boolean, Boolean)]
      .collect().sortBy(_._1)
    assert(out.toSeq == Seq((0L, true, true), (1L, true, false),
      (2L, false, true), (3L, false, true), (4L, false, true)))
  }

  test("minhash: exact dups share all bands; near dups share some; unrelated none") {
    val bands = Dedup.minhashBands(docs, "text", "doc_id")
    val byDoc = bands.groupBy("doc_id").agg(collect_set("band_key").as("keys"))
      .as[(Long, Seq[String])].collect().toMap
    assert(byDoc(0L).toSet == byDoc(1L).toSet)                  // identical signature
    assert(byDoc(0L).toSet.intersect(byDoc(2L).toSet).nonEmpty) // near dup collides somewhere
    assert(byDoc(0L).toSet.intersect(byDoc(3L).toSet).isEmpty)  // unrelated
  }

  test("candidatePairs + ngramJaccard: near dups score high, candidates only") {
    val cands = Dedup.candidatePairs(Dedup.minhashBands(docs, "text", "doc_id"), "doc_id")
    val verified = Dedup.ngramJaccard(cands, docs, "text", "doc_id")
      .select("id_a", "id_b", "jaccard_e6").as[(Long, Long, Long)]
      .collect().map { case (a, b, j) => (a, b) -> j }.toMap
    assert(verified((0L, 1L)) == 1000000L) // identical → jaccard 1.0
    assert(verified((0L, 2L)) > 500000L)   // one word changed in 16 tokens
    assert(!verified.contains((0L, 3L)))   // unrelated never became a candidate
  }

  test("simhash: identical docs equal; near dups within small hamming; unrelated far") {
    val fp = Dedup.simhash(docs, "text", "doc_id")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(fp(0L) == fp(1L))
    assert(java.lang.Long.bitCount(fp(0L) ^ fp(2L)) <= 16)
    assert(java.lang.Long.bitCount(fp(0L) ^ fp(3L)) > 16)
  }

  test("embeddingNearDups finds the planted near-identical vector pair") {
    val mk = (seed: Int) => {
      val r = new scala.util.Random(seed)
      Array.fill(8)(r.nextFloat() * 2 - 1)
    }
    val v0 = mk(1)
    val v0close = v0.map(x => x + 0.01f)
    val emb = Seq(
      (0L, v0, 0), (1L, v0close, 0), (2L, mk(2), 1), (3L, mk(3), 1))
      .toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDups(emb, "vec_id", "embedding", threshold = 0.95)
      .select("vec_id_a", "vec_id_b", "same_label").as[(Long, Long, Boolean)]
      .collect().toSeq
    assert(pairs == Seq((0L, 1L, true)))
  }

  test("embeddingNearDupsLsh: precision 1 vs exact form, planted near-dup recalled") {
    val mk = (seed: Int) => {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() * 2 - 1)
    }
    val v0 = mk(1)
    val v0close = v0.map(x => x + 0.01f) // cos ≈ 1 → collides in every table
    val emb = ((0L, v0, 0) +: (1L, v0close, 0) +:
      (2L to 40L).map(i => (i, mk(i.toInt), 1)))
      .toDF("vec_id", "embedding", "label")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id_a", "vec_id_b", "cos_e3").as[(Long, Long, Long)].collect().toSet
    val exact = pairSet(Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.5))
    val lsh = pairSet(Dedup.embeddingNearDupsLsh(emb, "vec_id", "embedding", 0.5))
    assert(lsh.subsetOf(exact))           // precision 1: exact filter on candidates
    assert(lsh.exists(p => p._1 == 0L && p._2 == 1L)) // the near-identical pair
  }

  test("candidatePairs: a band past MaxBucketSize yields no pair, a 2-member band beside it does") {
    val hot = (0L to Dedup.MaxBucketSize).map(i => (i, "hot"))
    val bands = (hot ++ Seq((20000L, "pair"), (20001L, "pair"))).toDF("doc_id", "band_key")
    assert(hot.size == 10001)
    val got = Dedup.candidatePairs(bands, "doc_id").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((20000L, 20001L)))
  }

  test("embeddingNearDupsLsh: a 5,000-id hot bucket feeds the set aggregate at most cap + 1 ids") {
    val cap = 10L
    val mk = (seed: Int) => {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() * 2 - 1)
    }
    val (hot, v) = (mk(1), mk(2))
    // 5,000 copies of one vector share a bucket in every table
    val emb = ((0L until 5000L).map(i => (i, hot, 0)) ++
      Seq((10000L, v, 1), (10001L, v.map(_ + 0.01f), 1)))
      .toDF("vec_id", "embedding", "label")
    val (out, fed) = SetAggregateInput.run(spark,
      Dedup.embeddingNearDupsLsh(emb, "vec_id", "embedding", 0.5, maxBucketSize = cap))
    val bound = SetAggregateInput.cappedBound(SetAggregateInput.signBucketSizes(emb), cap)
    assert(fed <= bound, s"$fed rows reached the set aggregate, bound $bound")
    info(s"$fed rows reached the set aggregate, bound $bound")
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((10000L, 10001L)))
  }

  test("clusters == local union-find on random pair graphs (chains force multi-round propagation)") {
    // local union-find oracle
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val rnd = new scala.util.Random(5)
    // long chains (worst case for propagation) + random extra edges
    val chain = (0L until 40L).map(i => (i, i + 1))
    val random = Seq.fill(60)((rnd.nextInt(200).toLong + 100L, rnd.nextInt(200).toLong + 100L))
      .filter(p => p._1 != p._2)
    val pairs = chain ++ random
    val expect = unionFind(pairs)
    // adaptive small-graph path (default threshold: this graph is
    // metadata-sized, so the driver union-find runs)
    val gotLocal = Dedup.clusters(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(gotLocal == expect)
    // distributed pointer-jumping path (forced: threshold 0) — the
    // 100 TB shape must produce the IDENTICAL labeling
    val got = Dedup.clusters(pairs.toDF("id_a", "id_b"), localThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got == expect)
    assert(got.values.toSet.size > 1) // several distinct components
    assert((0L to 40L).forall(got(_) == 0L)) // whole chain collapsed to min id

    // reliable-checkpoint path (the 100 TB fault-tolerance option):
    // same result with rounds checkpointed to a real checkpoint dir
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      spark.sparkContext.setCheckpointDir(ckptDir)
      val reliableGot = Dedup.clusters(pairs.toDF("id_a", "id_b"),
          reliable = true, localThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      assert(reliableGot == expect)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckptDir))
    }
  }

  test("clusters fails loudly instead of returning partially-converged labels") {
    val chain = (0L until 20L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      Dedup.clusters(chain.toDF("id_a", "id_b"), maxIter = 1, localThreshold = 0L).collect()
    }
  }

  test("semanticDedup: kept set is τ-separated per cluster; every drop justified; exact recompute agrees") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    // plant a guaranteed near-duplicate of vector 0 at a high id so
    // the fixture provably exercises the drop branch
    val base = graft.Tables.embeddings(spark, dir)
    val emb = base.unionByName(
      base.where($"vec_id" === 0L).select(
        lit(1000000L).as("vec_id"),
        transform($"embedding", x => x * 0.99f).as("embedding"),
        $"label"))
    val tau = 0.35
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding",
      nlist = 8, trainIters = 2)
    val got = Dedup.semanticDedup(emb, "vec_id", "embedding", cents, tau)
      .as[(Long, Int, Boolean)].collect()
    assert(got.length == emb.count()) // every vector classified exactly once

    // exact reference: cosines recomputed locally with the same
    // e6-integer quantization the engine uses
    val assign = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .as[(Long, Int)].collect().toMap
    val vecs = emb.as[(Long, Array[Float], Int)].collect()
      .map { case (id, v, _) =>
        id -> v.map(graft.plans.DotProductE12.e6) // engine's exact quantization
      }.toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      val dot = x.zip(y).map { case (p, q) => p * q }.sum.toDouble
      dot / math.sqrt(x.map(p => p * p).sum.toDouble * y.map(q => q * q).sum.toDouble)
    }
    got.foreach { case (id, list, _) => assert(assign(id) == list) }
    val byList = got.groupBy(_._2)
    byList.values.foreach { members =>
      val kept = members.filter(_._3).map(_._1).sorted
      // kept pairs never reach τ
      for (i <- kept.indices; j <- 0 until i)
        assert(cos(kept(j), kept(i)) < tau,
          s"kept pair (${kept(j)}, ${kept(i)}) violates separation")
      // every dropped vector has an earlier cluster-mate at ≥ τ
      members.filterNot(_._3).foreach { case (id, list, _) =>
        val earlier = members.map(_._1).filter(_ < id)
        assert(earlier.exists(e => cos(e, id) >= tau),
          s"dropped $id in list $list has no justifying earlier neighbor")
      }
    }
    // the fixture actually exercises both outcomes
    assert(got.exists(_._3) && got.exists(!_._3))
  }

  test("nearDupIndexSink: stream-built band index == batch minhashBands; candidates surface a planted near-dup") {
    import graft.store.SnapshotStore
    def doc(i: Long) = s"the quick brown fox $i jumps over the lazy dog " +
      s"while number $i watches carefully from the old wooden fence nearby"
    val corpus = (1L to 30L).map(i => (i, doc(i)))
    val root = java.nio.file.Files.createTempDirectory("graft-nd-idx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-nd-ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = Dedup.nearDupIndexSink(mem.toDF().toDF("doc_id", "text"),
      root, ckpt, "text", "doc_id", numBuckets = 4)
    try {
      val (b1, b2) = corpus.splitAt(15)
      mem.addData(b1)
      q.processAllAvailable()
      // overlap: the tail of b1 re-streams — the keyed upsert dedups
      mem.addData(b1.takeRight(3) ++ b2)
      q.processAllAvailable()

      assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L))
      val streamed = SnapshotStore.read(spark, root)
        .select("doc_id", "band_idx", "band_key")
        .as[(Long, Int, String)].collect().sorted
      val batch = Dedup.minhashBands(corpus.toDF("doc_id", "text"), "text", "doc_id")
        .select("doc_id", "band_idx", "band_key")
        .as[(Long, Int, String)].collect().sorted
      assert(streamed.sameElements(batch))

      // probe with a near-duplicate of doc 7 (one token changed): the
      // band equi-join against the stored index must surface doc 7
      val probe = Seq((1000L, doc(7).replace("lazy", "sleepy")))
        .toDF("doc_id", "text")
      val cand = Dedup.nearDupCandidatesAgainst(
        SnapshotStore.read(spark, root), probe, "text", "doc_id")
        .as[(Long, Long)].collect().toSet
      assert(cand.contains((1000L, 7L)), s"candidates: $cand")

      // redelivery idempotence: replaying batch 1's txn is a no-op
      val before = SnapshotStore.latestVersion(spark, root)
      SnapshotStore.commitDelta(spark, root,
        Seq((99L, 0, "zz")).toDF("doc_id", "band_idx", "band_key"),
        Seq("doc_id", "band_idx"),
        (cur, delta) => cur.unionByName(delta), txn = Some(ckpt -> 1L))
      assert(SnapshotStore.latestVersion(spark, root) == before)
    } finally q.stop()
  }
}
