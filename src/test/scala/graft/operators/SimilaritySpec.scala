package graft.operators

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 4-dim toy corpus with known geometry
  private def emb = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(0.9f, 0.1f, 0f, 0f)),   // closest to 0
    (2L, Array(0.5f, 0.5f, 0f, 0f)),   // second
    (3L, Array(0f, 1f, 0f, 0f)),       // orthogonal
    (4L, Array(-1f, 0f, 0f, 0f))       // opposite
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine with deterministic ties") {
    val out = Similarity.bruteForceTopK(emb, emb.where($"vec_id" === 0),
        "vec_id", "embedding", k = 4)
      .select("rank", "neighbor_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)))
  }

  test("lshTopK: identical direction always collides and ranks first") {
    val corpus = Seq(
      (0L, Array.fill(64)(0.5f)),
      (1L, Array.fill(64)(0.49f)),          // same direction → same signs
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(corpus, corpus.where($"vec_id" === 0),
        "vec_id", "embedding", k = 5)
      .select("rank", "neighbor_id").as[(Long, Long)].collect().sortBy(_._1)
    // same-sign vector shares every table's bucket; exact rerank puts it
    // first (the orthogonal vector may surface via 1-bit probes, but
    // can never outrank it)
    assert(out.headOption.contains((1L, 1L)))
    // without probing, the orthogonal vector stays out of the candidates
    val strict = Similarity.lshTopK(corpus, corpus.where($"vec_id" === 0),
        "vec_id", "embedding", k = 5, probeBits = 0)
      .select("neighbor_id").as[Long].collect()
    assert(!strict.contains(2L))
  }

  test("lshTopK agrees with bruteForceTopK on its candidate set (rerank is exact)") {
    val q = emb.where($"vec_id" === 0)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 4)
      .select("neighbor_id", "cos_e3").as[(Long, Long)].collect().toMap
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding", 4,
      numTables = 2, planesPerTable = 4, dim = 4)
      .select("neighbor_id", "cos_e3").as[(Long, Long)].collect().toMap
    lsh.foreach { case (id, ce3) => assert(brute(id) == ce3) }
  }

  test("lshTopK: a 5,000-id hot bucket feeds the set aggregate at most cap + 1 ids") {
    val cap = 10L
    val mk = (seed: Int) => {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() * 2 - 1)
    }
    // 5,000 copies of one vector share a bucket in every table; 40
    // random vectors spread out
    val corpus = ((0L until 5000L).map(i => (i, mk(1))) ++
      (10000L until 10040L).map(i => (i, mk(i.toInt)))).toDF("vec_id", "embedding")
    val (out, fed) = SetAggregateInput.run(spark,
      Similarity.lshTopK(corpus, corpus.where($"vec_id" === 10000L), "vec_id", "embedding",
        k = 5, maxBucketSize = cap))
    val bound = SetAggregateInput.cappedBound(SetAggregateInput.signBucketSizes(corpus), cap)
    assert(fed <= bound, s"$fed rows reached the set aggregate, bound $bound")
    info(s"$fed rows reached the set aggregate, bound $bound")
    // the hot bucket is dropped in every table: no copy is a candidate
    val neighbors = out.map(_.getAs[Long]("neighbor_id"))
    assert(neighbors.nonEmpty && neighbors.forall(_ >= 10000L))
  }

  test("lshTopK: a probe that hits a one-member bucket gets its candidate") {
    val corpus = Seq((0L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array.fill(64)(0.25f))).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(corpus, queries, "vec_id", "embedding", k = 5, probeBits = 0)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 1L, 0L)))
  }

  test("ivfTopK with nprobe = nlist is EXACTLY the brute force (machinery oracle)") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val emb = graft.Tables.embeddings(spark, dir)
    val q = emb.where($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id", "cos_e3")
      .as[(Long, Long, Long, Long)].collect().toSet
    val exact = rows(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10))
    val exhaustive = rows(Similarity.ivfTopK(emb, q, "vec_id", "embedding", 10,
      nlist = 16, nprobe = 16))
    assert(exhaustive == exact)
    // partial probing: a subset scan whose survivors carry exact ranks/cos
    val partial = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 10,
      nlist = 16, nprobe = 8)
      .select("query_id", "neighbor_id", "cos_e3")
      .as[(Long, Long, Long)].collect()
    val exactCos = exact.map(r => (r._1, r._3) -> r._4).toMap
    partial.foreach { case (qid, nid, ce3) => assert(exactCos.get((qid, nid)).forall(_ == ce3)) }
    val recall = partial.map(r => (r._1, r._2)).toSet
      .intersect(exact.map(r => (r._1, r._3)).toSet).size.toDouble / exact.size
    info(f"ivf recall@10 at nprobe=8/16: $recall%.3f")
    assert(recall >= 0.5)
  }

  test("ivfTopK Lloyd training is bit-deterministic (integer-exact centroid sums)") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val emb = graft.Tables.embeddings(spark, dir)
    val q = emb.where($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id", "cos_e3")
      .as[(Long, Long, Long, Long)].collect().toSet
    val a = rows(Similarity.ivfTopK(emb, q, "vec_id", "embedding", 10,
      nlist = 16, nprobe = 8, trainIters = 2))
    val b = rows(Similarity.ivfTopK(emb, q.repartition(7), "vec_id", "embedding", 10,
      nlist = 16, nprobe = 8, trainIters = 2))
    assert(a == b) // refined codebook identical run to run / under repartitioning
  }

  test("lshTopK recall@10 >= 0.9 vs exact top-k on the test corpus") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val emb = graft.Tables.embeddings(spark, dir)
    val q = emb.where($"vec_id" < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10))
    val approx = pairs(Similarity.lshTopK(emb, q, "vec_id", "embedding", 10))
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"recall@10 = $recall%.3f (${exact.size} exact pairs)")
    assert(recall >= 0.9)
  }

  test("ivfListStats: full coverage, exact shares, empty lists surfaced") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val total = emb.count()
    val nlist = 8
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", nlist = nlist)
    val assign = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    val stats = Similarity.ivfListStats(assign, nlist)
      .select("list_id", "n_vectors", "share_e6", "balance_ratio_e6")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)

    // every list is present exactly once, including any empty ones
    assert(stats.map(_._1).toSeq == (1L to nlist.toLong))
    // occupancy partitions the corpus
    assert(stats.map(_._2).sum == total)
    // shares and balance ratios are the exact integer formulas
    stats.foreach { case (_, n, share, bal) =>
      assert(share == 1000000L * n / total)
      assert(bal == 1000000L * n * nlist / total)
    }
    // a perfectly balanced index would put every ratio at 1e6; the
    // mean across lists always is (sum of n_vectors = total)
    assert(stats.map(_._4).sum / nlist <= 1000000L)

    // deterministic: same corpus, different partitioning, same stats
    val assign2 = Similarity.ivfAssign(emb.repartition(7), "vec_id", "embedding", cents)
    val stats2 = Similarity.ivfListStats(assign2, nlist)
      .select("list_id", "n_vectors", "share_e6", "balance_ratio_e6")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(stats2.toSeq == stats.toSeq)
  }

  test("ivfIndexSink: stream-assigned index == batch ivfAssign on the union corpus") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    import graft.store.SnapshotStore
    val emb = graft.Tables.embeddings(spark, dir)
    val nlist = 8
    // train on the first half, stream the rest in two micro-batches
    val train = emb.where($"vec_id" % 2 === 0)
    val cents = Similarity.ivfTrain(train, "vec_id", "embedding", nlist = nlist)
    val all = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val (b1, b2) = all.splitAt(all.length / 2)

    val root = java.nio.file.Files.createTempDirectory("graft-ivf-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    var imbalances = List.empty[Long]
    val q = Similarity.ivfIndexSink(mem.toDF().toDF("vec_id", "embedding"),
      root, ckpt, "vec_id", "embedding", cents, numBuckets = 4,
      maxBalanceRatioE6 = 1L, // every check fires — proves the trigger wiring
      balanceCheckEvery = 1,  // production default is sparser (O(index) scan)
      onImbalance = r => imbalances ::= r)
    try {
      mem.addData(b1.toSeq)
      q.processAllAvailable()
      // overlap: the tail of b1 re-streams in batch 2 — upsert must dedup
      mem.addData((b1.takeRight(5) ++ b2).toSeq)
      q.processAllAvailable()

      // one atomic version per micro-batch
      assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L))
      // stream-built index ≡ batch assignment over the whole corpus
      val streamed = SnapshotStore.read(spark, root)
        .select("vec_id", "list_id").as[(Long, Int)].collect().sorted
      val batch = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
        .select("vec_id", "list_id").as[(Long, Int)].collect().sorted
      assert(streamed.sameElements(batch))
      // the balance check ran and reported a ratio each batch
      assert(imbalances.size == 2 && imbalances.forall(_ > 1L))
    } finally q.stop()

    // redelivery idempotence: re-applying batch 1's commit is a no-op
    // (same txn id the sink's foreachBatch used)
    val before = SnapshotStore.latestVersion(spark, root)
    SnapshotStore.commitDelta(spark, root,
      Seq((b1.head._1, 99)).toDF("vec_id", "list_id"), Seq("vec_id"),
      (cur, delta) => cur.unionByName(delta), txn = Some(ckpt -> 1L))
    assert(SnapshotStore.latestVersion(spark, root) == before)
  }

  test("PQ: codes are m small ints; ADC + exact rerank reaches recall@10 vs brute force; rerank scores are exact") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val emb = graft.Tables.embeddings(spark, dir)
    val q = emb.where($"vec_id" < 10)
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, k = 16, dim = 64, trainIters = 2)
    assert(cb.size == 8 && cb.forall(_.size == 16) && cb.forall(_.forall(_.size == 8)))

    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb, dim = 64)
      .as[(Long, Array[Int])].collect()
    assert(enc.length == emb.count())
    enc.foreach { case (_, codes) =>
      assert(codes.length == 8 && codes.forall(c => c >= 1 && c <= 16))
    }
    // encoding is deterministic (codebook + argmax tie-breaks)
    val enc2 = Similarity.pqEncode(emb, "vec_id", "embedding", cb, dim = 64)
      .as[(Long, Array[Int])].collect()
    assert(enc.sortBy(_._1).zip(enc2.sortBy(_._1))
      .forall { case ((a, ca), (b, cb2)) => a == b && ca.sameElements(cb2) })

    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
    val pq = Similarity.pqTopK(emb, q, "vec_id", "embedding", cb,
      dim = 64, k = 10, shortlist = 150)
    val recall = pairs(exact).intersect(pairs(pq)).size.toDouble / pairs(exact).size
    info(f"pq recall@10 (m=8, k=16, shortlist=150) = $recall%.3f")
    assert(recall >= 0.7)

    // whatever the shortlist surfaced carries the EXACT cosine — the
    // compressed domain only shortlists, never scores the output
    val exactCos = exact.select("query_id", "neighbor_id", "cos_e3")
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    pq.select("query_id", "neighbor_id", "cos_e3").as[(Long, Long, Long)]
      .collect().foreach { case (qid, nid, ce3) =>
        exactCos.get((qid, nid)).foreach(e => assert(e == ce3))
      }
  }

  test("IVF-PQ: full probe + full shortlist degenerates to exact brute force; pruned probe keeps recall") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val emb = graft.Tables.embeddings(spark, dir)
    val n = emb.count().toInt
    val q = emb.where($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id", "cos_e3")
      .as[(Long, Long, Long, Long)].collect().toSet

    val exact = rows(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10))
    // correctness oracle: probe every list, shortlist the whole corpus
    // -> every vector reaches the exact rerank -> identical output
    val full = rows(Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", k = 10,
      nlist = 8, nprobe = 8, m = 8, pqK = 16, dim = 64, shortlist = n))
    assert(full === exact)
    graft.Caching.unpersistAll()

    // the production shape: pruned probe + compressed-domain shortlist
    val pruned = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", k = 10,
      nlist = 8, nprobe = 6, m = 8, pqK = 16, dim = 64, shortlist = 100)
    def pairs(s: Set[(Long, Long, Long, Long)]) = s.map(t => (t._1, t._3))
    val got = rows(pruned)
    val recall = pairs(exact).intersect(pairs(got)).size.toDouble / pairs(exact).size
    info(f"ivf-pq recall@10 (nlist=8, nprobe=6, shortlist=100) = $recall%.3f")
    assert(recall >= 0.55)
    // surfaced pairs carry the EXACT cosine (rerank, not ADC estimate)
    val exactCos = exact.map(t => (t._1, t._3) -> t._4).toMap
    got.foreach { case (qid, rank, nid, ce3) =>
      exactCos.get((qid, nid)).foreach(e => assert(e == ce3)): Unit
    }
    // deterministic end to end (seeded init, integer-exact updates,
    // index tie-breaks)
    graft.Caching.unpersistAll()
    val again = rows(Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", k = 10,
      nlist = 8, nprobe = 6, m = 8, pqK = 16, dim = 64, shortlist = 100))
    assert(again === got)
    graft.Caching.unpersistAll()
  }
}
