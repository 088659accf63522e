package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFuncs
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Similarity}

/** The LLM-training-data pipeline surface (SURVEY.md §2b): dedup,
  * similarity search, text analysis, multimodal plumbing.
  *
  * Oracle-checked where the computation is SQL-expressible in DuckDB;
  * hash-based operators (minhash / simhash / xxhash fingerprints) are
  * rows-only here and get exact ScalaTest oracles instead.
  */
object QueriesData {
  import Queries.Q

  // =====================================================================
  // d01 — exact dedup via content hash (one shuffle on the hash).
  // =====================================================================
  val d01: Q = (s, d) =>
    Dedup.exactDupFlags(Tables.documents(s, d), "text", "doc_id")
      .select(col("doc_id"), col("content_hash"), col("dup_count"),
        col("is_dup"), col("is_canonical"))

  val d01Sql: String =
    """SELECT doc_id, md5(text) AS content_hash,
      | count(*) OVER (PARTITION BY md5(text)) AS dup_count,
      | (count(*) OVER (PARTITION BY md5(text)) > 1) AS is_dup,
      | (doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS is_canonical
      |FROM documents""".stripMargin

  // =====================================================================
  // d02 — MinHash LSH banding (rows-only: signature hashes are
  // Spark-side CRC/seeded universal hashes). 64 hashes → 16 bands.
  // =====================================================================
  val d02: Q = (s, d) =>
    Dedup.minhashBands(Tables.documents(s, d), "text", "doc_id")

  // =====================================================================
  // d03 — SimHash 64-bit fingerprints + 16-bit LSH chunks (rows-only:
  // xxhash64 is Spark-specific).
  // =====================================================================
  val d03: Q = (s, d) =>
    Dedup.simhash(Tables.documents(s, d), "text", "doc_id")
      .select(col("doc_id"), col("simhash"),
        col("chunk0"), col("chunk1"), col("chunk2"), col("chunk3"))

  // =====================================================================
  // d04 — n-gram Jaccard verify over MinHash candidate pairs
  // (rows-only: candidates depend on the Spark-side signatures).
  // =====================================================================
  val d04: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // ONE shingle expansion serves both the signature pass and the
    // exact verify pass (min over distinct hashes == min over all).
    // The banded form is not persisted: candidatePairs references it
    // once (one shuffle on band_key into capped member sets).
    val hashes = Dedup.shingleHashes(docs, "text", "doc_id")
      .transform(graft.Caching.persistTracked(_))
    val bands = Dedup.minhashBandsFromHashes(hashes, "doc_id")
    val cands = Dedup.candidatePairs(bands, "doc_id")
    Dedup.ngramJaccardFromHashes(cands, hashes, "doc_id")
      .withColumn("is_near_dup", col("jaccard_e6") >= 500000L)
  }

  // =====================================================================
  // d07 — dedup clusters: candidate pairs → Jaccard-verified pairs →
  // connected components → one canonical doc per cluster (the step
  // that actually DEDUPES: pairs alone can't pick keepers across
  // transitive matches). The closure is ADAPTIVE on the materialized
  // pair count: metadata-sized graphs take a driver union-find (this
  // corpus: 256 edges — ~20 scheduler round-trips saved), larger ones
  // the O(log d) distributed pointer-jumping loop; DedupSpec proves
  // the two paths produce identical labelings and each ≡ union-find.
  // Rows-only: pairs derive from Spark-side minhash.
  // =====================================================================
  val d07: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val hashes = Dedup.shingleHashes(docs, "text", "doc_id")
      .transform(graft.Caching.persistTracked(_))
    // bands not persisted — candidatePairs references them once (see d04)
    val bands = Dedup.minhashBandsFromHashes(hashes, "doc_id")
    val verified = Dedup.ngramJaccardFromHashes(
        Dedup.candidatePairs(bands, "doc_id"), hashes, "doc_id")
      .where(col("jaccard_e6") >= 500000L)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    Dedup.clusters(verified)
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col("node") === col("cluster_id"))
      .select(col("node").as("doc_id"), col("cluster_id"),
        col("cluster_size"), col("is_canonical"))
  }

  // =====================================================================
  // d08 — passage-level dedup (the CCNet / line-dedup shape adapted to
  // unstructured docs): the corpus is segmented into fixed 8-token
  // passages; a passage that already occurred anywhere earlier in the
  // corpus (first occurrence = lowest (doc_id, position)) is dropped,
  // and each doc is reassembled from its surviving passages. At 100 TB
  // this is one narrow segmentation pass, one shuffle on the passage
  // text (the dedup exchange — exactly the cost of the problem), and
  // one groupBy back on doc_id; no array crosses a shuffle.
  // =====================================================================
  val d08: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val chunkLen = 8
    val toks = graft.operators.Parallelize.ensure(Tables.documents(s, d))
      .select(col("doc_id"), TextFuncs.tokens(col("text")).as("__t"))
      // an empty token array must yield NO chunks (the oracle's
      // range(0) is empty); without this guard the sequence upper
      // bound ceil(0/8)-1 = -1 yields two phantom chunk indexes
      // [0, -1]. Unreachable while tokens("") = [""], but the
      // query's correctness must not hang on that tokenizer invariant.
      .where(size(col("__t")) > 0)
    val chunks = toks.select(col("doc_id"),
      posexplode(TextFuncs.passageChunks(col("__t"), chunkLen))
        .as(Seq("chunk_idx", "chunk")))
    val w = Window.partitionBy(col("chunk"))
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)
    chunks.withColumn("__rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        concat_ws(" ", transform(array_sort(collect_list(
            when(col("__rn") === 1, struct(col("chunk_idx"), col("chunk"))))),
          c => c.getField("chunk"))).as("kept_text"))
  }

  val d08Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |chunks AS (SELECT doc_id, i AS chunk_idx,
      |             array_to_string(t[(i*8+1):(i*8+8)], ' ') AS chunk
      |           FROM toks, UNNEST(range(CAST(ceil(len(t) / 8.0) AS BIGINT))) AS u(i)),
      |ranked AS (SELECT *, row_number() OVER
      |             (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      |           FROM chunks)
      |SELECT doc_id, count(*) AS n_chunks,
      | CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
      | coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx), '') AS kept_text
      |FROM ranked GROUP BY doc_id""".stripMargin

  // =====================================================================
  // k03 — approximate quantiles: the O(1)-state scale path for q25's
  // exact percentiles. Spark's native approx_percentile is a
  // Greenwald-Khanna summary — mergeable partial state bounded by the
  // accuracy parameter, never by row count (q25's two-phase histogram
  // is exact but its state is value-cardinality-bound). Rows-only:
  // GK internals are engine-specific; QuantileSpec bounds the rank
  // error against the exact distribution instead.
  // =====================================================================
  val k03: Q = (s, d) => {
    val pcts = Seq(0.01, 0.10, 0.25, 0.50, 0.75, 0.90, 0.99)
    Tables.lineitem(s, d)
      .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .agg(percentile_approx(col("cents"), typedLit(pcts), lit(10000)).as("qs"))
      .select(posexplode(arrays_zip(
        typedLit(pcts.map(p => (p * 100).toLong)).as("pct"), col("qs").as("est"))))
      .select(col("col.pct").as("quantile_pct"), col("col.est").as("est_cents"))
  }
  val d05: Q = (s, d) =>
    Dedup.embeddingNearDups(
      Tables.embeddings(s, d).where(col("vec_id") % 7 === 0),
      "vec_id", "embedding", threshold = 0.30)

  val d05Sql: String =
    """WITH sub AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 7 = 0),
      |elems AS (SELECT vec_id, unnest(embedding) AS v,
      |                 unnest(range(1, len(embedding) + 1)) AS i FROM sub),
      |norms AS (SELECT vec_id,
      |            CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) * CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) AS nsq
      |          FROM elems GROUP BY vec_id),
      |dots AS (SELECT ea.vec_id AS vec_id_a, eb.vec_id AS vec_id_b,
      |           CAST(sum(CAST(round(CAST(ea.v AS DOUBLE) * 1000000) AS BIGINT) * CAST(round(CAST(eb.v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) AS dot
      |         FROM elems ea JOIN elems eb ON ea.i = eb.i AND ea.vec_id < eb.vec_id
      |         GROUP BY 1, 2),
      |pairs AS (SELECT vec_id_a, vec_id_b, dot / sqrt(na.nsq * nb.nsq) AS cos
      |          FROM dots JOIN norms na ON na.vec_id = vec_id_a
      |                    JOIN norms nb ON nb.vec_id = vec_id_b)
      |SELECT vec_id_a, vec_id_b, (sa.label = sb.label) AS same_label,
      |  CAST(floor(cos * 1000) AS BIGINT) AS cos_e3
      |FROM pairs JOIN sub sa ON sa.vec_id = vec_id_a
      |           JOIN sub sb ON sb.vec_id = vec_id_b
      |WHERE cos >= 0.30""".stripMargin

  // =====================================================================
  // s01 — brute-force cosine top-k ANN baseline (queries: vec_id < 10).
  // =====================================================================
  val s01: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 10)
  }

  val s01Sql: String =
    """WITH elems AS (SELECT vec_id, unnest(embedding) AS v,
      |                 unnest(range(1, len(embedding) + 1)) AS i FROM embeddings),
      |norms AS (SELECT vec_id,
      |            CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) * CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) AS nsq
      |          FROM elems GROUP BY vec_id),
      |qelems AS (SELECT * FROM elems WHERE vec_id < 10),
      |dots AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |           CAST(sum(CAST(round(CAST(q.v AS DOUBLE) * 1000000) AS BIGINT) * CAST(round(CAST(e.v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) AS dot
      |         FROM qelems q JOIN elems e ON q.i = e.i AND e.vec_id <> q.vec_id
      |         GROUP BY 1, 2),
      |scored AS (SELECT query_id, neighbor_id, dot / sqrt(nq.nsq * ne.nsq) AS cos
      |           FROM dots JOIN norms nq ON nq.vec_id = query_id
      |                     JOIN norms ne ON ne.vec_id = neighbor_id)
      |SELECT query_id, rank, neighbor_id, CAST(floor(cos * 1000) AS BIGINT) AS cos_e3
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      |      FROM scored)
      |WHERE rank <= 10""".stripMargin

  // =====================================================================
  // s02 — LSH-bucketed ANN (the 100 TB path; rows-only — buckets
  // depend on the seeded hyperplanes).
  // =====================================================================
  val s02: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopK(emb, emb.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 10)
  }

  // =====================================================================
  // t01 — stopword-marker language ID (deterministic heuristic).
  // =====================================================================
  val t01: Q = (s, d) => {
    val base = TextFuncs.langMarkers.foldLeft(Tables.documents(s, d)) {
      case (df, (lang, words)) =>
        df.withColumn(s"${lang}_hits", TextFuncs.stopwordHits(col("text"), words))
    }
    val Seq(en, de, es, fr, zh) =
      Seq("en", "de", "es", "fr", "zh").map(l => col(s"${l}_hits"))
    base.select(col("doc_id"), en.cast("long").as("en_hits"), de.cast("long").as("de_hits"),
      es.cast("long").as("es_hits"), fr.cast("long").as("fr_hits"), zh.cast("long").as("zh_hits"),
      when(en >= de && en >= es && en >= fr && en >= zh, "en")
        .when(de >= es && de >= fr && de >= zh, "de")
        .when(es >= fr && es >= zh, "es")
        .when(fr >= zh, "fr")
        .otherwise("zh").as("pred_lang"))
  }

  val t01Sql: String = {
    def hits(words: Seq[String]) = {
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(lower(text), ' '), x -> x IN ($inList)))"
    }
    val m = TextFuncs.langMarkers.toMap
    s"""SELECT doc_id,
       | ${hits(m("en"))} AS en_hits,
       | ${hits(m("de"))} AS de_hits,
       | ${hits(m("es"))} AS es_hits,
       | ${hits(m("fr"))} AS fr_hits,
       | ${hits(m("zh"))} AS zh_hits,
       | CASE
       |  WHEN ${hits(m("en"))} >= ${hits(m("de"))} AND ${hits(m("en"))} >= ${hits(m("es"))}
       |   AND ${hits(m("en"))} >= ${hits(m("fr"))} AND ${hits(m("en"))} >= ${hits(m("zh"))} THEN 'en'
       |  WHEN ${hits(m("de"))} >= ${hits(m("es"))} AND ${hits(m("de"))} >= ${hits(m("fr"))}
       |   AND ${hits(m("de"))} >= ${hits(m("zh"))} THEN 'de'
       |  WHEN ${hits(m("es"))} >= ${hits(m("fr"))} AND ${hits(m("es"))} >= ${hits(m("zh"))} THEN 'es'
       |  WHEN ${hits(m("fr"))} >= ${hits(m("zh"))} THEN 'fr'
       |  ELSE 'zh' END AS pred_lang
       |FROM documents""".stripMargin
  }

  // =====================================================================
  // t10 — within-document repetition (the Gopher-rules quality signal,
  // Rae et al. 2021 "Scaling Language Models", §A1.1.2 — public
  // paper): fraction of duplicate 2-grams inside each doc. Highly
  // repetitive docs are the classic low-quality pattern n-gram LMs
  // overfit to. Integer-exact fraction (e6, integer division) so the
  // oracle agrees bit-for-bit. One narrow explode + one groupBy on the
  // doc id — embarrassingly parallel at any corpus size.
  // =====================================================================
  val t10: Q = (s, d) =>
    graft.operators.Parallelize.ensure(Tables.documents(s, d))
      .select(col("doc_id"),
        explode_outer(TextFuncs.shingles(col("text"), 2)).as("__bg"))
      .groupBy(col("doc_id"))
      .agg(count(col("__bg")).as("n_bigrams"),
        count_distinct(col("__bg")).as("n_distinct_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
        when(col("n_bigrams") > 0,
          expr("((n_bigrams - n_distinct_bigrams) * 1000000) div n_bigrams"))
          .otherwise(0L).as("dup_frac_e6"))
      .withColumn("is_repetitive", col("dup_frac_e6") >= 200000L)

  val t10Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |bi AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bg
      |       FROM toks, UNNEST(range(1, len(t))) AS u(i)
      |       WHERE len(t) >= 2),
      |agg AS (SELECT d.doc_id, count(bg) AS n_bigrams,
      |          count(DISTINCT bg) AS n_distinct_bigrams
      |        FROM documents d LEFT JOIN bi ON d.doc_id = bi.doc_id
      |        GROUP BY d.doc_id)
      |SELECT doc_id, n_bigrams, n_distinct_bigrams,
      | CASE WHEN n_bigrams > 0
      |   THEN (n_bigrams - n_distinct_bigrams) * 1000000 // n_bigrams
      |   ELSE 0 END AS dup_frac_e6,
      | (CASE WHEN n_bigrams > 0
      |   THEN (n_bigrams - n_distinct_bigrams) * 1000000 // n_bigrams
      |   ELSE 0 END) >= 200000 AS is_repetitive
      |FROM agg""".stripMargin

  // =====================================================================
  // t02 — document quality stats (integer-exact ratios).
  // =====================================================================
  val t02: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_tokens", size(split(trim(col("text")), " +")).cast("long"))
      .withColumn("alpha_chars", length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long"))
      .withColumn("alpha_pct_floor",
        floor(col("alpha_chars").cast("double") * 100d / length(col("text"))))
      .withColumn("mean_token_len_e2",
        floor(length(regexp_replace(col("text"), " ", "")).cast("double") * 100d / col("n_tokens")))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"),
        col("alpha_chars"), col("alpha_pct_floor"), col("mean_token_len_e2"),
        when(col("n_tokens") >= 20 && col("alpha_pct_floor") >= 70, "good")
          .when(col("n_tokens") >= 5, "ok")
          .otherwise("low").as("quality_flag"))

  val t02Sql: String =
    """SELECT doc_id, n_chars,
      | len(string_split_regex(trim(text), ' +')) AS n_tokens,
      | length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
      | CAST(floor(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) * 100 / length(text)) AS BIGINT) AS alpha_pct_floor,
      | CAST(floor(CAST(length(replace(text, ' ', '')) AS DOUBLE) * 100 / len(string_split_regex(trim(text), ' +'))) AS BIGINT) AS mean_token_len_e2,
      | CASE WHEN len(string_split_regex(trim(text), ' +')) >= 20
      |        AND floor(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) * 100 / length(text)) >= 70 THEN 'good'
      |      WHEN len(string_split_regex(trim(text), ' +')) >= 5 THEN 'ok'
      |      ELSE 'low' END AS quality_flag
      |FROM documents""".stripMargin

  // =====================================================================
  // t03 — token counting: whitespace + BPE-ish regex classes.
  // =====================================================================
  val t03: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      size(split(trim(col("text")), " +")).cast("long").as("ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+")).cast("long").as("word_tokens"),
      regexp_count(col("text"), lit("[0-9]+")).cast("long").as("num_tokens"),
      regexp_count(col("text"), lit("[^A-Za-z0-9 ]")).cast("long").as("punct_tokens"),
      (regexp_count(col("text"), lit("[A-Za-z]+"))
        + regexp_count(col("text"), lit("[0-9]+"))
        + regexp_count(col("text"), lit("[^A-Za-z0-9 ]"))).cast("long").as("bpe_ish_tokens"))

  val t03Sql: String =
    """SELECT doc_id,
      | len(string_split_regex(trim(text), ' +')) AS ws_tokens,
      | len(regexp_extract_all(text, '[A-Za-z]+')) AS word_tokens,
      | len(regexp_extract_all(text, '[0-9]+')) AS num_tokens,
      | len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS punct_tokens,
      | len(regexp_extract_all(text, '[A-Za-z]+')) + len(regexp_extract_all(text, '[0-9]+'))
      |   + len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS bpe_ish_tokens
      |FROM documents""".stripMargin

  // =====================================================================
  // t04 — rolling-hash fingerprints (rows-only: xxhash64 seeds).
  // =====================================================================
  val t04: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFuncs.rollingFingerprint(col("text")).as("doc_fp"),
      TextFuncs.winnowFingerprint(col("text"), 3).as("winnow_fp"))

  // =====================================================================
  // m01 — multimodal binary plumbing with stubbed decode (rows-only).
  // =====================================================================
  val m01: Q = (s, d) =>
    Multimodal.decodeFeatures(
      Multimodal.attachPayloads(Tables.documents(s, d))).toDF()

  // =====================================================================
  // m02 — multimodal transcode chain: resize → frame-sample → rollup,
  // all narrow until the final aggregate (rows-only: stub codec).
  // =====================================================================
  val m02: Q = (s, d) => {
    val media = Multimodal.attachPayloads(Tables.documents(s, d))
    val resized = Multimodal.resizePayloads(media, maxBytes = 256)
    Multimodal.sampleFrames(resized.toDF(), frameBytes = 64, everyMs = 1000L)
      .toDF()
      .groupBy(col("mime"))
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_bytes")).as("total_bytes"),
        max(col("frame_idx")).cast("long").as("max_frame_idx"))
  }

  // =====================================================================
  // g01 — distributed synthetic data generation (menu.py analog;
  // rows-only: derivation uses Spark's xxhash64). Rolls the generated
  // menu up so output is small and deterministic.
  // =====================================================================
  val g01: Q = (s, _) =>
    graft.sources.DataGen.menu(s, 20000)
      .groupBy(col("category"), col("item_type"))
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("item_name")).as("n_distinct_items"),
        min(col("price_cents")).as("min_price_cents"),
        max(col("price_cents")).as("max_price_cents"))

  // =====================================================================
  // a01 — as-of join: each event attributed to the user's latest order
  // at or before the event time (point-in-time attribution; DuckDB's
  // native ASOF JOIN is the oracle). Orders are pre-deduped to one per
  // (customer, date) so the match is unambiguous in both engines.
  // =====================================================================
  val a01: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val ordersDedup = Tables.orders(s, d)
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
      .select("o_custkey", "o_orderdate", "o_orderkey")
    graft.operators.AsOfJoin.leftAsOf(
        Tables.events(s, d), ordersDedup,
        probeKey = "user_id", buildKey = "o_custkey",
        probeTs = "ts", buildTs = "o_orderdate",
        buildCols = Seq("o_orderkey", "o_orderdate"), tiebreak = "o_orderkey")
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("event_ts"),
        col("asof_o_orderkey").as("last_order_id"),
        date_format(col("asof_o_orderdate"), "yyyy-MM-dd").as("last_order_date"))
  }

  val a01Sql: String =
    """WITH o1 AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey FROM (
      |    SELECT o_custkey, o_orderdate, o_orderkey,
      |      row_number() OVER (PARTITION BY o_custkey, o_orderdate
      |                         ORDER BY o_orderkey DESC) AS rn
      |    FROM orders) WHERE rn = 1)
      |SELECT e.event_id, e.user_id,
      |  date_trunc('second', e.ts) AS event_ts,
      |  o.o_orderkey AS last_order_id,
      |  strftime(o.o_orderdate, '%Y-%m-%d') AS last_order_date
      |FROM events e ASOF LEFT JOIN o1 o
      |  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts""".stripMargin

  // =====================================================================
  // y01 — typed Dataset path: groupByKey + custom Aggregator computing
  // the same exact integer revenue as the relational surface, so the
  // SQL oracle validates the typed API too.
  // =====================================================================
  val y01: Q = (s, _d) => {
    import s.implicits._
    graft.typed.TypedModel.lineitems(s, _d)
      .groupByKey(_.l_returnflag)
      .agg(graft.typed.TypedModel.RevenueAgg.toColumn.name("rev"))
      .map { case (flag, acc) => (flag, acc.n, acc.revenueE4) }
      .toDF("return_flag", "n_items", "revenue_e4")
  }

  val y01Sql: String =
    """SELECT l_returnflag AS return_flag, count(*) AS n_items,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |   * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // =====================================================================
  // t05 — corpus vocabulary stats: top-25 token frequencies
  // (explode → count → distributed top-k).
  // =====================================================================
  val t05: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(explode(TextFuncs.tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
    counts.orderBy(col("n_occurrences").desc, col("token").asc).limit(25)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_occurrences").desc, col("token").asc)))
      .select(col("rank").cast("long").as("rank"), col("token"), col("n_occurrences"))
  }

  val t05Sql: String =
    """SELECT rank, token, n_occurrences FROM (
      | SELECT token, n_occurrences,
      |   row_number() OVER (ORDER BY n_occurrences DESC, token ASC) AS rank
      | FROM (
      |  SELECT t.token, count(*) AS n_occurrences
      |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
      |  WHERE length(t.token) > 0
      |  GROUP BY t.token))
      |WHERE rank <= 25""".stripMargin

  // =====================================================================
  // s03 — per-label embedding centroids in exact integer space:
  // posexplode to (label, dim) long format, sum e6 components — fully
  // shuffle-parallel, no float accumulation order anywhere.
  // =====================================================================
  val s03: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("dim", col("dim").cast("long"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(round(col("v") * 1000000d).cast("long")).as("sum_e6"))
      .where(col("dim") < 8) // first 8 dims keep the gate output small

  val s03Sql: String =
    """SELECT label, dim, count(*) AS n_vectors,
      | CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_e6
      |FROM (
      | SELECT label, unnest(embedding) AS v,
      |   unnest(range(0, len(embedding))) AS dim
      | FROM embeddings)
      |WHERE dim < 8
      |GROUP BY label, dim""".stripMargin

  // =====================================================================
  // k01 — KMV distinct sketch (custom typed Aggregator, O(k) state)
  // next to the exact count (rows-only: estimate is Spark-side, but
  // fully deterministic — fixed hash, associative merges).
  // =====================================================================
  val k01: Q = (s, d) => {
    val exact = Tables.events(s, d).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    graft.operators.Sketch.kmvDistinct(
        Tables.events(s, d), "event_type", "user_id", k = 64)
      .join(exact, "event_type")
  }

  // =====================================================================
  // k02 — EXACT heavy hitters via Misra-Gries sketch-then-verify:
  // pass 1 keeps O(k) counters per group (guaranteed superset of
  // everything above the 1/40 frequency threshold since k=64 ≥ 40),
  // pass 2 exact-counts only the candidates — the full token-domain
  // groupBy never happens, which is the point at 100 TB vocabulary
  // scale. Output is exact, so a plain SQL aggregate is the oracle.
  // =====================================================================
  val k02: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("lang"), explode(TextFuncs.tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
    graft.operators.Sketch.heavyHitters(toks, "lang", "token", phiDenom = 40L, k = 64)
  }

  val k02Sql: String =
    """WITH toks AS (
      |  SELECT lang, t.token FROM (
      |    SELECT lang, unnest(string_split(lower(text), ' ')) AS token
      |    FROM documents) t
      |  WHERE length(t.token) > 0),
      |tot AS (SELECT lang, count(*) AS group_total FROM toks GROUP BY lang),
      |cnt AS (SELECT lang, token, count(*) AS n_occurrences
      |        FROM toks GROUP BY lang, token)
      |SELECT c.lang, c.token, c.n_occurrences, t.group_total
      |FROM cnt c JOIN tot t ON c.lang = t.lang
      |WHERE c.n_occurrences * 40 > t.group_total""".stripMargin

  // =====================================================================
  // t06 — deterministic train/val/test split: a pure function of
  // (doc_id, salt), bit-identical in any engine (md5-digit bucket) —
  // the reproducible-split contract of a training-data pipeline.
  // =====================================================================
  val t06: Q = (s, d) => {
    val bucket = graft.functions.Funcs.splitBucket(col("doc_id"), "graft")
    Tables.documents(s, d).select(
      col("doc_id"),
      bucket.as("split_bucket"),
      graft.functions.Funcs.splitLabel(bucket).as("split"))
  }

  val t06Sql: String =
    """SELECT doc_id, split_bucket,
      | CASE WHEN split_bucket < 80 THEN 'train'
      |      WHEN split_bucket < 90 THEN 'val' ELSE 'test' END AS split
      |FROM (
      | SELECT doc_id,
      |   CAST(CAST(substr(regexp_replace(md5(CAST(doc_id AS VARCHAR) || '|graft'),
      |     '[a-f]', '', 'g') || '000000', 1, 6) AS BIGINT) % 100 AS BIGINT) AS split_bucket
      | FROM documents)""".stripMargin

  // =====================================================================
  // t07 — sequence packing: greedy sequential packing of docs into
  // ~2048-token context windows, per shard. A pack stream is
  // inherently sequential (each doc's offset depends on all prior
  // docs), so the parallelism unit is the SHARD — at cluster scale set
  // shards ≈ cores and every shard packs independently after one
  // shuffle; the per-shard window state is one running sum.
  // =====================================================================
  /** The t07 operator with the shard count EXPLICIT: packing
    * parallelism = shards, so the constant is a capacity decision, not
    * a hardcode. `shards <= 0` derives it from the session's
    * `defaultParallelism` — the cluster-sized choice for real runs.
    * The registered oracle pair below pins one explicit constant on
    * BOTH sides ([[t07SqlFor]] bakes the same number into the DuckDB
    * SQL) because determinism of the compare requires an
    * engine-independent shard function of the data alone.
    */
  def seqPack(docs: org.apache.spark.sql.DataFrame, shards: Int = 0,
              budget: Long = 2048L): org.apache.spark.sql.DataFrame = {
    val n = if (shards > 0) shards
      else docs.sparkSession.sparkContext.defaultParallelism
    val toks = docs.select(
      col("doc_id"),
      // full-width hash mod n — NOT splitBucket % n, which caps the
      // shard count at 100 and skews shards 2× when 50 < n < 100
      graft.functions.Funcs.hashMod(col("doc_id"), "pack", n).as("shard"),
      size(split(trim(col("text")), " +")).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    toks
      .withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin",
        floor(col("start_offset").cast("double") / budget).cast("long"))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("start_offset"), col("bin"))
  }

  /** Shard count the REGISTERED t07 oracle pair pins on both sides —
    * deliberately not the old hardcoded 8, proving the oracle
    * hash-matches at any agreed constant.
    */
  val T07Shards = 12

  val t07: Q = (s, d) => seqPack(Tables.documents(s, d), shards = T07Shards)

  def t07SqlFor(shards: Int): String =
    s"""SELECT doc_id, shard, n_tokens, start_offset,
      | CAST(floor(CAST(start_offset AS DOUBLE) / 2048) AS BIGINT) AS bin
      |FROM (
      | SELECT doc_id, shard, n_tokens,
      |   CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |     - n_tokens AS start_offset
      | FROM (
      |  SELECT doc_id,
      |    CAST(CAST(substr(regexp_replace(md5(CAST(doc_id AS VARCHAR) || '|pack'),
      |      '[a-f]', '', 'g') || '000000', 1, 6) AS BIGINT) % $shards AS BIGINT) AS shard,
      |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens
      |  FROM documents))""".stripMargin

  val t07Sql: String = t07SqlFor(T07Shards)

  // =====================================================================
  // t08 — PII scrubbing: free-text redaction of emails / phone numbers
  // / long digit runs before a corpus ships to training. Runs over a
  // synthesized customer "profile" string (name + derived email +
  // TPC-H phone + comment) so every redaction class actually fires.
  // Pure per-row regexp expressions — embarrassingly parallel, no
  // shuffle at all; per-class counts are taken stage-by-stage so
  // nothing is double-counted (ref analog: masking policies,
  // 01 Create DB+Schema.sql:43-60, applied to free text).
  // =====================================================================
  val t08: Q = (s, d) => {
    // TPC-H-style NN-NNN-NNN-NNNN phone + account digits, synthesized
    // deterministically (pure integer arithmetic, identical in any
    // engine) so every redaction class actually fires on this schema
    val phone = concat(
      (lit(10) + col("c_nationkey")).cast("string"), lit("-"),
      lpad((col("c_custkey") * 7 % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("c_custkey") * 13 % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("c_custkey") * 31 % 10000).cast("string"), 4, "0"))
    val profile = concat(
      col("c_name"), lit(" <"),
      regexp_replace(lower(col("c_name")), "#", "."), lit("@mail.example.com> phone "),
      phone, lit(" acct "),
      round(col("c_acctbal") * 100).cast("long").cast("string"),
      lit(" "), col("c_mktsegment"))
    val s1 = TextFuncs.scrubEmails(profile)
    val s2 = TextFuncs.scrubPhones(s1)
    Tables.customer(s, d).select(
      col("c_custkey").as("customer_id"),
      regexp_count(profile, lit(TextFuncs.EmailPat)).cast("long").as("n_emails"),
      regexp_count(s1, lit(TextFuncs.PhonePat)).cast("long").as("n_phones"),
      regexp_count(s2, lit(TextFuncs.DigitRunPat)).cast("long").as("n_digit_runs"),
      TextFuncs.scrubDigitRuns(s2).as("scrubbed"))
  }

  val t08Sql: String = {
    val phone = "(CAST(10 + c_nationkey AS VARCHAR) || '-' || " +
      "lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0') || '-' || " +
      "lpad(CAST(c_custkey * 13 % 1000 AS VARCHAR), 3, '0') || '-' || " +
      "lpad(CAST(c_custkey * 31 % 10000 AS VARCHAR), 4, '0'))"
    val profile =
      s"(c_name || ' <' || regexp_replace(lower(c_name), '#', '.', 'g') || '@mail.example.com> phone ' || $phone || ' acct ' || CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR) || ' ' || c_mktsegment)"
    val s1 = s"regexp_replace($profile, '${TextFuncs.EmailPat}', '[EMAIL]', 'g')"
    val s2 = s"regexp_replace($s1, '${TextFuncs.PhonePat}', '[PHONE]', 'g')"
    s"""SELECT c_custkey AS customer_id,
       | CAST(len(regexp_extract_all($profile, '${TextFuncs.EmailPat}')) AS BIGINT) AS n_emails,
       | CAST(len(regexp_extract_all($s1, '${TextFuncs.PhonePat}')) AS BIGINT) AS n_phones,
       | CAST(len(regexp_extract_all($s2, '${TextFuncs.DigitRunPat}')) AS BIGINT) AS n_digit_runs,
       | regexp_replace($s2, '${TextFuncs.DigitRunPat}', '[NUM]', 'g') AS scrubbed
       |FROM customer""".stripMargin
  }

  // =====================================================================
  // t09 — deterministic weighted corpus sampling (rows-only: race keys
  // are seeded Spark hashes; SamplingSpec proves determinism,
  // partition-invariance, and weight laws). Narrow key pass +
  // distributed top-k — the corpus never shuffles.
  // =====================================================================
  val t09: Q = (s, d) =>
    graft.operators.Sampling.weightedSample(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 200)
      .orderBy(col("doc_id"))

  // =====================================================================
  // s04 — IVF ANN (rows-only: centroid sample is Spark-side; the
  // SimilaritySpec asserts nprobe=nlist ≡ exact brute force).
  // =====================================================================
  val s04: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 10, nlist = 16, nprobe = 8)
  }

  // =====================================================================
  // d06 — LSH-bucketed embedding near-dup: the 100 TB path for d05
  // (rows-only: buckets are Spark-side; DedupSpec asserts precision=1
  // vs the exact form and planted-pair recall).
  // =====================================================================
  val d06: Q = (s, d) =>
    Dedup.embeddingNearDupsLsh(
      Tables.embeddings(s, d).where(col("vec_id") % 7 === 0),
      "vec_id", "embedding", threshold = 0.30)

  // =====================================================================
  // t11 — deterministic stratified sampling: a fixed-size sample per
  // stratum (language), ranked by a seeded content-independent hash so
  // the SAME sample comes out on any engine, any partitioning, any run
  // — the class-balancing primitive of training-data curation. Spark
  // plans the rank<=n filter as WindowGroupLimit: each task keeps only
  // its local top-n per stratum BEFORE the shuffle, so the exchange
  // carries O(strata · n) rows, not the corpus.
  // =====================================================================
  val t11: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val n = 20
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    graft.operators.Parallelize.ensure(Tables.documents(s, d))
      .select(col("lang"), col("doc_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= n)
  }

  val t11Sql: String =
    """SELECT lang, doc_id, rank FROM (
      | SELECT lang, doc_id,
      |   CAST(row_number() OVER (PARTITION BY lang
      |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank
      | FROM documents)
      |WHERE rank <= 20""".stripMargin

  // =====================================================================
  // t12 — document-frequency quality score: per doc, the mean corpus
  // document-frequency of its distinct tokens (integer-exact e6 via
  // BIGINT division) — high = boilerplate/common-token text, low =
  // rare-vocabulary text. Two shuffles, both on narrow (id, token)
  // rows: token→df census (map-side partials), then the fan-out joins
  // the metadata-small df table back and re-groups by doc. No array
  // crosses a shuffle.
  // =====================================================================
  val t12: Q = (s, d) => {
    // the exploded (doc_id, token) frame feeds BOTH the df census and
    // the join probe side — materialize so the tokenizer (the dominant
    // CPU cost) runs once
    val toks = graft.Caching.persistTracked(
      graft.operators.Parallelize.ensure(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(array_distinct(TextFuncs.tokens(col("text")))).as("tok")))
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("__df"))
    toks.join(dfreq, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_toks"), sum(col("__df")).as("sum_df"))
      .withColumn("mean_df_e6", expr("(1000000 * sum_df) div n_distinct_toks"))
  }

  val t12Sql: String =
    """WITH raw AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |             FROM documents),
      |toks AS (SELECT DISTINCT doc_id, tok FROM raw),
      |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY tok)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_toks,
      | CAST(sum(df) AS BIGINT) AS sum_df,
      | (1000000 * CAST(sum(df) AS BIGINT)) // CAST(count(*) AS BIGINT) AS mean_df_e6
      |FROM toks JOIN df USING (tok) GROUP BY doc_id""".stripMargin

  // =====================================================================
  // s05 — int8 scalar quantization of embeddings (the 4× storage path
  // for vector corpora): per-vector min/max range, 0..255 codes, and
  // the reconstruction-error profile — ALL in exact e6 integer space
  // (codes and recon from BIGINT division), so the result is
  // bit-identical on any engine. One shuffle (per-vector window);
  // the groupBy reuses the window's hash partitioning.
  // =====================================================================
  val s05: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
    graft.operators.Parallelize.ensure(Tables.embeddings(s, d))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v_e6", round(col("v") * 1000000d).cast("long"))
      .withColumn("mn", min(col("v_e6")).over(w))
      .withColumn("mx", max(col("v_e6")).over(w))
      .withColumn("rng", col("mx") - col("mn"))
      .withColumn("code", when(col("rng") === 0L, lit(0L))
        .otherwise(expr("((v_e6 - mn) * 255) div rng")))
      .withColumn("recon", when(col("rng") === 0L, col("mn"))
        .otherwise(col("mn") + expr("(code * rng) div 255")))
      .withColumn("err", abs(col("v_e6") - col("recon")))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"), min(col("mn")).as("mn_e6"),
        max(col("mx")).as("mx_e6"), sum(col("err")).as("sum_abs_err_e6"),
        max(col("err")).as("max_err_e6"))
  }

  val s05Sql: String =
    """WITH e AS (SELECT vec_id,
      |    CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS v_e6
      |  FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings)),
      |st AS (SELECT vec_id, min(v_e6) AS mn, max(v_e6) AS mx FROM e GROUP BY vec_id),
      |q AS (SELECT e.vec_id, v_e6, mn, mx, mx - mn AS rng,
      |        CASE WHEN mx - mn = 0 THEN 0
      |             ELSE ((v_e6 - mn) * 255) // (mx - mn) END AS code
      |      FROM e JOIN st USING (vec_id)),
      |r AS (SELECT vec_id, v_e6, mn, mx,
      |        abs(v_e6 - CASE WHEN rng = 0 THEN mn
      |                        ELSE mn + (code * rng) // 255 END) AS err
      |      FROM q)
      |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
      | min(mn) AS mn_e6, max(mx) AS mx_e6,
      | CAST(sum(err) AS BIGINT) AS sum_abs_err_e6, max(err) AS max_err_e6
      |FROM r GROUP BY vec_id""".stripMargin

  // =====================================================================
  // d09 — cross-source contamination (benchmark-decontamination shape,
  // GPT-3/PaLM style n-gram overlap): count the 8-token passages each
  // PAIR of sources shares. Passages present in more than maxDf
  // sources are boilerplate, not leakage — dropped BEFORE the
  // self-join, which also caps the join fan-out at maxDf² per passage
  // (a passage shared by all S sources would otherwise emit S² pairs).
  // One distinct-shuffle on (chunk, source), one census groupBy, one
  // equi-join on chunk.
  // =====================================================================
  val d09: Q = (s, d) => {
    val chunkLen = 8
    val maxDf = 10
    val toks = graft.operators.Parallelize.ensure(Tables.documents(s, d))
      .select(col("source"), TextFuncs.tokens(col("text")).as("__t"))
      .where(size(col("__t")) > 0)
    val chunks = toks.select(col("source"),
      explode(TextFuncs.passageChunks(col("__t"), chunkLen)).as("chunk"))
    // ONE groupBy on the chunk replaces [distinct → census groupBy →
    // semi-join → persist → self-join] (guide §2.3 aggregate before you
    // shuffle, §2.4 remove shuffles outright): collect_set dedupes
    // (chunk, source) exactly like the old distinct, size(set) IS the
    // census, and the source pairs are generated INSIDE the reducer —
    // the set is bounded by the source domain, and the maxDf cap keeps
    // the fan-out ≤ maxDf² exactly as before. One pass over the corpus,
    // two exchanges total, nothing persisted.
    val grouped = chunks.groupBy(col("chunk"))
      .agg(sort_array(collect_set(col("source"))).as("__ss"))
      .where(size(col("__ss")) <= maxDf)
    grouped
      .select(explode(col("__ss")).as("source_a"), col("__ss"))
      .select(col("source_a"),
        explode(filter(col("__ss"), x => x > col("source_a"))).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_passages"))
  }

  val d09Sql: String =
    """WITH toks AS (SELECT source, string_split(lower(text), ' ') AS t FROM documents),
      |chunks AS (SELECT DISTINCT source,
      |             array_to_string(t[(i*8+1):(i*8+8)], ' ') AS chunk
      |           FROM toks, UNNEST(range(CAST(ceil(len(t) / 8.0) AS BIGINT))) AS u(i)
      |           WHERE len(t) > 0),
      |rare AS (SELECT chunk FROM chunks GROUP BY chunk HAVING count(*) <= 10),
      |f AS (SELECT c.source, c.chunk FROM chunks c JOIN rare USING (chunk))
      |SELECT a.source AS source_a, b.source AS source_b,
      | count(*) AS n_shared_passages
      |FROM f a JOIN f b USING (chunk)
      |WHERE a.source < b.source
      |GROUP BY a.source, b.source""".stripMargin

  // =====================================================================
  // k04 — approximate distinct counts via Spark's native HLL++
  // (`approx_count_distinct`): the O(1/rsd²)-state scale path for
  // per-group cardinality where k01's KMV is the custom-Aggregator
  // teaching form. Mergeable sketch partials — state never scales with
  // the domain; rows-only (sketch estimates are engine-specific);
  // SketchSpec bounds the error vs exact and proves partition
  // invariance (the merge is commutative, so layout can't change the
  // estimate).
  // =====================================================================
  val k04: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        count(lit(1)).as("n_events"))

  // =====================================================================
  // t13 — dataset mixture re-weighting (domain mixing): given target
  // mixture weights per source, derive each source's acceptance rate
  // (min(1, target_share·total / source_count)) and sample docs
  // deterministically via the t06 md5-bucket — the "sample The Pile /
  // CC dumps to target proportions" step of a training-data pipeline,
  // reproducible in any engine. The corpus itself never shuffles: one
  // groupBy on the (tiny) source domain, rates broadcast back.
  // Weights here derive from the source name so the oracle is a pure
  // function of the data; production passes an explicit weight map.
  // =====================================================================
  val t13: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_source"))
      .withColumn("weight",
        expr("CAST(substring(source, 4) AS BIGINT)") % 5 + 1)
    val everything = org.apache.spark.sql.expressions.Window
      .partitionBy() // the rates frame is |sources| rows — metadata
    val rates = counts
      .withColumn("accept_pct",
        least(lit(100L), floor(lit(100.0) * col("weight")
          * sum(col("n_source")).over(everything)
          / (sum(col("weight")).over(everything) * col("n_source")))))
      .select("source", "n_source", "weight", "accept_pct")
    val bucket = graft.functions.Funcs.splitBucket(col("doc_id"), "mix")
    docs.join(broadcast(rates), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_source"), col("weight"),
        col("accept_pct"), bucket.as("mix_bucket"),
        (bucket < col("accept_pct")).as("sampled"))
  }

  val t13Sql: String =
    """WITH counts AS (
      |  SELECT source, count(*) AS n_source,
      |    CAST(substr(source, 4) AS BIGINT) % 5 + 1 AS weight
      |  FROM documents GROUP BY source),
      |rates AS (
      |  SELECT source, n_source, weight,
      |    CAST(least(100, CAST(floor(100.0 * weight * (sum(n_source) OVER ())
      |      / ((sum(weight) OVER ()) * n_source)) AS BIGINT)) AS BIGINT) AS accept_pct
      |  FROM counts),
      |bucketed AS (
      |  SELECT doc_id, source,
      |    CAST(CAST(substr(regexp_replace(md5(CAST(doc_id AS VARCHAR) || '|mix'),
      |      '[a-f]', '', 'g') || '000000', 1, 6) AS BIGINT) % 100 AS BIGINT) AS mix_bucket
      |  FROM documents)
      |SELECT b.doc_id, b.source, r.n_source, r.weight, r.accept_pct,
      |  b.mix_bucket, (b.mix_bucket < r.accept_pct) AS sampled
      |FROM bucketed b JOIN rates r USING (source)""".stripMargin

  // =====================================================================
  // d10 — semantic dedup (SemDeDup, Abbas et al. 2023): k-means
  // cluster the embeddings, pairwise cosine ONLY within clusters,
  // greedily drop vectors similar to a lower-id cluster-mate. Rows-only
  // (the codebook comes from Spark-side deterministic Lloyd);
  // DedupSpec proves the kept set τ-separated per cluster and every
  // drop justified vs an exact recompute.
  // =====================================================================
  val d10: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val centroids = Similarity.ivfTrain(emb, "vec_id", "embedding",
      nlist = 16, trainIters = 2)
    Dedup.semanticDedup(emb, "vec_id", "embedding", centroids, threshold = 0.35)
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"),
        col("is_kept"))
  }

  // =====================================================================
  // s06 — product-quantization ANN: m=8 subspace codebooks of k=16
  // centroids (PQ codes: 8 small ints standing in for 64 floats — the
  // compression that keeps a 100 TB corpus' index in memory), ADC scan
  // in the compressed domain, exact e12 rerank on the shortlist only.
  // Rows-only; SimilaritySpec bounds recall@10 vs the exact baseline.
  // =====================================================================
  val s06: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, k = 16, dim = 64, trainIters = 2)
    Similarity.pqTopK(emb, emb.where(col("vec_id") < 10),
      "vec_id", "embedding", cb, dim = 64, k = 10, shortlist = 150)
  }

  // =====================================================================
  // s07 — IVF-PQ (Jégou et al. 2011): coarse quantizer prunes the scan
  // to nprobe inverted lists, residual-PQ ADC shortlists in the
  // compressed domain, exact e12 rerank on the shortlist only — the
  // composition that serves ANN at 100 TB (index = one narrow
  // (id, list, 8-int codes) frame). Rows-only; SimilaritySpec proves
  // nprobe=nlist + full shortlist ≡ exact brute force, bounds pruned
  // recall, and pins determinism.
  // =====================================================================
  val s07: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfPqTopK(emb, emb.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 10, nlist = 16, nprobe = 6,
      m = 8, pqK = 16, dim = 64, trainIters = 1, pqIters = 2,
      shortlist = 150)
  }

  // ---------------------------------------------------------------------

  val all: Map[String, Q] = Map(
    "t13_domain_mix" -> t13,
    "d10_semantic_dedup" -> d10,
    "s06_ann_pq" -> s06,
    "s07_ann_ivfpq" -> s07,
    "k04_approx_distinct" -> k04,
    "t11_stratified_sample" -> t11,
    "t12_doc_freq_score" -> t12,
    "s05_vector_quantize" -> s05,
    "d09_cross_source_leakage" -> d09,
    "d08_passage_dedup" -> d08,
    "k03_quantile_approx" -> k03,
    "t10_repetition" -> t10,
    "t08_pii_scrub" -> t08,
    "k02_heavy_hitters" -> k02,
    "t06_split" -> t06,
    "t07_seq_pack" -> t07,
    "s04_ann_ivf" -> s04,
    "d06_dedup_embedding_lsh" -> d06,
    "k01_kmv_distinct" -> k01,
    "a01_asof_attribution" -> a01,
    "g01_menu_datagen" -> g01,
    "y01_typed_revenue" -> y01,
    "t05_token_freq" -> t05,
    "s03_label_centroids" -> s03,
    "d01_dedup_exact" -> d01,
    "d02_dedup_minhash" -> d02,
    "d03_dedup_simhash" -> d03,
    "d04_dedup_ngram" -> d04,
    "d07_dedup_clusters" -> d07,
    "d05_dedup_embedding" -> d05,
    "s01_ann_bruteforce" -> s01,
    "s02_ann_lsh" -> s02,
    "t01_lang_id" -> t01,
    "t02_quality_score" -> t02,
    "t03_token_count" -> t03,
    "t04_fingerprint" -> t04,
    "m01_multimodal_meta" -> m01,
    "m02_frame_sample" -> m02,
    "t09_weighted_sample" -> t09)

  val oracles: Map[String, String] = Map(
    "t13_domain_mix" -> t13Sql,
    "t11_stratified_sample" -> t11Sql,
    "t12_doc_freq_score" -> t12Sql,
    "s05_vector_quantize" -> s05Sql,
    "d09_cross_source_leakage" -> d09Sql,
    "d08_passage_dedup" -> d08Sql,
    "t10_repetition" -> t10Sql,
    "t08_pii_scrub" -> t08Sql,
    "k02_heavy_hitters" -> k02Sql,
    "t06_split" -> t06Sql,
    "t07_seq_pack" -> t07Sql,
    "a01_asof_attribution" -> a01Sql,
    "y01_typed_revenue" -> y01Sql,
    "t05_token_freq" -> t05Sql,
    "s03_label_centroids" -> s03Sql,
    "d01_dedup_exact" -> d01Sql,
    "d05_dedup_embedding" -> d05Sql,
    "s01_ann_bruteforce" -> s01Sql,
    "t01_lang_id" -> t01Sql,
    "t02_quality_score" -> t02Sql,
    "t03_token_count" -> t03Sql)
}
