package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.queries.Exact.{h32Sql, toksSql}
import graft.ops.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** The north-star LLM-data-pipeline operators (BASELINE.json) as
  * oracle-checked queries over `documents` / `embeddings`:
  * dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding
  * cosine), similarity search (brute-force + LSH ANN), text analysis
  * (language ID, quality, token counts, fingerprints), and the
  * multimodal binary-column pipeline (stub decode, real plumbing).
  */
object DataOpsQueries {
  type Q = (SparkSession, String) => DataFrame

  // Shared DuckDB fragment mirroring graft.ops.TextOps exactly
  private val shingleSql = // distinct word 3-grams over toks column t
    """CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
      |  generate_series(1, len(t) - 2),
      |  i -> array_to_string(list_slice(t, i, i + 2), ' ')))
      |ELSE [] END""".stripMargin

  /** DuckDB replica of graft.ops.Bpe.trainMerges, `rounds` merge rounds
    * unrolled (the s_mmr unrolled-greedy recipe): wR = the ||-encoded
    * word dictionary after R merges, pR/mR = round R's pair counts and
    * winning pair. Same encoding, same literal-replace merge, same
    * (count DESC, lhs, rhs) tie-break — bit-identical by construction. */
  private def bpeOracleSql(rounds: Int,
      segment: Boolean = false): String = {
    val head =
      s"""WITH words AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest($toksSql) AS w FROM documents)
         |  WHERE length(w) >= 2 GROUP BY w),
         |w0 AS (SELECT w, '||' || regexp_replace(w, '(.)', '\\1||', 'g')
         |  AS enc, freq FROM words)""".stripMargin
    val steps = (1 to rounds).map { r =>
      // LEFT JOIN ON TRUE + CASE: an empty m_r (corpus learned fewer
      // merges than rounds) must pass words through unchanged, matching
      // Bpe.segmentVocab's try_element_at skip-absent-merge semantics.
      val apply =
        if (r == rounds && !segment) ""
        else s""",
w$r AS (SELECT w, CASE WHEN lhs IS NULL THEN enc
  ELSE replace(enc, '|'||lhs||'||'||rhs||'|',
    '|'||lhs||rhs||'|') END AS enc, freq
  FROM w${r - 1} LEFT JOIN m$r ON TRUE)"""
      s""",
p$r AS (SELECT l AS lhs, r AS rhs, SUM(freq) AS pair_count FROM (
  SELECT freq, arr[i] AS l, arr[i+1] AS r FROM (
    SELECT freq, list_filter(string_split_regex(enc, '\\|+'),
      x -> x <> '') AS arr FROM w${r - 1}),
    unnest(generate_series(1, len(arr) - 1)) g(i)) GROUP BY 1, 2),
m$r AS (SELECT lhs, rhs, pair_count FROM p$r
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1)$apply"""
    }.mkString
    val out =
      if (segment)
        s"""
SELECT w AS word, to_json(sub) AS subwords_json,
  CAST(len(sub) AS INT) AS n_subwords
FROM (SELECT w, list_filter(string_split_regex(enc, '\\|+'),
  x -> x <> '') AS sub FROM w$rounds)"""
      else (1 to rounds).map(r =>
        s"SELECT $r AS merge_rank, lhs, rhs, " +
          s"CAST(pair_count AS BIGINT) AS pair_count FROM m$r")
        .mkString("\n", "\nUNION ALL ", "")
    head + steps + out
  }

  /** DuckDB replica of the MinHash-LSH pair pipeline (shared by the
    * d_dedup_minhash and d_dedup_cluster oracles): token hashes →
    * arithmetic 3-gram shingle hashes → 16 universal-hash minima →
    * 4-row LSH bands → in-bucket pairs with exact jaccard. */
  private def minhashPairsCtes: String =
    s"""toks AS (
       |  SELECT doc_id, $toksSql AS t FROM documents),
       |th AS (
       |  SELECT doc_id, list_transform(t, x -> ${h32Sql("x")}) AS h
       |  FROM toks),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(h) >= 3 THEN
       |    list_distinct(list_transform(generate_series(1, len(h) - 2),
       |      i -> ((h[i] * 1000003 + h[i+1]) % 3037000493 * 1000003
       |        + h[i+2]) % 3037000493))
       |  ELSE [] END AS s FROM th),
       |sig AS (
       |  SELECT doc_id, s,
       |    list_transform(generate_series(0, 15), p ->
       |      list_aggregate(list_transform(s, h ->
       |        (h * (p * 2 + 1) + p * 12345 + 7) % 4294967311),
       |        'min')) AS sg
       |  FROM sh WHERE len(s) > 0),
       |banded AS (
       |  SELECT doc_id, s, bi,
       |    md5(array_to_string(list_transform(
       |      list_slice(sg, bi * 4 + 1, bi * 4 + 4), v -> v::VARCHAR),
       |      ',')) AS bh
       |  FROM sig, unnest(generate_series(0, 3)) u(bi)
       |  QUALIFY row_number() OVER (PARTITION BY bi, bh
       |    ORDER BY doc_id) <= 1000),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.s, b.s))::DOUBLE /
       |      len(list_distinct(list_concat(a.s, b.s))) AS jaccard
       |  FROM banded a JOIN banded b
       |    ON a.bi = b.bi AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin

  /** documents plus synthesized exact duplicates (doc_id+10000). */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }
  private val docsWithDupsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 10000, text FROM documents
      |WHERE doc_id % 50 = 0""".stripMargin

  val defs: Map[String, Q] = Map(
    // -------------------------------------------------------- dedup
    "d_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docsWithDups(s, dir))),

    "d_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(Tables.load(s, dir, "documents"),
        shingleLen = 3, numHashes = 16, bands = 4, threshold = 0.5)),

    // Incremental dedup: a new batch (planted +10000 copies of every
    // 50th document) checked against the existing corpus via the
    // banded-signature join — the corpus never re-pairs against
    // itself. Verdict = best corpus match per batch doc.
    "d_dedup_incremental" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Dedup.incrementalDups(
        corpus = d,
        batch = d.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")),
        shingleLen = 3, numHashes = 16, bands = 4, threshold = 0.5)
    }),

    // Exact-substring repeated-span detection (Lee et al. 2022 shape):
    // every 16-token window repeated verbatim anywhere in the corpus,
    // merged into maximal per-document spans. Planted-dup base so the
    // whole-document repeats are guaranteed present.
    "d_dedup_substring" -> ((s, dir) =>
      Dedup.repeatedSpans(docsWithDups(s, dir), windowTokens = 16)),

    "d_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashTable(Tables.load(s, dir, "documents"))),

    "d_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
        blockCols = Seq("lang", "source"), threshold = 0.5)),

    "d_dedup_embed" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val dup = e.filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
          col("label"))
      Dedup.embeddingCosineDups(e.unionByName(dup.select(e.columns.map(col): _*)),
        blockCol = "label", threshold = 0.99)
    }),

    // corpus-wide embedding near-dup with LSH sign-bucket blocking — the
    // scale path of d_dedup_embed (no block column needed); buckets,
    // caps, and cosines all deterministic → fully hash-checked
    "d_dedup_embed_lsh" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val dup = e.filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
          col("label"))
      Dedup.embeddingLshDups(
        e.unionByName(dup.select(e.columns.map(col): _*)), threshold = 0.99)
    }),

    // SemDeDup: k-means cells -> within-cell cosine pairs -> star
    // contraction -> drop list. Planted near-dups (vec_id+10000,
    // 1.001x) must each resolve to keep_id = their original.
    "p_semdedup" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val dup = e.filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
          col("label"))
      Dedup.semDedup(e.unionByName(dup.select(e.columns.map(col): _*)),
        nCentroids = 16, iterations = 2, threshold = 0.99)
    }),

    // -------------------------------------------- similarity search
    "s_ann_bruteforce" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, k = 5)
    }),

    // LSH ANN: rows-only check here; recall vs brute force in OpsSpec
    "s_ann_lsh" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.lshTopK(e.filter(col("vec_id") < 50), e, k = 5,
        numPlanes = 6, numTables = 8)
    }),

    // IVF ANN: fully hash-checked — deterministic seeds + decimal-exact
    // Lloyd means make the whole pipeline DuckDB-expressible (below);
    // recall vs brute force additionally in OpsSpec
    "s_ann_ivf" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.ivfTopK(e.filter(col("vec_id") < 50), e, k = 5,
        nCentroids = 16, nProbe = 4)
    }),

    // int8 embedding quantization (array output serialized to JSON —
    // the driver's pandas sort cannot hash raw arrays)
    "s_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.load(s, dir, "embeddings"))
        .select(col("vec_id"), col("scale"), to_json(col("q")).as("q_json"))),

    // int8-scan ANN: integer-dot candidate scan + exact float rescore
    "s_ann_int8" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.int8TopK(e.filter(col("vec_id") < 50), e, k = 5,
        rescore = 32)
    }),

    // the production composition: LSH-bucketed candidates + int8
    // candidate scoring + exact float rescore of the top-32.
    "s_ann_lsh_int8" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.lshInt8TopK(e.filter(col("vec_id") < 50), e, k = 5,
        numPlanes = 6, numTables = 8, rescore = 32)
    }),

    // product-quantization ANN: 4 subspaces x 8 codewords (64-dim float
    // -> 4 bytes/vector), per-subspace deterministic L2 Lloyd, scan on
    // PQ reconstructions, exact rescore of the top-32.
    "s_ann_pq" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.pqTopK(e.filter(col("vec_id") < 50), e, k = 5,
        rescore = 32)
    }),

    // ------------------------------------------------ text analysis
    // one TokenLexStats pass per row, materialized as __st; the derived
    // columns reference the attribute (CollapseProject keeps non-cheap
    // multi-reference producers un-inlined), so the plan evaluates the
    // tokenizer exactly once
    "t_lang_id" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      d.select(col("doc_id"), col("lang"),
        TextAnalysis.tokenLexStats(col("text")).as("__st"))
        .select(Seq(col("doc_id"), col("lang")) ++
          TextAnalysis.langHitCols(col("__st")) :+
          TextAnalysis.langIdFromStats(col("__st")).as("lang_pred"): _*)
    }),

    "t_quality" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      d.select(col("doc_id"), col("text"),
        TextAnalysis.tokenLexStats(col("text")).as("__st"))
        .select(col("doc_id"),
          TextAnalysis.qualityFacetsFromStats(col("text"), col("__st"))
            .as("f"))
        .select(col("doc_id"), col("f.*"),
          TextAnalysis.qualityScoreFromFacets(col("f")).as("quality"))
    }),

    // Model-based quality scoring: hashed-feature linear classifier
    // (fasttext-filter shape) with deterministic placeholder weights —
    // one codegen'd accumulator pass, exact integer sum, hash-checked.
    "t_quality_model" -> ((s, dir) =>
      TextAnalysis.modelScoreTable(Tables.load(s, dir, "documents"))),

    "t_token_count" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCounts(col("text")).as("t"))
        .select(col("doc_id"), col("t.*"))),

    "t_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprintTable(Tables.load(s, dir, "documents"))),

    // Gopher-style repetition filters: type-token ratio, top-2-gram
    // share, repeated-3-gram fraction — one native codegen'd pass
    "t_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionTable(Tables.load(s, dir, "documents"))),

    // Train/eval decontamination: doc_id % 10 = 0 plays the benchmark
    // split; train docs sharing any token 4-gram with it are flagged.
    // Eval gram set broadcast; per-doc agg combines map-side.
    "d_decontaminate" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      graft.ops.Decontam.overlap(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0), n = 4)
    }),

    // n-gram novelty vs the reference slice — the inverse curation
    // signal of decontamination: how much of each document is NEW
    // relative to what the pipeline already holds; every target doc
    // reported (novelty 1.0 = entirely new).
    "t_novelty" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      graft.ops.Decontam.novelty(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0), n = 4)
    }),

    // Bloom-prefilter flavor: broadcast a 128 KB Bloom digest of the
    // eval grams instead of the raw set, exact-verify survivors with a
    // (non-broadcast) join — identical output, shared oracle; the
    // scale path for eval corpora too big to broadcast.
    "d_decontaminate_bloom" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      graft.ops.Decontam.overlapBloom(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0), n = 4)
    }),

    // Attribution flavor: WHICH eval document (and its benchmark/source
    // label) each contaminated train doc overlaps, with the shared-gram
    // count — the per-benchmark report real pipelines publish.
    "d_decontaminate_attr" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      graft.ops.Decontam.attribution(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0), n = 4,
        benchmarkCol = "source")
    }),

    // Web-curation domain stages (C4/RefinedWeb shape): deterministic
    // synthetic URLs over documents → blocklist scrub → 30-docs-per-
    // domain cap. Narrow regex passes + one window exchange on the
    // (low-cardinality) domain key.
    "t_url_curation" -> ((s, dir) => {
      val pool = Seq("news.example.com", "blog.example.org",
        "spam.example.net", "ads.tracker.io", "docs.example.edu",
        "forum.example.co", "shop.example.biz", "wiki.example.info")
      val withUrl = Tables.load(s, dir, "documents")
        .select(col("doc_id"), concat(lit("https://"),
          element_at(array(pool.map(lit): _*),
            (col("doc_id") % 8 + 1).cast(IntegerType)),
          lit("/doc/"), col("doc_id").cast(StringType)).as("url"))
      val clean = graft.ops.UrlOps.dropBlockedDomains(withUrl, "url",
        Seq("spam.example.net", "ads.tracker.io"))
      graft.ops.UrlOps.domainCap(clean, "doc_id", "url", 30)
        .select(col("doc_id"), col("domain"))
    }),

    // Cap-audit ledger: buckets whose membership exceeded the pair cap,
    // with the dropped volume — the skip-with-counter report that makes
    // the bounded-work guarantee auditable (cap 1 here so sf0.01
    // produces rows; production uses the operators' 1000).
    "d_dedup_oversized" -> ((s, dir) =>
      Dedup.oversizedBuckets(
        Dedup.minhashBands(Tables.load(s, dir, "documents"),
          shingleLen = 3, numHashes = 16, bands = 4),
        Seq("band_idx", "band_hash"), maxBucket = 1)),

    // --------------------------------------------------- multimodal
    // Exact payload dedup over binary media (sha256 hash-groupBy) —
    // the media twin of d_dedup_exact.
    "mm_dedup" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(s,
        docsWithDups(s, dir).withColumn("source", lit("synthetic")))
      Multimodal.extractFeatures(media).toDF()
        .groupBy(col("sha256"))
        .agg(min(col("media_id")).as("media_id"),
          count(lit(1)).as("dup_count"))
    }),

    "mm_features" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(s,
        Tables.load(s, dir, "documents"))
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("media_type"), col("byte_len"),
          col("sha256"))
    }),

    "mm_frames" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(s,
        Tables.load(s, dir, "documents"))
      Multimodal.sampleFrames(Multimodal.decode(media))
    }),

    // resize planning: aspect-fit into 512x512, never upscaling —
    // columnar dimension math over the (stub-)decoded metadata
    "mm_resize" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(s,
        Tables.load(s, dir, "documents"))
      Multimodal.resizePlan(Multimodal.decode(media))
    }),

    // --------------------------------------- dedup finishing + curation
    // Connected components over the MinHash-LSH near-dup pairs: every
    // paired doc gets cluster_id = min reachable doc id, so
    // keep-one-per-cluster is filter(doc_id = cluster_id). Oracle is the
    // LSH replica + a recursive-CTE transitive closure.
    "d_dedup_cluster" -> ((s, dir) =>
      Dedup.dupClusters(
        Dedup.minhashLsh(Tables.load(s, dir, "documents"),
          shingleLen = 3, numHashes = 16, bands = 4, threshold = 0.5))),

    // Leakage-free split: near-dup clusters (minhash-LSH + star
    // contraction) assign every member the same train/val/test bucket
    // via the representative's hash — paraphrase leakage across splits
    // is structurally impossible.
    "d_split_leakfree" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.leakFreeSplit(docs,
        Dedup.dupClusters(Dedup.minhashLsh(docs, shingleLen = 3,
          numHashes = 16, bands = 4, threshold = 0.5)))
    }),

    // Deterministic hash-stratified sampling: downsample 'en' to 25%,
    // everything else to 50% — reproducible on any partitioning.
    "d_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedHashSample(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source")),
        keyCol = "doc_id", stratumCol = "lang",
        fractions = Map("en" -> 0.25), defaultFraction = 0.5)),

    // Deterministic corpus shuffle into 8 training shards: shard and
    // within-shard position are pure hash functions of doc_id, so the
    // global data order is reproducible on any cluster layout. One
    // shard-keyed exchange + per-shard sort; no global sort.
    "t_shuffle_shards" -> ((s, dir) =>
      Sampling.shuffleShards(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("source")),
        keyCol = "doc_id", nShards = 8)),

    // Fixed-proportion mixture sampling: downsample per-language so the
    // kept corpus hits target weights (en 50% / zh 20% / es 15% /
    // de 10% / fr 5%) as closely as downsampling-only allows — the
    // source-mixing stage of a training-data recipe. All-BIGINT solver,
    // one broadcast threshold join, zero corpus shuffles.
    "d_mixture" -> ((s, dir) =>
      Sampling.mixtureSample(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang")),
        keyCol = "doc_id", domainCol = "lang",
        weightsBp = Map("en" -> 5000, "zh" -> 2000, "es" -> 1500,
          "de" -> 1000, "fr" -> 500))
        .select(col("doc_id"), col("lang"), col("keep_bp"))),

    // Flesch readability band scoring: reading-ease + grade level from
    // word/sentence/vowel-group counts — literal-constant IEEE math, so
    // hash-exact with no quantization. One narrow codegen pass.
    "t_readability" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.readability(col("text")).as("r"))
        .select(col("doc_id"), col("r.*"))
        .filter(col("n_words") > 0)),

    // DSIR importance resampling (Xie et al. 2023): hashed-unigram
    // target-vs-raw bucket model (target = every 10th doc, standing in
    // for an in-domain seed set), per-doc log importance weight, top-200
    // kept. One token pass builds both distributions; 1024-row bucket
    // model broadcast back; quantized-ln + DECIMAL accumulator makes the
    // scores engine-exact.
    "d_dsir" -> ((s, dir) =>
      Sampling.dsirSelect(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        isTarget = col("doc_id") % 10 === 0)),

    // Gopher-style compound quality rules: per-rule booleans + overall
    // pass per document (the WHY of every drop, integer-exact).
    "t_quality_rules" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.gopherRules(col("text")).as("r"))
        .select(col("doc_id"), col("r.*"))),

    // Context-window chunking: 64-token windows, stride 48 (16-token
    // overlap) — the training-data prep step between curation and
    // tokenization.
    "t_chunk" -> ((s, dir) =>
      TextAnalysis.chunkTable(Tables.load(s, dir, "documents"),
        chunkTokens = 64, stride = 48)),

    // Tokenization: encode every document as token-id arrays against
    // the corpus top-100 vocabulary (ids = vocab rank, OOV -> 0) — the
    // apply-the-tokenizer stage; broadcast vocab join, one doc-keyed
    // exchange, arrays serialized to JSON for the driver's hash.
    "t_tokenize_ids" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.load(s, dir, "documents")
      val vocab = d
        .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("token")).limit(100)
        .select(col("token"), row_number().over(
          Window.orderBy(col("tf").desc, col("token"))).as("tok_id"))
      TextAnalysis.encodeTokens(d, vocab)
        .select(col("doc_id"), to_json(col("ids")).as("ids_json"))
    }),

    // Corpus vocabulary: top-100 tokens by term frequency with document
    // frequency — the two-stage (partial + final) aggregation shape that
    // builds tokenizer vocabularies at scale.
    "t_vocab_topk" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("token"))
        .limit(100)),

    // BPE tokenizer training: learn the first 6 merges from the corpus
    // word-frequency dictionary (graft.ops.Bpe) — the merge-table loop
    // every LLM pipeline runs before tokenizing. One corpus-sized pass
    // builds the dictionary; each round is a pair-count aggregate plus
    // a broadcast 1-row top-pair join, all-integer, fully deterministic
    // (count DESC, lhs, rhs tie-break), checked end-to-end against a
    // 6-round unrolled DuckDB replica of the same training loop.
    "t_bpe_train" -> ((s, dir) =>
      graft.ops.Bpe.trainMerges(Tables.load(s, dir, "documents"),
        "text", rounds = 6)),

    // BPE apply: segment the corpus vocabulary with the 6 learned
    // merges — the merge table collapses to one broadcast row and the
    // 6 replaces unroll into a single codegen'd projection over the
    // distinct-word relation (train -> apply, end-to-end oracle-checked
    // including the training rounds feeding it).
    "t_bpe_apply" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      graft.ops.Bpe.segmentVocab(d, "text",
        graft.ops.Bpe.trainMerges(d, "text", rounds = 6), rounds = 6)
    }),

    // End-to-end curation pipeline — the operators composed the way a
    // training-data run chains them: quality gate → exact-dedup
    // keep-first → deterministic hash sample → context-window chunking.
    // Every stage is deterministic, so the whole composition
    // hash-matches the oracle.
    "p_curation_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.load(s, dir, "documents")
        .withColumn("q", TextAnalysis.qualityScore(col("text")))
        .filter(col("q") >= 0.7)
      val deduped = scored
        .withColumn("__th",
          md5(regexp_replace(lower(col("text")), "\\s+", " ")))
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("__th")).orderBy(col("doc_id"))))
        .filter(col("__rk") === 1)
        .select(col("doc_id"), col("text"))
      val sampled = Sampling.hashSample(deduped, "doc_id", 0.5)
      TextAnalysis.chunkTable(sampled, chunkTokens = 64, stride = 48)
    }),

    // Funnel attribution for the curation pipeline: for EVERY document,
    // the first stage that dropped it ('quality' | 'dedup' | 'sample')
    // or 'kept' — the auditability report published alongside any
    // production curation run. Same deterministic stage logic as
    // p_curation_pipeline; one extra left join on doc_id.
    "p_curation_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // planted-dup base + one junk doc so every funnel branch carries
      // rows (the clean synthetic corpus has no exact dups and passes
      // the quality gate wholesale)
      val d = docsWithDups(s, dir).unionByName(
        s.range(1).select(lit(99999L).as("doc_id"), lit("x").as("text")))
      val ranked = d
        .withColumn("q", TextAnalysis.qualityScore(col("text")))
        .filter(col("q") >= 0.7)
        .withColumn("__th",
          md5(regexp_replace(lower(col("text")), "\\s+", " ")))
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("__th")).orderBy(col("doc_id"))))
        .select(col("doc_id"), col("__rk"))
      d.join(ranked, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__rk").isNull, "quality")
            .when(col("__rk") > 1, "dedup")
            .when(pmod(graft.ops.TextOps.h32(col("doc_id").cast("string")),
              lit(10000)) >= 5000, "sample")
            .otherwise("kept").as("stage"))
    }),

    // RAG retrieval composition — the full text→vector→top-k chain a
    // retrieval-augmented pipeline runs: chunk the corpus (64/48
    // windows), hash-embed every chunk and the 3 query strings with
    // the same deterministic encoder, exact cosine top-5 chunks per
    // query. Chunk ids pack (doc_id, chunk_idx) as doc_id·1000+idx
    // (chunk_idx < 1000 by construction at 64/48 over these docs);
    // query ids sit above the chunk id space so the ANN self-exclusion
    // never fires. Everything bit-exact: integer-sum embeddings, IEEE
    // left-to-right cosine, rank ties broken on cand_id.
    "p_rag" -> ((s, dir) => {
      import s.implicits._
      val chunks = TextAnalysis.chunkTable(
        Tables.load(s, dir, "documents"), chunkTokens = 64, stride = 48)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("vec_id"),
          Similarity.hashEmbedText(col("chunk_text")).as("embedding"))
      val queries = Seq(
        (9000000001L, "window merge sort"),
        (9000000002L, "hash scan table"),
        (9000000003L, "spark batch value"))
        .toDF("vec_id", "qtext")
        .select(col("vec_id"),
          Similarity.hashEmbedText(col("qtext")).as("embedding"))
      Similarity.bruteForceTopK(queries, chunks, k = 5)
        .select(col("query_id"), col("rnk"), col("cand_id"),
          expr("cand_id div 1000").as("doc_id"),
          pmod(col("cand_id"), lit(1000)).cast(IntegerType).as("chunk_idx"),
          col("cosine"))
    }),

    // PII redaction over text with synthesized deterministic PII (the
    // corpus itself is clean) — email, SSN, phone, IPv4.
    // K-means corpus clustering surfaced directly: per-vector cell
    // assignment after 2 deterministic-seed Lloyd rounds — the topic-
    // bucketing stage (and the front half of IVF/SemDeDup), checked
    // against the oracle's unrolled k-means CTEs row by row.
    "p_kmeans" -> ((s, dir) =>
      Similarity.kmeansCells(Tables.load(s, dir, "embeddings"))
        .select(col("vec_id"), col("cell"))),

    "t_pii_redact" -> ((s, dir) => {
      val withPii = Tables.load(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id").cast(StringType),
          lit("@example.com ph 555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast(StringType), 3, "0"),
          lit("-1234 ip 10.0."),
          pmod(col("doc_id"), lit(256)).cast(StringType),
          lit(".17 ssn 123-45-6789")).as("text"))
      withPii.select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("text_redacted"),
        TextAnalysis.piiCounts(col("text")).as("c"))
        .select(col("doc_id"), col("text_redacted"), col("c.*"))
    })
  )

  /** Full DuckDB replica of the multi-table LSH ANN (s_ann_lsh): the
    * hyperplanes are deterministic exact-3-decimal constants
    * ([[graft.functions.VecMath.lshPlaneValue]]), so the oracle embeds
    * them as literal arrays and recomputes buckets, candidates, and
    * top-k independently — turning the approximate operator into a
    * hash-checked one. */
  /** The multi-table sign-bucket expression as DuckDB SQL with the
    * hyperplanes embedded as exact literal arrays — shared by the
    * s_ann_lsh and d_dedup_embed_lsh oracles. */
  private def lshBucketCase(numTables: Int, numPlanes: Int,
      dims: Int): String = {
    def planeLit(t: Int, p: Int): String =
      (0 until dims)
        .map(d => graft.functions.VecMath.lshPlaneValue(t, p, d))
        .mkString("[", ", ", "]")
    def bucketExpr(t: Int): String =
      (0 until numPlanes).map { p =>
        // native sequential dot — bit-identical sign to the fold form
        // (see the dot/nrm helper note), 48 plane tests per vector
        s"""(CASE WHEN list_dot_product(v, ${planeLit(t, p)})
           |  >= 0 THEN 1 ELSE 0 END)""".stripMargin
      }.reduceLeft((acc, b) => s"($acc * 2 + $b)")
    (0 until numTables)
      .map(t => s"WHEN ${t} THEN ${bucketExpr(t)}")
      .mkString("CASE u.t ", " ", " END")
  }

  private def lshOracleSql: String = {
    val numTables = 8
    val bucketCase = lshBucketCase(numTables, numPlanes = 6, dims = 64)
    s"""WITH d AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |b AS (
       |  SELECT vec_id, v, u.t, $bucketCase AS bucket
       |  FROM d, unnest(generate_series(0, ${numTables - 1})) u(t)),
       |q AS (SELECT vec_id AS query_id, t, bucket FROM b WHERE vec_id < 50),
       |c AS (SELECT vec_id AS cand_id, t, bucket FROM b),
       |cand AS (
       |  SELECT DISTINCT query_id, cand_id FROM q
       |  JOIN c USING (t, bucket) WHERE query_id <> cand_id),
       |scored AS (
       |  SELECT query_id, cand_id,
       |    list_dot_product(dq.v, dc.v) /
       |    (sqrt(list_dot_product(dq.v, dq.v)) *
       |     sqrt(list_dot_product(dc.v, dc.v)))
       |    AS cosine
       |  FROM cand JOIN d dq ON dq.vec_id = query_id
       |  JOIN d dc ON dc.vec_id = cand_id)
       |SELECT query_id, cand_id, cosine, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, cand_id) AS rnk FROM scored) t
       |WHERE rnk <= 5""".stripMargin
  }

  /** Full DuckDB replica of the IVF ANN (s_ann_ivf): centroid seeding is
    * deterministic (lowest-id vectors), Lloyd means run through exact
    * DECIMAL accumulators, and every cosine is a sequential fold — so
    * the oracle re-runs k-means + probe + search independently and the
    * two engines hash-match. */
  // Vector/k-means DuckDB fragments shared by the IVF and SemDeDup
  // oracles (sequential cosines, deterministic-seed Lloyd with
  // DECIMAL-exact means — the engine's float conventions).
  // list_dot_product is DuckDB's sequential multiply-add loop:
  // bit-identical to the left fold it replaced (same summation order,
  // no FMA/reassociation — probed on 200k mixed-magnitude pairs and
  // re-differenced hash-exact at sf0.01/sf1), but native instead of
  // lambda-interpreted, which is what makes the 2M-vector sf100
  // oracles tractable.
  private def dot(a: String, b: String) =
    s"list_dot_product($a, $b)"
  private def nrm(a: String) =
    s"sqrt(list_dot_product($a, $a))"
  private def cos(a: String, b: String) =
    s"(${dot(a, b)} / (${nrm(a)} * ${nrm(b)}))"
  // The ranked subquery carries ids + score ONLY and the vector joins
  // back on the survivors: windowing points×centroids rows with the
  // 64-double payload attached spilled >51 GB of DuckDB temp at sf100
  // (2 M points × 16 cells × ~1 KB, three chained rounds). `points`
  // must be a MATERIALIZED CTE so the join-back does not re-evaluate it.
  private def assign(points: String, cents: String, pid: String,
      vec: String, n: Int) =
    s"""SELECT t.$pid, p2.$vec, t.cell FROM (
       |  SELECT p.$pid, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY p.$pid
       |      ORDER BY ${cos(s"p.$vec", "c.centroid")} DESC, c.cell) AS rn
       |  FROM $points p CROSS JOIN $cents c) t
       |  JOIN $points p2 ON p2.$pid = t.$pid WHERE t.rn <= $n""".stripMargin
  private def lloyd(assigned: String) =
    s"""SELECT cell, list(m ORDER BY dim) AS centroid FROM (
       |  SELECT cell, dim, CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE)
       |    / COUNT(*) AS m
       |  FROM (SELECT cell, UNNEST(cv) AS x,
       |    UNNEST(generate_series(1, len(cv))) AS dim FROM $assigned)
       |  GROUP BY cell, dim) GROUP BY cell""".stripMargin
  /** Two-iteration Lloyd + final cell assignment over a `d(cand_id, cv)`
    * CTE — the shared k-means prefix. */
  // Every stage MATERIALIZED: c2 is referenced from both `cells` and
  // (in the IVF oracle) `probed`, and DuckDB re-evaluates inlined CTEs
  // per reference — without the hints the whole two-round Lloyd chain
  // ran twice and the fused DAG overflowed memory+temp at sf100.
  private def kmeansCtes: String =
    s"""c0 AS MATERIALIZED (SELECT cand_id AS cell, cv AS centroid FROM d
       |  ORDER BY cand_id LIMIT 16),
       |a1 AS MATERIALIZED (${assign("d", "c0", "cand_id", "cv", 1)}),
       |c1 AS MATERIALIZED (${lloyd("a1")}),
       |a2 AS MATERIALIZED (${assign("d", "c1", "cand_id", "cv", 1)}),
       |c2 AS MATERIALIZED (${lloyd("a2")}),
       |cells AS MATERIALIZED (${assign("d", "c2", "cand_id", "cv", 1)})"""
      .stripMargin

  /** DuckDB replica of the PQ pipeline: 4 fixed 16-dim subspaces
    * (mirrors pqTopK's dynamic size(cv)/numSub on the 64-dim table),
    * seeded codebooks, two L2 Lloyd rounds per subspace
    * (argmax (sv·cw − ‖cw‖²/2) with code tie-break), codeword
    * reconstruction, approx scan, exact rescore. */
  private def pqOracleSql: String = {
    def assignPq(pts: String, books: String, pid: String) =
      s"""SELECT $pid, sub, sv, code FROM (
         |  SELECT p.$pid, p.sub, p.sv, b.code,
         |    ROW_NUMBER() OVER (PARTITION BY p.$pid, p.sub
         |      ORDER BY (${dot("p.sv", "b.cw")} -
         |        ${dot("b.cw", "b.cw")} / 2.0) DESC, b.code) AS rn
         |  FROM $pts p JOIN $books b ON p.sub = b.sub) t
         |WHERE rn = 1""".stripMargin
    def lloydPq(assigned: String) =
      s"""SELECT sub, code, list(m ORDER BY dim) AS cw FROM (
         |  SELECT sub, code, dim, CAST(SUM(CAST(x AS DECIMAL(38,18)))
         |    AS DOUBLE) / COUNT(*) AS m
         |  FROM (SELECT sub, code, UNNEST(sv) AS x,
         |    UNNEST(generate_series(1, len(sv))) AS dim FROM $assigned)
         |  GROUP BY sub, code, dim) GROUP BY sub, code""".stripMargin
    s"""WITH d AS (SELECT vec_id AS cand_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS cv FROM embeddings),
       |subs AS (SELECT cand_id, CAST(j AS INT) AS sub,
       |    list_slice(cv, j*16 + 1, j*16 + 16) AS sv
       |  FROM d, unnest(generate_series(0, 3)) g(j)),
       |b0 AS (SELECT sub,
       |    CAST(row_number() OVER (PARTITION BY sub ORDER BY cand_id) - 1
       |      AS INT) AS code, sv AS cw
       |  FROM subs WHERE cand_id IN (
       |    SELECT cand_id FROM d ORDER BY cand_id LIMIT 8)),
       |a1 AS (${assignPq("subs", "b0", "cand_id")}),
       |b1 AS (${lloydPq("a1")}),
       |a2 AS (${assignPq("subs", "b1", "cand_id")}),
       |b2 AS (${lloydPq("a2")}),
       |codes AS (${assignPq("subs", "b2", "cand_id")}),
       |recon AS (SELECT cand_id, flatten(list(cw ORDER BY sub)) AS rv
       |  FROM codes JOIN b2 USING (sub, code) GROUP BY cand_id),
       |qs AS (SELECT cand_id AS query_id, cv AS qv FROM d
       |  WHERE cand_id < 50),
       |approx AS (SELECT query_id, cand_id,
       |    ${dot("qv", "rv")} / ${nrm("rv")} AS approx
       |  FROM recon JOIN qs ON query_id <> cand_id),
       |cand AS (SELECT query_id, cand_id FROM approx
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY approx DESC, cand_id) <= 32),
       |scored AS (SELECT query_id, cand_id, ${cos("qv", "cv")} AS cosine
       |  FROM cand JOIN d USING (cand_id) JOIN qs USING (query_id))
       |SELECT query_id, cand_id, cosine, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, cand_id) AS rnk FROM scored)
       |WHERE rnk <= 5""".stripMargin
  }

  /** DuckDB replica of the LSH+int8+rescore composition: LSH bucket
    * candidates (generated-hyperplane case expression), int8
    * approximate scoring of distinct candidate pairs, exact cosine
    * rescore of the per-query top-32. */
  private def lshInt8OracleSql: String = {
    val numTables = 8
    val bucketCase = lshBucketCase(numTables, numPlanes = 6, dims = 64)
    s"""WITH d AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |b AS (
       |  SELECT vec_id, v, u.t, $bucketCase AS bucket
       |  FROM d, unnest(generate_series(0, ${numTables - 1})) u(t)),
       |qb AS (SELECT vec_id AS query_id, t, bucket FROM b WHERE vec_id < 50),
       |cb AS (SELECT vec_id AS cand_id, t, bucket FROM b),
       |cand AS (
       |  SELECT DISTINCT query_id, cand_id FROM qb
       |  JOIN cb USING (t, bucket) WHERE query_id <> cand_id),
       |sc AS (SELECT vec_id, v,
       |  list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0
       |    AS scale FROM d),
       |z AS (SELECT vec_id, v, scale,
       |  CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
       |    ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT))
       |    END AS q FROM sc),
       |approx AS (SELECT query_id, cand_id, zq.v AS qv, zc.v AS cv,
       |  (list_reduce(list_transform(generate_series(1, len(zq.q)),
       |    i -> CAST(zq.q[i] * zc.q[i] AS BIGINT)), (a, b) -> a + b)::DOUBLE
       |    * zq.scale) * zc.scale AS approx
       |  FROM cand JOIN z zq ON zq.vec_id = query_id
       |  JOIN z zc ON zc.vec_id = cand_id),
       |keep AS (SELECT query_id, cand_id, qv, cv FROM approx
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY approx DESC, cand_id) <= 32),
       |scored AS (SELECT query_id, cand_id,
       |  list_reduce(list_transform(generate_series(1, len(qv)),
       |    i -> qv[i] * cv[i]), (x, y) -> x + y) /
       |  (sqrt(list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y)) *
       |   sqrt(list_reduce(list_transform(cv, x -> x * x), (x, y) -> x + y)))
       |  AS cosine FROM keep)
       |SELECT query_id, cand_id, cosine, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, cand_id) AS rnk FROM scored) t
       |WHERE rnk <= 5""".stripMargin
  }

  private def ivfOracleSql: String = {
    s"""WITH d AS MATERIALIZED (SELECT vec_id AS cand_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS cv FROM embeddings),
       |$kmeansCtes,
       |q AS MATERIALIZED (SELECT cand_id AS query_id, cv AS qv
       |  FROM d WHERE cand_id < 50),
       |probed AS (${assign("q", "c2", "query_id", "qv", 4)}),
       |scored AS (
       |  SELECT query_id, cand_id, ${cos("qv", "cv")} AS cosine
       |  FROM cells JOIN probed USING (cell)
       |  WHERE query_id <> cand_id)
       |SELECT query_id, cand_id, cosine, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, cand_id) AS rnk FROM scored) t
       |WHERE rnk <= 5""".stripMargin
  }

  /** DuckDB replica of the SemDeDup composition: planted-dup base →
    * shared k-means prefix → within-cell cosine pairs → recursive
    * transitive closure → drop list. */
  private def semdedupOracleSql: String =
    s"""WITH RECURSIVE d AS MATERIALIZED (
       |  SELECT vec_id AS cand_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS cv FROM (
       |    SELECT vec_id, embedding FROM embeddings
       |    UNION ALL SELECT vec_id + 10000,
       |      list_transform(embedding, x -> x * 1.001::FLOAT)
       |    FROM embeddings WHERE vec_id % 100 = 0)),
       |$kmeansCtes,
       |capped AS MATERIALIZED (SELECT cand_id, cv, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY cell
       |    ORDER BY cand_id) <= 1000),
       |pairs AS (
       |  SELECT a.cand_id AS id_a, b.cand_id AS id_b
       |  FROM capped a JOIN capped b
       |    ON a.cell = b.cell AND a.cand_id < b.cand_id
       |  WHERE ${cos("a.cv", "b.cv")} >= 0.99),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
       |cl AS (SELECT id, min(r) AS keep FROM reach GROUP BY id)
       |SELECT id AS vec_id, keep AS keep_id FROM cl WHERE id <> keep""".stripMargin

  /** Exact decontamination oracle — shared by `d_decontaminate` and its
    * Bloom-prefiltered twin (the Bloom has no false negatives and the
    * exact-verify join removes false positives, so both queries produce
    * the same rows). */
  private val decontaminateOracle: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |th AS (SELECT doc_id,
       |  list_transform(t, x -> ${h32Sql("x")}) AS h FROM toks),
       |sh AS (SELECT doc_id, CASE WHEN len(h) >= 4 THEN
       |  list_distinct(list_transform(generate_series(1, len(h) - 3),
       |    i -> (((h[i] * 1000003 + h[i+1]) % 3037000493 * 1000003
       |      + h[i+2]) % 3037000493 * 1000003 + h[i+3]) % 3037000493))
       |  ELSE [] END AS s FROM th),
       |ev AS (SELECT DISTINCT gg FROM sh, unnest(s) u(gg)
       |  WHERE doc_id % 10 = 0),
       |tr AS (SELECT doc_id, len(s) AS n_ngrams, gg
       |  FROM (SELECT doc_id, s FROM sh
       |        WHERE doc_id % 10 <> 0 AND len(s) > 0), unnest(s) u(gg))
       |SELECT tr.doc_id, CAST(any_value(tr.n_ngrams) AS INT) AS n_ngrams,
       |  count(ev.gg) AS eval_hits,
       |  count(ev.gg)::DOUBLE / any_value(tr.n_ngrams) AS hit_frac
       |FROM tr LEFT JOIN ev USING (gg)
       |GROUP BY tr.doc_id
       |HAVING count(ev.gg) > 0""".stripMargin

  val oracle: Map[String, String] = Map(
    "p_kmeans" ->
      s"""WITH d AS MATERIALIZED (SELECT vec_id AS cand_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS cv
         |  FROM embeddings),
         |$kmeansCtes
         |SELECT cand_id AS vec_id, cell FROM cells""".stripMargin,

    "s_ann_ivf" -> ivfOracleSql,
    "s_ann_pq" -> pqOracleSql,
    "s_ann_lsh_int8" -> lshInt8OracleSql,
    "p_semdedup" -> semdedupOracleSql,
    "d_dedup_exact" ->
      s"""WITH all_docs AS ($docsWithDupsSql)
         |SELECT min(doc_id) AS doc_id, count(*) AS dup_count
         |FROM all_docs
         |GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))""".stripMargin,

    "d_dedup_minhash" ->
      s"""WITH $minhashPairsCtes
         |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin,

    // LSH pairs + recursive transitive closure: min reachable doc id
    "d_dedup_cluster" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |good AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM good
         |  UNION SELECT id_b, id_a FROM good),
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,

    "d_split_leakfree" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |good AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM good
         |  UNION SELECT id_b, id_a FROM good),
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
         |  FROM reach GROUP BY id)
         |SELECT d.doc_id,
         |  COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
         |  CASE WHEN ${h32Sql(
              "CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)")} % 100
             < 90 THEN 'train'
         |    WHEN ${h32Sql(
              "CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)")} % 100
             < 95 THEN 'val'
         |    ELSE 'test' END AS split
         |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id""".stripMargin,

    "d_sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${h32Sql("CAST(doc_id AS VARCHAR)")} % 10000 <
         |  CASE WHEN lang = 'en' THEN 2500 ELSE 5000 END""".stripMargin,

    "d_dedup_substring" ->
      s"""WITH base AS ($docsWithDupsSql),
         |toks AS (SELECT doc_id, $toksSql AS t FROM base),
         |tk AS (SELECT doc_id, t FROM toks WHERE len(t) >= 16),
         |wins AS (SELECT doc_id, i AS start,
         |  md5(array_to_string(list_slice(t, i, i + 15), ' ')) AS wh
         |  FROM tk, unnest(generate_series(1, len(t) - 15)) g(i)),
         |m AS (SELECT doc_id, start,
         |  count(*) OVER (PARTITION BY wh) AS occ FROM wins),
         |f AS (SELECT doc_id, start,
         |  lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
         |  FROM m WHERE occ >= 2),
         |isl AS (SELECT doc_id, start,
         |  sum(CASE WHEN prev IS NULL OR start > prev + 1 THEN 1 ELSE 0
         |    END) OVER (PARTITION BY doc_id ORDER BY start) AS island
         |  FROM f)
         |SELECT doc_id, CAST(min(start) AS INT) AS span_start,
         |  CAST(max(start) + 15 AS INT) AS span_end,
         |  CAST(max(start) + 15 - min(start) + 1 AS INT) AS span_tokens
         |FROM isl GROUP BY doc_id, island""".stripMargin,

    "d_dedup_incremental" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, 0 AS is_batch FROM documents
         |  UNION ALL SELECT doc_id + 10000, text, 1 FROM documents
         |  WHERE doc_id % 50 = 0),
         |toks AS (
         |  SELECT doc_id, is_batch, $toksSql AS t FROM base),
         |th AS (
         |  SELECT doc_id, is_batch,
         |    list_transform(t, x -> ${h32Sql("x")}) AS h
         |  FROM toks),
         |sh AS (
         |  SELECT doc_id, is_batch, CASE WHEN len(h) >= 3 THEN
         |    list_distinct(list_transform(generate_series(1, len(h) - 2),
         |      i -> ((h[i] * 1000003 + h[i+1]) % 3037000493 * 1000003
         |        + h[i+2]) % 3037000493))
         |  ELSE [] END AS s FROM th),
         |sig AS (
         |  SELECT doc_id, is_batch, s,
         |    list_transform(generate_series(0, 15), p ->
         |      list_aggregate(list_transform(s, h ->
         |        (h * (p * 2 + 1) + p * 12345 + 7) % 4294967311),
         |        'min')) AS sg
         |  FROM sh WHERE len(s) > 0),
         |banded AS (
         |  SELECT doc_id, is_batch, s, bi,
         |    md5(array_to_string(list_transform(
         |      list_slice(sg, bi * 4 + 1, bi * 4 + 4), v -> v::VARCHAR),
         |      ',')) AS bh
         |  FROM sig, unnest(generate_series(0, 3)) u(bi)),
         |cb AS (SELECT * FROM banded WHERE is_batch = 0
         |  QUALIFY row_number() OVER (PARTITION BY bi, bh
         |    ORDER BY doc_id) <= 1000),
         |bb AS (SELECT * FROM banded WHERE is_batch = 1
         |  QUALIFY row_number() OVER (PARTITION BY bi, bh
         |    ORDER BY doc_id) <= 1000),
         |cand AS (SELECT DISTINCT b.doc_id AS batch_id,
         |    c.doc_id AS corpus_id,
         |    len(list_intersect(b.s, c.s))::DOUBLE /
         |      len(list_distinct(list_concat(b.s, c.s))) AS jaccard
         |  FROM bb b JOIN cb c ON b.bi = c.bi AND b.bh = c.bh),
         |f AS (SELECT * FROM cand WHERE jaccard >= 0.5)
         |SELECT batch_id, corpus_id AS dup_of, jaccard FROM f
         |QUALIFY row_number() OVER (PARTITION BY batch_id
         |  ORDER BY jaccard DESC, corpus_id DESC) = 1""".stripMargin,

    "t_shuffle_shards" ->
      s"""SELECT doc_id, source,
         |  ${h32Sql("'shard:' || CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY ${h32Sql("'shard:' || CAST(doc_id AS VARCHAR)")} % 8
         |    ORDER BY ${h32Sql("'pos:' || CAST(doc_id AS VARCHAR)")}, doc_id)
         |    AS BIGINT) AS pos
         |FROM documents""".stripMargin,

    "d_mixture" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_dom FROM documents
         |  GROUP BY lang),
         |w AS (SELECT lang, n_dom, CASE lang
         |    WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000 WHEN 'es' THEN 1500
         |    WHEN 'de' THEN 1000 WHEN 'fr' THEN 500 END AS w_bp FROM c),
         |w2 AS (SELECT * FROM w WHERE w_bp IS NOT NULL),
         |t AS (SELECT min((n_dom * 10000) // w_bp) AS t_max FROM w2),
         |th AS (SELECT lang,
         |  ((w_bp * t_max) // 10000) * 10000 // n_dom AS keep_bp
         |  FROM w2, t)
         |SELECT d.doc_id, d.lang, th.keep_bp
         |FROM documents d JOIN th ON d.lang = th.lang
         |WHERE ${h32Sql("CAST(d.doc_id AS VARCHAR)")} % 10000 < th.keep_bp"""
        .stripMargin,

    "t_readability" ->
      s"""WITH c AS (SELECT doc_id,
         |  len($toksSql)::BIGINT AS n_words,
         |  greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT
         |    AS n_sentences,
         |  len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
         |    AS n_syllables
         |  FROM documents)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  206.835::DOUBLE - 1.015::DOUBLE *
         |    (n_words::DOUBLE / n_sentences) -
         |    84.6::DOUBLE * (n_syllables::DOUBLE / n_words) AS flesch,
         |  0.39::DOUBLE * (n_words::DOUBLE / n_sentences) +
         |    11.8::DOUBLE * (n_syllables::DOUBLE / n_words) -
         |    15.59::DOUBLE AS fk_grade
         |FROM c WHERE n_words > 0""".stripMargin,

    "d_dsir" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |tok AS (SELECT doc_id, (doc_id % 10 = 0) AS is_t,
         |  ${h32Sql("w")} % 1024 AS b
         |  FROM toks, unnest(t) u(w)),
         |bc AS (SELECT b,
         |  sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
         |  count(*) AS cr FROM tok GROUP BY b),
         |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc),
         |lam AS (SELECT b,
         |  round(ln(((ct + 1) * (nr + 1024))::DOUBLE /
         |    ((cr + 1) * (nt + 1024))::DOUBLE), 6)::DECIMAL(18,6) AS lam
         |  FROM bc, tot),
         |sc AS (SELECT doc_id, sum(lam) AS s,
         |  count(*)::BIGINT AS n_tokens
         |  FROM tok JOIN lam USING (b) GROUP BY doc_id)
         |SELECT doc_id, CAST(s AS DOUBLE) AS dsir_score, n_tokens
         |FROM sc ORDER BY s DESC, doc_id LIMIT 200""".stripMargin,

    "t_quality_rules" ->
      s"""WITH toks AS (SELECT doc_id, text, $toksSql AS t FROM documents),
         |f AS (SELECT doc_id,
         |  len(t) AS n,
         |  COALESCE(list_aggregate(list_transform(t, x -> length(x)),
         |    'sum'), 0) AS sumlen,
         |  COALESCE(list_aggregate(list_transform(t, x -> CASE WHEN x IN
         |    ('the','a','and','of','to','in','is') THEN 1 ELSE 0 END),
         |    'sum'), 0) AS stop_hits,
         |  length(text) - length(replace(text, '#', '')) AS hashes,
         |  (length(text) - length(replace(text, '...', ''))) // 3
         |    AS ellipses,
         |  len(string_split(text, chr(10))) AS n_lines,
         |  len(list_filter(string_split(text, chr(10)),
         |    l -> l LIKE '- %' OR l LIKE '* %')) AS bullets,
         |  len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS alpha
         |  FROM toks)
         |SELECT doc_id,
         |  n BETWEEN 10 AND 5000 AS r_word_count,
         |  n > 0 AND sumlen >= n * 2 AND sumlen <= n * 12
         |    AS r_mean_word_len,
         |  (hashes + ellipses) * 10 <= n AS r_symbol_ratio,
         |  bullets * 10 <= n_lines * 9 AS r_bullet_lines,
         |  alpha * 10 >= n * 8 AS r_alpha_words,
         |  stop_hits >= 2 AS r_stopwords,
         |  (n BETWEEN 10 AND 5000) AND
         |  (n > 0 AND sumlen >= n * 2 AND sumlen <= n * 12) AND
         |  ((hashes + ellipses) * 10 <= n) AND
         |  (bullets * 10 <= n_lines * 9) AND
         |  (alpha * 10 >= n * 8) AND (stop_hits >= 2) AS pass
         |FROM f""".stripMargin,

    "t_chunk" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |c AS (SELECT doc_id, tk, len(tk) AS n,
        |  CASE WHEN len(tk) > 64 THEN 1 + (len(tk) - 64 + 47) // 48
        |       ELSE 1 END AS nc FROM t)
        |SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
        |  array_to_string(list_slice(tk, (i-1)*48 + 1, (i-1)*48 + 64), ' ')
        |    AS chunk_text,
        |  CAST(len(list_slice(tk, (i-1)*48 + 1, (i-1)*48 + 64)) AS INT)
        |    AS n_tokens
        |FROM c, unnest(generate_series(1, nc)) g(i)""".stripMargin,

    "t_vocab_topk" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS token
         |  FROM documents)
         |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         |FROM toks GROUP BY token
         |ORDER BY tf DESC, token LIMIT 100""".stripMargin,

    "t_tokenize_ids" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |tf AS (SELECT token, count(*) AS tf FROM (
         |    SELECT unnest(t) AS token FROM toks) GROUP BY token
         |  ORDER BY tf DESC, token LIMIT 100),
         |vl AS (SELECT list(token ORDER BY tf DESC, token) AS vt FROM tf)
         |SELECT doc_id,
         |  to_json(list_transform(t,
         |    x -> coalesce(list_position(vt, x), 0))) AS ids_json
         |FROM toks, vl WHERE len(t) > 0""".stripMargin,

    "t_bpe_train" -> bpeOracleSql(6),

    "t_bpe_apply" -> bpeOracleSql(6, segment = true),

    "p_curation_pipeline" ->
      s"""WITH toks AS (SELECT doc_id, text, $toksSql AS t FROM documents),
         |f AS (SELECT doc_id, text,
         |  len(t) AS n_tokens,
         |  CASE WHEN len(t) > 0 THEN
         |    COALESCE(list_aggregate(list_transform(t, x -> length(x)),
         |      'sum'), 0)::DOUBLE / len(t) ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN length(text) > 0 THEN
         |    length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE /
         |      length(text) ELSE 0.0 END AS punct_ratio
         |  FROM toks),
         |q AS (SELECT doc_id, text FROM f WHERE
         |  (CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) * 0.4 +
         |  (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.3 +
         |  (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.3 >= 0.7),
         |dd AS (SELECT doc_id, text FROM q
         |  QUALIFY row_number() OVER (PARTITION BY
         |    md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
         |    ORDER BY doc_id) = 1),
         |samp AS (SELECT doc_id, text FROM dd
         |  WHERE ${h32Sql("CAST(doc_id AS VARCHAR)")} % 10000 < 5000),
         |tk AS (SELECT doc_id,
         |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
         |  FROM samp),
         |c AS (SELECT doc_id, tk,
         |  CASE WHEN len(tk) > 64 THEN 1 + (len(tk) - 64 + 47) // 48
         |       ELSE 1 END AS nc FROM tk)
         |SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
         |  array_to_string(list_slice(tk, (i-1)*48 + 1, (i-1)*48 + 64), ' ')
         |    AS chunk_text,
         |  CAST(len(list_slice(tk, (i-1)*48 + 1, (i-1)*48 + 64)) AS INT)
         |    AS n_tokens
         |FROM c, unnest(generate_series(1, nc)) g(i)""".stripMargin,

    "p_curation_funnel" ->
      s"""WITH base AS ($docsWithDupsSql
         |  UNION ALL SELECT 99999, 'x'),
         |toks AS (SELECT doc_id, text, $toksSql AS t FROM base),
         |f AS (SELECT doc_id, text,
         |  len(t) AS n_tokens,
         |  CASE WHEN len(t) > 0 THEN
         |    COALESCE(list_aggregate(list_transform(t, x -> length(x)),
         |      'sum'), 0)::DOUBLE / len(t) ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN length(text) > 0 THEN
         |    length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE /
         |      length(text) ELSE 0.0 END AS punct_ratio
         |  FROM toks),
         |q AS (SELECT doc_id, text FROM f WHERE
         |  (CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) * 0.4 +
         |  (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.3 +
         |  (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.3 >= 0.7),
         |ranked AS (SELECT doc_id, row_number() OVER (PARTITION BY
         |    md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
         |    ORDER BY doc_id) AS rk FROM q)
         |SELECT d.doc_id,
         |  CASE WHEN r.rk IS NULL THEN 'quality'
         |       WHEN r.rk > 1 THEN 'dedup'
         |       WHEN ${h32Sql("CAST(d.doc_id AS VARCHAR)")} % 10000 >= 5000
         |         THEN 'sample'
         |       ELSE 'kept' END AS stage
         |FROM base d LEFT JOIN ranked r ON d.doc_id = r.doc_id""".stripMargin,

    "t_pii_redact" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |  '@example.com ph 555-' ||
        |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234 ip 10.0.' ||
        |  CAST(doc_id % 256 AS VARCHAR) || '.17 ssn 123-45-6789' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
        |    AS text_redacted,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(text,
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS INT) AS n_ssn,
        |  CAST(len(regexp_extract_all(text,
        |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS INT) AS n_phone,
        |  CAST(len(regexp_extract_all(text,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ip
        |FROM p""".stripMargin,

    "d_dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents)
         |SELECT doc_id,
         |  list_reduce(list_transform(generate_series(0, 31), i ->
         |    CASE WHEN list_aggregate(list_transform(t, tk ->
         |      CASE WHEN (${h32Sql("tk")} >> i) & 1 = 1 THEN 1 ELSE -1 END),
         |      'sum') > 0 THEN 1::BIGINT ELSE 0::BIGINT END),
         |    (a, b) -> a * 2 + b) AS simhash
         |FROM toks""".stripMargin,

    "d_dedup_ngram" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, source, $toksSql AS t FROM documents),
         |th AS (
         |  SELECT doc_id, lang, source,
         |    list_transform(t, x -> ${h32Sql("x")}) AS h FROM toks),
         |sh AS (SELECT doc_id, lang, source,
         |    list_distinct(list_transform(generate_series(1, len(h) - 2),
         |      i -> ((h[i] * 1000003 + h[i+1]) % 3037000493 * 1000003
         |        + h[i+2]) % 3037000493)) AS s
         |  FROM th WHERE len(h) >= 3 AND len(list_distinct(h)) > 0
         |  QUALIFY row_number() OVER (PARTITION BY lang, source
         |    ORDER BY doc_id) <= 1000)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_intersect(a.s, b.s))::DOUBLE /
         |    len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         |FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source
         |  AND a.doc_id < b.doc_id
         |  AND least(len(a.s), len(b.s))::DOUBLE /
         |    greatest(len(a.s), len(b.s)) >= 0.5
         |WHERE len(list_intersect(a.s, b.s))::DOUBLE /
         |    len(list_distinct(list_concat(a.s, b.s))) >= 0.5""".stripMargin,

    // Norms are hoisted per row (sqrt(dot(v,v)) computed once in d,
    // not once per pair) and the pair dot is the native sequential
    // list_dot_product — same expression tree as the fold form it
    // replaced, so bit-identical cosines, but the ~2×10⁸ label-blocked
    // pairs at sf100 evaluate in native code instead of lambdas.
    "d_dedup_embed" ->
      """WITH base AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000, label,
        |    list_transform(embedding, x -> x * 1.001::FLOAT)
        |  FROM embeddings WHERE vec_id % 100 = 0),
        |d AS MATERIALIZED (SELECT vec_id, label, v,
        |  sqrt(list_dot_product(v, v)) AS nn
        |  FROM (SELECT vec_id, label,
        |    list_transform(embedding, x -> x::DOUBLE) AS v FROM base)),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.v, b.v) / (a.nn * b.nn) AS cosine
        |FROM d a JOIN d b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.99""".stripMargin,

    "s_ann_lsh" -> lshOracleSql,

    // The oracle mirrors the engine's own round-11 discipline (thin
    // rows through the cap window, payload after the cap): the 8x-
    // corpus cap window sorts (t, bucket, vec_id) ONLY — carrying the
    // 64-double vector through it filled the sandbox temp disk at
    // sf1000 (20 M vectors -> 161 M fat window rows, ~85 GB) — and the
    // vectors + hoisted per-row norms attach AFTER the cap to the
    // bounded (<= tables * 2^planes * cap) relation. IEEE-identical
    // cosines: sqrt(dot(a,a)) * sqrt(dot(b,b)) just computed per row
    // instead of per pair.
    "d_dedup_embed_lsh" -> {
      val bucketCase = lshBucketCase(numTables = 8, numPlanes = 6, dims = 64)
      s"""WITH base AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000, list_transform(embedding, x -> x * 1.001::FLOAT)
         |  FROM embeddings WHERE vec_id % 100 = 0),
         |d AS (SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS v FROM base),
         |b AS MATERIALIZED (
         |  SELECT vec_id, t, bucket FROM (
         |    SELECT vec_id, u.t, $bucketCase AS bucket
         |    FROM d, unnest(generate_series(0, 7)) u(t))
         |  QUALIFY row_number() OVER (PARTITION BY t, bucket
         |    ORDER BY vec_id) <= 1000),
         |bv AS MATERIALIZED (
         |  SELECT b.vec_id, b.t, b.bucket, d.v,
         |    sqrt(list_dot_product(d.v, d.v)) AS nn
         |  FROM b JOIN d ON b.vec_id = d.vec_id),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         |    list_dot_product(a.v, b2.v) / (a.nn * b2.nn) AS cosine
         |  FROM bv a JOIN bv b2 ON a.t = b2.t AND a.bucket = b2.bucket
         |    AND a.vec_id < b2.vec_id)
         |SELECT DISTINCT id_a, id_b, cosine FROM pairs
         |WHERE cosine >= 0.99""".stripMargin
    },

    // Scale note (the round-9 MMR-oracle lesson, re-learned at sf100):
    // the coarse pass ranks on ids + approx score ONLY — carrying the
    // two 64-double vectors through the queries×corpus join made DuckDB
    // spill ~1 KB × 100 M rows (>51 GB temp, disk-full at sf100). The
    // exact vectors join back AFTER QUALIFY, on ≤ queries×32 rows.
    "s_ann_int8" ->
      """WITH d AS (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |sc AS (SELECT vec_id, v,
        |  list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0
        |    AS scale FROM d),
        |z AS MATERIALIZED (SELECT vec_id, v, scale,
        |  CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
        |    ELSE list_transform(v,
        |      x -> CAST(floor(x / scale + 0.5) AS INT)::DOUBLE)
        |    END AS qd FROM sc),
        |qs AS (SELECT vec_id AS query_id, scale AS qsc, qd AS qq
        |  FROM z WHERE vec_id < 50),
        |cs AS (SELECT vec_id AS cand_id, scale AS csc, qd AS cq
        |  FROM z),
        |approx AS (SELECT query_id, cand_id,
        |  (list_dot_product(qq, cq) * qsc) * csc AS approx
        |  FROM qs JOIN cs ON query_id <> cand_id),
        |cand AS (SELECT query_id, cand_id FROM approx
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY approx DESC, cand_id) <= 32),
        |scored AS (SELECT query_id, cand_id,
        |  list_dot_product(q.v, c.v) /
        |  (sqrt(list_dot_product(q.v, q.v)) *
        |   sqrt(list_dot_product(c.v, c.v)))
        |  AS cosine FROM cand
        |  JOIN z q ON q.vec_id = query_id
        |  JOIN z c ON c.vec_id = cand_id)
        |SELECT query_id, cand_id, cosine, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, cand_id) AS rnk FROM scored)
        |WHERE rnk <= 5""".stripMargin,

    "s_quantize_int8" ->
      """WITH d AS (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |sc AS (SELECT vec_id, v,
        |  list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0
        |    AS scale FROM d)
        |SELECT vec_id, scale,
        |  to_json(CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
        |    ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT))
        |    END) AS q_json
        |FROM sc""".stripMargin,

    "s_ann_bruteforce" ->
      """WITH d AS (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_dot_product(q.v, c.v) /
        |    (sqrt(list_dot_product(q.v, q.v)) *
        |     sqrt(list_dot_product(c.v, c.v)))
        |    AS cosine
        |  FROM d q JOIN d c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
        |SELECT query_id, cand_id, cosine, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, cand_id) AS rnk FROM scored) t
        |WHERE rnk <= 5""".stripMargin,

    "p_rag" -> {
      // Hash-embedding CTE chain: md5 per token computed ONCE (the
      // inline form re-hashed every token for each of the 16 dims —
      // ~6×10⁹ md5 calls at sf100), then per-dim INTEGER sums via
      // GROUP BY. Integer addition is order-independent, so the
      // regrouping is exact; values and the /1000.0 division are
      // unchanged. Empty-token chunks are restored by the LEFT JOIN
      // with an all-zero vector, matching COALESCE(sum, 0)/1000.0.
      // intermediate CTEs carry a `_` so the prefix can never collide
      // with the outer chunking CTEs (p="c" would otherwise emit `ch`,
      // the name of the chunk CTE)
      def embCtes(src: String, p: String) =
        s"""${p}_h AS (SELECT vec_id, md5(x || ':0') || md5(x || ':1') AS h
           |  FROM (SELECT vec_id, unnest(t) AS x FROM $src)),
           |${p}_dim AS (SELECT vec_id, j,
           |    CAST(SUM((('0x' || substr(h, j * 4 + 1, 4))::BIGINT % 2001)
           |      - 1000) AS BIGINT) AS s
           |  FROM ${p}_h, unnest(generate_series(0, 15)) g(j)
           |  GROUP BY vec_id, j),
           |${p}_vec AS (SELECT vec_id, list(s / 1000.0 ORDER BY j) AS v
           |  FROM ${p}_dim GROUP BY vec_id),
           |${p}emb AS (SELECT b.vec_id,
           |    COALESCE(w.v, list_transform(generate_series(0, 15),
           |      j -> 0.0)) AS v
           |  FROM $src b LEFT JOIN ${p}_vec w USING (vec_id))""".stripMargin
      s"""WITH tk0 AS (SELECT doc_id,
         |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
         |  FROM documents),
         |c AS (SELECT doc_id, tk,
         |  CASE WHEN len(tk) > 64 THEN 1 + (len(tk) - 64 + 47) // 48
         |       ELSE 1 END AS nc FROM tk0),
         |ch AS (SELECT doc_id * 1000 + (i - 1) AS vec_id,
         |  array_to_string(list_slice(tk, (i-1)*48 + 1, (i-1)*48 + 64),
         |    ' ') AS chunk_text
         |  FROM c, unnest(generate_series(1, nc)) g(i)),
         |ct AS (SELECT vec_id, list_filter(string_split_regex(
         |  lower(chunk_text), '[^a-z0-9]+'), x -> x <> '') AS t FROM ch),
         |${embCtes("ct", "c")},
         |q(vec_id, qtext) AS (VALUES
         |  (9000000001, 'window merge sort'),
         |  (9000000002, 'hash scan table'),
         |  (9000000003, 'spark batch value')),
         |qt AS (SELECT vec_id, list_filter(string_split_regex(
         |  lower(qtext), '[^a-z0-9]+'), x -> x <> '') AS t FROM q),
         |${embCtes("qt", "q")},
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    list_reduce(list_transform(generate_series(1, len(q.v)),
         |      i -> q.v[i] * c.v[i]), (x, y) -> x + y) /
         |    (sqrt(list_reduce(list_transform(q.v, x -> x * x),
         |      (x, y) -> x + y)) *
         |     sqrt(list_reduce(list_transform(c.v, x -> x * x),
         |      (x, y) -> x + y))) AS cosine
         |  FROM qemb q JOIN cemb c ON q.vec_id <> c.vec_id)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, cand_id,
         |  cand_id // 1000 AS doc_id,
         |  CAST(cand_id % 1000 AS INT) AS chunk_idx, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id) AS rnk FROM scored) t
         |WHERE rnk <= 5""".stripMargin
    },

    "t_lang_id" ->
      s"""WITH toks AS (SELECT doc_id, lang, $toksSql AS t FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  CAST(COALESCE(list_aggregate(list_transform(t, x -> CASE WHEN x IN
         |    ('der','die','und','das','ist','nicht','ein') THEN 1 ELSE 0 END), 'sum'), 0) AS BIGINT) AS hits_de,
         |  CAST(COALESCE(list_aggregate(list_transform(t, x -> CASE WHEN x IN
         |    ('the','a','and','of','to','in','is') THEN 1 ELSE 0 END), 'sum'), 0) AS BIGINT) AS hits_en,
         |  CAST(COALESCE(list_aggregate(list_transform(t, x -> CASE WHEN x IN
         |    ('el','la','de','que','y','en','los') THEN 1 ELSE 0 END), 'sum'), 0) AS BIGINT) AS hits_es,
         |  CAST(COALESCE(list_aggregate(list_transform(t, x -> CASE WHEN x IN
         |    ('le','la','de','et','les','des','un') THEN 1 ELSE 0 END), 'sum'), 0) AS BIGINT) AS hits_fr,
         |  CAST(COALESCE(list_aggregate(list_transform(t, x -> CASE WHEN x IN
         |    ('de','le','shi','bu','wo','you','zai') THEN 1 ELSE 0 END), 'sum'), 0) AS BIGINT) AS hits_zh
         |  FROM toks)
         |SELECT doc_id, lang, hits_de, hits_en, hits_es, hits_fr, hits_zh,
         |  CASE
         |    WHEN hits_de >= hits_en AND hits_de >= hits_es
         |     AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
         |    WHEN hits_en >= hits_es AND hits_en >= hits_fr
         |     AND hits_en >= hits_zh THEN 'en'
         |    WHEN hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
         |    WHEN hits_fr >= hits_zh THEN 'fr'
         |    ELSE 'zh' END AS lang_pred
         |FROM sc""".stripMargin,

    "t_quality" ->
      s"""WITH toks AS (SELECT doc_id, text, $toksSql AS t FROM documents),
         |f AS (SELECT doc_id,
         |  length(text) AS n_chars,
         |  len(t) AS n_tokens,
         |  CASE WHEN len(t) > 0 THEN
         |    COALESCE(list_aggregate(list_transform(t, x -> length(x)), 'sum'), 0)::DOUBLE / len(t)
         |  ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN length(text) > 0 THEN
         |    length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE / length(text)
         |  ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN len(t) > 0 THEN
         |    COALESCE(list_aggregate(list_transform(t, x -> CASE WHEN x IN
         |      ('the','a','and','of','to','in','is') THEN 1 ELSE 0 END), 'sum'), 0)::DOUBLE / len(t)
         |  ELSE 0.0 END AS stopword_ratio
         |  FROM toks)
         |SELECT doc_id, CAST(n_chars AS INT) AS n_chars,
         |  CAST(n_tokens AS INT) AS n_tokens, mean_token_len, punct_ratio,
         |  stopword_ratio,
         |  CAST((CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) * 0.4 +
         |  (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.3 +
         |  (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.3 AS DOUBLE) AS quality
         |FROM f""".stripMargin,

    "t_quality_model" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |th AS (SELECT doc_id,
         |  list_transform(t, x -> ${h32Sql("x")}) AS h FROM toks),
         |sc AS (SELECT doc_id, len(h) AS n_tokens,
         |  COALESCE(list_aggregate(list_transform(h,
         |    x -> (x * 1000003 + 12345) % 2001 - 1000), 'sum'), 0) AS s
         |  FROM th)
         |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |  CASE WHEN n_tokens > 0
         |    THEN s::DOUBLE / (n_tokens * 1000.0) ELSE 0.0 END AS score,
         |  (CASE WHEN n_tokens > 0
         |    THEN s::DOUBLE / (n_tokens * 1000.0) ELSE 0.0 END) >= 0.0
         |    AS keep
         |FROM sc""".stripMargin,

    "t_token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS bpe_ish_tokens
        |FROM documents""".stripMargin,

    "t_fingerprint" ->
      s"""WITH n AS (SELECT doc_id,
         |  regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm
         |  FROM documents)
         |SELECT doc_id, md5(norm) AS content_md5,
         |  CASE WHEN length(norm) >= 5 THEN
         |    list_aggregate(list_transform(
         |      list_distinct(list_transform(generate_series(1, length(norm) - 4),
         |        i -> substr(norm, i, 5))),
         |      s -> ${h32Sql("s")}), 'min')
         |  ELSE NULL END AS shingle_minhash
         |FROM n""".stripMargin,

    "t_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |th AS (SELECT doc_id,
         |  list_transform(t, x -> ${h32Sql("x")}) AS h FROM toks),
         |g AS (SELECT doc_id, len(h) AS n, len(list_distinct(h)) AS nd,
         |  list_transform(generate_series(1, len(h) - 1),
         |    i -> (h[i] * 1000003 + h[i+1]) % 3037000493) AS g2,
         |  list_transform(generate_series(1, len(h) - 2),
         |    i -> ((h[i] * 1000003 + h[i+1]) % 3037000493 * 1000003
         |      + h[i+2]) % 3037000493) AS g3
         |  FROM th),
         |c2 AS (SELECT doc_id, max(c) AS top2 FROM (
         |  SELECT doc_id, gg, count(*) AS c FROM g, unnest(g2) u(gg)
         |  GROUP BY doc_id, gg) GROUP BY doc_id),
         |c3 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END)
         |    AS dup3 FROM (
         |  SELECT doc_id, gg, count(*) AS c FROM g, unnest(g3) u(gg)
         |  GROUP BY doc_id, gg) GROUP BY doc_id)
         |SELECT g.doc_id, CAST(g.n AS INT) AS n_tokens,
         |  CASE WHEN g.n > 0 THEN g.nd::DOUBLE / g.n ELSE 0.0 END AS ttr,
         |  CASE WHEN g.n > 1 THEN COALESCE(c2.top2, 0)::DOUBLE / (g.n - 1)
         |    ELSE 0.0 END AS top2gram_frac,
         |  CASE WHEN g.n > 2 THEN COALESCE(c3.dup3, 0)::DOUBLE / (g.n - 2)
         |    ELSE 0.0 END AS dup3gram_frac
         |FROM g LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)""".stripMargin,

    // identical output to d_decontaminate by construction (the Bloom is
    // a no-false-negative prefilter + exact verify) — shared oracle
    "d_decontaminate_bloom" -> decontaminateOracle,

    "d_decontaminate" -> decontaminateOracle,

    "t_novelty" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |th AS (SELECT doc_id,
         |  list_transform(t, x -> ${h32Sql("x")}) AS h FROM toks),
         |sh AS (SELECT doc_id, CASE WHEN len(h) >= 4 THEN
         |  list_distinct(list_transform(generate_series(1, len(h) - 3),
         |    i -> (((h[i] * 1000003 + h[i+1]) % 3037000493 * 1000003
         |      + h[i+2]) % 3037000493 * 1000003 + h[i+3]) % 3037000493))
         |  ELSE [] END AS s FROM th),
         |rf AS (SELECT DISTINCT gg FROM sh, unnest(s) u(gg)
         |  WHERE doc_id % 10 = 0),
         |tg AS (SELECT doc_id, len(s) AS n_ngrams, gg
         |  FROM (SELECT doc_id, s FROM sh
         |        WHERE doc_id % 10 <> 0 AND len(s) > 0), unnest(s) u(gg))
         |SELECT tg.doc_id, CAST(any_value(tg.n_ngrams) AS INT) AS n_ngrams,
         |  count(rf.gg) AS seen_ngrams,
         |  (any_value(tg.n_ngrams) - count(rf.gg))::DOUBLE /
         |    any_value(tg.n_ngrams) AS novelty
         |FROM tg LEFT JOIN rf USING (gg)
         |GROUP BY tg.doc_id""".stripMargin,

    "d_decontaminate_attr" ->
      s"""WITH toks AS (SELECT doc_id, source, $toksSql AS t FROM documents),
         |th AS (SELECT doc_id, source,
         |  list_transform(t, x -> ${h32Sql("x")}) AS h FROM toks),
         |sh AS (SELECT doc_id, source, CASE WHEN len(h) >= 4 THEN
         |  list_distinct(list_transform(generate_series(1, len(h) - 3),
         |    i -> (((h[i] * 1000003 + h[i+1]) % 3037000493 * 1000003
         |      + h[i+2]) % 3037000493 * 1000003 + h[i+3]) % 3037000493))
         |  ELSE [] END AS s FROM th),
         |ev AS (SELECT doc_id AS eval_id, source AS benchmark, gg
         |  FROM sh, unnest(s) u(gg) WHERE doc_id % 10 = 0),
         |tr AS (SELECT doc_id, len(s) AS n_ngrams, gg
         |  FROM (SELECT doc_id, s FROM sh
         |        WHERE doc_id % 10 <> 0 AND len(s) > 0), unnest(s) u(gg))
         |SELECT tr.doc_id, ev.eval_id, ev.benchmark,
         |  CAST(any_value(tr.n_ngrams) AS INT) AS n_ngrams,
         |  count(*) AS shared_ngrams,
         |  count(*)::DOUBLE / any_value(tr.n_ngrams) AS overlap_frac
         |FROM tr JOIN ev USING (gg)
         |GROUP BY tr.doc_id, ev.eval_id, ev.benchmark""".stripMargin,

    "t_url_curation" ->
      """WITH u AS (SELECT doc_id,
        |  (['news.example.com','blog.example.org','spam.example.net',
        |    'ads.tracker.io','docs.example.edu','forum.example.co',
        |    'shop.example.biz','wiki.example.info'])[
        |    CAST(doc_id % 8 + 1 AS INT)] AS dom
        |  FROM documents),
        |f AS (SELECT doc_id,
        |  'https://' || dom || '/doc/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM u WHERE dom NOT IN ('spam.example.net', 'ads.tracker.io'))
        |SELECT doc_id,
        |  regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS domain
        |FROM f
        |QUALIFY row_number() OVER (
        |  PARTITION BY regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1)
        |  ORDER BY doc_id) <= 30""".stripMargin,

    "d_dedup_oversized" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |th AS (
         |  SELECT doc_id, list_transform(t, x -> ${h32Sql("x")}) AS h
         |  FROM toks),
         |sh AS (
         |  SELECT doc_id, CASE WHEN len(h) >= 3 THEN
         |    list_distinct(list_transform(generate_series(1, len(h) - 2),
         |      i -> ((h[i] * 1000003 + h[i+1]) % 3037000493 * 1000003
         |        + h[i+2]) % 3037000493))
         |  ELSE [] END AS s FROM th),
         |sig AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(0, 15), p ->
         |      list_aggregate(list_transform(s, h ->
         |        (h * (p * 2 + 1) + p * 12345 + 7) % 4294967311),
         |        'min')) AS sg
         |  FROM sh WHERE len(s) > 0),
         |banded AS (
         |  SELECT doc_id, CAST(bi AS INT) AS band_idx,
         |    md5(array_to_string(list_transform(
         |      list_slice(sg, bi * 4 + 1, bi * 4 + 4), v -> v::VARCHAR),
         |      ',')) AS band_hash
         |  FROM sig, unnest(generate_series(0, 3)) u(bi))
         |SELECT band_idx, band_hash, count(*) AS members,
         |  count(*) - 1 AS dropped_members
         |FROM banded GROUP BY band_idx, band_hash
         |HAVING count(*) > 1""".stripMargin,

    "mm_dedup" ->
      s"""WITH all_docs AS ($docsWithDupsSql)
         |SELECT sha256(text) AS sha256, min(doc_id) AS media_id,
         |  count(*) AS dup_count
         |FROM all_docs GROUP BY sha256(text)""".stripMargin,

    "mm_features" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS media_type,
        |  octet_length(text::BLOB) AS byte_len,
        |  sha256(text) AS sha256
        |FROM documents""".stripMargin,

    "mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    ('0x' || substr(sha256(text), 1, 8))::BIGINT AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |d AS (SELECT media_id, h % 1920 + 1 AS width,
        |  (h // 256) % 1080 + 1 AS height FROM m),
        |s AS (SELECT media_id, width, height,
        |  least(512.0 / width, 512.0 / height, 1.0) AS sc FROM d)
        |SELECT media_id, width::INT AS width, height::INT AS height,
        |  greatest(floor(width * sc + 0.5), 1)::BIGINT AS out_width,
        |  greatest(floor(height * sc + 0.5), 1)::BIGINT AS out_height,
        |  sc < 1.0 AS scaled
        |FROM s""".stripMargin,

    "mm_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, sha256(text) AS sh,
        |    ('0x' || substr(sha256(text), 1, 8))::BIGINT % 600000 AS dur
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT media_id, ts AS frame_ts_ms,
        |  substr(sh, 1, 16) || '@' || lpad(ts::VARCHAR, 8, '0') AS frame_ref
        |FROM m, unnest(generate_series(0, greatest(dur, 1) - 1, 60000)) u(ts)""".stripMargin
  )
}
