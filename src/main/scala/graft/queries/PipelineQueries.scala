package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.Tables
import graft.queries.Exact.{h32Sql, toksSql}
import graft.ops.{Dedup, Sampling, Search, Similarity, TextAnalysis}

/** Round-4 pipeline additions: corpus-wide segment (paragraph) dedup,
  * temperature-based domain rebalancing, and BM25 lexical retrieval —
  * the curation / data-mixing / search stages that sit alongside the
  * dedup+ANN families in a full training-data pipeline. All
  * differentially oracle-checked against DuckDB.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  // synthetic skewed domain labels over documents (60/25/10/5%): the
  // head-heavy mixture temperature sampling exists to flatten
  private val domainCase =
    """CASE WHEN doc_id % 100 < 60 THEN 'web'
      |     WHEN doc_id % 100 < 85 THEN 'books'
      |     WHEN doc_id % 100 < 95 THEN 'code'
      |     ELSE 'wiki' END""".stripMargin
  private def domainCol =
    when(col("doc_id") % 100 < 60, "web")
      .when(col("doc_id") % 100 < 85, "books")
      .when(col("doc_id") % 100 < 95, "code")
      .otherwise("wiki")

  // Sequential dot / norm mirroring graft.functions.VecMath. DuckDB's
  // list_dot_product is a plain sequential multiply-add loop, so it is
  // bit-identical to the interpreted left fold it replaces
  // (list_reduce over generate_series) while evaluating ~50× faster —
  // the difference is lambda interpretation, not summation order.
  // Verified two ways: a 200k-pair mixed-magnitude (1e±30) exhaustive
  // equality probe, and hash-identical re-differentials of every
  // affected oracle at sf0.01/sf1 after the swap. At sf100 the fold
  // form made label-blocked pair oracles (~2×10⁸ pairs) intractable.
  private def dotSql(a: String, b: String) =
    s"list_dot_product($a, $b)"
  private def nrmSql(a: String) =
    s"sqrt(list_dot_product($a, $a))"

  /** Shared BM25 CTE chain ending in `sc(doc_id, ts DECIMAL, tf)` —
    * the per-(doc, term) quantized score rows both `s_bm25` and the
    * hybrid fusion aggregate. */
  private def bm25Ctes: String =
    s"""t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |l AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk FROM t),
       |s AS (SELECT count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
       |  FROM l),
       |q AS (SELECT unnest(['spark', 'window', 'merge']) AS term),
       |tf AS (SELECT doc_id, dl, term,
       |    CAST(len(list_filter(tk, x -> x = term)) AS BIGINT) AS tf
       |  FROM l, q),
       |tfp AS (SELECT * FROM tf WHERE tf > 0),
       |dfq AS (SELECT term, count(*) AS dfreq FROM tfp GROUP BY term),
       |idf AS (SELECT term,
       |    round(ln((s.n_docs - dfreq + CAST(0.5 AS DOUBLE)) /
       |      (dfreq + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 9)
       |      AS idf,
       |    CAST(s.sum_dl AS DOUBLE) / s.n_docs AS avgdl
       |  FROM dfq, s),
       |sc AS (SELECT doc_id,
       |    CAST(round(idf * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
       |      (tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE)
       |        - CAST(0.75 AS DOUBLE)
       |        + CAST(0.75 AS DOUBLE) * dl / avgdl))), 6)
       |      AS DECIMAL(18,6)) AS ts,
       |    tf
       |  FROM tfp JOIN idf USING (term))""".stripMargin

  /** Unrolled DuckDB replica of the 5-step MMR greedy selection (the
    * k-means-CTE precedent: iteration count is a literal, each step is
    * one argmax CTE over the bounded candidate list). */
  private def mmrOracleSql: String = {
    def cos(a: String, b: String) =
      s"(${dotSql(a, b)} / (${nrmSql(a)} * ${nrmSql(b)}))"
    val steps = (2 to 5).map { i =>
      s"""m$i AS (SELECT c.cand_id, max(${cos("s.v", "c.v")}) AS maxsim
         |  FROM c0 c CROSS JOIN sel${i - 1} s
         |  WHERE c.cand_id NOT IN (SELECT cand_id FROM sel${i - 1})
         |  GROUP BY c.cand_id),
         |p$i AS (SELECT c.cand_id, c.rel, c.v, $i AS mmr_rank,
         |    (CAST(0.7 AS DOUBLE) * c.rel
         |      - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * m.maxsim)
         |      AS mmr_score
         |  FROM c0 c JOIN m$i m ON c.cand_id = m.cand_id
         |  ORDER BY mmr_score DESC, c.cand_id LIMIT 1),
         |sel$i AS (SELECT * FROM sel${i - 1}
         |  UNION ALL SELECT * FROM p$i)""".stripMargin
    }.mkString(",\n")
    // Scale note (sf100 lesson): the top-20 sort must NOT carry the
    // 64-double vector payload, and c0 must be MATERIALIZED — the
    // greedy steps reference it ~9 times, and DuckDB otherwise
    // re-evaluates the full 2 M-row scored scan per reference while
    // top-N-sorting the list payload (OOM-killed at 76 GB at sf100).
    // Rank ids only, join the vectors back for the 20 winners.
    s"""WITH d AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |q AS (SELECT v AS qv FROM d WHERE vec_id = 0),
       |c0ids AS MATERIALIZED (SELECT d.vec_id AS cand_id,
       |    ${cos("q.qv", "d.v")} AS rel
       |  FROM d, q WHERE d.vec_id <> 0
       |  ORDER BY rel DESC, cand_id LIMIT 20),
       |c0 AS MATERIALIZED (SELECT i.cand_id, i.rel, d.v
       |  FROM c0ids i JOIN d ON d.vec_id = i.cand_id),
       |p1 AS (SELECT cand_id, rel, v, 1 AS mmr_rank, rel AS mmr_score
       |  FROM c0 ORDER BY rel DESC, cand_id LIMIT 1),
       |sel1 AS (SELECT * FROM p1),
       |$steps
       |SELECT cand_id, rel, mmr_rank, mmr_score FROM sel5""".stripMargin
  }

  val defs: Map[String, Q] = Map(
    // CCNet/RefinedWeb-style corpus-wide segment dedup: every 8-token
    // segment survives only at its first (doc, position) occurrence;
    // documents reassemble from surviving segments.
    "d_dedup_paragraph" -> ((s, dir) =>
      Dedup.paragraphDedup(Tables.load(s, dir, "documents"),
        segTokens = 8)),

    // Temperature-0.5 domain rebalance over a synthetic skewed domain
    // mix: post-sample counts ∝ √n_domain, smallest domain kept whole.
    "d_resample_temp" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), domainCol.as("domain"))
      Sampling.temperatureResample(d, keyCol = "doc_id",
        domainCol = "domain")
        .select(col("doc_id"), col("domain"), col("domain_docs"),
          col("keep_bp"))
    }),

    // BM25 top-100 lexical retrieval for a 3-term query.
    "s_bm25" -> ((s, dir) =>
      Search.bm25(Tables.load(s, dir, "documents"),
        Seq("spark", "window", "merge"), topK = 100)),

    // Exact phrase search: documents containing the consecutive token
    // sequence "table value", with occurrence count and first position —
    // the positional predicate BM25's bag-of-words scoring can't express.
    "s_phrase" -> ((s, dir) =>
      Search.phraseSearch(Tables.load(s, dir, "documents"),
        Seq("table", "value"))),

    // MMR diversity re-rank over the brute-force top-20 for one query
    // vector: greedy λ=0.7 relevance-vs-redundancy selection of 5 —
    // the post-retrieval stage that stops near-duplicate chunks from
    // crowding out coverage. Candidate list only; never the corpus.
    "s_mmr" -> ((s, dir) => {
      val d = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val q = d.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val cands = d.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id").as("cand_id"),
          Similarity.cosine(col("qv"), col("v")).as("rel"), col("v"))
        .orderBy(col("rel").desc, col("cand_id")).limit(20)
      Similarity.mmrRerank(cands, k = 5, lam = 0.7)
    }),

    // Inverted-index build: per-term document/term frequencies plus a
    // bounded posting sample — the materialized-index stage behind
    // BM25-style retrieval.
    "s_postings" -> ((s, dir) =>
      Search.postings(Tables.load(s, dir, "documents"))),

    // Term-association mining: PMI in lift form over the top-50
    // document-frequency vocabulary (division-exact, no transcendental).
    "t_pmi" -> ((s, dir) =>
      TextAnalysis.pmiLift(Tables.load(s, dir, "documents"))),

    // TF-IDF keyword extraction: top-3 terms per document by tf·idf —
    // the doc-tagging stage (topic routing, per-doc metadata).
    "t_keywords" -> ((s, dir) =>
      TextAnalysis.tfidfKeywords(Tables.load(s, dir, "documents"))),

    // Data-constrained epoch planning: 1M-token budget over the skewed
    // domain mix, repeats capped at 4 epochs — how many times each
    // domain is seen in the training recipe.
    "d_epoch_plan" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), domainCol.as("domain"),
          size(graft.ops.TextOps.tokens(col("text"))).as("n_tokens"))
      Sampling.epochPlan(d, "domain", col("n_tokens"),
        Seq("web" -> 0.5, "books" -> 0.25, "code" -> 0.15,
          "wiki" -> 0.1),
        budgetTokens = 1000000L, maxEpochs = 4.0)
    }),

    // Sequence-packing manifest: concat-then-chunk at 256 tokens, the
    // two-level bucketed cumsum standing in for the global ordered
    // window a naive plan would serialize.
    "t_pack_manifest" -> ((s, dir) =>
      TextAnalysis.packManifest(Tables.load(s, dir, "documents"),
        seqLen = 256, bucketSize = 100)),

    // CCNet-style perplexity quality filter: add-one bigram LM trained
    // on the doc_id % 10 = 0 split (the same "clean reference" split
    // the decontamination queries use), cross-entropy-scores the rest.
    "t_perplexity" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      TextAnalysis.bigramCrossEntropy(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0))
    }),

    // Domain-authority PageRank over a deterministic synthetic link
    // graph (two hash-derived out-edges per document), 5 fixed
    // iterations, DECIMAL-exact rank sums.
    "p_pagerank" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val n = d.agg(count(lit(1)).as("cnt"))
      val base = d.crossJoin(broadcast(n))
      val edges = base.select(col("doc_id").as("src"),
        pmod(col("doc_id") * 31 + 7, col("cnt")).as("dst"))
        .unionByName(base.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 17 + 3, col("cnt")).as("dst")))
        .filter(col("src") =!= col("dst"))
      graft.ops.Graph.pageRank(edges, iterations = 5)
        .select(col("node").as("doc_id"), col("rank"))
    }),

    // Domain-level boilerplate strip: segments appearing in > 1% of a
    // domain's documents (the planted duplicate clusters qualify) are
    // template boilerplate; documents reassemble without them.
    "t_boilerplate" -> ((s, dir) =>
      TextAnalysis.boilerplateStrip(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), domainCol.as("domain"), col("text")),
        maxDocShare = 0.01)),

    // Triangle counting over the same deterministic link graph as
    // p_pagerank: per-node triangle membership — the local
    // clustering-density signal (link-farm detection).
    "p_triangles" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val n = d.agg(count(lit(1)).as("cnt"))
      val base = d.crossJoin(broadcast(n))
      // the two affine maps plus ring edges (i, i+1) and (i, i+2):
      // every {i, i+1, i+2} closes a triangle, so the clustering
      // structure is dense enough to exercise the wedge join
      val edges = base.select(col("doc_id").as("src"),
        pmod(col("doc_id") * 31 + 7, col("cnt")).as("dst"))
        .unionByName(base.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 17 + 3, col("cnt")).as("dst")))
        .unionByName(base.select(col("doc_id").as("src"),
          pmod(col("doc_id") + 1, col("cnt")).as("dst")))
        .unionByName(base.select(col("doc_id").as("src"),
          pmod(col("doc_id") + 2, col("cnt")).as("dst")))
      graft.ops.Graph.triangles(edges)
    }),

    // Length-bucketed batching manifest: documents grouped into
    // power-of-two padding buckets (the pad-to-16/32/64/128 batching
    // that keeps attention matrices dense), sharded by hash, batch
    // index within (bucket, shard). Windows partition on
    // (bucket, shard) — cardinality grows with the shard knob, never a
    // global sort; everything integer, engine-exact.
    "t_length_batches" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val n = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(graft.ops.TextOps.tokens(col("text"))).cast(LongType)
            .as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val padLen = when(col("n_tokens") <= 16, 16)
        .when(col("n_tokens") <= 32, 32)
        .when(col("n_tokens") <= 64, 64)
        .when(col("n_tokens") <= 128, 128)
        .otherwise(256)
      val sharded = n.withColumn("pad_len", padLen)
        .withColumn("shard", pmod(graft.ops.TextOps.h32(
          col("doc_id").cast("string")), lit(8)).cast(IntegerType))
      val w = Window.partitionBy(col("pad_len"), col("shard"))
        .orderBy(col("n_tokens"), col("doc_id"))
      sharded.withColumn("batch_idx",
        floor((row_number().over(w) - 1) / lit(32)))
    }),

    // Hybrid retrieval: BM25 lexical ranks fused with dense ANN ranks
    // (query = embedding 0) by reciprocal-rank fusion.
    "s_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex = Search.bm25(Tables.load(s, dir, "documents"),
        Seq("spark", "window", "merge"), topK = 100)
        .select(col("doc_id"), row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).as("rank"))
      val e = Tables.load(s, dir, "embeddings")
      val dense = Similarity.bruteForceTopK(
        e.filter(col("vec_id") === 0), e, k = 100)
        .select(col("cand_id").as("doc_id"), col("rnk").as("rank"))
      Search.rrfFuse(Seq("lex" -> lex, "dense" -> dense), topK = 50)
    })
  )

  /** DuckDB replica of the fixed-iteration PageRank: same synthetic
    * edge derivation, 5 unrolled iteration CTEs, DECIMAL(38,18) rank
    * sums, all literals forced DOUBLE (bare decimals parse as DECIMAL
    * in DuckDB and would change the arithmetic). */
  // Every CTE is MATERIALIZED: DuckDB inlines plain CTEs per reference,
  // so `e` (a 10 M-row DISTINCT) re-evaluated from nodes/od/c1..c5 and
  // the five chained iterations fused into ONE operator DAG — at sf100
  // that overflowed the 80 GB memory limit and then filled >51 GB of
  // temp disk. Materialization bounds the peak to one iteration.
  private def pagerankOracleSql: String = {
    def iter(prev: String, i: Int): String =
      s"""c$i AS MATERIALIZED (SELECT e.dst AS node,
         |    CAST(SUM(CAST(CAST(0.85 AS DOUBLE) * (r.rank / od.outdeg)
         |      AS DECIMAL(38,18))) AS DOUBLE) AS inflow
         |  FROM e JOIN od USING (src) JOIN $prev r ON r.node = e.src
         |  GROUP BY e.dst),
         |r$i AS MATERIALIZED (SELECT nodes.node,
         |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n_nodes +
         |      COALESCE(inflow, CAST(0.0 AS DOUBLE)) AS rank
         |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON nodes.node = c$i.node)"""
        .stripMargin
    s"""WITH n AS (SELECT count(*) AS cnt FROM documents),
       |e0 AS (
       |  SELECT doc_id AS src, (doc_id * 31 + 7) % cnt AS dst
       |  FROM documents, n
       |  UNION ALL
       |  SELECT doc_id, (doc_id * 17 + 3) % cnt FROM documents, n),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT count(*) AS n_nodes FROM nodes),
       |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n_nodes AS rank
       |  FROM nodes CROSS JOIN nn),
       |${(1 to 5).map(i => iter(s"r${i - 1}", i)).mkString(",\n")}
       |SELECT node AS doc_id, rank FROM r5""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "d_dedup_paragraph" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |c AS (SELECT doc_id, tk, CAST((len(tk) + 7) // 8 AS BIGINT) AS nseg
        |  FROM t WHERE len(tk) > 0),
        |segs AS (SELECT doc_id, nseg, CAST(i AS INT) AS seg_idx,
        |    array_to_string(list_slice(tk, i*8 + 1, i*8 + 8), ' ') AS seg
        |  FROM c, unnest(generate_series(0, CAST(nseg AS INT) - 1)) g(i)),
        |k AS (SELECT doc_id, nseg, seg_idx, seg,
        |    doc_id * 1000000 + seg_idx AS ord,
        |    min(doc_id * 1000000 + seg_idx)
        |      OVER (PARTITION BY md5(seg)) AS fo
        |  FROM segs)
        |SELECT doc_id, min(nseg) AS n_segments,
        |  count(*) AS kept_segments,
        |  string_agg(seg, ' ' ORDER BY seg_idx) AS text_dedup
        |FROM k WHERE ord = fo GROUP BY doc_id""".stripMargin,

    "d_resample_temp" ->
      s"""WITH d AS (SELECT doc_id, $domainCase AS domain FROM documents),
         |c AS (SELECT domain, count(*) AS domain_docs FROM d GROUP BY domain),
         |m AS (SELECT min(domain_docs) AS nmin FROM c),
         |f AS (SELECT domain, domain_docs,
         |    CAST(floor(sqrt(CAST(nmin AS DOUBLE) /
         |      CAST(domain_docs AS DOUBLE)) * 10000) AS BIGINT) AS keep_bp
         |  FROM c, m)
         |SELECT d.doc_id, d.domain, f.domain_docs, f.keep_bp
         |FROM d JOIN f USING (domain)
         |WHERE ${h32Sql("CAST(d.doc_id AS VARCHAR)")} % 10000 < f.keep_bp""".stripMargin,

    "s_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, CAST(SUM(ts) AS DOUBLE) AS score,
         |  CAST(SUM(tf) AS BIGINT) AS matched_tf
         |FROM sc GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin,

    "s_phrase" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |m AS (SELECT doc_id, i
         |  FROM toks, unnest(generate_series(1, len(t) - 1)) g(i)
         |  WHERE t[i] = 'table' AND t[i + 1] = 'value')
         |SELECT doc_id, count(*) AS n_occurrences,
         |  min(i)::BIGINT AS first_pos
         |FROM m GROUP BY doc_id""".stripMargin,

    "s_mmr" -> mmrOracleSql,

    // the posting sample is the 128 SMALLEST doc_ids per term,
    // computed as a per-term list slice instead of the row_number
    // window's global (term, doc_id) sort — which at sf1000 (~2 B
    // distinct pairs) exceeded sandbox temp disk as a DuckDB window
    // spill (round-12 fifth-decade program). Per-term list state is
    // small by construction: replica token spaces are disjoint, so a
    // term's postings never span replicas.
    "s_postings" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS term
         |  FROM documents),
         |td AS (SELECT term, doc_id, count(*) AS tf
         |  FROM toks GROUP BY term, doc_id)
         |SELECT term, count(*) AS dfreq, CAST(sum(tf) AS BIGINT) AS total_tf,
         |  array_to_string(list_transform(
         |    list_sort(list(doc_id))[1:128],
         |    x -> x::VARCHAR), ',') AS posting_sample
         |FROM td GROUP BY term""".stripMargin,

    // fifth-decade discipline: the distinct-term expansion is inlined
    // at BOTH use sites (single-use CTEs stream; a doubly-referenced
    // ~billions-row CTE would materialize and spill) — identical
    // result, same hash
    "t_pmi" ->
      s"""WITH dfq AS (SELECT term, count(*) AS c FROM
         |    (SELECT doc_id, unnest(list_distinct($toksSql)) AS term
         |     FROM documents) GROUP BY term),
         |topv AS (SELECT term, c FROM dfq ORDER BY c DESC, term LIMIT 50),
         |ft AS (SELECT dt.doc_id, dt.term FROM
         |    (SELECT doc_id, unnest(list_distinct($toksSql)) AS term
         |     FROM documents) dt JOIN topv USING (term)),
         |pr AS (SELECT a.term AS term_a, b.term AS term_b,
         |    count(*) AS co_docs
         |  FROM ft a JOIN ft b
         |    ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT term_a, term_b, co_docs,
         |  (CAST(co_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) /
         |  (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
         |FROM pr
         |JOIN topv ca ON pr.term_a = ca.term
         |JOIN topv cb ON pr.term_b = cb.term
         |CROSS JOIN n""".stripMargin,

    "d_epoch_plan" ->
      s"""WITH d AS (
         |  SELECT $domainCase AS domain,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |pd AS (
         |  SELECT domain, CAST(sum(n_tokens) AS BIGINT)
         |    AS tokens_available
         |  FROM d GROUP BY domain),
         |w AS (
         |  SELECT * FROM (VALUES ('web', CAST(0.5 AS DOUBLE)),
         |    ('books', CAST(0.25 AS DOUBLE)),
         |    ('code', CAST(0.15 AS DOUBLE)),
         |    ('wiki', CAST(0.1 AS DOUBLE))) AS t(domain, weight))
         |SELECT pd.domain, tokens_available,
         |  CAST(floor(CAST(1000000 AS DOUBLE) * weight) AS BIGINT)
         |    AS target_tokens,
         |  least(floor(CAST(1000000 AS DOUBLE) * weight)
         |      / CAST(tokens_available AS DOUBLE),
         |    CAST(4.0 AS DOUBLE)) AS epochs,
         |  CAST(floor(CAST(tokens_available AS DOUBLE) *
         |    least(floor(CAST(1000000 AS DOUBLE) * weight)
         |        / CAST(tokens_available AS DOUBLE),
         |      CAST(4.0 AS DOUBLE))) AS BIGINT) AS planned_tokens
         |FROM pd JOIN w ON pd.domain = w.domain""".stripMargin,

    // fifth-decade discipline: the top-3-per-doc window
    // (row_number PARTITION BY doc_id over the ~billions-row tf·idf
    // expansion — a global sort at sf1000) is replaced by a grouped
    // list sorted on (-wq, term): negating the weight turns the mixed
    // (wq DESC, term ASC) order into one ascending lexicographic sort
    // of a struct, and the 3-slice's ordinality IS kw_rank — identical
    // rows, same hash
    "t_keywords" ->
      s"""WITH td AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($toksSql) AS term FROM documents)
         |  GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(*) AS df FROM td GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |idf AS (SELECT term,
         |    round(ln(CAST(n_docs AS DOUBLE) / df), 9) AS idf
         |  FROM dfq CROSS JOIN n),
         |w AS (SELECT doc_id, td.term,
         |    CAST(round(tf * idf, 6) AS DECIMAL(18,6)) AS wq
         |  FROM td JOIN idf ON td.term = idf.term),
         |top3 AS (SELECT doc_id, list_slice(list_sort(
         |    list(struct_pack(nwq := -wq, term := term))), 1, 3) AS l
         |  FROM w GROUP BY doc_id)
         |SELECT doc_id,
         |  unnest(list_transform(l, x -> x.term)) AS term,
         |  unnest(list_transform(l, x -> CAST(-x.nwq AS DOUBLE)))
         |    AS weight,
         |  CAST(unnest(generate_series(1, len(l))) AS INT) AS kw_rank
         |FROM top3""".stripMargin,

    "p_pagerank" -> pagerankOracleSql,

    "t_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, $domainCase AS domain,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
         |      AS tk
         |  FROM documents),
         |c AS (SELECT doc_id, domain, tk,
         |    CAST((len(tk) + 7) // 8 AS BIGINT) AS nseg
         |  FROM t WHERE len(tk) > 0),
         |segs AS (SELECT doc_id, domain, nseg, CAST(i AS INT) AS seg_idx,
         |    array_to_string(list_slice(tk, i*8 + 1, i*8 + 8), ' ') AS seg
         |  FROM c, unnest(generate_series(0, CAST(nseg AS INT) - 1)) g(i)),
         |dd AS (SELECT domain, count(DISTINCT doc_id) AS dom_docs
         |  FROM segs GROUP BY domain),
         |sd AS (SELECT domain, md5(seg) AS seg_hash,
         |    count(DISTINCT doc_id) AS seg_docs
         |  FROM segs GROUP BY domain, md5(seg)),
         |b AS (SELECT sd.domain, seg_hash
         |  FROM sd JOIN dd ON sd.domain = dd.domain
         |  WHERE CAST(seg_docs AS DOUBLE) >
         |    0.01 * CAST(dom_docs AS DOUBLE)),
         |k AS (SELECT s.* FROM segs s WHERE NOT EXISTS
         |  (SELECT 1 FROM b
         |   WHERE b.domain = s.domain AND b.seg_hash = md5(s.seg)))
         |SELECT doc_id, domain, min(nseg) AS n_segments,
         |  count(*) AS kept_segments,
         |  string_agg(seg, ' ' ORDER BY seg_idx) AS text_clean
         |FROM k GROUP BY doc_id, domain""".stripMargin,

    "p_triangles" ->
      """WITH n AS (SELECT count(*) AS cnt FROM documents),
        |e0 AS (
        |  SELECT doc_id AS src, (doc_id * 31 + 7) % cnt AS dst
        |  FROM documents, n
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 17 + 3) % cnt FROM documents, n
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 1) % cnt FROM documents, n
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % cnt FROM documents, n),
        |und AS (SELECT DISTINCT least(src, dst) AS lo,
        |    greatest(src, dst) AS hi
        |  FROM e0 WHERE src <> dst),
        |tri AS (
        |  SELECT e1.lo AS ta, e1.hi AS tb, e2.hi AS tc
        |  FROM und e1 JOIN und e2 ON e1.hi = e2.lo
        |  WHERE EXISTS (SELECT 1 FROM und e3
        |    WHERE e3.lo = e1.lo AND e3.hi = e2.hi)),
        |members AS (
        |  SELECT ta AS node FROM tri
        |  UNION ALL SELECT tb FROM tri
        |  UNION ALL SELECT tc FROM tri)
        |SELECT node, count(*) AS n_triangles
        |FROM members GROUP BY node""".stripMargin,

    "t_perplexity" ->
      s"""WITH ref AS (SELECT $toksSql AS t FROM documents
         |  WHERE doc_id % 10 = 0),
         |uni AS (SELECT w1, count(*) AS c1 FROM (
         |    SELECT unnest(t) AS w1 FROM ref) GROUP BY w1),
         |bi AS (SELECT w1, w2, count(*) AS c2 FROM (
         |    SELECT t[i] AS w1, t[i+1] AS w2
         |    FROM ref, unnest(generate_series(1, len(t) - 1)) g(i))
         |  GROUP BY w1, w2),
         |vs AS (SELECT count(*) AS v FROM uni),
         |tgt AS (SELECT doc_id, CAST(len(t) - 1 AS BIGINT) AS n_bigrams,
         |    t[i] AS w1, t[i+1] AS w2
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents
         |    WHERE doc_id % 10 <> 0) d,
         |    unnest(generate_series(1, len(t) - 1)) g(i)),
         |lp AS (SELECT doc_id, n_bigrams,
         |    CAST(round(ln((COALESCE(c2, 0) + CAST(1.0 AS DOUBLE)) /
         |      (COALESCE(c1, 0) + v)), 6) AS DECIMAL(18,6)) AS lp
         |  FROM tgt LEFT JOIN uni USING (w1)
         |  LEFT JOIN bi USING (w1, w2) CROSS JOIN vs)
         |SELECT doc_id, MIN(n_bigrams) AS n_bigrams,
         |  -CAST(SUM(lp) AS DOUBLE) / MIN(n_bigrams) AS cross_entropy
         |FROM lp GROUP BY doc_id""".stripMargin,

    "t_length_batches" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT)
         |    AS n_tokens FROM documents),
         |b AS (SELECT doc_id, n_tokens,
         |  CASE WHEN n_tokens <= 16 THEN 16
         |       WHEN n_tokens <= 32 THEN 32
         |       WHEN n_tokens <= 64 THEN 64
         |       WHEN n_tokens <= 128 THEN 128
         |       ELSE 256 END AS pad_len,
         |  CAST(${h32Sql("CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens, pad_len, shard,
         |  CAST(floor((row_number() OVER (PARTITION BY pad_len, shard
         |    ORDER BY n_tokens, doc_id) - 1) / 32.0) AS BIGINT)
         |    AS batch_idx
         |FROM b""".stripMargin,

    "t_pack_manifest" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT)
         |    AS n_tokens FROM documents),
         |f AS (SELECT doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tok_offset
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens, tok_offset,
         |  CAST(floor(tok_offset / 256.0) AS BIGINT) AS seq_first,
         |  CAST(floor((tok_offset + n_tokens - 1) / 256.0) AS BIGINT)
         |    AS seq_last
         |FROM f""".stripMargin,

    "s_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
         |bm AS (SELECT doc_id, CAST(SUM(ts) AS DOUBLE) AS score
         |  FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 100),
         |lex AS (SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank FROM bm),
         |ev AS (SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |qv AS (SELECT v AS qvec FROM ev WHERE vec_id = 0),
         |cosd AS (SELECT ev.vec_id,
         |    ${dotSql("qvec", "ev.v")} / (${nrmSql("qvec")} *
         |      ${nrmSql("ev.v")}) AS cosine
         |  FROM ev, qv WHERE ev.vec_id <> 0),
         |dense AS (SELECT vec_id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
         |      AS BIGINT) AS dense_rank
         |  FROM cosd
         |  QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id) <= 100)
         |SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
         |  lex_rank, dense_rank,
         |  COALESCE(1.0::DOUBLE / (60 + lex_rank), 0.0::DOUBLE) +
         |  COALESCE(1.0::DOUBLE / (60 + dense_rank), 0.0::DOUBLE) AS rrf
         |FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
         |ORDER BY rrf DESC, COALESCE(lex.doc_id, dense.doc_id)
         |LIMIT 50""".stripMargin
  )
}
