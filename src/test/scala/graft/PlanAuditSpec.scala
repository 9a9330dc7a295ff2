package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audits over the WHOLE query inventory — the 100-TB
  * discipline as a regression test. Planning only (no execution): every
  * `SparkEntry.queries` entry is planned against sf0.001 and the
  * physical plan is asserted to have the shape a 1000-executor run
  * needs: filters pushed into the parquet scan, pruned read schemas,
  * broadcast joins for dims, map-side partial aggregation, and no
  * accidental Cartesian products anywhere.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val sf = "/root/testdata/sf0.001"

  private def physicalPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  // Deliberate dense pairings, documented in their operators: the exact
  // and int8-scan ANN baselines score every (query, candidate) pair by
  // definition (query side broadcast; at corpus scale the int8 scoring
  // drops into the LSH-bucketed join instead); IVF's "cross join" is
  // the one-row broadcast of the collected centroid array
  // (Similarity.nearestCells) — a scalar-broadcast pattern, not a
  // pairing of two relations. d_decontaminate_bloom's is the same
  // scalar-broadcast shape: the one-row sparse Bloom bitmask
  // (Decontam.overlapBloom) crossed into the train-gram stream.
  // d_resample_temp and s_bm25 cross only one-row aggregates into
  // domain/term tables of at most a few dozen rows (the corpus side
  // never enters a dense join): Sampling.temperatureResample attaches
  // min(domain count) to the per-domain thresholds; Search.bm25
  // attaches corpus doc-count/avg-length to the per-term idf rows.
  // s_hybrid_rrf embeds the brute-force dense scan as its ANN side;
  // p_pagerank and t_perplexity cross only one-row aggregates (node
  // count / vocabulary size) into row streams — the scalar-broadcast
  // pattern, collect-free.
  // d_mixture is the same shape as d_resample_temp: the one-row T_max
  // aggregate crossed into the per-domain threshold rows (≤ #domains).
  // p_rag embeds the brute-force dense scan (3 broadcast query
  // vectors × chunk corpus) exactly like s_hybrid_rrf embeds it.
  // d_dsir crosses only the one-row token-total aggregate into the
  // 1024-row bucket model (the corpus side joins the model by an
  // equi-key); p_kmeans is the IVF scalar-broadcast centroid-array
  // shape (Similarity.nearestCells) surfaced as its own query.
  // t_pmi and t_keywords cross the one-row corpus doc-count aggregate
  // into vocab-sized streams (pair counts / per-term idf) —
  // scalar-broadcast again; the corpus itself never enters a dense
  // join.
  // s_mmr: the 1-row query vector and the ≤5-row selected set are
  // the only crossed sides — candidate-list-bounded by design.
  // p_triangles: the p_pagerank scalar-broadcast edge-generation
  // shape (1-row node count crossed into the id stream).
  // q_tpch_q11 / q_tpch_q22: TPC-H scalar subqueries expressed as
  // broadcast 1-row aggregates (global revenue fraction / segment
  // average balance) crossed into bounded per-part / per-customer
  // streams — the same collect-free scalar-broadcast pattern.
  // t_bpe_apply: the rank-sorted merge table collapses to ONE
  // broadcast row crossed into the distinct-word vocabulary.
  // q_skew_salted / q_skew_preagg: the 1-row hot-supplier aggregate
  // crossed into lineitem — the scalar-broadcast pattern (the salted
  // join itself is an equi-join on (key, salt); the pre-agg variant
  // shares the same skewedLines generator).
  // The set itself lives in graft.plans.PlanGuard so graft.Bench
  // annotates its JSON record from the SAME allowlist this suite
  // enforces — the two cannot drift.
  private val denseByDesign = graft.plans.PlanGuard.denseByDesign

  test("no accidental Cartesian product in any registered query") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(denseByDesign)
      .filter { name =>
        val p = physicalPlan(name)
        p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      }
    assert(offenders.isEmpty,
      s"dense joins outside the allowlist: ${offenders.mkString(", ")}")
  }

  test("flagship scan pushes filters and prunes columns") {
    val p = physicalPlan("q_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    // projection is 4 columns + the 2 filter columns; the 16-column
    // lineitem schema must NOT be read in full
    assert(!p.contains("l_comment"), "read schema not pruned")
  }

  test("multi-join broadcasts the dimension tables") {
    val p = physicalPlan("q_join_multi")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("aggregations are map-side partial") {
    val p = physicalPlan("q1_agg")
    assert(p.contains("partial_sum") || p.contains("partial_"), p)
  }

  test("semi/anti joins plan as join strategies, not subquery loops") {
    assert(physicalPlan("q_semi_join").contains("LeftSemi"))
    assert(physicalPlan("q_anti_join").contains("LeftAnti"))
  }

  test("JsonPathCse: one JSON parse per row when SELECT and WHERE share a path") {
    import org.apache.spark.sql.catalyst.expressions.GetJsonObject
    val df = SparkEntry.queries("q_sql_colon_path")(spark, sf)
    val parses = df.queryExecution.optimizedPlan
      .flatMap(_.expressions).flatMap(_.collect { case g: GetJsonObject => g })
    assert(parses.length == 1,
      s"expected the shared path hoisted to a single extraction, got " +
        s"${parses.length}:\n${df.queryExecution.optimizedPlan}")
    // and the rewrite must not change results
    val viaRule = df.collect().map(_.toSeq).toSet
    val plain = Tables.load(spark, sf, "events")
      .selectExpr("event_id", "CAST(get_json_object(props, '$.k') AS INT) AS k_val")
      .where("k_val BETWEEN 20 AND 40").collect().map(_.toSeq).toSet
    assert(viaRule == plain)
  }

  private def occurrences(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("native kernels evaluate once and dropped their barrier exchanges") {
    // the expensive producer appears exactly once per plan — derived
    // columns read the attribute (CollapseProject keeps non-cheap
    // multi-reference producers un-inlined), so no duplicated scans
    assert(occurrences(physicalPlan("t_lang_id"), "token_lex_stats(") == 1)
    assert(occurrences(physicalPlan("t_quality"), "token_lex_stats(") == 1)
    val fp = physicalPlan("t_fingerprint")
    assert(occurrences(fp, "min_shingle_h32(") == 1)
    // p_rag's chunk encoder: ONE native hash_embed16 call on the
    // corpus side (the 3-row query side constant-folds into its
    // LocalTableScan) and no interpreted tokenize → md5 HOF chain left
    val rag = physicalPlan("p_rag")
    assert(occurrences(rag, "hash_embed16(") == 1, rag)
    assert(occurrences(rag, "aggregate(") == 0,
      "p_rag must not re-tokenize/embed via the interpreted HOF chain")
    // fingerprint and simhash are pure narrow passes: scan → project,
    // zero exchanges (the round-2 repartition barriers are gone)
    assert(!fp.contains("Exchange"), "t_fingerprint must be a narrow pass")
    assert(!physicalPlan("d_dedup_simhash").contains("Exchange"),
      "d_dedup_simhash must be a narrow pass")
    // the dedup LSH prefix shuffles only for buckets/pairs — no
    // REPARTITION_BY_COL barrier exchanges survive. Exception:
    // d_dedup_minhash deliberately pre-partitions the shingle table on
    // the doc id — that exchange IS the verify joins' required
    // distribution and the band stage hangs off the same shuffle
    // (ReuseExchange), so the tokenize kernel runs once; assert it
    // appears exactly once and is keyed on the id, not a barrier.
    Seq("d_dedup_ngram", "d_dedup_embed_lsh").foreach {
      n => assert(!physicalPlan(n).contains("REPARTITION_BY_COL"),
        s"$n still carries a barrier repartition")
    }
    // (the pre-execution plan prints the shared exchange once per
    // consumer — at runtime AQE dedups them into ReusedExchange, so
    // assert the KEY of every repartition, not a textual count)
    val mh = physicalPlan("d_dedup_minhash")
    val reparts = mh.linesIterator
      .filter(_.contains("REPARTITION_BY_COL")).toSeq
    assert(reparts.nonEmpty, "the shared id exchange is gone")
    assert(reparts.forall(_.contains("hashpartitioning(doc_id")),
      s"unexpected repartition key:\n${reparts.mkString("\n")}")
    assert(!mh.contains("ObjectHashAggregate"),
      "the pair stage must not buffer buckets in an object aggregate")
  }

  test("chunking is a zero-exchange narrow pass") {
    // the round-3 repartition barrier is gone: tokenize → generate →
    // project, with the token array a named producer evaluated once
    val p = physicalPlan("t_chunk")
    assert(!p.contains("Exchange"), s"t_chunk must not shuffle:\n$p")
  }

  test("round-4 operators keep their declared exchange budgets") {
    def shuffles(name: String): Int =
      "Exchange hashpartitioning".r.findAllIn(physicalPlan(name)).length
    // paragraph dedup: segment-hash window + doc reassembly, nothing else
    assert(shuffles("d_dedup_paragraph") == 2,
      s"d_dedup_paragraph budget is 2, got ${shuffles("d_dedup_paragraph")}")
    // anomaly z-scores: exactly the user-keyed window exchange
    assert(shuffles("e_anomaly") == 1)
    // length batching: exactly the (bucket, shard) window exchange
    assert(shuffles("t_length_batches") == 1)
    // temperature resample: the corpus is never shuffled — only the tiny
    // per-domain count aggregate exchanges; no corpus key partitioning
    val rt = physicalPlan("d_resample_temp")
    assert(!rt.contains("rangepartitioning"), "corpus sorted")
    assert(!rt.contains("hashpartitioning(doc_id"), "corpus shuffled")
  }

  test("round-5 reshapes keep their declared plan shapes") {
    // q_approx_distinct: the 4-way distinct-aggregate Expand is gone —
    // distinct-first two-level aggs never Expand at all
    val ad = physicalPlan("q_approx_distinct")
    assert(!ad.contains("Expand"), s"q_approx_distinct re-grew an Expand:\n$ad")
    // d_dedup_embed_lsh: candidates score on int8 (dot_long) and only
    // survivors touch the float kernel (dot_d, once — the exact
    // rescore); the bucket/cap/pair stages carry no vector columns
    val el = physicalPlan("d_dedup_embed_lsh")
    assert(occurrences(el, "dot_long(") == 1, el)
    // dot_d shows up to twice in text: Catalyst pushes the ≥ threshold
    // cosine filter into the rescore join's condition AND projects it —
    // one rescore stage, not a second float scan
    val dd = occurrences(el, "dot_d(")
    assert(dd >= 1 && dd <= 2, el)
  }

  test("round-5 additions keep their declared exchange budgets") {
    def shuffles(name: String): Int =
      "Exchange hashpartitioning".r.findAllIn(physicalPlan(name)).length
    // compound quality rules: one narrow codegen pass, no exchange
    val qr = physicalPlan("t_quality_rules")
    assert(!qr.contains("Exchange"), s"t_quality_rules must not shuffle:\n$qr")
    // shard shuffle: exactly the one shard-keyed exchange (the window
    // sorts within shards; no global sort)
    assert(shuffles("t_shuffle_shards") == 1,
      s"t_shuffle_shards budget is 1, got ${shuffles("t_shuffle_shards")}")
    assert(!physicalPlan("t_shuffle_shards").contains("rangepartitioning"),
      "t_shuffle_shards planned a global sort")
    // mixture sampling: only the tiny per-domain count aggregate
    // exchanges — the corpus is filtered in place, never re-keyed
    val mx = physicalPlan("d_mixture")
    assert(!mx.contains("rangepartitioning"), "corpus sorted")
    assert(!mx.contains("hashpartitioning(doc_id"), "corpus shuffled")
    // substring spans: window-hash occurrence count + doc-keyed island
    // merge — two shuffles of the stride-1 window stream (the groupBy
    // rides the island window's doc partitioning), no pairing stage,
    // no global sort
    assert(shuffles("d_dedup_substring") <= 3,
      s"d_dedup_substring budget is 3, got ${shuffles("d_dedup_substring")}")
    assert(!physicalPlan("d_dedup_substring").contains("rangepartitioning"),
      "d_dedup_substring planned a global sort")
  }

  test("data tests, CDC diff, and index builds keep their exchange budgets") {
    def shuffles(name: String): Int =
      "Exchange hashpartitioning".r.findAllIn(physicalPlan(name)).length
    // relationships: parent keys dedup (1) + post-anti-join fk agg (1);
    // the anti-join itself broadcasts the deduped parent side
    val rel = physicalPlan("dt_relationships")
    assert(rel.contains("LeftAnti"), rel)
    assert(shuffles("dt_relationships") <= 3,
      s"dt_relationships budget is 3, got ${shuffles("dt_relationships")}")
    // unique: exactly the one key-hash aggregate exchange
    assert(shuffles("dt_unique") == 1)
    // CDC diff: one exchange per join side, nothing else — and never a
    // broadcast (both sides are full table states)
    val cdc = physicalPlan("m_cdc_diff")
    assert(shuffles("m_cdc_diff") == 2,
      s"m_cdc_diff budget is 2, got ${shuffles("m_cdc_diff")}")
    assert(cdc.contains("FullOuter"), cdc)
    assert(!cdc.contains("rangepartitioning"), "CDC diff planned a sort")
    // postings: (term, doc) tf aggregate + term window; the final term
    // aggregate rides the window's term partitioning — 2, not 3
    assert(shuffles("s_postings") == 2,
      s"s_postings budget is 2, got ${shuffles("s_postings")}")
    assert(!physicalPlan("s_postings").contains("rangepartitioning"),
      "s_postings planned a global sort")
    // pmi: bounded streams only after the broadcast vocab cut; the
    // corpus is never range-partitioned
    assert(!physicalPlan("t_pmi").contains("rangepartitioning"),
      "t_pmi planned a global sort")
  }

  test("TPC-H join shapes broadcast dims and push filters down") {
    // q3: filtered customer is the small side — some join must broadcast
    val q3 = physicalPlan("q_tpch_q3")
    assert(q3.contains("BroadcastHashJoin"), q3)
    assert(q3.contains("PushedFilters: [IsNotNull"), q3)
    // q5: nation + region (and the filtered small sides) broadcast; the
    // six-table shape must not degenerate into a Cartesian product
    val q5 = physicalPlan("q_tpch_q5")
    assert(q5.contains("BroadcastHashJoin"), q5)
    assert(!q5.contains("CartesianProduct"), q5)
    // q10: returnflag filter reaches the lineitem scan, nation broadcast
    val q10 = physicalPlan("q_tpch_q10")
    assert(q10.contains("BroadcastHashJoin"), q10)
    assert(q10.contains("l_returnflag"), q10)
    // all three aggregate map-side before the final exchange
    Seq(q3, q5, q10).foreach(p => assert(p.contains("partial_"), p))
  }

  test("SQL-text TPC-H shapes plan like their DataFrame twins") {
    // the Snowflake-text front end must produce the same Catalyst plan
    // classes as the DataFrame API: broadcast dims, map-side partial
    // aggs, pushed filters — and the QUALIFY rewrite must surface as a
    // PARTITIONED window, never a global single-partition one
    import org.apache.spark.sql.execution.window.WindowExec
    val q3 = physicalPlan("q_sql_tpch_q3_qualify")
    assert(q3.contains("BroadcastHashJoin"), q3)
    assert(q3.contains("partial_"), q3)
    assert(q3.contains("PushedFilters: [IsNotNull"), q3)
    val q18 = physicalPlan("q_sql_tpch_q18_qualify")
    assert(q18.contains("partial_"), q18)
    Seq("q_sql_tpch_q3_qualify", "q_sql_tpch_q18_qualify").foreach { n =>
      val windows = graft.plans.PlanGuard.allNodes(
          SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
        s"$n: QUALIFY must plan a partitioned window")
    }
    // q22: the NOT EXISTS anti-join plans as a join strategy and the
    // scalar avg subquery decorrelates (no per-row execution)
    val q22 = physicalPlan("q_sql_tpch_q22_try")
    assert(q22.contains("LeftAnti"), q22)
  }

  test("native-variant flag compiles colon paths to variant_get") {
    val native = physicalPlan("q_sql_colon_path_native")
    assert(native.contains("variant_get"), native)
    assert(!native.contains("get_json_object"), native)
    // the default string-repr path is unchanged
    assert(physicalPlan("q_sql_colon_path").contains("get_json_object"))
  }

  test("bloom decontamination probes via the codegen kernel before the join") {
    val p = physicalPlan("d_decontaminate_bloom")
    assert(occurrences(p, "bloom_may_contain(") == 1, p)
    // exact verify of survivors still partial-aggs map-side
    assert(p.contains("partial_"), p)
  }

  test("model quality scoring is one narrow kernel pass") {
    val p = physicalPlan("t_quality_model")
    assert(occurrences(p, "linear_score_sum(") == 1, p)
    assert(!p.contains("Exchange"), "t_quality_model must be a narrow pass")
  }

  test("decontamination attribution broadcasts eval grams like overlap") {
    val p = physicalPlan("d_decontaminate_attr")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("repetition metrics plan as one narrow kernel pass") {
    val p = physicalPlan("t_repetition")
    assert(occurrences(p, "repetition_stats(") == 1)
    assert(!p.contains("Exchange"), "t_repetition must be a narrow pass")
  }

  test("decontamination broadcasts the eval grams and partial-aggs") {
    val p = physicalPlan("d_decontaminate")
    // the train side must never shuffle for the probe join
    assert(p.contains("BroadcastHashJoin"), p)
    // per-doc hit counting combines map-side before the exchange
    assert(p.contains("partial_"), p)
  }

  test("exact stats plan as codegen hash-agg + window, no object agg") {
    val p = physicalPlan("q_fn_stats")
    // Spark's `median` would plan an ObjectHashAggregate buffering every
    // value per group; the histogram+window formulation must not
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("partial_"), "moments must combine map-side")
  }

  test("unpartitioned windows only ever sit above bounded relations") {
    // A WindowExec with an empty partitionSpec forces ALL rows through
    // ONE task ("WindowExec: No Partition Defined" at runtime) — fatal
    // on a corpus-sized stream at 100 TB. It is legitimate only above a
    // provably bounded relation: a LIMIT, or an aggregate that reduced
    // the stream to a keys-sized table (vocab top-k's ≤100 rows, the
    // fused-ranking top-100, pack-manifest's N/1000 bucket offsets).
    // This test makes the invariant structural via PlanGuard (the same
    // detector graft.Bench annotates its JSON record with): every
    // unpartitioned window anywhere in the inventory must have a limit
    // or aggregate BELOW it, and the owning queries must stay inside
    // PlanGuard.boundedWindowAllow — a future corpus-sized one fails CI
    // instead of WARNing.
    // The same sweep also enforces the sibling invariant: no SortExec
    // fed by a SINGLE partition of an unbounded stream outside
    // PlanGuard.singlePartitionSortAllow (EMPTY since round 17 —
    // substring dedup's reshaped plan retired the one member).
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      graft.plans.PlanGuard.scaleWarnings(name,
          SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
        .filter(t => t.endsWith("window") || t == "single_partition_sort")
        .map(tag => s"$name:$tag")
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows / single-partition sorts outside the " +
        s"audited allowlists: ${offenders.mkString(", ")}")
  }

  test("single-partition sort detector fires on a coalesced sort, not on bounded ones") {
    import graft.plans.PlanGuard
    val bad = Tables.load(spark, sf, "events")
      .coalesce(1).sortWithinPartitions("ts")
    assert(PlanGuard.scaleWarnings("zzz_probe",
        bad.queryExecution.executedPlan).contains("single_partition_sort"),
      bad.queryExecution.executedPlan.toString)
    // a hard bound (limit) below the sort silences it
    val ok = Tables.load(spark, sf, "events")
      .limit(100).coalesce(1).sortWithinPartitions("ts")
    assert(!PlanGuard.scaleWarnings("zzz_probe",
        ok.queryExecution.executedPlan).contains("single_partition_sort"))
    // the allowlist is EMPTY since round 17 (substring dedup's reshaped
    // plan needs no exemption): the detector fires for every name,
    // including the historical member
    assert(PlanGuard.scaleWarnings("d_dedup_substring",
        bad.queryExecution.executedPlan).contains("single_partition_sort"))
  }

  test("correlated scalar subquery decorrelates to aggregate + join") {
    val p = physicalPlan("q_correlated_scalar")
    // Catalyst rewrites the correlated scalar subqueries into outer
    // joins against grouped aggregates — no per-row subquery execution
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(!p.contains("ScalarSubquery"), "subquery not decorrelated")
  }
}
