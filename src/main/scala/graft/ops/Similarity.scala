package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — north-star similarity-search operators.
  *
  *   - [[bruteForceTopK]]: exact baseline — queries × corpus scored with
  *     a codegen'd fold, top-k per query via window. The query side is
  *     broadcast (it is small by construction), so the corpus is scanned
  *     once with no shuffle of the big side.
  *   - [[lshTopK]]: the scale path — random-hyperplane LSH buckets;
  *     candidates only form inside a query's bucket, turning the N×M
  *     cross product into per-bucket joins, and one exchange on
  *     query_id serves the collision de-dup and the top-k window.
  *     Buckets come from one codegen'd kernel
  *     ([[graft.functions.LshTableBuckets]]) whose hyperplane table is
  *     built once per JVM from md5 of the (table, plane, dim) indices
  *     ([[graft.functions.VecMath.lshPlaneValue]]) and rides in the
  *     generated code as one reference object, so results are
  *     reproducible across engines and runs (no wall-clock, no RNG
  *     state) and the plan holds no plane literals.
  */
object Similarity {

  /** Cosine similarity of two double arrays — sequential accumulation
    * keeps the summation order engine-deterministic. dot/norm are
    * native codegen kernels ([[graft.functions.VecMath]]) with the
    * SAME left-to-right IEEE op order as the `aggregate(zip_with(…))`
    * folds they replaced (and as the oracles' `list_reduce`), so every
    * hash-checked cosine is bit-identical. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  def dot(a: Column, b: Column): Column =
    graft.functions.VecMath.dotD(a, b)

  def norm(a: Column): Column = graft.functions.VecMath.normL2(a)

  /** Cosine with pre-computed norms: inside pairwise stages the norm
    * kernel runs once per VECTOR instead of twice per PAIR — the
    * dominant saving when candidates ≫ vectors. */
  def cosinePrenormed(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** float→double as an element-wise array Cast (codegen'd; identical
    * values to a per-element lambda cast). */
  private def asDouble(vec: Column): Column =
    vec.cast(ArrayType(DoubleType))

  /** Per-vector symmetric int8 quantization — the 4× memory lever for
    * corpus-scale ANN (the candidate scan reads int8 arrays, exact
    * rescoring reads the float originals). `scale = max|x| / 127`,
    * `q_i = floor(x_i/scale + 0.5)` — explicit round-half-up, because
    * `round()` ties-break differently across engines while `floor` is
    * IEEE-exact everywhere. Reconstruction error ≤ scale/2 per
    * dimension. The vector and scale are projected columns — the
    * downstream references read attributes (CollapseProject keeps
    * non-cheap multi-reference producers un-inlined), no exchange
    * needed. */
  def quantizeInt8(embs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    embs.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .select(col(idCol), col("__v"),
        (array_max(transform(col("__v"), x => abs(x))) / 127.0).as("scale"))
      .select(col(idCol), col("scale"),
        when(col("scale") === 0.0, transform(col("__v"), _ => lit(0)))
          .otherwise(transform(col("__v"),
            x => floor(x / col("scale") + 0.5).cast(IntegerType)))
          .as("q"))

  /** ANN over int8-quantized vectors: the candidate scan runs integer
    * dot products on the 4×-smaller [[quantizeInt8]] arrays (approx
    * score = int-dot × scaleA × scaleB), keeps the best `rescore` per
    * query, then ranks the final top-k by exact cosine on the float
    * originals. Integer dots are exact, so the candidate set — and with
    * the deterministic tie-breaks the whole result — is reproducible
    * bit-for-bit across engines. The dense scan is the baseline shape;
    * at corpus scale the same int8 scoring drops into the LSH-bucketed
    * candidate join ([[lshTopK]]) unchanged. */
  def int8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
      rescore: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qz = quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("scale").as("qsc"),
        col("q").as("qq"))
    val cz = quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol).as("cand_id"), col("scale").as("csc"),
        col("q").as("cq"))
    val approx = cz.crossJoin(broadcast(qz))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        ((graft.functions.VecMath.dotLong(col("qq"), col("cq"))
          .cast(DoubleType) * col("qsc")) * col("csc")).as("approx"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("cand_id"))
    val cand = approx.withColumn("r0", row_number().over(wA))
      .filter(col("r0") <= rescore).select(col("query_id"), col("cand_id"))
    val qv = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val cv = corpus.select(col(idCol).as("cand_id"),
      asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = cand.join(cv, "cand_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("cand_id"),
        cosinePrenormed(col("qv"), col("cv"), col("qn"), col("cn"))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** The production 100-TB ANN configuration — LSH-bucketed candidate
    * generation composed with int8 candidate scoring and exact float
    * rescore: candidates only form inside shared (table, bucket) cells
    * (never a dense scan), the candidate scoring reads the 4×-smaller
    * int8 arrays with the exact integer-dot kernel, and only the
    * `rescore` survivors per query touch float vectors. This is the
    * composition [[int8TopK]]'s scaladoc promises ("at corpus scale
    * the int8 scoring drops into the LSH-bucketed candidate join
    * unchanged") — implemented and oracle-checked rather than claimed.
    * Candidate pairs are distinct-ed on ids BEFORE vectors are
    * attached, so the multi-table collision dedup never hashes arrays. */
  def lshInt8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
      numPlanes: Int = 8, numTables: Int = 8, rescore: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def buckets(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as), asDouble(col(vecCol)).as("__v"))
        .select(col(as),
          explode(tableBuckets(col("__v"), numPlanes, numTables)).as("tb"))
        .select(col(as), col("tb.t").as("t"), col("tb.b").as("b"))
    val cand = buckets(corpus, "cand_id")
      .join(broadcast(buckets(queries, "query_id")), Seq("t", "b"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"))
      .distinct() // a pair may collide in several tables
    val qz = quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("scale").as("qsc"),
        col("q").as("qq"))
    val cz = quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol).as("cand_id"), col("scale").as("csc"),
        col("q").as("cq"))
    val approx = cand.join(cz, "cand_id").join(broadcast(qz), "query_id")
      .select(col("query_id"), col("cand_id"),
        ((graft.functions.VecMath.dotLong(col("qq"), col("cq"))
          .cast(DoubleType) * col("qsc")) * col("csc")).as("approx"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("cand_id"))
    val keep = approx.withColumn("r0", row_number().over(wA))
      .filter(col("r0") <= rescore).select(col("query_id"), col("cand_id"))
    val qv = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv")).withColumn("qn", norm(col("qv")))
    val cv = corpus.select(col(idCol).as("cand_id"),
      asDouble(col(vecCol)).as("cv")).withColumn("cn", norm(col("cv")))
    val scored = keep.join(cv, "cand_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("cand_id"),
        cosinePrenormed(col("qv"), col("cv"), col("qn"), col("cn"))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Product-quantization ANN — the corpus-compression lever past int8:
    * each vector is encoded as `numSub` sub-space codeword ids (d·4
    * bytes → numSub bytes at codebookSize ≤ 256; 64-dim float → 4
    * bytes at the defaults here), the candidate scan scores against
    * PQ-RECONSTRUCTED vectors, and the final top-k is exact-rescored
    * on the float originals (same scan-then-rescore contract as
    * [[int8TopK]]).
    *
    * Training is per-subspace Lloyd under the standard L2 objective —
    * `argmin ‖v−c‖² = argmax (v·c − ‖c‖²/2)`, so assignment reuses the
    * codegen'd dot kernel — seeded from the `codebookSize` lowest-id
    * vectors' subvectors, means through the DECIMAL(38,18) accumulator:
    * fully deterministic, so codebooks, codes, reconstructions, and
    * the whole result are DuckDB-hash-checkable like the rest of the
    * family. Scale shape: codebooks are numSub·codebookSize rows
    * (broadcast everywhere); per Lloyd round the corpus makes one
    * narrow pass + one (sub, code, dim)-keyed mean (map-side
    * combined); encoding/reconstruction is one cand_id-keyed exchange;
    * the scan itself is the dense baseline (allowlisted like
    * [[bruteForceTopK]]/[[int8TopK]]) — at corpus scale the PQ scoring
    * drops into the LSH-bucketed candidate join unchanged, which is
    * the point: candidates are scored from bytes, only the final
    * rescore touches floats. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      numSub: Int = 4, codebookSize: Int = 8, iterations: Int = 2,
      rescore: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"),
      asDouble(col(vecCol)).as("cv"))

    def subRows(df: DataFrame, id: String, vec: String): DataFrame = {
      val sd = (size(col(vec)) / numSub).cast(IntegerType)
      df.select(col(id), posexplode(transform(
        sequence(lit(0), lit(numSub - 1)),
        j => slice(col(vec), j * sd + 1, sd))).as(Seq("sub", "sv")))
    }

    // seed codebooks: the codebookSize lowest-id vectors' subvectors
    var books = subRows(c.orderBy(col("cand_id")).limit(codebookSize),
      "cand_id", "cv")
      .withColumn("code", row_number().over(
        Window.partitionBy(col("sub")).orderBy(col("cand_id"))) - 1)
      .select(col("sub"), col("code"), col("sv").as("cw"))
      // LAZY: the next assign()'s broadcast build materializes the
      // 32-row codebook — no separate persist job per round
      .localCheckpoint(false)

    // L2 codeword assignment: argmax (sv·cw − cw·cw/2), code tie-break.
    // Shape note: the codebook collapses to ONE array row per subspace
    // (code-ascending), so assignment is a pure broadcast-join
    // PROJECTION — every subvector row computes its codebookSize scores
    // inline and takes the first-max index. The earlier row_number
    // window over points×codebook rows sorted 8 M × codebookSize rows
    // with both 128-byte vectors attached and spilled ~19 GB per pass
    // at sf100 (×3 passes ≈ the family's whole spill budget); a
    // max(struct(..., sv)) aggregate was no better — a struct buffer
    // with an array field is not hash-aggregatable and fell to a
    // SortAggregate over the same fat join. This form adds ZERO rows
    // and ZERO exchanges. first-occurrence array_position == smallest
    // code among score ties — the window's (desc __s, asc code) order.
    def assign(pts: DataFrame, pid: String): DataFrame = {
      // Carry the TRUE code list alongside the code-sorted codeword
      // array: position-1 only equals the code while codes are
      // contiguous per subspace, and a Lloyd round that empties a
      // codeword (duplicate-heavy data, larger codebooks) breaks that —
      // the recon join on (sub, code) would then silently drop rows.
      val booksBySub = books
        .groupBy(col("sub"))
        .agg(array_sort(collect_list(struct(col("code"), col("cw"))))
          .as("sorted"))
        .select(col("sub"),
          transform(col("sorted"), e => e.getField("cw")).as("cws"),
          transform(col("sorted"), e => e.getField("code")).as("codes"))
      pts.join(broadcast(booksBySub), Seq("sub"))
        .withColumn("__scores", transform(col("cws"),
          cw => dot(col("sv"), cw) - dot(cw, cw) / 2.0))
        .withColumn("code", element_at(col("codes"),
          array_position(col("__scores"), array_max(col("__scores")))
            .cast(IntegerType)))
        .select(col(pid), col("sub"), col("sv"), col("code"))
    }

    val subs = subRows(c, "cand_id", "cv")
    (1 to iterations).foreach { _ =>
      books = assign(subs, "cand_id")
        .select(col("sub"), col("code"),
          posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("code"), col("dim"))
        .agg((sum(col("x").cast(DecimalType(38, 18))).cast(DoubleType) /
          count(lit(1))).as("m"))
        .groupBy(col("sub"), col("code"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("sub"), col("code"),
          transform(col("dm"), e => e.getField("m")).as("cw"))
        .localCheckpoint(false)
    }

    // encode + reconstruct: x̂ = concat of assigned codewords in sub order
    val recon = assign(subs, "cand_id")
      .join(broadcast(books), Seq("sub", "code"))
      .groupBy(col("cand_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("cw")))),
        e => e.getField("cw"))).as("rv"))

    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val approx = recon.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (dot(col("qv"), col("rv")) / norm(col("rv"))).as("approx"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("cand_id"))
    val cand = approx.withColumn("r0", row_number().over(wA))
      .filter(col("r0") <= rescore).select(col("query_id"), col("cand_id"))
    val cv = c.withColumn("cn", norm(col("cv")))
    val qv = q.withColumn("qn", norm(col("qv")))
    val scored = cand.join(cv, "cand_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("cand_id"),
        cosinePrenormed(col("qv"), col("cv"), col("qn"), col("cn"))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Deterministic token-hash text embedding: the 16 dims slice 4 hex
    * digits each out of TWO md5 digests per token (`t:0` ++ `t:1` = 64
    * hex chars), mapped to a signed component in [-1, 1]; dim sums
    * accumulate as INTEGERS (order-independent — no
    * float-summation-order hazard) and divide once at the end, so the
    * vector is bit-identical in any engine and on any partitioning. A
    * stand-in for a learned embedding model with the exact plumbing
    * (tokenize → encode → dense vector) a RAG pipeline runs; takes the
    * pre-tokenized array so callers project `TextOps.tokens` once.
    * Two md5 per token, not one per (token, dim): the first
    * formulation hashed inside the per-dim lambda — 16 interpreted
    * md5s per token, 8 s at sf0.1 — where slicing one concatenated
    * digest leaves only long arithmetic in the inner lambda. */
  def hashEmbedTokens(toks: Column, dims: Int = 16): Column = {
    require(dims == 16, "hashEmbedTokens derives exactly 16 dims per 2 md5")
    val hexes = transform(toks, t =>
      concat(md5(concat(t, lit(":0"))), md5(concat(t, lit(":1")))))
    val sums = aggregate(hexes, array_repeat(lit(0L), dims),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(dims - 1)),
        (a, j) => a + (pmod(
          conv(h.substr(j * 4 + 1, lit(4)), 16, 10).cast(LongType),
          lit(2001)) - 1000)))
    transform(sums, s => s.cast(DoubleType) / 1000.0)
  }

  /** [[hashEmbedTokens]]`(TextOps.tokens(text))` as ONE native
    * codegen'd kernel call ([[graft.functions.TextHash.hashEmbed16]]) —
    * bit-identical output (KernelPropertySpec), but tokenize + 2
    * digests/token + integer dim accumulation run as a single compiled
    * byte-scan instead of the interpreted HOF chain (no per-token
    * lambda dispatch, no per-dim substr/conv expression evals). */
  def hashEmbedText(text: Column): Column =
    graft.functions.TextHash.hashEmbed16(text)

  /** Exact top-k neighbors for each query vector. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("cand_id"),
      asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosinePrenormed(col("qv"), col("cv"), col("qn"), col("cn"))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    * greedily pick `k` results balancing relevance against similarity
    * to what is already picked — `λ·rel − (1−λ)·max_sim(c, selected)`
    * — the diversity stage a retrieval stack runs AFTER top-k
    * generation (near-identical chunks crowd out coverage otherwise).
    *
    * Scale shape: MMR is inherently sequential in k, but it operates
    * on the PER-QUERY candidate list (tens of rows after ANN top-k),
    * never the corpus — each of the k−1 steps is an anti-join +
    * broadcast of the ≤k selected rows + a 1-row argmax
    * (TakeOrderedAndProject), all over the bounded candidate relation.
    * Deterministic: argmax ties break on the id; λ factors are written
    * as `lit(1.0) - lit(lam)` so both engines fold the same IEEE
    * subtraction (never a pre-computed Scala constant — see the
    * oracle-determinism conventions). */
  def mmrRerank(cands: DataFrame, k: Int, lam: Double,
      idCol: String = "cand_id", relCol: String = "rel",
      vecCol: String = "v"): DataFrame = {
    // the candidate list is the loop invariant: checkpoint the (tiny,
    // ≤ top-k') relation ONCE so the k−1 greedy steps iterate over
    // materialized rows instead of re-running the upstream
    // corpus-scan + scoring lineage each step (same pattern as the
    // PageRank / star-contraction loops; on a real cluster swap
    // localCheckpoint for reliable checkpoint)
    val base = cands.select(col(idCol), col(relCol), col(vecCol))
      .localCheckpoint()
    val first = base.orderBy(col(relCol).desc, col(idCol)).limit(1)
      .select(col(idCol), col(relCol), col(vecCol),
        lit(1).as("mmr_rank"), col(relCol).as("mmr_score"))
      .localCheckpoint(false)
    val picked = (2 to k).foldLeft(first) { (sel, rank) =>
      val selSlim = sel.select(col(vecCol).as("__sv"))
      val maxSim = base
        .join(sel.select(col(idCol)), Seq(idCol), "left_anti")
        .crossJoin(broadcast(selSlim))
        .select(col(idCol),
          cosine(col("__sv"), col(vecCol)).as("__sim"))
        .groupBy(col(idCol))
        .agg(max(col("__sim")).as("__maxsim"))
      val pick = base.join(maxSim, Seq(idCol))
        .select(col(idCol), col(relCol), col(vecCol),
          (lit(lam) * col(relCol) -
            (lit(1.0) - lit(lam)) * col("__maxsim")).as("__mmr"))
        .orderBy(col("__mmr").desc, col(idCol)).limit(1)
        .select(col(idCol), col(relCol), col(vecCol),
          lit(rank).as("mmr_rank"), col("__mmr").as("mmr_score"))
      // each greedy step references `sel` THREE times (anti-join,
      // broadcast of the selected vectors, union): without truncation
      // the plan tree grows ~3^k and Catalyst re-plans the whole
      // history every round (measured: a 256 KB physical plan at k=5,
      // ~1.7 s wall on a 20-row candidate list). A lazy checkpoint of
      // the ≤k-row selection per round keeps the plan O(k); the next
      // round's argmax is the action that materializes it.
      sel.unionByName(pick).localCheckpoint(false)
    }
    picked.select(col(idCol), col(relCol), col("mmr_rank"),
      col("mmr_score"))
  }

  /** Sign-bucket of a vector under `numPlanes` hyperplanes of hash table
    * `table`: the `b` of that table's entry in [[tableBuckets]]. Supports
    * any dimension up to `maxDim` (planes are truncated to the data's
    * length; a longer vector lands in bucket 0). */
  def lshBuckets(vec: Column, numPlanes: Int, table: Int = 0,
      maxDim: Int = 64): Column =
    graft.functions.VecMath.lshTableBuckets(vec, table + 1, numPlanes, maxDim)
      .getItem(table).getField("b")

  /** Per-table (t, b) pairs as an array column — one entry per hash
    * table, for the standard multi-table LSH recall boost — from the one
    * codegen'd [[graft.functions.LshTableBuckets]] kernel. Public: also
    * the blocking key of [[Dedup.embeddingLshDups]]. */
  def tableBuckets(vec: Column, numPlanes: Int,
      numTables: Int): Column =
    graft.functions.VecMath.lshTableBuckets(vec, numTables, numPlanes, 64)

  /** IVF (inverted-file) ANN: k-means cells over the corpus, search
    * only the `nProbe` cells nearest each query. Centroid seeding is
    * deterministic (lowest-id vectors) and refinement runs a fixed
    * number of Lloyd iterations as DataFrame programs — the centroid
    * table stays tiny and broadcast, the corpus is scanned once per
    * iteration, and the final search joins on `cell` so candidates
    * never cross cells. The standard trade: `nCentroids` up for
    * speed, `nProbe` up for recall. */
  /** Above this centroid count the flat per-row argmin (O(C log C) per
    * row) switches to the two-level coarse→fine assignment (O(√C) per
    * row) — the √N-cell SemDeDup regime. */
  private[graft] val flatCentroidLimit = 256

  /** Cell assignment dispatch: flat exact argmin for small centroid
    * tables, two-level coarse→fine above [[flatCentroidLimit]]. `nCents`
    * comes from the caller's centroid-count knob — no driver action
    * needed. Either way the corpus side is one narrow pass: zero
    * shuffles, zero sorts of `points`. */
  private[graft] def nearestCells(centroids: DataFrame, nCents: Int)(
      points: DataFrame, vec: String, n: Int): DataFrame =
    if (nCents <= flatCentroidLimit) flatNearestCells(centroids)(points, vec, n)
    else twoLevelNearestCells(centroids, nCents)(points, vec, n)

  /** Nearest cells as a per-row argmin over the broadcast centroid
    * array: sort (−cosine, cell) structs and take the first n. No
    * window, so the corpus is never shuffled — each assignment pass
    * is one narrow map over `points`. */
  private[graft] def flatNearestCells(centroids: DataFrame)(points: DataFrame,
      vec: String, n: Int): DataFrame = {
    val centArr = centroids.agg(collect_list(struct(col("cell"),
      col("centroid"), norm(col("centroid")).as("cn"))).as("cents"))
    points
      .crossJoin(broadcast(centArr))
      .withColumn("__pn", norm(col(vec)))
      .withColumn("__near", slice(array_sort(transform(col("cents"),
        ct => struct(
          (-(dot(col(vec), ct.getField("centroid")) /
            (col("__pn") * ct.getField("cn")))).as("negsim"),
          ct.getField("cell").as("cell")))), 1, n))
      .select(points.columns.map(col) :+
        explode(transform(col("__near"), r => r.getField("cell")))
          .as("cell"): _*)
  }

  /** Two-level (coarse→fine) cell assignment for large centroid tables
    * — the √N-cell SemDeDup regime where the flat argmin's per-row
    * O(C log C) array_sort outgrows its design: ~√C coarse anchors
    * (a deterministic subset of the centroids) partition the fine
    * centroids; each point scores the √C coarse anchors, keeps the
    * nearest `coarseProbe`, and arg-sorts only those anchors' fine
    * lists — O(coarseProbe·√C) per row. Assignment is approximate at
    * coarse-cell boundaries (standard IVF-style trade, recall-tested in
    * OpsSpec); the corpus side stays ONE narrow pass — the only
    * exchanges are centroid-table-sized (the fine-list groupBy), never
    * a corpus shuffle or sort (plan-audited). Broadcast payload equals
    * the flat path's (all centroids ship either way); beyond
    * broadcastability (≫10⁶ cells) replace the one-row map with a
    * shuffle join of points against the coarse-keyed fine lists —
    * same program, one corpus exchange. */
  private[graft] def twoLevelNearestCells(centroids: DataFrame, nCents: Int,
      coarseProbe: Int = 2)(points: DataFrame, vec: String,
      n: Int): DataFrame = {
    val nCoarse = math.max(1, math.ceil(math.sqrt(nCents.toDouble)).toInt)
    // coarse anchors: the nCoarse lowest-cell centroids — an index for
    // bucketing, deterministic, not a clustering claim
    val coarse = centroids.orderBy(col("cell")).limit(nCoarse)
      .select(col("cell").as("gcell"), col("centroid").as("gcent"))
    // fine→coarse ownership via the flat argmin over the TINY tables
    val fines = centroids.select(col("cell").as("fcell"),
      col("centroid").as("fcent"))
    val fineCoarse = flatNearestCells(
      coarse.select(col("gcell").as("cell"), col("gcent").as("centroid")))(
      fines, "fcent", 1)
    val lookup = fineCoarse.groupBy(col("cell"))
      .agg(collect_list(struct(col("fcell"), col("fcent"),
        norm(col("fcent")).as("fn"))).as("fs"))
      .agg(map_from_entries(collect_list(struct(col("cell"), col("fs"))))
        .as("fmap"))
    val coarseArr = coarse.agg(collect_list(struct(col("gcell"),
      col("gcent"), norm(col("gcent")).as("gn"))).as("gs"))
    points
      .crossJoin(broadcast(coarseArr))
      .crossJoin(broadcast(lookup))
      .withColumn("__pn", norm(col(vec)))
      .withColumn("__gnear", slice(array_sort(transform(col("gs"), g =>
        struct((-(dot(col(vec), g.getField("gcent")) /
          (col("__pn") * g.getField("gn")))).as("negsim"),
          g.getField("gcell").as("gcell")))), 1, coarseProbe))
      .withColumn("__cand", flatten(filter(
        transform(col("__gnear"), g =>
          element_at(col("fmap"), g.getField("gcell"))),
        x => x.isNotNull)))
      .withColumn("__near", slice(array_sort(transform(col("__cand"), f =>
        struct((-(dot(col(vec), f.getField("fcent")) /
          (col("__pn") * f.getField("fn")))).as("negsim"),
          f.getField("fcell").as("cell")))), 1, n))
      .select(points.columns.map(col) :+
        explode(transform(col("__near"), r => r.getField("cell")))
          .as("cell"): _*)
  }

  /** Deterministic-seed Lloyd refinement over a `(cand_id, cv)` corpus:
    * the centroid table stays tiny and broadcast, the corpus is scanned
    * once per iteration. */
  private[ops] def lloydCentroids(c: DataFrame, nCentroids: Int,
      iterations: Int): DataFrame = {
    // deterministic seed: the nCentroids lowest-id vectors
    var centroids = c.orderBy(col("cand_id")).limit(nCentroids)
      .select(col("cand_id").as("cell"), col("cv").as("centroid"))
    (1 to iterations).foreach { _ =>
      val assigned = nearestCells(centroids, nCentroids)(c, "cv", 1)
      // element-wise centroid mean via dim explode; exact DECIMAL
      // accumulator so the mean is partitioning-independent and
      // engine-reproducible (see the float determinism convention)
      centroids = assigned
        .select(col("cell"), posexplode(col("cv")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg((sum(col("x").cast(DecimalType(38, 18))).cast(DoubleType) /
          count(lit(1))).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cell"),
          transform(col("dm"), e => e.getField("m")).as("centroid"))
        // nCentroids rows; without this every downstream nearestCells
        // call (per iteration, plus cells+probed after the loop) would
        // re-execute the whole Lloyd chain from the corpus scan up.
        // LAZY: the iteration's corpus pass still runs here (AQE
        // materializes stages at toRdd); only the tiny result-stage
        // persist rides the next consumer instead of its own job
        .localCheckpoint(false)
    }
    centroids
  }

  /** k-means cell assignment for every corpus vector — the clustering
    * front half of [[ivfTopK]], exposed for operators that partition by
    * semantic cell (e.g. [[Dedup.semDedup]]). Returns
    * `(idCol, cv: ARRAY<DOUBLE>, cell)`. */
  def kmeansCells(corpus: DataFrame, nCentroids: Int = 16,
      iterations: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"),
      asDouble(col(vecCol)).as("cv"))
    val centroids = lloydCentroids(c, nCentroids, iterations)
    nearestCells(centroids, nCentroids)(c, "cv", 1)
      .select(col("cand_id").as(idCol), col("cv"), col("cell"))
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, iterations: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"),
      asDouble(col(vecCol)).as("cv"))
    val centroids = lloydCentroids(c, nCentroids, iterations)
    val cells = nearestCells(centroids, nCentroids)(c, "cv", 1)
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val probed = nearestCells(centroids, nCentroids)(q, "qv", nProbe)
    val scored = cells.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** ANN top-k: candidates share the query's bucket in ANY of
    * `numTables` hash tables (multi-table LSH — each extra table trades
    * compute for recall; random high-dim corpora need several). Recall
    * vs [[bruteForceTopK]] is validated in OpsSpec.
    *
    * Shape: the query side is broadcast, so the corpus is bucketed and
    * probed in one narrow pass; each collision is scored there with the
    * norms taken once per vector. The scored (query_id, cand_id, cosine)
    * rows — never the vectors — then cross ONE exchange clustered on
    * query_id, inside which the collision de-dup (a pair may collide in
    * several tables) and the top-k window both run. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      numPlanes: Int = 8, numTables: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    def buckets(df: DataFrame, id: String, v: String, n: String): DataFrame =
      df.select(col(idCol).as(id), asDouble(col(vecCol)).as(v))
        .withColumn(n, norm(col(v)))
        .select(col(id), col(v), col(n),
          explode(tableBuckets(col(v), numPlanes, numTables)).as("tb"))
        .select(col(id), col(v), col(n),
          col("tb.t").as("t"), col("tb.b").as("b"))
    val scored = buckets(corpus, "cand_id", "cv", "cn")
      .join(broadcast(buckets(queries, "query_id", "qv", "qn")), Seq("t", "b"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosinePrenormed(col("qv"), col("cv"), col("qn"), col("cn"))
          .as("cosine"))
      .repartition(col("query_id"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }
}
