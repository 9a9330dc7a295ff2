package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TextOps._

/** Deduplication operators for large-scale text corpora — the
  * training-data-pipeline extension (BASELINE.json north star). Every
  * operator is a shuffle-partitioned DataFrame program with no driver
  * collects and no N² stage:
  *
  *   - exact: hash-groupBy on normalized-text md5 — one shuffle on the
  *     hash, scales linearly.
  *   - MinHash+LSH: shingle → k minhashes → b bands → explode bands and
  *     shuffle by (band, hash) — candidate pairs only form inside LSH
  *     buckets, never across the full corpus; jaccard verification runs
  *     per candidate pair. At 100 TB the band shuffle is the only wide
  *     exchange, and bucket skew (boilerplate text) is handled by the
  *     verify-side threshold.
  *   - SimHash: 32-bit signature per doc from token-hash bit votes; a
  *     single narrow aggregation, pairs via signature-band blocking.
  *   - n-gram Jaccard within blocking keys (exact verify of any
  *     candidate generator).
  *   - embedding-cosine near-dup within blocks.
  */
object Dedup {

  /** Exact dedup: keep the lowest doc id per normalized-text hash
    * (hash-groupBy, no sort of the corpus). */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("__th", md5(regexp_replace(lower(col(textCol)), "\\s+", " ")))
      .groupBy(col("__th"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .drop("__th")

  /** MinHash signatures from a universal hash family over the base
    * shingle hashes: sig[p] = min over shingles of
    * `((2p+1)·h + 12345p + 7) mod 4294967311` (prime > 2³²). One md5
    * per shingle total instead of k — the md5 pass dominates minhash
    * cost — with identical statistical behavior and exact DuckDB-oracle
    * reproducibility. Column-HOF formulation kept as the executable
    * spec of [[graft.functions.TextHash.minHashSig]] (equivalence
    * asserted in ScaleSpec); operators call the native kernel. */
  def minhashSignature(hashed: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), p =>
      array_min(transform(hashed,
        h => (h * (p * 2 + 1) + p * 12345 + 7) % 4294967311L)))

  /** LSH band hashes: md5 of the ','-joined signature slice per band —
    * band count is a compile-time constant, so this is a plain `array`
    * of codegen'd md5/concat/slice calls (the element-wise long→string
    * conversion is an array Cast, not a lambda). */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      md5(concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)
        .cast(ArrayType(StringType))))): _*)

  /** Distinct 32-bit shingle hashes — jaccard over these equals jaccard
    * over the string shingles (modulo engine-identical md5 collisions)
    * at a fraction of the per-pair cost. */
  def hashedShingles(shingles: Column): Column =
    array_distinct(transform(shingles, s => h32(s)))

  /** Near-duplicate pairs via MinHash-LSH candidates + exact jaccard
    * verification. Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Band geometry is the candidate-volume knob: match probability per
    * band is j^rowsPerBand. Corpora drawn from a small vocabulary have
    * correlated minima across documents, so short bands flood the
    * verify stage with j≈0.1 pairs — 4-row bands (default) keep
    * candidates ∝ true near-dups while catching j ≥ 0.8 pairs with
    * p ≈ 1-(1-j⁴)⁴ ≥ 0.97. */
  def minhashLsh(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleLen: Int = 3, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    import graft.functions.TextHash
    val rowsPerBand = numHashes / bands
    // Per-doc shingle table, explicitly exchanged on the id: the verify
    // joins need exactly this partitioning, and the band stage hangs
    // OFF the same exchange, so the tokenize→md5 kernel pass runs ONCE
    // and all three consumers read one shuffle (ReuseExchange). The
    // ~|sh| payload never rides the band explode (which replicates
    // every row `bands`×) or any sort. NOT cached/checkpointed: a
    // cached copy measured 2-3× the table size as JVM objects and
    // OOM'd the 8 g leg at sf100; the shuffle files serve the reuse.
    val sh = docs
      .select(col(idCol), TextHash.tokenHashes(col(textCol)).as("th"))
      .select(col(idCol), TextHash.hashedNgrams(col("th"), shingleLen).as("sh"))
      .filter(size(col("sh")) > 0)
      .repartition(col(idCol))
    val thin = sh
      .withColumn("sig", TextHash.minHashSig(col("sh"), numHashes))
      .select(col(idCol),
        posexplode(lshBands(col("sig"), bands, rowsPerBand))
          .as(Seq("band_idx", "band_hash")))
    pairVerify(thin, Seq("band_idx", "band_hash"),
      sh.select(col(idCol), col("sh")), idCol, threshold, maxBucket)
  }

  /** The banded `(id, sh, band_idx, band_hash)` table that feeds
    * [[minhashLsh]]'s pair stage — exposed so cap audits
    * ([[oversizedBuckets]]) can inspect the PRE-cap bucket sizes. */
  def minhashBands(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleLen: Int = 3, numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    import graft.functions.TextHash
    val rowsPerBand = numHashes / bands
    // tokenize→md5→shingle-combine→k-minima are native one-pass codegen
    // kernels (graft.functions.TextHash) — no interpreted HOFs and no
    // repartition barriers: CollapseProject keeps the non-cheap named
    // producers un-inlined, so the whole prefix is ONE narrow pass and
    // the band explode's bucket shuffle is the first exchange.
    val th = docs
      .select(col(idCol), TextHash.tokenHashes(col(textCol)).as("th"))
    val sh = th
      .select(col(idCol), TextHash.hashedNgrams(col("th"), shingleLen).as("sh"))
      .filter(size(col("sh")) > 0)
    val sigDf = sh
      .withColumn("sig", TextHash.minHashSig(col("sh"), numHashes))
    sigDf
      .select(col(idCol), col("sh"),
        posexplode(lshBands(col("sig"), bands, rowsPerBand))
          .as(Seq("band_idx", "band_hash")))
  }

  /** Emit verified (id_a, id_b, jaccard) pairs inside each bucket with a
    * single shuffle: group → collect members → explode the in-bucket
    * pair triangle. One pass over the bucketed rows — no self-join, so
    * the (expensive, non-codegen) shingle arrays are materialized once.
    *
    * Giant buckets (boilerplate clusters) are CAPPED: members are ranked
    * by id within the bucket and only the lowest `maxBucket` enter the
    * pair triangle, so one task's work is bounded by maxBucket²
    * regardless of key skew — a single all-identical cluster at 100 TB
    * cannot produce a B² straggler task. The row_number window and the
    * groupBy hash on the same keys, so they share one exchange. Dropped
    * volume is auditable via [[oversizedBuckets]]; pairs inside a
    * boilerplate cluster beyond the cap carry no curation signal. */
  /** The giant-bucket cap shared by every pair generator: rank members
    * by id within the bucket keys, keep the lowest `max`. The
    * row_number window hashes on the same keys as the caller's
    * groupBy/join, so the cap shares that exchange. */
  private[ops] def capBuckets(df: DataFrame, keys: Seq[String],
      idCol: String, max: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= max)
      .drop("__rk")
  }

  /** Candidate generation + exact-jaccard verification with NO fat
    * payload in any wide operator — the de-flaked replacement for the
    * whole-bucket `collect_list` triangle, which buffered every
    * bucket's shingle arrays in an ObjectHashAggregate and was
    * run-to-run bimodal at sf100 (21.8-44.2 s, 6.4-13 GB spill,
    * knob-uncorrelated — the hash-agg object-buffer cliff). An
    * intermediate fix (fat sorted-bucket self-merge-join) was
    * deterministic but sorted the `bands`×-replicated shingle payload
    * twice: 47 GB spill at sf100/8g — measured, rejected.
    *
    * Shape: (1) candidates pair on THIN (bucket, id) rows — the cap
    * window and the self-merge-join sort ~50-byte rows (ReuseExchange
    * ships them through one exchange); (2) `(id_a, id_b)` dedups
    * ACROSS buckets before verification, so a pair colliding in k
    * bands pays ONE merge-scan, not k; (3) the per-doc shingle table
    * joins back by id through two ShuffledHashJoins — build sides are
    * the thin candidate list and a corpus/numPartitions slice of `sh`
    * (bounded per executor; the partition count is the knob), and both
    * reads reuse one exchange of `sh`. No sort ever sees a shingle
    * array, no per-group buffer exists: at sf100/8g this runs with
    * ZERO spill.
    *
    * jaccard over SORTED shingle sets (the TextHash.hashedNgrams
    * contract): |a∩b| via the codegen'd merge scan, |a∪b| by
    * inclusion-exclusion — same integers, same single double division
    * as before. The size-ratio prefilter (j ≥ t ⇒ min/max ≥ t) skips
    * the merge scan for hopeless pairs — they score -1 and fall to the
    * threshold filter they could never pass, so the output (and every
    * oracle hash) is unchanged. */
  private def pairVerify(thin: DataFrame, bucketCols: Seq[String],
      sh: DataFrame, idCol: String, threshold: Double,
      maxBucket: Int): DataFrame = {
    val capped = capBuckets(thin, bucketCols, idCol, maxBucket)
    val left = capped.select(bucketCols.map(col) :+
      col(idCol).as("id_a"): _*)
    val right = capped.select(bucketCols.map(col) :+
      col(idCol).as("id_b"): _*)
    // MERGE hint: a broadcast here would duplicate the signature
    // prefix (no exchange to reuse); forced SMJ keeps both sides'
    // exchange subtrees canonically identical → ReuseExchange.
    val cands = left.join(right.hint("MERGE"), bucketCols)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val shA = sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val shB = sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    val a = col("sh_a"); val b = col("sh_b")
    val inter = graft.functions.VecMath.sortedIntersectSize(a, b)
    val ratioOk = least(size(a), size(b)).cast(DoubleType) /
      greatest(size(a), size(b)) >= threshold
    val jac = when(ratioOk,
      inter.cast(DoubleType) / (size(a) + size(b) - inter))
      .otherwise(lit(-1.0))
    // join1: ShuffledHashJoin with the THIN candidate list as build
    // side (~pairs/numPartitions rows of two longs per task) — `sh`
    // streams through unsorted. join2: sort-merge — the UNBANDED sh
    // table (~0.5 KB × docs / numPartitions per task) and the matched
    // pairs sort in memory; a corpus-partition SHJ build here measured
    // over the 8 g execution pool at sf100 and threw, so the join that
    // touches two fat sides stays sort-based (spillable, deterministic).
    cands.hint("SHUFFLE_HASH").join(shA, "id_a")
      .join(shB, "id_b")
      .select(col("id_a"), col("id_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup check of a NEW batch against an EXISTING
    * corpus — the daily-ingest shape: the corpus side is the banded
    * signature table a production pipeline materializes ONCE (and
    * appends to as batches land), the batch side computes |batch|
    * signatures, and candidates come from the (band, hash) equi-join —
    * the corpus never pairs against itself, so an increment costs the
    * batch's signatures plus bucket-local verification instead of a
    * corpus re-dedup. Verdict per batch doc: its best corpus match
    * (max jaccard, ties to the highest corpus id — deterministic).
    * Both sides share [[capBuckets]] so a boilerplate bucket bounds
    * at maxBucket² work like every pair generator here. */
  def incrementalDups(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleLen: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    def side(df: DataFrame, as: String): DataFrame =
      capBuckets(
        minhashBands(df, idCol, textCol, shingleLen, numHashes, bands),
        Seq("band_idx", "band_hash"), idCol, maxBucket)
        .select(col("band_idx"), col("band_hash"),
          col(idCol).as(s"${as}_id"), col("sh").as(s"${as}_sh"))
    val bsh = col("batch_sh")
    val csh = col("corpus_sh")
    val inter = graft.functions.VecMath.sortedIntersectSize(bsh, csh)
    val ratioOk = least(size(bsh), size(csh)).cast(DoubleType) /
      greatest(size(bsh), size(csh)) >= threshold
    val jac = when(ratioOk,
      inter.cast(DoubleType) / (size(bsh) + size(csh) - inter))
      .otherwise(lit(-1.0))
    side(batch, "batch").join(side(corpus, "corpus"),
        Seq("band_idx", "band_hash"))
      .select(col("batch_id"), col("corpus_id"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()
      .groupBy(col("batch_id"))
      .agg(max(struct(col("jaccard"), col("corpus_id"))).as("m"))
      .select(col("batch_id"), col("m.corpus_id").as("dup_of"),
        col("m.jaccard").as("jaccard"))
  }

  /** Audit of the [[bucketPairs]] cap: buckets whose member count
    * exceeds `maxBucket`, with how many members the pair triangle
    * dropped — the skip-with-counter ledger for curation reports. */
  def oversizedBuckets(bucketed: DataFrame, bucketCols: Seq[String],
      maxBucket: Int): DataFrame =
    bucketed.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("members"))
      .filter(col("members") > maxBucket)
      .withColumn("dropped_members", col("members") - maxBucket)

  /** 32-bit SimHash signature from PRE-HASHED tokens: bit i is the sign
    * of the token-hash bit votes. `hashes` must be a materialized column
    * (behind an exchange) — the 32-bit transform references it 32 times,
    * so an inlined expression would tokenize+md5 the document 32×. */
  def simhash(hashes: Column): Column = {
    val bits = transform(sequence(lit(0), lit(31)), i =>
      when(aggregate(hashes, lit(0),
        (acc, h) => acc + when(call_function("shiftright", h, i) % 2 === 1, 1)
          .otherwise(-1)) > 0, lit(1L)).otherwise(lit(0L)))
    aggregate(bits, lit(0L), (acc, bit) => acc * 2 + bit)
  }

  def simhashTable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.functions.TextHash.simHash32(
        graft.functions.TextHash.tokenHashes(col(textCol))).as("simhash"))

  /** n-gram Jaccard near-dup pairs inside blocking columns: the exact
    * verification path for blocked corpora. Pairing is quadratic WITHIN
    * a block — the block key is the scale knob (finer keys keep blocks
    * small; corpus-wide discovery belongs to [[minhashLsh]], whose
    * candidates this same jaccard verifies). A cheap size-ratio
    * prefilter (`j ≥ t ⇒ min/max ≥ t`) skips the array intersection for
    * hopeless pairs. */
  def ngramJaccardPairs(docs: DataFrame, blockCols: Seq[String],
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    import graft.functions.TextHash
    val th = docs.select((col(idCol) +: blockCols.map(col)) :+
      TextHash.tokenHashes(col(textCol)).as("th"): _*)
    val sh = th.select((col(idCol) +: blockCols.map(col)) :+
      TextHash.hashedNgrams(col("th"), n).as("sh"): _*)
      .filter(size(col("sh")) > 0)
    pairVerify(sh.select(blockCols.map(col) :+ col(idCol): _*), blockCols,
      sh.select(col(idCol), col("sh")), idCol, threshold, maxBucket)
  }

  /** Corpus-wide embedding near-duplicate pairs with multi-table LSH
    * blocking — the scale path that [[embeddingCosineDups]]'s explicit
    * block column documents: candidates only form inside a
    * (table, sign-bucket) cell, so the N² cross product becomes
    * per-bucket joins, and giant buckets are CAPPED like
    * [[bucketPairs]] (row_number ≤ maxBucket sharing the bucket
    * exchange, cap replicated in the oracle). Hyperplanes are
    * deterministic constants ([[graft.functions.VecMath.lshPlaneValue]]),
    * so the whole operator — buckets, caps, cosines — is
    * DuckDB-hash-checkable. A true near-dup pair (cosine ≈ 1) agrees
    * with every hyperplane sign with probability ≈ 1, so it collides
    * in essentially every table. */
  def embeddingLshDups(embs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", threshold: Double = 0.99,
      numPlanes: Int = 6, numTables: Int = 8,
      maxBucket: Int = 1000): DataFrame = {
    val v = embs.select(col(idCol),
      col(vecCol).cast(ArrayType(DoubleType)).as("v"))
    // int8 payload through the bucket stage ([[Similarity.quantizeInt8]]
    // recipe): the bucket exchange, cap window, and pair self-join carry
    // the 2×-smaller integer arrays plus four scalars — never the dense
    // float64 vectors the earlier shape shipped (the inventory's
    // GC-noisiest query: 12–21 s run-to-run at sf1). Candidate
    // collisions score INLINE in the join with the codegen'd integer
    // dot, and survivors are kept by a CONSERVATIVE error bound so the
    // exact-cosine filter below reproduces the all-float result
    // bit-for-bit. With a_i = sa·qa_i + ea_i (|ea_i| ≤ sa/2, same for
    // b):
    //   |dot(a,b) − sa·sb·Σqa_i·qb_i|
    //     ≤ (sb·‖a‖₁ + sa·‖b‖₁)/2 + 3d·sa·sb/4
    // so any pair with exact cosine ≥ t satisfies
    // approx + bound ≥ t·na·nb (bound inflated 1e-6 relative to absorb
    // its own float rounding). No true pair can be dropped. Only the
    // few bound-survivors are distinct-ed (multi-table collisions) and
    // pay float vector traffic in the rescore joins.
    val prep = v
      .select(col(idCol), col("v"),
        (array_max(transform(col("v"), x => abs(x))) / 127.0).as("scale"),
        Similarity.norm(col("v")).as("nrm"),
        aggregate(col("v"), lit(0.0), (acc, x) => acc + abs(x)).as("l1"),
        size(col("v")).cast(DoubleType).as("nd"))
      .select(col(idCol), col("v"), col("scale"), col("nrm"), col("l1"),
        col("nd"),
        when(col("scale") === 0.0, transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"),
            x => floor(x / col("scale") + 0.5).cast(IntegerType)))
          .as("q"))
    // THIN rows through the cap window (the round-11 minhash recipe,
    // re-applied here after the fifth-decade probe): the bucket
    // exchange + cap sort handle only (t, b, id) — at 8 tables × the
    // corpus that stream is ~20 bytes/row, where carrying the int8
    // payload made the SAME window an out-of-core sort at sf1000
    // (160 M × ~350 B = 74 GB measured spill). The capped relation is
    // cap-bounded (≤ tables·2^planes·cap rows) regardless of corpus
    // size, so attaching the int8 payload AFTER the cap is one bounded
    // id-keyed join instead of a corpus-wide fat sort.
    val bthin = v.select(col(idCol),
      explode(Similarity.tableBuckets(col("v"), numPlanes, numTables))
        .as("tb"))
      .select(col(idCol), col("tb.t").as("t"), col("tb.b").as("b"))
    val cappedThin = capBuckets(bthin, Seq("t", "b"), idCol, maxBucket)
    // the capped bucket relation is tiny (≤ tables·buckets·cap rows of
    // int8 payload) but its lineage — scan, quantize, 8-table bucket
    // explode, cap window + exchange, payload attach — is the query's
    // whole prefix; both sides of the pair self-join reference it, so
    // checkpoint once (the [[dupClusters]] recipe) instead of running
    // the prefix twice. On a real cluster swap for reliable
    // `checkpoint`.
    val capped = cappedThin
      .join(prep.drop("v"), Seq(idCol))
      .localCheckpoint(false)
    val left = capped.select(col("t"), col("b"), col(idCol).as("id_a"),
      col("scale").as("sa"), col("nrm").as("na"), col("l1").as("la"),
      col("nd").as("da"), col("q").as("qa"))
    val right = capped.select(col("t"), col("b"), col(idCol).as("id_b"),
      col("scale").as("sb"), col("nrm").as("nb"), col("l1").as("lb"),
      col("q").as("qb"))
    val survivors = left.join(right, Seq("t", "b"))
      .filter(col("id_a") < col("id_b"))
      .filter(
        graft.functions.VecMath.dotLong(col("qa"), col("qb"))
          .cast(DoubleType) * col("sa") * col("sb") +
        ((col("sb") * col("la") + col("sa") * col("lb")) / 2.0 +
          lit(0.75) * col("da") * col("sa") * col("sb")) * lit(1.000001)
        >= lit(threshold) * col("na") * col("nb"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // exact rescore on the float originals — only bound-survivors pay
    // float vector traffic; cosine is the same prenormed kernel as
    // before, so values (and every oracle hash) are unchanged
    val fv = v.withColumn("nrm", Similarity.norm(col("v")))
    survivors
      .join(fv.select(col(idCol).as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(fv.select(col(idCol).as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        Similarity.cosinePrenormed(col("va"), col("vb"), col("na"),
          col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs within a blocking column
    * (brute force inside blocks; [[embeddingLshDups]] replaces the
    * block column with LSH sign-buckets at corpus scale). */
  def embeddingCosineDups(embs: DataFrame, blockCol: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.99): DataFrame = {
    val withVec = embs.select(col(blockCol), col(idCol),
      col(vecCol).cast(ArrayType(DoubleType)).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val a = withVec.select(col(blockCol), col(idCol).as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = withVec.select(col(blockCol), col(idCol).as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq(blockCol))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosinePrenormed(col("va"), col("vb"), col("na"),
          col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): k-means cells over the embedding space, cosine
    * near-dup pairs only WITHIN a cell, connected components, keep the
    * min-id representative per duplicate group. Returns the DROP LIST —
    * `(vec_id, keep_id)` for every vector to remove — so the corpus
    * scrub is a broadcast-able anti-join.
    *
    * Scale shape: clustering is the [[Similarity.kmeansCells]] Lloyd
    * program (broadcast centroids, one narrow corpus pass per
    * iteration); the quadratic pair stage is confined within cells (the
    * `nCentroids` knob bounds expected cell size — at corpus scale use
    * √N cells, SemDeDup's own recipe, served by the two-level
    * coarse→fine assignment [[Similarity.twoLevelNearestCells]] that
    * kicks in automatically above [[Similarity.flatCentroidLimit]]
    * centroids — and a skew-heavy cell is CAPPED
    * at `maxCell` members like every bucketed pair generator here: a
    * boilerplate-embedding cluster cannot produce a B² straggler task,
    * and dropped volume is auditable via
    * `oversizedBuckets(cells, Seq("cell"), maxCell)`);
    * clustering-to-representative is
    * the O(log d) star contraction of [[dupClusters]]. Deterministic
    * end-to-end (seeded centroids, DECIMAL means, sequential-fold
    * cosines, id-ordered cap), so the full composition is
    * DuckDB-hash-checked. */
  def semDedup(embs: DataFrame, nCentroids: Int = 16,
      iterations: Int = 2, threshold: Double = 0.99,
      maxCell: Int = 1000, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cells = Similarity.kmeansCells(embs, nCentroids, iterations,
      idCol, vecCol)
    val capped = capBuckets(cells, Seq("cell"), idCol, maxCell)
    val pairs = embeddingCosineDups(capped, blockCol = "cell",
      idCol = idCol, vecCol = "cv", threshold = threshold)
    dupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol), col("cluster_id").as("keep_id"))
  }

  /** Connected components over near-dup pairs — the dedup FINISHING
    * step: every document that appears in any (id_a, id_b) pair gets a
    * `cluster_id` = the minimum doc id reachable through the pair graph,
    * so keep-one-per-cluster is a trivial `filter(id === cluster_id)`.
    *
    * Alternating LARGE-STAR / SMALL-STAR (the pointer-doubling
    * connected-components of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): each op re-hangs nodes directly
    * under the minimum of their neighborhood, so path lengths halve per
    * round and the edge set converges to per-component stars centered at
    * the component minimum in O(log d) rounds — vs O(d) for one-hop
    * label propagation (the round-2 design, 12 s on chain-ish graphs).
    * Each op is one window-min over the grouping key plus a distinct —
    * bounded shuffles, never a cross product.
    *
    * Iterative lineage is TRUNCATED every round via LAZY local
    * checkpoints, and the convergence probe (edge-set count + the EXACT
    * monotone potential Φ below — ids are numeric by contract) is THE
    * action that materializes each checkpoint — ONE job per round, no
    * separate driver probe. A stable
    * round output certifies the closure: Φ = Σ(u+v) over distinct edges
    * never increases under either op and is preserved only by a
    * fixpoint (large-star rewires each edge's larger endpoint to
    * m ≤ lower endpoint; small-star's delta is (|D|−1)(m−b) < 0 unless
    * every group is already a single pointer), so round-output equality
    * forces both ops to be at their common fixpoint — a star forest. On
    * a real cluster swap `localCheckpoint` for reliable `checkpoint` so
    * executor loss cannot drop a round. */
  def dupClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", iterations: Int = 50): DataFrame =
    dupClustersCounted(pairs, idA, idB, iterations)._1

  /** [[dupClusters]] plus the number of large+small-star rounds run —
    * the spec asserts the O(log d) bound on chain graphs. */
  private[graft] def dupClustersCounted(pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      iterations: Int = 50): (DataFrame, Int) = {
    // (count, Φ) certifies the fixpoint EXACTLY: Φ = Σ(src+dst) over
    // the distinct edge set is the monotone potential of the docstring's
    // convergence argument — neither op ever increases any edge's
    // (src+dst) and a merge only removes positive terms, so Φ is
    // non-increasing and (count, Φ) can only repeat at the common
    // fixpoint. DECIMAL accumulator (exact, no float rounding, no hash
    // collisions — ids are numeric by the operator's contract); the
    // aggregate is also the action that materializes the pending lazy
    // checkpoint.
    def signature(e: DataFrame): (Long, BigDecimal) = {
      val row = e.agg(count(lit(1)),
        sum((col("src") + col("dst")).cast(DecimalType(38, 0)))).head()
      (row.getLong(0),
        if (row.isNullAt(1)) BigDecimal(0) else BigDecimal(row.getDecimal(1)))
    }
    // for each node, the min over its full neighborhood (itself + both
    // edge directions); larger neighbors re-hang under that min. Output
    // is oriented src>dst but NOT deduped — smallStar's window min is
    // duplicate-insensitive and its closing distinct dedups the round,
    // so largeStar skips one exchange per round.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = least(col("src"), min(col("dst")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      sym.withColumn("m", m)
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
    }
    // every member of the group (including the group node) re-hangs
    // under the group min; input must be oriented src>dst (true of the
    // seed set and of every largeStar output)
    def smallStar(e: DataFrame): DataFrame = {
      val m = min(col("dst")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")))
      e.withColumn("m", m)
        .select(explode(array(col("dst"), col("src"))).as("src"),
          col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    var edges = pairs
      .select(greatest(col(idA), col(idB)).as("src"),
        least(col(idA), col(idB)).as("dst"))
      // self-pairs carry no dedup signal and are explicitly ignored
      // (the contraction ops would silently drop their node anyway)
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(false) // pairs generator runs exactly once...
    var prevSig = signature(edges) // ...materialized by this probe
    var r = 0
    var converged = false
    while (r < iterations && !converged) {
      r += 1
      // large+small fused into one job; the signature action both
      // materializes the round's checkpoint and tests the fixpoint
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nextSig = signature(next)
      converged = nextSig == prevSig // Φ-monotone ⇒ star forest (above)
      prevSig = nextSig
      edges = next
    }
    val labels = edges.groupBy(col("src")).agg(min(col("dst")).as("cluster_id"))
      .select(col("src").as("doc_id"), col("cluster_id"))
    val centers = edges.select(col("dst").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
    // one row per node even if the iteration cap fired pre-fixpoint (a
    // node can then appear as both src and dst); min matches the
    // closure semantics and is a no-op on a converged star forest
    (labels.union(centers).groupBy(col("doc_id"))
      .agg(min(col("cluster_id")).as("cluster_id")), r)
  }

  /** Leakage-free train/val/test split: documents are assigned to
    * splits by the deterministic hash of their NEAR-DUP CLUSTER
    * representative (from [[dupClusters]]), not their own id — so two
    * near-duplicate documents can never land in different splits. The
    * classic eval-leakage bug (a paraphrase of a test document sitting
    * in train) is structurally impossible under this assignment;
    * documents in no cluster are their own representative.
    *
    * Scale shape: one doc-keyed left join against the cluster table
    * (near-dup members only — a small fraction of the corpus) and a
    * narrow hash filter; reproducible on any partitioning like every
    * split/sample here. */
  def leakFreeSplit(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id", trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    val rep = coalesce(col("cluster_id"), col(idCol))
    docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol), rep.as("cluster_id"),
        pmod(h32(rep.cast("string")), lit(100)).as("__h"))
      .select(col(idCol), col("cluster_id"),
        when(col("__h") < trainPct, "train")
          .when(col("__h") < trainPct + valPct, "val")
          .otherwise("test").as("split"))
  }

  /** Corpus-wide segment-level dedup (the CCNet/RefinedWeb "drop
    * repeated paragraphs everywhere they recur" stage, ref's data-prep
    * gap): split every document into fixed `segTokens`-token segments
    * (the paragraph stand-in for newline-free corpora), keep each
    * distinct segment ONLY at its first occurrence corpus-wide — first
    * = lowest (doc, position), so reruns are deterministic — and
    * reassemble each document from its surviving segments in order.
    *
    * Scale shape: two shuffles total, both on keys that partition
    * evenly — (1) segment-hash for the first-occurrence window (a
    * running `min` over an unbounded partition: no per-key sort
    * semantics needed beyond the hash grouping), (2) doc id for
    * reassembly. Boilerplate mega-segments (the skew case) cost one hot
    * reduce key each, not a pair explosion — there is no pairing stage
    * at all, which is what makes segment dedup cheaper than document
    * MinHash at the same scale. */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", segTokens: Int = 8): DataFrame = {
    val tk = filter(split(col(textCol), "\\s+"), t => t =!= "")
    val nseg = ((size(col("__tk")) + lit(segTokens - 1)) / lit(segTokens))
      .cast(IntegerType)
    val segs = docs
      .select(col(idCol), tk.as("__tk"))
      .filter(size(col("__tk")) > 0)
      .select(col(idCol), nseg.cast(LongType).as("n_segments"),
        posexplode(transform(sequence(lit(0), nseg - 1),
          i => concat_ws(" ",
            slice(col("__tk"), i * segTokens + 1, lit(segTokens)))))
          .as(Seq("seg_idx", "seg")))
    // first corpus-wide occurrence: min (doc, position) lexicographic
    // struct per segment hash — struct ordering (not arithmetic
    // packing, which would collide past 1e6 segments/doc and overflow
    // Long for doc ids past ~9.2e12)
    val ord = struct(col(idCol), col("seg_idx"))
    import org.apache.spark.sql.expressions.Window
    val firstOrd = min(ord).over(Window.partitionBy(md5(col("seg"))))
    segs
      .withColumn("__keep", ord === firstOrd)
      .filter(col("__keep"))
      .groupBy(col(idCol))
      .agg(min(col("n_segments")).as("n_segments"),
        count(lit(1)).as("kept_segments"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          e => e.getField("seg")), " ").as("text_dedup"))
  }

  /** Exact-substring repeated-span detection — the w-gram formulation
    * of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": drop any substring
    * repeated verbatim elsewhere in the corpus). Every
    * `windowTokens`-token sliding window (stride 1) is keyed by the
    * md5 of its joined tokens (exact match — no hash-width false
    * positives); windows occurring ≥ 2 times corpus-wide are merged
    * per document into maximal spans. Guarantees: any repeated
    * substring of ≥ `windowTokens` tokens is covered by a reported
    * span; a reported span is a run whose every w-window is repeated
    * somewhere (possibly by different partners) — the standard w-gram
    * over-approximation of suffix-array maximal repeats.
    *
    * Scale shape: stride-1 windows are ~1 row per corpus token —
    * linear, like [[paragraphDedup]]'s segments but ×`segTokens`
    * denser; two bounded shuffles (window-hash occurrence count via an
    * unbounded-partition window `count`, then doc-keyed island merge)
    * and no pairing stage. The boilerplate mega-window (one hash
    * repeated millions of times) costs one hot count key, not a pair
    * explosion. */
  def repeatedSpans(docs: DataFrame, windowTokens: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= windowTokens)
    // Window hash packed to 16-byte binary (unhex of the md5 hex) —
    // same equality classes, half the key width through the exchange
    // and the count map.
    val wins = toks.select(col(idCol),
      posexplode(transform(
        sequence(lit(1), size(col("__t")) - (windowTokens - 1)),
        i => unhex(md5(concat_ws(" ",
          slice(col("__t"), i, lit(windowTokens))))))))
      .select(col(idCol), (col("pos") + 1).as("start"), col("col").as("wh"))
    // Occurrence detection WITHOUT the fat corpus-wide (wh)-sort the
    // original count-over-window shape required (an out-of-core sort of
    // every (id, start, wh) row — 18.4 GB spill at sf100, byte-identical
    // across partition knobs, i.e. one sorter family owned the whole
    // stream): one explicit exchange on wh at 4× the session's shuffle
    // parallelism, then duplicate detection on a column-PRUNED branch —
    // the count window sorts 16-byte keys only, in-memory per task —
    // and a ShuffledHashJoin back onto the fat branch with the
    // ≥2-occurrence hash set (genuinely repeated windows, a small
    // relation) as build side. Both branches reuse the ONE exchange.
    // Measured at sf100/8g: 18.4 GB → ~9.6 GB spill (each task's
    // narrow sorter spilling once under full-core concurrency — no
    // single sorter owns the stream), run-to-run identical. A
    // count-per-wh hash aggregate was measured WORSE (187 M distinct
    // keys overflow every per-task map: 46 GB spill) and is the
    // documented anti-pattern here.
    val np = docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt * 4
    val winsByWh = wins.repartition(np, col("wh"))
    val dupWh = winsByWh.select(col("wh"))
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("wh"))))
      .filter(col("occ") >= 2)
      .select(col("wh")).dropDuplicates("wh")
    val matched = winsByWh.join(dupWh.hint("SHUFFLE_HASH"), "wh")
    val w = Window.partitionBy(col(idCol)).orderBy(col("start"))
    matched
      .withColumn("__prev", lag(col("start"), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        col("start") > col("__prev") + 1, 1).otherwise(0))
      .withColumn("__island", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + (windowTokens - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }
}
