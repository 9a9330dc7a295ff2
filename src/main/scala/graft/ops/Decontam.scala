package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Train/eval decontamination — the benchmark-overlap scrub every
  * pre-training pipeline runs before the corpus ships (the 13-gram
  * overlap filter popularized by GPT-3 appendix C; n is a parameter
  * here): a train document is contaminated when any of its token
  * n-grams appears anywhere in the eval corpus.
  *
  * Scale shape: the eval side (benchmarks) is orders of magnitude
  * smaller than the train corpus, so its distinct n-gram-hash set is
  * BROADCAST and the train side never shuffles for the probe — one
  * narrow tokenize+hash pass, explode, broadcast-hash-join. The
  * closing per-document aggregation combines map-side (explode
  * preserves row locality, so each document collapses back to one row
  * before the exchange) — shuffle volume ≈ #contaminated documents,
  * not #n-grams. [[overlap]] and [[novelty]] leave the broadcast to
  * AQE, which falls back to a shuffle join on the gram hash for an
  * eval corpus too big to broadcast.
  *
  * n-gram hashes are the [[graft.functions.TextHash.hashedNgrams]]
  * arithmetic combine over md5-h32 token hashes — deterministic and
  * DuckDB-reproducible, so the operator is fully oracle-checked.
  */
object Decontam {

  /** Per-train-document overlap report: documents carrying at least one
    * eval n-gram, with their distinct n-gram count, how many of those
    * n-grams are contaminated (`eval_hits`), and the contaminated
    * fraction. Dropping flagged documents is then a broadcast-able
    * anti-join on `doc_id`.
    *
    * The join is unhinted, so AQE auto-broadcasts a small eval side at
    * runtime and falls back to a distributed join for a corpus-scale
    * one: the round-12 fifth-decade probe measured a forced broadcast
    * hint collecting a ~1 GB gram set to the driver (eval splits that are a
    * FRACTION of the corpus grow with it — past driver limits the
    * forced broadcast is wrong by construction). When the train side
    * must never shuffle regardless of eval size, use [[overlapBloom]]
    * — its broadcast digest is fixed-size by construction. */
  def overlap(train: DataFrame, evalDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 8): DataFrame = {
    import graft.functions.TextHash
    val grams =
      TextHash.hashedNgrams(TextHash.tokenHashes(col(textCol)), n)
    val evalGrams = evalDocs.select(explode(grams).as("g"))
      .distinct()
    val probeSide = evalGrams.withColumn("__hit", lit(1))
    train
      .select(col(idCol), grams.as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col(idCol), size(col("__sh")).as("__n"),
        explode(col("__sh")).as("g"))
      .join(probeSide, Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(min(col("__n")).as("n_ngrams"),
        count(col("__hit")).as("eval_hits"))
      .filter(col("eval_hits") > 0)
      .withColumn("hit_frac",
        col("eval_hits").cast(DoubleType) / col("n_ngrams"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * inverse signal of [[overlap]]: how much of each target document's
    * content is new relative to what the pipeline already holds (the
    * "new information" weight selection/mixture stages use; near-zero
    * novelty ⇒ the doc adds nothing the reference didn't). Reports
    * EVERY target document (novelty 1.0 = entirely new), unlike
    * overlap's contaminated-only ledger. Identical scale shape:
    * broadcast distinct reference gram hashes, one narrow target pass,
    * map-side-combined per-doc aggregation. Like [[overlap]], the
    * reference-gram broadcast is left to AQE. */
  def novelty(target: DataFrame, reference: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 8): DataFrame = {
    import graft.functions.TextHash
    val grams =
      TextHash.hashedNgrams(TextHash.tokenHashes(col(textCol)), n)
    val refGrams = reference.select(explode(grams).as("g")).distinct()
    val probeSide = refGrams.withColumn("__hit", lit(1))
    target
      .select(col(idCol), grams.as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col(idCol), size(col("__sh")).as("__n"),
        explode(col("__sh")).as("g"))
      .join(probeSide, Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(min(col("__n")).as("n_ngrams"),
        count(col("__hit")).as("seen_ngrams"))
      .withColumn("novelty",
        (col("n_ngrams") - col("seen_ngrams")).cast(DoubleType) /
          col("n_ngrams"))
  }

  /** [[overlap]] for eval corpora too big to broadcast raw — the
    * Bloom-prefilter design: instead of shipping every eval gram hash
    * (8 bytes each) to every executor, broadcast a `bits`-wide Bloom
    * digest of them (2²⁰ bits = 128 KB regardless of eval size, stored
    * sparse), probe each train gram against it with the codegen'd
    * [[graft.functions.Bloom.mayContain]], and shuffle-join ONLY the
    * surviving grams (true hits + the false-positive trickle) against
    * the eval gram set for exact verification. Bloom filters have no
    * false negatives and the verify join removes false positives, so
    * the OUTPUT IS IDENTICAL to [[overlap]] — the oracle is shared —
    * while shuffle volume drops from #train-grams to
    * #hits + FPR·#train-grams. */
  def overlapBloom(train: DataFrame, evalDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 8,
      bits: Int = 1 << 20, k: Int = 3): DataFrame = {
    import graft.functions.{Bloom, TextHash}
    val grams =
      TextHash.hashedNgrams(TextHash.tokenHashes(col(textCol)), n)
    val evalGrams = evalDocs.select(explode(grams).as("g")).distinct()
    // sparse bitmask: only non-zero 64-bit words, as two sorted arrays
    val words = evalGrams
      .select(explode(Bloom.positions(col("g"), bits, k)).as("p"))
      .select(shiftright(col("p"), 6).as("w"),
        call_function("shiftleft", lit(1L),
          pmod(col("p"), lit(64)).cast(IntegerType)).as("b"))
      .groupBy(col("w")).agg(bit_or(col("b")).as("word"))
    val mask = words
      .agg(array_sort(collect_list(struct(col("w"), col("word")))).as("ws"))
      .select(transform(col("ws"), e => e.getField("w")).as("wk"),
        transform(col("ws"), e => e.getField("word")).as("wv"))
    train
      .select(col(idCol), grams.as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col(idCol), size(col("__sh")).as("__n"),
        explode(col("__sh")).as("g"))
      .crossJoin(broadcast(mask))
      .filter(Bloom.mayContain(col("wk"), col("wv"), col("g"), bits, k))
      .select(col(idCol), col("__n"), col("g"))
      // exact verify: survivors only — the eval side is NOT broadcast
      // here (this is the huge-eval path); Spark picks a shuffle join
      .join(evalGrams.withColumn("__hit", lit(1)), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(min(col("__n")).as("n_ngrams"),
        count(col("__hit")).as("eval_hits"))
      .filter(col("eval_hits") > 0)
      .withColumn("hit_frac",
        col("eval_hits").cast(DoubleType) / col("n_ngrams"))
  }

  /** Attribution report — the per-(train-doc, eval-doc) breakdown real
    * pipelines publish ("contaminated by benchmark X"): for every
    * contaminated pair, the eval document that matched, the benchmark /
    * source label carried from the eval corpus (`benchmarkCol`), how
    * many distinct train n-grams the pair shares, and that count as a
    * fraction of the train document's n-grams.
    *
    * Same scale shape as [[overlap]]: the broadcast side now carries
    * `(gram, eval_id, benchmark)` — one row per (gram, eval doc), still
    * eval-corpus-sized — the train side stays a narrow tokenize+hash+
    * explode pass, and the closing groupBy combines map-side (a train
    * document's grams stay row-local through the explode), so shuffle
    * volume ≈ #contaminated pairs, not #n-grams. Unlike [[overlap]],
    * the eval side is always broadcast: the join is hinted. */
  def attribution(train: DataFrame, evalDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 8,
      benchmarkCol: String = "source"): DataFrame = {
    import graft.functions.TextHash
    val grams =
      TextHash.hashedNgrams(TextHash.tokenHashes(col(textCol)), n)
    // hashedNgrams is distinct per document, so (g, eval_id) rows are
    // already unique — no distinct needed before the broadcast
    val evalGrams = evalDocs.select(col(idCol).as("eval_id"),
      col(benchmarkCol).as("benchmark"), explode(grams).as("g"))
    train
      .select(col(idCol), grams.as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col(idCol), size(col("__sh")).as("__n"),
        explode(col("__sh")).as("g"))
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(col(idCol), col("eval_id"), col("benchmark"))
      .agg(min(col("__n")).as("n_ngrams"),
        count(lit(1)).as("shared_ngrams"))
      .withColumn("overlap_frac",
        col("shared_ngrams").cast(DoubleType) / col("n_ngrams"))
  }
}
