package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Bpe

/** BPE strategy crossover A/B at a REAL vocabulary size (developer
  * tooling, not a driver surface). The round-8 A/B proved the recount
  * loop faster on this repo's degenerate testdata vocabulary (30-3,099
  * distinct words) and parked the incremental loop behind a 1 M-word
  * size gate — but that threshold encoded an UNMEASURED crossover:
  * nothing had timed the two loops on a dictionary the gate's size.
  * This main synthesizes a ≥1 M distinct-word corpus and measures
  * both.
  *
  * Corpus synthesis (GenScale discipline — pure column programs, no
  * RNG state, bit-reproducible): word k < nWords is the concatenation
  * of 4 syllables indexed by k's base-64 digits over a fixed 64-entry
  * syllable alphabet, so the vocabulary has exactly nWords distinct
  * words (the digit map is injective below 64^4 = 16.7 M) AND a shared
  * subword structure — common syllable adjacencies — which is what
  * gives real corpora non-trivial BPE pair counts. Each doc carries 8
  * words drawn by xxhash64(doc_id, slot) mod nWords, so every word
  * appears ~(8·nDocs/nWords) times.
  *
  * Per strategy leg (forced through [[Bpe.trainWith]]): rounds of training on
  * the same corpus, wall seconds of `repeats` runs after an untimed
  * small-vocab JIT warm. Both strategies' merge tables are asserted
  * bit-identical on the full corpus (the OpsSpec equality test at this
  * scale). One JSON line per timed run; results land in SCALING.md.
  *
  * Usage: runMain graft.BpeCrossover [nWords] [rounds] [repeats]
  */
object BpeCrossover {

  private val syllables: Seq[String] = {
    val onsets = Seq("b", "d", "f", "g", "k", "l", "m", "n")
    val rimes = Seq("a", "e", "i", "o", "u", "ar", "en", "ith")
    for (o <- onsets; r <- rimes) yield o + r // 64 syllables
  }

  /** Word for id `k` (must be < 64^4): 4 base-64 digit syllables.
    * Digits come from integer shifts (shiftright by 6·p, pmod 64), not
    * Column `/` — `/` is DOUBLE division, whose exactness for this
    * range is incidental and would silently break past 2^53. */
  private def wordFor(k: org.apache.spark.sql.Column) = {
    val syl = array(syllables.map(lit): _*)
    def digit(p: Int) =
      (pmod(shiftright(k.cast("long"), 6 * p), lit(64L)) + 1).cast("int")
    concat(
      element_at(syl, digit(0)),
      element_at(syl, digit(1)),
      element_at(syl, digit(2)),
      element_at(syl, digit(3)))
  }

  /** Deterministic corpus with exactly `nWords` distinct words (modulo
    * hash coverage — slots draw uniformly, so at 8·nDocs ≥ 3·nWords
    * virtually every word id is hit) across `nDocs` 8-word docs. */
  def syntheticCorpus(spark: SparkSession, nWords: Long,
      nDocs: Long): DataFrame = {
    val slots = (0 until 8).map(j =>
      wordFor(pmod(xxhash64(col("id"), lit(j)), lit(nWords))))
    spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", slots: _*).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val nWords = args.headOption.map(_.toLong).getOrElse(1300000L)
    val rounds = args.lift(1).map(_.toInt).getOrElse(8)
    val repeats = args.lift(2).map(_.toInt).getOrElse(2)
    require(nWords < 16777216L, "word ids must stay below 64^4")
    val cpus = EngineDefaults.cpus
    val spark = EngineDefaults.local(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nDocs = math.max(nWords / 2, 1000L) // 8 slots -> ~4x coverage
    // materialize the corpus once so neither leg pays generation
    val corpus = syntheticCorpus(spark, nWords, nDocs).localCheckpoint()
    val distinctWords = corpus
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("w"))
      .distinct().count()
    println(s"""{"corpus":{"n_words_target":$nWords,""" +
      s""""n_words_distinct":$distinctWords,"n_docs":$nDocs,""" +
      s""""rounds":$rounds}}""")

    val strategies = Seq("recount" -> Bpe.Recount,
      "incremental" -> Bpe.Incremental)

    // untimed JIT warm of BOTH loops on a small vocabulary
    val warm = syntheticCorpus(spark, 5000L, 4000L).localCheckpoint()
    strategies.foreach { case (_, s) =>
      Bpe.trainWith(warm, "text", rounds, Some(s)).collect()
    }

    var tables = Map.empty[String, Seq[String]]
    for (rep <- 1 to repeats; (strategy, s) <- strategies) {
      val t0 = System.nanoTime()
      val rows = Bpe.trainWith(corpus, "text", rounds, Some(s))
        .orderBy("merge_rank").collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"strategy":"$strategy","rep":$rep,""" +
        f""""sec":$sec%.3f,"n_words":$distinctWords,"rounds":$rounds}""")
      tables += strategy -> rows.map(_.mkString("|")).toSeq
    }
    val identical = tables("recount") == tables("incremental")
    println(s"""{"merge_tables_identical":$identical}""")
    require(identical,
      "strategies diverged:\n  recount=" + tables("recount").take(3) +
        "\n  incremental=" + tables("incremental").take(3))
    spark.stop()
  }
}
