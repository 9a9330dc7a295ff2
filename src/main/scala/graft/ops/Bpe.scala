package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TextOps.tokens

/** Distributed BPE (byte-pair-encoding) tokenizer training — the merge-
  * table learning loop every LLM data pipeline runs before tokenizing a
  * corpus (Sennrich et al. 2016, "Neural Machine Translation of Rare
  * Words with Subword Units").
  *
  * Scale shape: the corpus is reduced ONCE to its word-frequency
  * dictionary (one shuffle on word — the dictionary is orders of
  * magnitude smaller than the corpus and is the classic BPE training
  * input), and every merge round after that touches only the
  * dictionary: one pair-count aggregate (keyed by the pair, bounded by
  * the distinct-pair vocabulary) whose single winning row is collected
  * and applied as a literal string replace. Rounds are inherently
  * sequential (round r+1's counts depend on round r's merge); the
  * dictionary is re-checkpointed each round so the plan stays flat
  * instead of nesting r rounds of subplans (`localCheckpoint` here; on
  * a real cluster swap for reliable `checkpoint`). The only data that
  * ever reaches the driver is that one O(1) merge row per round.
  *
  * Two hash-identical round strategies, selected by dictionary size:
  *
  *  - **Full recount** (default, small dictionaries): each round
  *    re-explodes the whole dictionary into adjacent pairs and
  *    re-aggregates. One checkpoint per round; minimal fixed overhead.
  *  - **Incremental deltas** (large dictionaries): the dictionary is
  *    pair-exploded exactly once, and each subsequent round recounts
  *    only the words the last merge actually touched — count(r+1) =
  *    count(r) − pairs(old enc of touched) + pairs(new enc of touched),
  *    an exact integer delta folded into the distinct-pair relation by
  *    a full-outer join (the fast-BPE bookkeeping, Sennrich et al. 2016
  *    §3). Costs three checkpoints per round; superseded checkpoint
  *    blocks are unpersisted as soon as their successors materialize,
  *    so live cached blocks stay bounded (~2 rounds' worth) instead of
  *    growing linearly with the round count.
  *
  * The crossover is governed by fixed per-round overhead vs dictionary
  * size: the delta machinery only pays once re-exploding the dictionary
  * dominates its extra checkpoints. Two same-host A/Bs bracket it. A
  * round-8 A/B on this repo's testdata corpora — whose token vocabulary
  * is degenerate (30 distinct words at sf0.1, 3,099 at sf10) — measured
  * the recount loop faster at every reachable scale (both loops are
  * pure scheduling floor there and incremental schedules 3× the
  * checkpoints). A round-9 A/B on the diversified syllable-composed
  * corpus ([[graft.BpeCrossover]], 8 rounds, minima of repeats,
  * bit-identical tables asserted every leg) measured the actual
  * crossover: recount wins at 10 k distinct words (3.6 s vs 4.3 s),
  * incremental wins from 30 k up (6.1 vs 7.3 at 30 k; 16.2 vs 17.4 at
  * 1.28 M; 37.8 vs 50.0 at 4 M — the gap widens with the vocabulary,
  * as the touched-word fraction shrinks). The size gate encodes that
  * measurement: below 100,000 distinct words (above the 10-30 k
  * crossover band, with margin for corpora whose merges touch more of
  * the dictionary) the recount loop runs; at or above it, the
  * incremental loop. Both emit bit-identical merge tables (each has
  * passed the sf0.01 driver oracle; OpsSpec asserts cross-strategy
  * equality on both the testdata and the diversified corpus).
  *
  * Engine-exact and differentially checkable end-to-end: pair counts
  * are integer sums of word frequencies; the winning pair is picked by
  * (count DESC, lhs, rhs) — a total order with no float anywhere; and
  * the merge itself is a literal (non-regex) string replace under a
  * delimiter encoding chosen so that plain left-to-right non-
  * overlapping `replace` implements exactly BPE's left-to-right merge:
  * each symbol is wrapped in double bars (`||a||b||c||`), and the pair
  * (a,b) is replaced via pattern `|a||b|` → `|ab|`. Because the
  * pattern consumes only the INNER bar of each flanking double bar,
  * back-to-back occurrences (`...a||b||a||b...`) both match — unlike a
  * single-delimiter encoding, where the first replacement would eat
  * the boundary the next match needs. Symbols are [a-z0-9]+ subwords,
  * so `|` can never occur inside one.
  */
object Bpe {

  /** Dictionary size (distinct words) at or above which the
    * incremental pair-count loop replaces full recount. */
  private val IncrementalMinWords = 100000L

  /** The two training loops behind [[trainMerges]]. */
  private[graft] sealed trait Strategy
  private[graft] case object Recount extends Strategy
  private[graft] case object Incremental extends Strategy

  private val emptyPairs = array().cast(
    ArrayType(StructType(Seq(StructField("lhs", StringType),
      StructField("rhs", StringType)))))

  /** Adjacent symbol pairs (with multiplicity — BPE counts every
    * adjacency, e.g. `aaa` has (a,a) twice) of the `||`-encoded word. */
  private def adjacentPairs(enc: Column) = {
    val arr = filter(split(enc, "\\|+"), x => x =!= "")
    when(size(arr) >= 2,
      transform(sequence(lit(0), size(arr) - 2),
        i => struct(element_at(arr, i + 1).as("lhs"),
          element_at(arr, i + 2).as("rhs"))))
      .otherwise(emptyPairs)
  }

  /** The merge as a literal replace over the `||` encoding. */
  private def applyMerge(enc: Column, lhs: Column, rhs: Column) =
    replace(enc,
      concat(lit("|"), lhs, lit("||"), rhs, lit("|")),
      concat(lit("|"), lhs, rhs, lit("|")))

  /** Eagerly localCheckpoints `df` and remembers which cached RDD
    * blocks the checkpoint created, so `drop()` can free them once a
    * successor relation materializes. `Dataset.localCheckpoint` has no
    * public unpersist; without this, a per-round checkpoint loop's
    * cached blocks grow linearly with the round count and squeeze
    * whatever runs after training (measured on the incremental loop in
    * round 8: the follow-on segmentation pass paid for training's
    * leaked blocks). */
  private final class Checkpointed(spark: SparkSession, df: DataFrame,
      eager: Boolean = true) {
    // lazy (eager=false) checkpoints materialize as a side effect of
    // the FIRST action over them — the recount loop uses this so each
    // round's top-pair aggregate is the job that also persists the
    // re-encoded dictionary (one dictionary pass per round, not two)
    val data: DataFrame = df.localCheckpoint(eager)
    // Ownership comes from the returned Dataset's own plan: a
    // localCheckpoint'ed Dataset is backed by a LogicalRDD whose rdd IS
    // the persisted one. (A getPersistentRDDs keyset diff around the
    // call — the first formulation — would claim any RDD a CONCURRENT
    // job happened to persist in that window and unrecoverably drop its
    // blocks; the plan-derived id cannot.)
    private val mine: Set[Int] = data.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    def drop(): Unit = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => mine.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
    private val minePartitions: Seq[(Int, Int)] =
      data.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.id -> r.rdd.getNumPartitions
      }
    /** Whether every checkpoint block of this relation is actually in
      * the block store. A LAZY checkpoint materializes as a side effect
      * of the first action over it — and reads its PREDECESSOR's blocks
      * while doing so. Callers must not drop a predecessor until this
      * holds for the successor: an action whose plan happens not to
      * scan every partition (e.g. a future limit pushdown) would leave
      * the successor partially lazy, still needing those blocks.
      * Probed against the BlockManagerMaster (synchronous ground
      * truth) — NOT getRDDStorageInfo, whose async listener-fed store
      * can lag a just-finished action and spuriously defer drops. */
    def isMaterialized: Boolean =
      minePartitions.nonEmpty && minePartitions.forall { case (id, n) =>
        org.apache.spark.sql.GraftBridge.rddFullyCached(spark, id, n)
      }
  }

  /** Learn `rounds` BPE merges from the corpus. Returns one row per
    * merge: (merge_rank 1-based, lhs, rhs, pair_count) in learned
    * order. Words shorter than 2 characters carry no pairs and are
    * dropped up front. The loop is picked by dictionary size. */
  def trainMerges(docs: DataFrame, textCol: String,
      rounds: Int): DataFrame = trainWith(docs, textCol, rounds, None)

  /** [[trainMerges]] with the loop forced to `strategy`, or picked by
    * the size gate when `None`. Both loops learn bit-identical tables;
    * specs and [[graft.BpeCrossover]] compare them through this. */
  private[graft] def trainWith(docs: DataFrame, textCol: String,
      rounds: Int, strategy: Option[Strategy]): DataFrame = {
    require(rounds >= 1, "bpe: rounds must be >= 1")
    val spark = docs.sparkSession
    // corpus -> word-frequency dictionary (the only corpus-sized pass).
    // LAZY checkpoint: the strategy-gate count below is the action that
    // materializes it — one dictionary job instead of an eager persist
    // job PLUS a count job (guide §1.2 fewer passes; r18)
    val dict0 = new Checkpointed(spark, docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(concat(lit("||"),
        regexp_replace(col("w"), "(.)", "$1||")).as("enc"), col("freq")),
      eager = false)
    // the gate probe is the job that materializes the lazy checkpoint
    // (also when the loop is forced); every later consumer reads the
    // persisted blocks
    val words = dict0.data.count()
    val merges = strategy.getOrElse(
        if (words >= IncrementalMinWords) Incremental else Recount) match {
      case Incremental => trainIncremental(dict0, rounds)
      case Recount => trainRecount(dict0, rounds)
    }
    merges.reduce(_ union _)
      .select(col("merge_rank"), col("lhs"), col("rhs"),
        col("pair_count"))
  }

  /** One learned merge as a 1-row LOCAL relation (merge_rank, lhs,
    * rhs, pair_count) — the exact values the previous per-round 1-row
    * checkpoints carried, without the cluster-side table. */
  private def mergeRow(spark: SparkSession, r: Int, lhs: String,
      rhs: String, count: Long): DataFrame = {
    import spark.implicits._
    Seq((r, lhs, rhs, count))
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  private def emptyMerges(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, String, String, Long)]
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** Small-dictionary strategy: re-explode and re-count every round.
    *
    * ONE job per round: the round's top-pair aggregate (a 1-row
    * `collect` — the only thing training ever brings to the driver) is
    * also the action that materializes the previous round's LAZY
    * dictionary checkpoint, and the winning pair is applied as string
    * LITERALS. The r17 shape checkpointed the 1-row top on the cluster
    * and `crossJoin(broadcast(top))`-ed it into the next dictionary —
    * a broadcast-exchange job per round on top of the aggregate job
    * (job census: t_bpe_train 21 jobs for 6 rounds; literals remove
    * every per-round broadcast). The superseded dictionary's blocks
    * are dropped only after its successor has materialized (a lazily-
    * checkpointed relation reads its predecessor's blocks at
    * materialization time — dropping earlier would compute over
    * deallocated storage). */
  private def trainRecount(dict0: Checkpointed,
      rounds: Int): Seq[DataFrame] = {
    val spark = dict0.data.sparkSession
    var dict = dict0
    // the predecessor whose blocks the CURRENT (possibly still lazy)
    // dictionary reads when it materializes
    var prev: Option[Checkpointed] = None
    // (predecessor, successor) pairs whose successor was NOT verifiably
    // materialized when the predecessor's turn to drop came (a plan
    // change could leave the top-pair aggregate scanning fewer than all
    // dictionary partitions) — re-checked every round and at latest
    // dropped when training ends, so the backstop leak stays bounded
    var deferred: List[(Checkpointed, Checkpointed)] = Nil
    var merges: Seq[DataFrame] = Nil
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val topRow = dict.data
        .select(explode(adjacentPairs(col("enc"))).as("p"), col("freq"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(1)
        .collect().headOption // the round's ONE job; also materializes
                              // `dict`'s pending lazy blocks
      // drop the superseded dictionary only once its successor's blocks
      // are VERIFIED in the block store (not merely implied by the
      // aggregate's job shape — ADVICE r17): a partially-materialized
      // lazy successor still reads the predecessor at materialization.
      // Earlier deferrals retry here too, once their successor shows up
      val (dropNow, still) = deferred.partition(_._2.isMaterialized)
      dropNow.foreach(_._1.drop())
      deferred = still
      prev.foreach { p =>
        if (dict.isMaterialized) p.drop() else deferred ::= (p, dict)
      }
      prev = None
      topRow match {
        case None =>
          // no adjacent pair left: every later round learns nothing
          // too (the previous shape reached the same merge table by
          // crossJoining the empty top, which emptied the dictionary)
          exhausted = true
        case Some(row) =>
          val (l, rh, cnt) =
            (row.getString(0), row.getString(1), row.getLong(2))
          merges = merges :+ mergeRow(spark, r, l, rh, cnt)
          if (r < rounds) {
            val next = new Checkpointed(spark,
              dict.data.select(applyMerge(col("enc"), lit(l), lit(rh))
                .as("enc"), col("freq")), eager = false)
            prev = Some(dict)
            dict = next
          }
      }
      r += 1
    }
    // the final round's dictionary backs nothing in the returned merge
    // table (local 1-row relations) — release it, any deferred
    // predecessors, and the last prev
    (deferred.map(_._1) ++ prev.toList :+ dict).foreach(_.drop())
    if (merges.isEmpty) Seq(emptyMerges(spark)) else merges
  }

  /** Large-dictionary strategy: one full pair explode, then per-round
    * exact integer deltas over the touched words only. Zero-count
    * pairs are dropped after each delta so the relation stays exactly
    * equal to a from-scratch recount (a pair is present iff its count
    * is > 0). */
  private def trainIncremental(dict0: Checkpointed,
      rounds: Int): Seq[DataFrame] = {
    val spark = dict0.data.sparkSession
    def pairCounts(d: DataFrame, f: Column, enc: String) = d
      .select(explode(adjacentPairs(col(enc))).as("p"), f.as("f"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("f")).as("pair_count"))
    // dictDf is a narrow select over dictOwner's checkpointed blocks —
    // dictOwner must stay live until its successor materializes
    var dictDf: DataFrame = dict0.data
    var dictOwner: Checkpointed = dict0
    var counts = new Checkpointed(spark,
      pairCounts(dictDf, col("freq"), "enc"))
    var merges: Seq[DataFrame] = Nil
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // 1-row collect + literal application, as in trainRecount: no
      // per-round 1-row checkpoint, no broadcast-exchange job
      val topRow = counts.data
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(1)
        .collect().headOption
      topRow match {
        case None => exhausted = true
        case Some(row) =>
          val (l, rh, cnt) =
            (row.getString(0), row.getString(1), row.getLong(2))
          merges = merges :+ mergeRow(spark, r, l, rh, cnt)
          if (r < rounds) {
            // one narrow pass over the dictionary: apply the merge, keep
            // the pre-merge encoding so the touched set is `enc0 != enc`
            val nextApplied = new Checkpointed(spark,
              dictDf.select(col("enc").as("enc0"),
                applyMerge(col("enc"), lit(l), lit(rh)).as("enc"),
                col("freq")))
            dictOwner.drop() // superseded: the new encoding is materialized
            val touched =
              nextApplied.data.filter(col("enc0") =!= col("enc"))
            val delta = pairCounts(touched, -col("freq"), "enc0")
              .unionByName(pairCounts(touched, col("freq"), "enc"))
              .groupBy(col("lhs"), col("rhs"))
              .agg(sum(col("pair_count")).as("d"))
            val nextCounts = new Checkpointed(spark,
              counts.data.join(delta, Seq("lhs", "rhs"), "full_outer")
                .select(col("lhs"), col("rhs"),
                  (coalesce(col("pair_count"), lit(0L))
                    + coalesce(col("d"), lit(0L))).as("pair_count"))
                .filter(col("pair_count") > 0))
            counts.drop()
            counts = nextCounts
            dictDf = nextApplied.data.select(col("enc"), col("freq"))
            dictOwner = nextApplied
          }
      }
      r += 1
    }
    // the final round's dictionary and pair counts back nothing in the
    // returned merge table (local 1-row relations)
    dictOwner.drop()
    counts.drop()
    if (merges.isEmpty) Seq(emptyMerges(spark)) else merges
  }

  /** Apply a learned `rounds`-row merge table to the corpus vocabulary —
    * the distributed inference twin of [[trainMerges]]: the merge table
    * collapses to ONE broadcast row (a rank-sorted struct array), and
    * each merge is a literal replace under the same double-bar encoding,
    * unrolled statically (`rounds` is the static merge count, so the
    * whole segmentation is one codegen'd projection — no loop state, no
    * UDF). Returns (word, subwords_json, n_subwords) per distinct
    * corpus word of length >= 2. */
  def segmentVocab(docs: DataFrame, textCol: String, merges: DataFrame,
      rounds: Int): DataFrame = {
    val ms = merges
      .agg(sort_array(collect_list(struct(col("merge_rank"),
        col("lhs"), col("rhs")))).as("__ms"))
    val enc0 = concat(lit("||"),
      regexp_replace(col("w"), "(.)", "$1||"))
    val encN = (1 to rounds).foldLeft(enc0) { (e, i) =>
      // a degenerate corpus can learn fewer than `rounds` merges; a
      // NULL pattern would null the whole encoding, and plain
      // element_at past the array end THROWS under Spark 4's default
      // ANSI mode — try_element_at is NULL-on-out-of-bounds in every
      // mode, and the isNull guard then skips the absent merge
      val m = try_element_at(col("__ms"), lit(i))
      when(m.isNull, e).otherwise(replace(e,
        concat(lit("|"), m("lhs"), lit("||"), m("rhs"), lit("|")),
        concat(lit("|"), m("lhs"), m("rhs"), lit("|"))))
    }
    val sub = filter(split(encN, "\\|+"), x => x =!= "")
    docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2).distinct()
      .crossJoin(broadcast(ms))
      .select(col("w").as("word"), to_json(sub).as("subwords_json"),
        size(sub).as("n_subwords"))
  }

  /** Apply a learned merge table to a token: the inference twin of
    * [[trainMerges]] (merges applied in rank order). Exposed for the
    * spec's round-trip property; tokenization of a corpus would ride
    * the same broadcast merge table. */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var enc = "||" + word.flatMap(c => s"$c||")
    merges.foreach { case (l, r) =>
      enc = enc.replace(s"|$l||$r|", s"|$l$r|")
    }
    enc.split("\\|+").toSeq.filter(_.nonEmpty)
  }
}
