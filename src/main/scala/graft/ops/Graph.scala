package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Link-graph operators for web-corpus curation — the domain/page
  * authority signal Common-Crawl-scale pipelines mix into quality
  * scoring (alongside the content-level scores in [[TextAnalysis]]).
  */
object Graph {

  /** Fixed-iteration PageRank with damping `d`: r₀ = 1/N,
    * rₖ₊₁(v) = (1−d)/N + d·Σ_{u→v} rₖ(u)/outdeg(u).
    *
    * A FIXED iteration count (not convergence-tested) keeps the
    * operator a pure deterministic dataflow — per-edge contributions
    * are exact IEEE divisions/products on identical operands and every
    * per-node sum runs through a DECIMAL(38,18) accumulator, so ranks
    * are bit-identical across engines and partitionings
    * (DuckDB-hash-checkable like the rest of the library). Callers pick
    * `iterations` for their graph diameter; errors decay as dᵏ.
    *
    * Scale shape per iteration: one join of edges⋈ranks on src (both
    * sides shuffle-partitioned on the join key — the standard giant-
    * graph layout; neither side is collected or broadcast), one
    * map-side-combined groupBy(dst), and one left join back to the
    * node set for nodes with no in-links (teleport mass only). Rank
    * lineage is checkpoint-truncated per round like [[Dedup
    * .dupClusters]]. Nodes with out-degree 0 (dangling) are supported:
    * their mass leaks rather than redistributes — the common
    * simplification; pipelines that need mass conservation add a
    * dangling-sum term, at the cost of one extra tiny aggregate per
    * round.
    *
    * Known limitation, hub skew (ADVICE r17): out-degree is a window
    * count over `src`, and a window partition is one task (AQE splits
    * skewed JOINS only), so a power-law hub whose out-edge list dwarfs
    * the median makes a straggler with no runtime mitigation. A
    * groupBy+join out-degree would be skew-splittable at the cost of
    * one extra exchange per call. No workload here has a hub, so the
    * shape is fixed; re-open with a profile of a hub-skewed graph. */
  def pageRank(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", damping: Double = 0.85,
      iterations: Int = 5): DataFrame = {
    // loop invariants are checkpointed ONCE: every iteration's eager
    // rank checkpoint is its own job, and without this each round would
    // re-run the edge distinct, the degree aggregation, and the node
    // union from the source — the iterative-graph convention (cache the
    // edge structure, iterate only the rank vector).
    // Out-degree is attached IN the same pass as the dedup: a window
    // count over src (partitioned — never a global window) instead of
    // the previous e ⋈ groupBy(e) self-join, which re-shuffled the edge
    // list twice more (agg exchange + join) for the same integer. One
    // distinct exchange + one src exchange, one checkpoint, no join
    // (guide §2.4: two operations keyed the same way share the
    // partitioning; the window count is duplicate-insensitive only
    // AFTER distinct, so the order is load-bearing).
    val eDeg = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .localCheckpoint(false)
    val nodes = eDeg.select(col("src").as("node"))
      .union(eDeg.select(col("dst")))
      .distinct()
      .localCheckpoint(false)
    // N as a literal-free one-row table: the node count must come from
    // the data, and a broadcast scalar join keeps the program collect-free
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    // the teleport term is also a loop invariant: (node, (1−d)/N) —
    // materialized once instead of re-joining nodes⨯N every round
    val teleport = nodes.crossJoin(broadcast(n))
      .select(col("node"),
        ((lit(1.0) - lit(damping)) / col("n_nodes")).as("tele"))
      .localCheckpoint(false)
    // NOT checkpointed: r₀ is consumed exactly once (round 1's join),
    // so an eager materialization job would buy nothing — the cheap
    // map over the checkpointed node set computes inline there
    var ranks = nodes.crossJoin(broadcast(n))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("rank"))
    (1 to iterations).foreach { _ =>
      val contrib = eDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (lit(damping) * (col("rank") / col("outdeg"))).as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c").cast(DecimalType(38, 18))).cast(DoubleType)
          .as("inflow"))
      // LAZY checkpoint: the round's exchanges still execute here (AQE
      // materializes query stages at toRdd), but the separate persist
      // pass over the rank table is deferred into the next round's (or
      // the final consumer's) own computation — one full rank-table
      // pass per round removed, plans stay flat either way
      ranks = teleport
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("tele") + coalesce(col("inflow"), lit(0.0))).as("rank"))
        .localCheckpoint(false)
    }
    ranks
  }

  /** Per-node triangle membership counts — the local clustering
    * signal (link farms and scraped mirror clusters show anomalous
    * triangle density vs organic link graphs).
    *
    * Classic ordered-wedge algorithm on the canonical undirected edge
    * list (lo < hi): a wedge a<b<c is an (a,b) edge joined to a (b,c)
    * edge, closed by an (a,c) LEFT SEMI probe — each triangle counted
    * exactly once, no direction double-counting. Scale shape: the
    * dedup/canonicalization is one exchange; the wedge and closing
    * joins are node-keyed equi-joins (the standard distributed
    * triangle layout). On power-law graphs the wedge fanout is
    * bounded in practice by joining lowest-id-first (the canonical
    * ordering puts each node's wedges on its HIGHER-id neighbors,
    * the degree-ordering heuristic); pipelines with extreme hubs add
    * a degree cap like the LSH bucket caps. */
  def triangles(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .distinct()
      // three self-references below — dedup once; LAZY so the dedup's
      // result pass rides the triangle job itself instead of a separate
      // persist job (blocks compute-once under block-manager locking)
      .localCheckpoint(false)
    val e2 = und.select(col("lo").as("__b"), col("hi").as("__c"))
    val wedges = und.join(e2, col("hi") === col("__b"))
      .select(col("lo").as("ta"), col("hi").as("tb"), col("__c").as("tc"))
    val closing = und.select(col("lo").as("ta"), col("hi").as("tc"))
    val tri = wedges.join(closing, Seq("ta", "tc"), "left_semi")
    tri.select(explode(array(col("ta"), col("tb"), col("tc")))
        .as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }
}
