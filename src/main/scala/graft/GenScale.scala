package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic scale-up generator: replicates the driver's sf0.1
  * tables `replicas`× with disjoint key spaces, producing an sf1-shaped
  * dataset for empirical scaling measurements (BENCH at 10× the bench
  * scale — the "would the plans survive 100×?" evidence).
  *
  * Replication rules preserve the per-replica statistical structure the
  * operators exercise, while keeping replicas DISJOINT where sharing
  * would change complexity class rather than size:
  *
  *  - `region`/`nation`: fixed-size dims, copied once (TPC-H semantics —
  *    they do not scale with sf).
  *  - key columns (`customer`/`supplier`/`part`/`orders`/`lineitem`/
  *    `events` ids): offset by `replica · 10⁷`, so joins keep exactly
  *    the source fanout and never cross replicas; modulo-10 query
  *    predicates (e.g. the decontamination eval split) are preserved
  *    because the offset is divisible by 10.
  *  - `documents.text`: every `[A-Za-z0-9]+` token gets a replica
  *    suffix, so in-replica near-dup structure (what dedup measures) is
  *    preserved exactly while cross-replica token/shingle/gram spaces
  *    are disjoint — replicating text verbatim would grow LSH buckets
  *    10× and pair volume 100×, changing the complexity class instead
  *    of the data size.
  *  - `embeddings.embedding`: replica 0 keeps the originals; other
  *    replicas draw fresh deterministic pseudo-random components
  *    (xxhash64(vec_id, replica, dim) → uniform in [-1, 1]), because
  *    any mild perturbation of a copied vector keeps cosine ≈ 1 and
  *    would plant 10× cross-replica near-dup clusters.
  *  - `embeddings.label`: offset like a key — it is the block column of
  *    the within-block cosine baseline, and sharing it across replicas
  *    would grow each block 10× and its pair volume 100× (complexity
  *    class, not size). Disjoint labels model what block keys do on a
  *    real corpus: their cardinality grows with the data.
  *
  * Everything is a column program — no RNG state, no wall clock — so
  * the output is bit-reproducible. Usage:
  *   GenScale [srcDir] [dstDir] [replicas] [tables-csv]
  * defaults: /root/testdata/sf0.1 → testdata/sf1 (repo-local), 10×,
  * all tables. `tables-csv` restricts generation to the named fact
  * tables (dims region/nation are always copied) — the fifth-decade
  * probe scales only documents/embeddings/events because lineitem at
  * sf1000 (~110 GB) exceeds the sandbox disk.
  */
object GenScale {
  /** Base key offset between replicas. The EFFECTIVE offset is the
    * smallest power of 10 that is >= this AND strictly greater than
    * every key already present in the source — chaining runs
    * (sf0.1→sf1→sf10) would otherwise collide: sf1 keys already occupy
    * r·10⁷+k, so shifting them by r₂·10⁷ again maps (r₁+r₂) pairs onto
    * the same key and every downstream join explodes with up-to-
    * multiplicity² fanout (caught in round 6: 15 M sf10 orders held
    * only 2.85 M distinct o_orderkey). A power of 10 keeps the offset
    * divisible by 10, preserving the modulo-10 query predicates. */
  private val BASE_OFF = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "testdata/sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    // the document token-suffix disjointness argument below assumes
    // single-digit replica indices scaled by OFF/BASE_OFF; a larger
    // replica count would let chained suffixes re-collide (e.g.
    // "1"+"9900" = "19"+"900") — scale by chaining runs instead
    require(replicas <= 10,
      s"replicas=$replicas > 10: chain multiple x10 runs instead " +
        "(token-suffix disjointness assumes single-digit indices)")
    val cpus = EngineDefaults.cpus
    val spark = EngineDefaults.local(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // effective offset: next power of 10 above every source key (see
    // BASE_OFF scaladoc) — one driver-side max over the key columns
    val keyCols: Seq[(String, String)] = Seq(
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "orders" -> "o_custkey", "lineitem" -> "l_orderkey",
      "events" -> "event_id", "events" -> "user_id",
      "documents" -> "doc_id", "embeddings" -> "vec_id",
      "embeddings" -> "label")
    val maxKey = keyCols.filter(tc => only.isEmpty || only(tc._1)).map { case (t, c) =>
      Tables.load(spark, src, t)
        .agg(max(col(c).cast(LongType))).head().getLong(0)
    }.max
    var OFF = BASE_OFF
    while (OFF <= maxKey) OFF *= 10L
    println(s"[genscale] maxKey=$maxKey -> replica offset $OFF")

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    def replicate(name: String)(tx: (DataFrame, Int) => DataFrame): Unit =
      if (only.isEmpty || only(name)) {
        val base = Tables.load(spark, src, name)
        write((0 until replicas).map(r => tx(base, r))
          .reduce(_ unionByName _), name)
      } else println(s"[genscale] $name: skipped (not in tables-csv)")
    def shiftKeys(df: DataFrame, r: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(r * OFF)))

    // fixed dims — one copy
    write(Tables.load(spark, src, "region"), "region")
    write(Tables.load(spark, src, "nation"), "nation")

    replicate("customer")((d, r) => shiftKeys(d, r, "c_custkey"))
    replicate("supplier")((d, r) => shiftKeys(d, r, "s_suppkey"))
    replicate("part")((d, r) => shiftKeys(d, r, "p_partkey"))
    replicate("orders")((d, r) => shiftKeys(d, r, "o_orderkey", "o_custkey"))
    replicate("lineitem")((d, r) =>
      shiftKeys(d, r, "l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events")((d, r) => shiftKeys(d, r, "event_id", "user_id"))

    replicate("documents") { (d, r) =>
      val shifted = shiftKeys(d, r, "doc_id")
      // the token suffix must stay collision-free under CHAINED runs,
      // like the key offset: a bare replica digit collides — run2's
      // replica 0 carries run1-replica-k text (t→"t$k") while run2's
      // replica k transforms run1-replica-0 text to the same "t$k",
      // planting byte-identical cross-replica corpora. Scaling the
      // suffix by OFF/BASE_OFF (run 1 appends r, run 2 appends r·10,
      // ...) keeps every run's suffix space disjoint, exactly as the
      // key offsets are.
      val suffix = r.toLong * (OFF / BASE_OFF)
      if (r == 0) shifted
      else shifted.withColumn("text",
        regexp_replace(col("text"), "([A-Za-z0-9]+)", "$1" + suffix))
    }

    replicate("embeddings") { (d, r) =>
      val shifted = shiftKeys(d, r, "vec_id", "label")
      if (r == 0) shifted
      else shifted.withColumn("embedding",
        transform(sequence(lit(0), size(col("embedding")) - 1), i =>
          ((pmod(xxhash64(col("vec_id"), lit(r), i), lit(2001)) - 1000)
            .cast(DoubleType) / 1000.0).cast(FloatType)))
    }

    spark.stop()
  }
}
