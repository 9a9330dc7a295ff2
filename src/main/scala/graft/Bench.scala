package graft

/** Benchmark main — runs every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query and
  * total wall seconds. A warmup action first absorbs JVM/codegen/
  * parquet-footer costs so per-query numbers measure the queries, not
  * class loading. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev-only knobs (the driver sets neither): SPARK_GRAFT_QUERIES
    // runs a comma-separated subset (e.g. the flat relational/event
    // core for the sf10 decade, where the capped dedup/ANN families
    // are out of scope by design); SPARK_GRAFT_SPILL=1 appends the
    // run's total shuffle/agg spill bytes to the JSON line
    val onlyQueries: Option[Set[String]] = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(',').map(_.trim).toSet)
    val recordSpill = sys.env.get("SPARK_GRAFT_SPILL").contains("1")
    val cpus = EngineDefaults.cpus
    // dev-only: decouple shuffle partitions from cores — the SURVEY
    // sizing rule ("size shuffle.partitions so partitions fit in
    // executor memory at the target SF") needs >cores partitions at
    // the fourth decade (600 M-row shuffles / 32 = 19 M rows per
    // partition spills; AQE coalesces the small-SF cases back down)
    val shufflePartitions =
      sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.trim.toInt).getOrElse(cpus)
    // AQE sizes each shuffle from its measured map output: `local`
    // starts every exchange at max(8x cores, static) reducer partitions
    // and coalescePartitions merges back toward the 64 MB advisory
    // target. This automates the SURVEY sizing rule ("partitions must
    // scale with the data") — at sf0.1 AQE coalesces to the same
    // effective counts as before (measured: bench flat), at sf100 the
    // wide shuffles keep ~256 partitions and the sizing-rule spill
    // vanishes without anyone setting SPARK_GRAFT_SHUFFLE by hand. The
    // AQE floor and codegen cache come from the same factory, shared by
    // Verify/Cli/GraftSession instead of living only in this harness
    // (r17 verdict "What's wrong #2").
    val spark = EngineDefaults.local(cpus, shufflePartitions)
      // long multi-query legs accumulate dead shuffle files/buffers
      // until a full GC lets ContextCleaner reclaim them (default
      // periodic GC is 30 min — longer than most legs). The fifth-
      // decade probe measured the effect: d_dedup_exact took 233 s
      // in-leg right after a 75 GB-spill query vs 40.8 s solo.
      // SPARK_GRAFT_GC opts a big-SF leg into a short interval (e.g.
      // "1min") to bound that contamination; the default stays Spark's
      // 30min so the driver's sf0.1 record keeps its historical JVM
      // behavior (an sf0.1 A/B measured 1min-GC 166.8s vs default
      // 186.0s — within this host's ±11% run-to-run noise, i.e. no
      // measurable cost either way at bench SF).
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_GC", "30min"))
      .getOrCreate()
    // dev-only A/B knob (the driver sets nothing): extra session confs
    // as "k=v;k=v" — lets config experiments run through THE bench
    // (same warmup, sentinels, methodology) instead of a side harness
    // note: ';' is the (unescapable) entry separator of this dev knob —
    // a VALUE containing ';' cannot be passed through it. Keys are
    // trimmed BEFORE the emptiness guard so a whitespace-only key is
    // skipped instead of reaching spark.conf.set("") and throwing.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2).map(_.trim) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k, v)
        case _ =>
      }
    })
    spark.sparkContext.setLogLevel("WARN")

    // warm executions that threw (every warm block below); reported in
    // the JSON line, since an unwarmed query measures its own first run
    var warmFailed = 0
    // warmup: load codegen/parquet/shuffle machinery once
    val n = Tables.load(spark, sfDir, "nation")
    val r = Tables.load(spark, sfDir, "region")
    n.join(r, n("n_regionkey") === r("r_regionkey")).count()
    // ... and the interpreted higher-order evaluator + md5 path (the
    // dedup/ANN block leans on both; measured ~1.7s of one-time JIT on
    // whichever query runs first without this)
    locally {
      import org.apache.spark.sql.functions._
      Tables.load(spark, sfDir, "documents").limit(64)
        .select(aggregate(
          transform(graft.ops.TextOps.tokens(col("text")),
            t => graft.ops.TextOps.h32(t)),
          lit(0L), _ + _).as("warm"),
          // p_rag's native chunk encoder (hash_embed16 kernel)
          graft.ops.Similarity.hashEmbedText(col("text")).as("warm2"))
        .write.format("noop").mode("overwrite").save()
    }
    // ... and the full dedup-pipeline shape on a 64-doc slice
    // (shingle zip_with, minhash transforms, LSH posexplode, window
    // row_number, collect_list pair triangle, star-contraction rounds
    // with local checkpoints): d_dedup_cluster runs alphabetically first
    // and was absorbing ~6 s of whole-family first-execution JIT
    locally {
      val tiny = Tables.load(spark, sfDir, "documents").limit(64)
      graft.ops.Dedup.dupClusters(graft.ops.Dedup.minhashLsh(tiny))
        .write.format("noop").mode("overwrite").save()
    }
    // ... and the Bloom decontamination shape (positions explode +
    // bit_or mask agg + broadcast-nested-loop probe + verify join):
    // measured ~7 s of one-time codegen/JIT on d_decontaminate_bloom
    // without this, vs a ~3.5 s steady-state query
    locally {
      import org.apache.spark.sql.functions.col
      val tiny = Tables.load(spark, sfDir, "documents").limit(64)
      graft.ops.Decontam.overlapBloom(
        tiny.filter(col("doc_id") % 10 =!= 0),
        tiny.filter(col("doc_id") % 10 === 0), n = 4)
        .write.format("noop").mode("overwrite").save()
    }
    // ... and the bigram-LM shape (posexplode + element_at pairing +
    // broadcast LM joins + decimal sum): ~10 s of one-time codegen on
    // t_perplexity without this, vs a ~2 s steady-state query
    locally {
      import org.apache.spark.sql.functions.col
      val tiny = Tables.load(spark, sfDir, "documents").limit(64)
      graft.ops.TextAnalysis.bigramCrossEntropy(
        tiny.filter(col("doc_id") % 10 =!= 0),
        tiny.filter(col("doc_id") % 10 === 0))
        .write.format("noop").mode("overwrite").save()
    }
    // ... and the int8-LSH embedding-dedup shape (sign-bucket explode +
    // cap window + int8 quantize/dot_long scoring + dot_d rescore):
    // d_dedup_embed_lsh runs alphabetically before the s_ann_* family,
    // so it would otherwise absorb the integer-dot kernel's first JIT
    try {
      import org.apache.spark.sql.functions._
      // mirror d_dedup_embed_lsh's actual shape (planted-dup union →
      // quantize → bucket explode → cap → pair join → rescore) so the
      // timed run reuses the same generated stages, not a
      // broadcast-degenerate 64-row variant of them; warm passes are
      // untimed, so the bigger slice costs the metric nothing
      val tiny = Tables.load(spark, sfDir, "embeddings").limit(512)
      val dup = tiny.filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
          col("label"))
      graft.ops.Dedup.embeddingLshDups(
        tiny.unionByName(dup.select(tiny.columns.map(col): _*)))
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      warmFailed += 1
      System.err.println(s"[bench] embed warm: ${e.getMessage}")
    }
    // ... and the Iceberg writer+reader lifecycle (parquet commit with
    // footer-id stamping, manifest/manifest-list avro, equality-delete
    // keying, compaction, manifest-chain read with the anti-join delete
    // apply, transform pruning): the m_iceberg_* family was the one
    // operator block with NO warm coverage — measured ~4 s of
    // first-execution JIT charged to m_iceberg_eq_delete (5.5 s in-suite
    // vs 2.0-2.4 s solo steady state; TmpIceProf round 1 = 6.2 s, round
    // 3 = 1.8 s for the identical lifecycle). A 256-row lifecycle in a
    // temp dir absorbs it like the other warm blocks.
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_warm_ice").toFile.getPath
      val tiny = Tables.load(spark, sfDir, "orders").limit(256)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
      graft.materialize.IcebergWriter.createPartitioned(spark, tdir, tiny,
        Seq(("o_orderkey", "bucket[4]"), ("o_orderdate", "year")))
      graft.materialize.IcebergWriter.deleteWhere(spark, tdir,
        col("price") < 1000)
      // after the positional delete (tombstoning over eq-deletes raises)
      graft.materialize.IcebergWriter.upsertKeys(spark, tdir,
        tiny.filter(col("o_orderkey") % 2 === 0)
          .withColumn("price", (col("price") * 2).cast(DecimalType(18, 2))),
        Seq("o_orderkey"))
      graft.materialize.IcebergWriter.compact(spark, tdir)
      graft.materialize.IcebergTable.readPruned(spark, tdir,
          Seq(graft.materialize.IcebergTable.ScanPred(
            "o_orderdate", ">=", "1995-01-01 00:00:00")))
        .groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("s"))
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      warmFailed += 1
      System.err.println(s"[bench] iceberg warm: ${e.getMessage}")
    }
    // ... and the 27-case transpiler-corpus union (q_sql_corpus): the
    // one-query-in-27 gate compiles 27 distinct whole-stage-codegen
    // branches; run them once over limit-64 views of the same tables
    // (same expression shapes, untimed) so the timed run measures the
    // scan+agg work, not first-execution JIT of 27 small stages. The
    // corpus query re-registers the full views itself at execution.
    locally {
      // subset scale dirs (the fifth-decade probe generates only
      // documents/embeddings/events) lack the TPC-H tables: register
      // what exists, skip the rest — a missing view only matters to a
      // corpus case that names it, which then warm-fails like any other
      def registerTolerant(limit: Option[Int]): Unit =
        Tables.names.foreach { nm =>
          try {
            val t = Tables.load(spark, sfDir, nm)
            limit.fold(t)(t.limit(_)).createOrReplaceTempView(nm)
          } catch { case e: Throwable =>
            warmFailed += 1
            System.err.println(s"[bench] view warm $nm: ${e.getMessage}")
          }
        }
      registerTolerant(Some(64))
      graft.queries.SqlCorpus.cases.foreach { c =>
        try graft.transpile.SnowflakeSql.run(spark, c.sf)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          warmFailed += 1
          System.err.println(s"[bench] corpus warm ${c.id}: ${e.getMessage}")
        }
      }
      // restore full views: a later spark.sql/temp-view consumer must
      // never silently run against the limit-64 warm-up views
      registerTolerant(None)
    }
    // Full untimed warm pass: execute every selected query once against
    // a tiny scale dir first, so each timed number measures the query's
    // steady-state computation, not its first-execution codegen/JIT
    // (guide §1 — the same rationale as the hand-written warm blocks
    // above, completed for the whole inventory; a per-query probe
    // measured second executions 1.5-4x faster than first on queries no
    // warm block covered, all of it one-time Janino/JIT). DEFAULT: the
    // sf0.001 sibling of the bench dir when present (the driver's
    // testdata layout); SPARK_GRAFT_WARM_DIR overrides the dir, and an
    // explicitly EMPTY value disables the pass (the r17 A/B: clean-run
    // total 124.9 s unwarmed vs 116.0 s warmed at equal sentinels —
    // OPTIMIZATION_r17.md has both numbers). The timed methodology is
    // unchanged: same queries, same scale factor, same noop sink.
    val warmDir: Option[String] = sys.env.get("SPARK_GRAFT_WARM_DIR") match {
      // explicit opt-out: "off" (unambiguous) or the legacy empty string
      case Some("off") | Some("") => None
      case Some(d) => Some(d)
      case None =>
        val sf = new java.io.File(sfDir)
        Option(sf.getParentFile)
          .map(p => new java.io.File(p, "sf0.001"))
          .filter(d => d.isDirectory &&
            d.getCanonicalPath != sf.getCanonicalPath)
          .map(_.getPath)
    }
    // warm_pass in the JSON line must be TRUTHFUL: a resolved dir whose
    // every warm execution failed (wrong dir, missing tables) is an
    // unwarmed run — recording it warmed would re-create the exact
    // cross-round methodology confusion the field exists to prevent
    var warmRan = false
    warmDir.foreach { wd =>
      SparkEntry.queries.toSeq
        .filter { case (name, _) => onlyQueries.forall(_.contains(name)) }
        .sortBy(_._1).foreach { case (name, fn) =>
          try {
            fn(spark, wd).write.format("noop").mode("overwrite").save()
            warmRan = true
          } catch { case e: Throwable =>
            warmFailed += 1
            System.err.println(s"[bench] warm $name failed: ${e.getMessage}")
          }
        }
    }

    // drop the warm-up's localCheckpoint RDD blocks before timing — they
    // would otherwise hold executor memory for the whole measured run
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

    val spillListener =
      if (recordSpill) Some(graft.telemetry.SpillListener.forContext(spark.sparkContext))
      else None
    // Drift sentinels: two fixed queries timed at the start, midpoint,
    // and end of the measured run (host contention has moved identical
    // code ±1.5× between rounds — SURVEY §8 rounds 5/7; the triples let
    // any reader of a BENCH_r*.json normalize against the machine state
    // DURING that run). Sentinel executions are not counted in `total`
    // or the per-query map; a sentinel failure must not abort the run
    // (measure() tolerates per-query failures for the same reason).
    // per-query spill attribution (dev-only, SPARK_GRAFT_SPILL runs):
    // queries run serially, so a before/after snapshot of the listener's
    // running total attributes spill to the query that caused it (the
    // GraftSession model-attribution recipe; listener-bus async delivery
    // can bleed a task's bytes into the next delta, which at these
    // query durations is noise, not structure). Sentinel executions get
    // their own "__sentinel" entry so the map reconciles with the total.
    val spillByQuery = scala.collection.mutable.LinkedHashMap[String, Long]()
    def recordSpillDelta(name: String, spill0: Long): Unit =
      spillListener.foreach { l =>
        val d = l.totalSpillBytes - spill0
        if (d > 0) spillByQuery += name ->
          (spillByQuery.getOrElse(name, 0L) + d)
      }
    // Plan-shape self-audit (the bench tail must not scroll WARN-class
    // scale signals past the record): any dense join or unpartitioned
    // window outside PlanGuard's audited allowlists is collected and
    // annotated into the JSON line as plan_warnings, so a future
    // corpus-sized offender is visible in the driver record itself.
    val planWarnings = scala.collection.mutable.ArrayBuffer[String]()
    // THE single measurement path — queries and both sentinels go
    // through this exact function, so any future fixed per-query cost
    // added here is visible in the sentinels too. The timer covers
    // DataFrame construction + the noop write ONLY; the PlanGuard walk
    // materializes a SECOND Catalyst planning pass
    // (df.queryExecution.executedPlan plans independently of the write
    // command's own pass), so it runs strictly AFTER the timestamps —
    // round 11 had it inside the timer and every query paid a timed
    // double-planning cost (the judged ~1.3-1.5x phantom regression).
    // A query that throws returns None and is listed in `failed`: its
    // (short) wall time must never read as a fast query.
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    def measure(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Option[Double] = {
      val spill0 = spillListener.map(_.totalSpillBytes).getOrElse(0L)
      var df: org.apache.spark.sql.DataFrame = null
      val t0 = System.nanoTime()
      // noop sink materializes every output column (count() would let
      // Catalyst prune the projection and under-measure).
      val ok = try {
        df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
          false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      recordSpillDelta(name, spill0)
      if (df != null && !name.startsWith("__"))
        graft.plans.PlanGuard
          .scaleWarnings(name, df.queryExecution.executedPlan)
          .foreach(tag => planWarnings += s"$name:$tag")
      // inter-query hygiene, strictly AFTER the timestamps (same rule
      // as the PlanGuard walk): iterative operators (star contraction,
      // PageRank, Lloyd, MMR, model-table builds) localCheckpoint loop
      // state, and Dataset.localCheckpoint has no public unpersist — a
      // 189-query run otherwise accumulates every query's checkpoint
      // blocks in executor storage for the rest of the run (the same
      // class of cross-query contamination as the periodicGC note
      // above). A finished query's checkpoint RDDs are never reused,
      // so dropping them here is free for the query and removes the
      // pressure on its successors.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      if (ok) Some(sec) else None
    }
    // Drift sentinel 1: the same fixed TRIVIAL query (q_scan_project)
    // measures scan latency / host contention. Drift sentinel 2: a
    // fixed PLAN-HEAVY query (join + window + 8-branch union + agg over
    // the small customer/nation tables) whose wall is dominated by
    // per-query fixed costs — analysis/optimization/physical planning
    // and the noop-commit overhead — not by data. Round 11's timer
    // contamination was invisible to sentinel 1 by construction (its
    // plan is trivial); sentinel 2 exists so `tools/bench_compare.py`
    // can separate scan-latency drift (both sentinels move) from
    // per-query fixed-overhead drift (only sentinel 2 moves).
    def sentinel2Query(s: org.apache.spark.sql.SparkSession,
        dir: String): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val ranked = c.join(n, c("c_nationkey") === n("n_nationkey"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("n_name")).orderBy(col("c_acctbal").desc,
            col("c_custkey"))))
        .filter(col("rn") <= 10)
      (1 to 8).map(i => ranked.select(col("n_name"),
          (col("c_acctbal") * i).as("v")))
        .reduce(_ unionByName _)
        .groupBy(col("n_name"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
    }
    def sentinelTime(): Option[Double] =
      measure("__sentinel", SparkEntry.queries("q_scan_project"))
    def sentinel2Time(): Option[Double] = measure("__sentinel2", sentinel2Query)
    // untimed warm pass (JIT/footers): failures count as warm failures
    warmFailed += Seq(sentinelTime(), sentinel2Time()).count(_.isEmpty)
    failed.clear()
    // global spill baseline: bytes spilled before this point (warm-up +
    // first sentinels) are excluded from the reported total, so
    // spill_bytes == sum(spill_by_query) + unattributed listener lag
    val spillBase = spillListener.map(_.totalSpillBytes).getOrElse(0L)
    spillByQuery.clear()
    val sentinels = scala.collection.mutable.ArrayBuffer.from(sentinelTime())
    val sentinels2 = scala.collection.mutable.ArrayBuffer.from(sentinel2Time())

    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => onlyQueries.forall(_.contains(name)) }
      .sortBy(_._1)
    val results = selected.zipWithIndex.flatMap { case ((name, fn), i) =>
      if (i == selected.size / 2 && i > 0) {
        sentinels ++= sentinelTime(); sentinels2 ++= sentinel2Time()
      }
      measure(name, fn).map(name -> _)
    }
    sentinels ++= sentinelTime(); sentinels2 ++= sentinel2Time()
    // The driver captures only a bounded stdout tail, so the JSON line
    // must stay comfortably under ~2000 chars: 3-decimal seconds, numeric
    // sf, and if the full per-query map still overflows, keep the slowest
    // entries and report how many sub-threshold ones were elided.
    val total = results.map(_._2).sum
    val sf = "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    // Locale.ROOT: a comma-decimal default locale would print 1,234 and
    // break the JSON line
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v))
    def line(entries: Seq[(String, Double)], omitted: Int): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""","omitted_fast_queries":$omitted""" else ""
      val sp = spillListener
        .map { l =>
          // bounded: top spillers only, so a wide spill regime can't
          // push the line past the driver's stdout tail
          val top = spillByQuery.toSeq.sortBy(-_._2).take(20)
          val byQ = if (top.isEmpty) "" else
            top.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }
              .mkString(""","spill_by_query":{""", ",", "}")
          s""","spill_bytes":${l.totalSpillBytes - spillBase}$byQ"""
        }.getOrElse("")
      val sent = sentinels.map(fmt).mkString("[", ",", "]")
      val sent2 = sentinels2.map(fmt).mkString("[", ",", "]")
      // ALWAYS present (bounded: 10 tags max — presence is the signal,
      // the suite has the full list): an explicit [] distinguishes "the
      // detectors ran and found nothing" from a silently-absent field
      val pw = planWarnings.take(10).map("\"" + _ + "\"")
        .mkString(""","plan_warnings":[""", ",", "]")
      // warm_pass makes each record self-describing (the r16→r17
      // comparison was partially a warm-methodology change — ADVICE r17)
      // ALWAYS present, like plan_warnings: failed queries (sentinels
      // included) are left out of `queries` and `total`; the list is
      // bounded, the count is not
      val fl = failed.take(20).map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$om$sp$pw,"failed":$fl,"failed_count":${failed.size},"warm_failed":$warmFailed,"sentinel_sec":$sent,"sentinel2_sec":$sent2,"warm_pass":$warmRan,"sf":$sf}"""
    }
    // tail-reader note: Spark's WindowExec logs "No Partition Defined"
    // WARNs for these audited queries — expected, not plan warnings
    // (each one's window input is provably bounded; see PlanGuard)
    System.err.println("[bench] allowlisted bounded-window queries " +
      "(WindowExec WARNs in the log tail are expected for these): " +
      graft.plans.PlanGuard.boundedWindowAllow.toSeq.sorted
        .mkString(", "))
    val full = line(results, 0)
    val out =
      if (full.length <= 1600) full
      else {
        val slowFirst = results.sortBy(-_._2)
        val keep = Iterator.range(1, slowFirst.size + 1)
          .map(slowFirst.take)
          .takeWhile(e => line(e.sortBy(_._1), results.size - e.size).length <= 1600)
          .toSeq.lastOption.getOrElse(slowFirst.take(10))
        line(keep.sortBy(_._1), results.size - keep.size)
      }
    println(out)
    spark.stop()
  }
}
