package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Bpe, Dedup, Multimodal, Similarity}

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val sf = "/root/testdata/sf0.01"

  test("minhash-LSH finds the planted near-duplicate pairs") {
    val pairs = Dedup.minhashLsh(Tables.load(spark, sf, "documents"),
      threshold = 0.5).collect()
    // calibration run found 6 true pairs at jaccard >= 0.5 in sf0.01;
    // LSH with 8 bands x 2 rows catches >= 90% of j >= 0.5 pairs
    assert(pairs.length >= 4, s"got ${pairs.length} pairs")
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }

  test("LSH ANN recall vs brute force is reasonable") {
    val e = Tables.load(spark, sf, "embeddings")
    val queries = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, e, k = 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(queries, e, k = 5, numPlanes = 5,
      numTables = 12).select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // random 64-dim embeddings are LSH's worst case; multi-table
    // bucketing buys recall back (numTables is the knob)
    assert(recall > 0.4, s"recall=$recall")
    assert(approx.nonEmpty)
  }

  test("LSH+int8 composition recalls like plain LSH despite byte scoring") {
    val e = Tables.load(spark, sf, "embeddings")
    val queries = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, e, k = 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val composed = Similarity.lshInt8TopK(queries, e, k = 5,
      numPlanes = 5, numTables = 12)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(composed).size.toDouble / exact.size
    // same candidate buckets as lshTopK; the int8 approximation only
    // reorders within the rescored set, and the exact rescore repairs it
    assert(recall > 0.4, s"recall=$recall")
  }

  test("LSH buckets partition the corpus (no all-in-one-bucket collapse)") {
    val e = Tables.load(spark, sf, "embeddings")
    val buckets = e.select(Similarity.lshBuckets(
      transform(col("embedding"), x => x.cast("double")), 6).as("b"))
      .groupBy("b").count().collect()
    assert(buckets.length > 8, s"only ${buckets.length} buckets")
    assert(buckets.map(_.getLong(1)).max < 500)
  }

  test("multimodal pipeline: decode stub, features, frame sampling") {
    val media = Multimodal.syntheticMedia(spark,
      Tables.load(spark, sf, "documents"))
    val decoded = Multimodal.decode(media)
    assert(decoded.count() == 500)
    val d0 = decoded.filter(_.media_id == 0L).head()
    assert(d0.sha256.length == 64 && d0.byte_len > 0)
    assert(d0.width >= 1 && d0.width <= 1920)
    // images have no duration
    assert(decoded.filter(_.media_type == "image")
      .filter(_.duration_ms != 0L).count() == 0)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.head().feature.length == 8)
    assert(feats.head().feature.forall(f => f >= 0f && f <= 1f))
    // decode is deterministic: same ids -> same sha
    val again = Multimodal.decode(media).filter(_.media_id == 0L).head()
    assert(again.sha256 == d0.sha256)
    val frames = Multimodal.sampleFrames(decoded)
    assert(frames.count() > 0)
    assert(frames.filter(col("frame_ts_ms") % 60000 =!= 0).count() == 0)
  }

  test("simhash of similar docs is closer than dissimilar (hamming)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and once"),
      (3L, "completely different words about spark partitions and shuffles")
    ).toDF("doc_id", "text")
    val sh = Dedup.simhashTable(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)))
  }

  test("bucket cap bounds the pair triangle on a planted giant bucket") {
    import spark.implicits._
    // 40 near-identical docs (one boilerplate cluster) + 2 normal dups:
    // with maxBucket=5, the cluster contributes pairs among its 5
    // lowest ids only (C(5,2)=10 per band at most), while the normal
    // pair is unaffected.
    val boiler = (0 until 40).map(i =>
      (100L + i, "spark shuffle partition exchange broadcast join " +
        s"codegen stage task executor row $i"))
    val normal = Seq(
      (1L, "one perfectly ordinary document about gardens and tea"),
      (2L, "one perfectly ordinary document about gardens and coffee"))
    val docs = (boiler ++ normal).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(docs, blockCols = Seq.empty,
      threshold = 0.3, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every boilerplate pair is within the 5 lowest cluster ids
    val clusterPairs = capped.filter(_._1 >= 100L)
    assert(clusterPairs.nonEmpty)
    assert(clusterPairs.forall { case (a, b) => a <= 104L && b <= 104L },
      s"pair beyond cap: $clusterPairs")
    // the normal near-dup pair survives untouched
    assert(capped.contains((1L, 2L)))
    // audit: the oversized bucket is reported with its drop count
    val over = Dedup.oversizedBuckets(
      docs.withColumn("all", lit(1)), Seq("all"), maxBucket = 5).collect()
    assert(over.length == 1 && over.head.getAs[Long]("dropped_members") == 37L)
  }

  test("IVF ANN recall vs brute force") {
    import graft.ops.Similarity
    val e = Tables.load(spark, sf, "embeddings")
    val queries = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, e, k = 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(queries, e, k = 5,
      nCentroids = 16, nProbe = 6)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall > 0.4, s"ivf recall=$recall")
  }

  test("int8 quantization: bounded reconstruction error, values in range") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = Similarity.quantizeInt8(e).collect()
    assert(q.length == e.count())
    q.foreach { r =>
      val scale = r.getDouble(r.fieldIndex("scale"))
      val qs = r.getSeq[Int](r.fieldIndex("q"))
      assert(qs.forall(v => v >= -127 && v <= 127), "q out of int8 range")
      assert(scale > 0.0)
    }
    // reconstruction: |x - q*scale| <= scale/2 for every dimension
    val orig = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](r.fieldIndex("embedding"))).toMap
    q.take(50).foreach { r =>
      val id = r.getLong(0)
      val scale = r.getDouble(r.fieldIndex("scale"))
      val qs = r.getSeq[Int](r.fieldIndex("q"))
      orig(id).zip(qs).foreach { case (x, v) =>
        assert(math.abs(x.toDouble - v * scale) <= scale / 2 + 1e-12)
      }
    }
  }

  test("int8-scan ANN recall vs exact brute force") {
    val e = Tables.load(spark, sf, "embeddings")
    val queries = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, e, k = 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val int8 = Similarity.int8TopK(queries, e, k = 5, rescore = 32)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(int8).size.toDouble / exact.size
    // int8 quantization barely perturbs cosine order; with a 32-deep
    // rescore the exact top-5 should essentially always survive
    assert(recall > 0.9, s"int8 recall=$recall")
  }

  test("LSH-blocked embedding dedup recovers the planted near-dups") {
    val e = Tables.load(spark, sf, "embeddings")
    val dup = e.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
        col("label"))
    val all = e.unionByName(dup.select(e.columns.map(col): _*))
    val pairs = Dedup.embeddingLshDups(all, threshold = 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 10000)).toSet
    // a cosine≈1 pair agrees with every hyperplane sign, so it collides
    // in essentially every one of the 8 tables
    assert(planted.subsetOf(pairs),
      s"missing ${planted.diff(pairs)} of $planted")
  }

  test("dupClusters: star contraction reaches the transitive closure") {
    import spark.implicits._
    // two components: a 4-chain {1,2,3,4} and a pair {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dupClusters: O(log d) rounds on a worst-case chain graph") {
    import spark.implicits._
    val n = 64 // chain 0-1-…-63, diameter 63
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.dupClustersCounted(pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L))
    // one-hop label propagation needs ~diameter rounds (63 here); star
    // contraction halves path lengths per round — log2(63)≈6 plus the
    // confirming fixpoint round and small alternation constants
    assert(rounds <= 12, s"rounds=$rounds (propagation would need ~$n)")
  }

  test("hash sampling is deterministic and partitioning-invariant") {
    import graft.ops.Sampling
    val docs = Tables.load(spark, sf, "documents")
    val a = Sampling.hashSample(docs, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(docs.repartition(7), "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "sample must not depend on partitioning")
    val n = docs.count().toDouble
    assert(a.size > n * 0.2 && a.size < n * 0.4, s"got ${a.size} of $n")
    // stratified: en downsampled harder than the rest
    val strat = Sampling.stratifiedHashSample(docs, "doc_id", "lang",
      Map("en" -> 0.1), defaultFraction = 0.9)
    val byLang = strat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en").toDouble / totals("en") < 0.25)
  }

  test("chunking: strided overlapping windows with a clamped tail") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // 10 tokens, chunk 4, stride 3 -> starts 1,4,7,10 -> 3 full + 1 tail
    val docs = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ch = TextAnalysis.chunkTable(docs, chunkTokens = 4, stride = 3)
      .orderBy("chunk_idx").collect()
    assert(ch.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    assert(ch.head.getString(2) == "w1 w2 w3 w4")
    assert(ch(1).getString(2) == "w4 w5 w6 w7")
    assert(ch(2).getString(2) == "w7 w8 w9 w10")
    assert(ch.map(_.getInt(3)).toSeq == Seq(4, 4, 4))
    // short doc -> single clamped chunk
    val one = TextAnalysis.chunkTable(
      Seq((2L, "a b")).toDF("doc_id", "text"),
      chunkTokens = 4, stride = 3).collect()
    assert(one.length == 1 && one.head.getString(2) == "a b" &&
      one.head.getInt(3) == 2)
  }

  test("PII redaction scrubs email/ssn/phone/ip and counts them") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val df = Seq(
      "mail a@b.io or x.y+z@sub.example.org call 555-123-4567 " +
        "ssn 123-45-6789 host 192.168.0.1 pi 3.14 ok").toDF("text")
    val r = df.select(
      TextAnalysis.redactPii(col("text")).as("red"),
      TextAnalysis.piiCounts(col("text")).as("c")).select("red", "c.*")
      .collect().head
    val red = r.getString(0)
    assert(red.contains("<EMAIL>") && red.contains("<SSN>") &&
      red.contains("<PHONE>") && red.contains("<IP>"))
    assert(!red.contains("@") && !red.contains("555-123-4567"))
    assert(red.contains("3.14"), "plain decimals must survive")
    assert(r.getInt(1) == 2 && r.getInt(2) == 1 && r.getInt(3) == 1 &&
      r.getInt(4) == 1)
  }

  test("semDedup drops each planted near-dup, keeping its original") {
    val e = Tables.load(spark, sf, "embeddings")
    val dup = e.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
        col("label"))
    val dropped = graft.ops.Dedup.semDedup(
      e.unionByName(dup.select(e.columns.map(col): _*)),
      nCentroids = 16, iterations = 2, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val planted = dup.select("vec_id").collect().map(_.getLong(0))
    assert(planted.nonEmpty)
    // every planted copy is dropped in favor of its original
    planted.foreach(id => assert(dropped.get(id).contains(id - 10000),
      s"planted $id not dropped to ${id - 10000}: ${dropped.get(id)}"))
    // and no original is ever dropped (random vectors aren't 0.99-close)
    assert(dropped.keys.forall(_ >= 10000))
  }

  test("semDedup cell cap bounds the pair stage on a planted giant cell") {
    import spark.implicits._
    // 10 identical-direction vectors -> one cell, all mutually 1.0-close;
    // cap 5 confines the pair triangle to the 5 lowest ids
    val vecs = (0L until 10L).map(i =>
      (i, Array(1.0f + i * 1e-7f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val dropped = graft.ops.Dedup.semDedup(vecs, nCentroids = 1,
      iterations = 1, threshold = 0.99, maxCell = 5)
      .collect().map(_.getLong(0)).sorted
    // ids 1..4 drop to keeper 0; ids 5..9 are beyond the cap — untouched
    assert(dropped.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("resize planning: aspect-preserving fit, never upscaling") {
    import spark.implicits._
    import graft.ops.Multimodal.DecodedMedia
    val decoded = Seq(
      DecodedMedia(1L, "image", 10L, "aa", 1920, 1080, 0L),
      DecodedMedia(2L, "image", 10L, "bb", 300, 200, 0L), // fits already
      DecodedMedia(3L, "video", 10L, "cc", 4000, 4000, 9L)) // not an image
      .toDS()
    val out = graft.ops.Multimodal.resizePlan(decoded, 512, 512)
      .orderBy("media_id").collect()
    assert(out.length == 2)
    // 1920x1080 * (512/1920) = 512 x 288
    assert(out(0).getLong(3) == 512L && out(0).getLong(4) == 288L &&
      out(0).getBoolean(5))
    assert(out(1).getLong(3) == 300L && out(1).getLong(4) == 200L &&
      !out(1).getBoolean(5))
  }

  test("repetition metrics on a crafted document are exact") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // tokens: a b a b a b c — 7 tokens, 3 distinct
    // 2-grams: ab ba ab ba ab bc — top (ab) occurs 3 of 6
    // 3-grams: aba bab aba bab abc — repeated grams cover 4 of 5 slots
    val r = TextAnalysis.repetitionTable(
      Seq((1L, "a b a b a b c"), (2L, "x")).toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
    assert(r(0).getInt(1) == 7)
    assert(r(0).getDouble(2) == 3.0 / 7)
    assert(r(0).getDouble(3) == 3.0 / 6)
    assert(r(0).getDouble(4) == 4.0 / 5)
    // single-token doc: no grams → both gram metrics 0, ttr 1
    assert(r(1).getInt(1) == 1 && r(1).getDouble(2) == 1.0 &&
      r(1).getDouble(3) == 0.0 && r(1).getDouble(4) == 0.0)
  }

  test("decontamination flags exactly the train docs sharing an eval 4-gram") {
    import spark.implicits._
    val evalDocs = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "intro alpha beta gamma delta outro"), // contains eval 4-gram
      (2L, "alpha beta gamma unrelated delta"), // shares words, no 4-gram
      (3L, "completely different content here now")) // disjoint
      .toDF("doc_id", "text")
    val out = graft.ops.Decontam.overlap(train, evalDocs, n = 4).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    assert(out.head.getLong(2) == 1L) // exactly one contaminated 4-gram
    // doc 1 has 3 distinct 4-grams -> hit_frac 1/3
    assert(out.head.getDouble(3) == 1.0 / 3)
  }

  test("decontamination attribution names the matching eval doc + benchmark") {
    import spark.implicits._
    val evalDocs = Seq(
      (100L, "alpha beta gamma delta epsilon", "mmlu_ish"),
      (200L, "one two three four five", "gsm_ish"))
      .toDF("doc_id", "text", "source")
    val train = Seq(
      (1L, "intro alpha beta gamma delta outro one two three four done"),
      (2L, "nothing shared at all here"))
      .toDF("doc_id", "text")
    val out = graft.ops.Decontam.attribution(train, evalDocs, n = 4)
      .orderBy("eval_id").collect()
    // train doc 1 overlaps BOTH eval docs, each attributed separately
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      r.getLong(4))).toSeq ==
      Seq((1L, 100L, "mmlu_ish", 1L), (1L, 200L, "gsm_ish", 1L)))
  }

  test("two-level cell assignment: 1024 centroids, no corpus shuffle") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // deterministic synthetic corpus: 4000 8-dim vectors
    val c = spark.range(0, 4000).select(col("id").as("cand_id"),
      transform(sequence(lit(0), lit(7)), i =>
        (pmod(xxhash64(col("id") * 8 + i), lit(1000)).cast(DoubleType)
          / 500.0) - 1.0).as("cv"))
    val cents = c.filter(col("cand_id") < 1024)
      .select(col("cand_id").as("cell"), col("cv").as("centroid"))
    assert(1024 > Similarity.flatCentroidLimit) // exercises the new path
    val two = Similarity.twoLevelNearestCells(cents, 1024)(c, "cv", 1)
    // exactly one cell per point, all cells legal
    assert(two.count() == 4000)
    assert(two.select("cand_id").distinct().count() == 4000)
    assert(two.filter(col("cell") >= 1024 || col("cell") < 0).count() == 0)
    // every vector with an identical centroid must land on it (the
    // coarse router cannot miss an exact match's own cell)
    val self = two.filter(col("cand_id") < 1024)
      .filter(col("cell") === col("cand_id")).count()
    assert(self == 1024, s"only $self of 1024 self-assignments")
    // agreement with the exact flat argmin stays high away from
    // coarse-cell boundaries
    val flat = Similarity.flatNearestCells(cents)(c, "cv", 1)
      .select(col("cand_id"), col("cell").as("exact_cell"))
    val agree = two.join(flat, "cand_id")
      .filter(col("cell") === col("exact_cell")).count()
    assert(agree >= 2400, s"two-level agreement too low: $agree / 4000")
    // the corpus side is never shuffled or sorted — the only exchanges
    // in the plan operate on centroid-table-sized intermediates
    val plan = two.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(cand_id"),
      s"corpus shuffled:\n$plan")
    assert(!plan.contains("rangepartitioning(cand_id"),
      s"corpus sorted:\n$plan")
    // dispatch: kmeansCells at 1024 centroids runs end-to-end through
    // the two-level path (1 Lloyd iteration over the synthetic corpus)
    val cells = Similarity.kmeansCells(
      c.select(col("cand_id").as("vec_id"),
        col("cv").cast(ArrayType(DoubleType)).as("embedding")),
      nCentroids = 1024, iterations = 1)
    assert(cells.count() == 4000)
  }

  test("PQ ANN: planted near-dups survive the byte scan and rescore to rank 1") {
    val e = Tables.load(spark, sf, "embeddings")
    // plant 1.001x copies; their PQ codes coincide with the originals',
    // so the reconstruction scan must carry them into the rescore set,
    // and the exact rescore must rank them first (cosine ~ 1.0)
    val dup = e.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
        col("label"))
    val corpus = e.unionByName(dup.select(e.columns.map(col): _*))
    val queries = e.filter(col("vec_id") % 100 === 0)
    val top = graft.ops.Similarity.pqTopK(queries, corpus, k = 5)
      .collect()
    val byQuery = top.groupBy(_.getLong(0))
    assert(byQuery.size == queries.count())
    byQuery.foreach { case (qid, rows) =>
      val first = rows.minBy(_.getInt(3))
      assert(first.getLong(1) == qid + 10000,
        s"query $qid rank-1 was ${first.getLong(1)}")
      assert(first.getDouble(2) > 0.999)
    }
    // compression contract: 4 sub-codes of 8 codewords = 2^12 possible
    // reconstructions; determinism: a re-run returns identical rows
    val again = graft.ops.Similarity.pqTopK(queries, corpus, k = 5)
      .collect()
    assert(top.map(_.toString).sorted.toSeq ==
      again.map(_.toString).sorted.toSeq)
  }

  test("PQ ANN: non-contiguous codes (emptied codeword) keep every point") {
    // Duplicate-heavy corpus: the 8 seed vectors hold only TWO distinct
    // values, so after one Lloyd round only codes {0, 6} stay populated
    // per subspace. A position-derived code (position-1 in the sorted
    // codeword array) would relabel them {0, 1}; the reconstruction join
    // on (sub, code) would then silently drop every cluster-B point and
    // B-queries would rank orthogonal A-vectors first. iterations = 1
    // makes the FINAL Lloyd output the non-contiguous one (with ≥2
    // rounds the relabeling is self-consistent and the bug hides).
    import spark.implicits._
    val a = Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f)
    val b = Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f)
    def jit(v: Array[Float], at: Int, d: Float): Array[Float] = {
      val c = v.clone(); c(at) = c(at) + d; c
    }
    val rows =
      (0L to 5L).map(i => (i, a)) ++ Seq((6L, b), (7L, b)) ++
      (8L to 17L).map(i => (i, jit(a, 0, (i - 7) * 1e-4f))) ++
      (18L to 27L).map(i => (i, jit(b, 1, (i - 17) * 1e-4f)))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id").isin(8L, 18L))
    val top = graft.ops.Similarity.pqTopK(queries, corpus, k = 3,
      iterations = 1).collect()
    val byQuery = top.groupBy(_.getLong(0))
    assert(byQuery.keySet == Set(8L, 18L), s"queries lost: ${byQuery.keySet}")
    byQuery.foreach { case (qid, rs) =>
      val first = rs.minBy(_.getInt(3))
      assert(first.getDouble(2) > 0.99,
        s"query $qid rank-1 cosine ${first.getDouble(2)} — same-cluster " +
          "candidates were dropped by the reconstruction join")
    }
  }

  test("leak-free split: planted near-dups always share a split") {
    val d = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val docs = d.unionByName(planted)
    val split = graft.ops.Dedup.leakFreeSplit(docs,
      graft.ops.Dedup.dupClusters(graft.ops.Dedup.minhashLsh(docs)))
    val byId = split.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId.size == docs.count())
    // identical-text pairs are near-dups by construction: every pair
    // must land in the same split, whatever the splits are
    planted.collect().map(_.getLong(0)).foreach { dup =>
      assert(byId(dup) == byId(dup - 10000),
        s"pair (${dup - 10000}, $dup) split across ${byId(dup - 10000)}/${byId(dup)}")
    }
    // and all three buckets exist over the 500-doc corpus
    assert(byId.values.toSet == Set("train", "val", "test"))
  }

  test("paragraph dedup keeps each segment only at its first occurrence") {
    import spark.implicits._
    // doc 1 and doc 2 share segment "e f g h"; doc 3 repeats doc 1's
    // first segment AND has a unique one
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "e f g h x y z w"),
      (3L, "a b c d q r s t")
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.paragraphDedup(docs, segTokens = 4)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(byId(1L) == ((2L, 2L, "a b c d e f g h"))) // first wins whole
    assert(byId(2L) == ((2L, 1L, "x y z w"))) // shared seg dropped
    assert(byId(3L) == ((2L, 1L, "q r s t"))) // repeat of doc1 dropped
    // idempotent: re-running on the deduped text drops nothing
    val again = graft.ops.Dedup.paragraphDedup(
      graft.ops.Dedup.paragraphDedup(docs, segTokens = 4)
        .select(col("doc_id"), col("text_dedup").as("text")),
      segTokens = 4)
    assert(again.filter(col("kept_segments") =!= col("n_segments"))
      .count() == 0)
  }

  test("temperature resample keeps the smallest domain whole, head ~ sqrt") {
    import spark.implicits._
    // 3 domains with 1600/400/100 rows: keep_bp = 2500/5000/10000
    val rows = (0 until 1600).map(i => (i.toLong, "web")) ++
      (2000 until 2400).map(i => (i.toLong, "books")) ++
      (3000 until 3100).map(i => (i.toLong, "wiki"))
    val df = rows.toDF("doc_id", "domain")
    val out = graft.ops.Sampling.temperatureResample(df, "doc_id", "domain")
    val bp = out.select("domain", "keep_bp").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bp == Map("web" -> 2500L, "books" -> 5000L, "wiki" -> 10000L))
    val kept = out.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("wiki") == 100) // smallest domain fully kept
    // hash sampling realizes ~bp/10000 per domain (exact count is
    // data-dependent; bound loosely)
    assert(kept("web") > 300 && kept("web") < 500, kept.toString)
    assert(kept("books") > 140 && kept("books") < 260, kept.toString)
    // deterministic: identical output on a different partitioning
    val re = graft.ops.Sampling.temperatureResample(
      df.repartition(7), "doc_id", "domain")
    assert(re.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("novelty: reference-covered text scores 0, disjoint text 1") {
    import spark.implicits._
    val ref = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val tgt = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "alpha beta gamma delta epsilon one two three four five"))
      .toDF("doc_id", "text")
    val out = graft.ops.Decontam.novelty(tgt, ref, n = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._3 == 0.0, out(1L).toString)   // every 4-gram seen
    assert(out(2L)._3 == 1.0, out(2L).toString)   // fully novel
    // doc 3: 7 distinct 4-grams, only the first 2 (all-greek) are in ref
    assert(out(3L)._1 == 7 && out(3L)._2 == 2L, out(3L).toString)
    assert(out(3L)._3 == 5.0 / 7.0)
  }

  test("incremental dedup matches batch docs to their corpus source") {
    import spark.implicits._
    val corpus = Tables.load(spark, sf, "documents")
    val batch = corpus.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      .unionByName(Seq((99999L,
        "totally novel content zz qq ww ee rr tt yy uu ii oo pp aa"))
        .toDF("doc_id", "text"))
    val out = Dedup.incrementalDups(corpus, batch).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // every planted copy resolves to exactly its source at jaccard 1.0
    val planted = corpus.filter(col("doc_id") % 50 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    assert(planted.nonEmpty)
    planted.foreach { src =>
      assert(out.contains(src + 10000), s"missing verdict for ${src + 10000}")
      assert(out(src + 10000) == ((src, 1.0)), out(src + 10000).toString)
    }
    // the novel doc matches nothing
    assert(!out.contains(99999L))
  }

  test("repeated spans: shared 16-gram found at exact positions") {
    import spark.implicits._
    val shared = (1 to 16).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared"),        // shared span at tokens 4..19
      (2L, s"$shared b1 b2"),           // shared span at tokens 1..16
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14 c15 c16 c17")
    ).toDF("doc_id", "text")            // doc 3: no repeats anywhere
    val spans = Dedup.repeatedSpans(docs, windowTokens = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3))).sortBy(_._1)
    assert(spans.toSeq == Seq((1L, 4, 19, 16), (2L, 1, 16, 16)),
      spans.mkString(", "))
    // a whole-document duplicate yields one full-cover span on both
    val dup = docs.filter(col("doc_id") === 3L)
      .unionByName(Seq((4L,
        "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14 c15 c16 c17"))
        .toDF("doc_id", "text"))
    val full = Dedup.repeatedSpans(dup, windowTokens = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sortBy(_._1)
    assert(full.toSeq == Seq((3L, 1, 17), (4L, 1, 17)))
  }

  test("shuffle shards: complete dense positions, layout-independent") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, s"d$i")).toDF("doc_id", "payload")
    val out = graft.ops.Sampling.shuffleShards(df, "doc_id", nShards = 8)
    val rows = out.select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 500)
    assert(rows.forall { case (_, s, _) => s >= 0 && s < 8 })
    // per-shard positions are exactly 1..n_shard (dense, no gaps/dups)
    rows.groupBy(_._2).foreach { case (s, members) =>
      assert(members.map(_._3).sorted.toSeq == (1L to members.length).toSeq,
        s"shard $s positions not dense")
    }
    // the permutation is a pure function of the key: same assignment on
    // a different partitioning
    val re = graft.ops.Sampling.shuffleShards(
      df.repartition(7), "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(re == rows.toSet)
    // ... and actually shuffled: keys are not assigned in id order
    val shard0 = rows.filter(_._2 == 0L).sortBy(_._3).map(_._1).toSeq
    assert(shard0 != shard0.sorted)
  }

  test("mixture sampling solves the integer downsample-only program") {
    import spark.implicits._
    val rows = (1 to 400).map(i => (i.toLong, "en")) ++
      (1000 until 1100).map(i => (i.toLong, "fr")) ++
      (2000 until 2050).map(i => (i.toLong, "de"))
    val df = rows.toDF("doc_id", "lang")
    val out = graft.ops.Sampling.mixtureSample(df, "doc_id", "lang",
      Map("en" -> 5000, "fr" -> 2000, "de" -> 3000))
    // T = min(400·1e4/5000, 100·1e4/2000, 50·1e4/3000) = min(800,500,166)
    // targets: en 83, fr 33, de 49 → keep_bp 2075 / 3300 / 9800
    val bp = out.select("lang", "keep_bp").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bp == Map("en" -> 2075L, "fr" -> 3300L, "de" -> 9800L))
    // realized counts track the targets (hash threshold is exact-bp,
    // realized count is data-dependent; bound loosely)
    val kept = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("en") > 60 && kept("en") < 110, kept.toString)
    assert(kept("de") > 40, kept.toString) // binding domain nearly whole
    // weights must sum to 10000
    assertThrows[IllegalArgumentException](
      graft.ops.Sampling.mixtureSample(df, "doc_id", "lang",
        Map("en" -> 5000)))
    // deterministic under repartitioning
    val re = graft.ops.Sampling.mixtureSample(df.repartition(7),
      "doc_id", "lang",
      Map("en" -> 5000, "fr" -> 2000, "de" -> 3000))
    assert(re.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("DSIR ranks in-domain documents above out-of-domain ones") {
    import spark.implicits._
    // target seed docs (ids 0,10,...) speak vocabulary A; the raw pool
    // contains in-domain docs (A) and out-of-domain docs (B)
    val aText = "science research method experiment theory result"
    val bText = "soccer goal match player league season score"
    val rows =
      (0 until 100 by 10).map(i => (i.toLong, aText)) ++ // target seeds
      (101 to 120).map(i => (i.toLong, aText)) ++        // in-domain raw
      (201 to 220).map(i => (i.toLong, bText))           // out-of-domain
    val out = graft.ops.Sampling.dsirSelect(
      rows.toDF("doc_id", "text"), isTarget = col("doc_id") % 10 === 0,
      topK = 25).collect()
    val ranked = out.map(r => (r.getLong(0), r.getDouble(1)))
    // every in-domain doc scores above every out-of-domain doc
    val inScores = ranked.filter(t => t._1 >= 101 && t._1 <= 120).map(_._2)
    val outScores = ranked.filter(_._1 >= 201).map(_._2)
    assert(inScores.nonEmpty && inScores.min > (
      if (outScores.isEmpty) Double.NegativeInfinity else outScores.max))
    // deterministic under repartitioning
    val re = graft.ops.Sampling.dsirSelect(
      rows.toDF("doc_id", "text").repartition(7),
      isTarget = col("doc_id") % 10 === 0, topK = 25).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(re.toSeq == ranked.sortBy(_._1).toSeq)
  }

  test("readability computes the Flesch formulas from exact counts") {
    import spark.implicits._
    val df = Seq((1L, "The cat sat. The dog ran!"), (2L, "no punct here"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.ops.TextAnalysis.readability(col("text")).as("r"))
      .select(col("doc_id"), col("r.*"))
    val rows = df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // "The cat sat. The dog ran!" = 6 words, 2 sentences, 6 vowel groups
    assert(rows(1L)._1 == 6 && rows(1L)._2 == 2 && rows(1L)._3 == 6)
    assert(math.abs(rows(1L)._4 - (206.835 - 1.015 * 3.0 - 84.6)) < 1e-12)
    // unpunctuated text floors to one sentence
    assert(rows(2L)._2 == 1)
  }

  test("phrase search counts overlapping consecutive matches") {
    import spark.implicits._
    val df = Seq((1L, "a b c a b"), (2L, "a a a"), (3L, "b a"))
      .toDF("doc_id", "text")
    val ab = graft.ops.Search.phraseSearch(df, Seq("a", "b")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 3 ("b a") has both tokens but not consecutively in order
    assert(ab == Map(1L -> (2L, 1L)))
    val ba = graft.ops.Search.phraseSearch(df, Seq("b", "a")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ba == Map(3L -> (1L, 1L)))
    // overlapping occurrences both count
    val aa = graft.ops.Search.phraseSearch(df, Seq("a", "a")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(aa == Map(2L -> (2L, 1L)))
  }

  test("gopher rules isolate each failure mode") {
    import spark.implicits._
    val good = "the cat sat on the mat and the dog ran to the house today"
    val docs = Seq(
      (1L, good),                                   // passes everything
      (2L, "the cat"),                              // too short
      (3L, good + " #### ##"),                      // symbol-heavy
      (4L, "- alpha beta\n- gamma delta\n- epsilon zeta"), // all bullets
      (5L, "1 2 3 4 5 6 7 8 9 10 11 12 13 14")      // no alpha words
    ).toDF("doc_id", "text")
    val r = docs.select(col("doc_id"),
      graft.ops.TextAnalysis.gopherRules(col("text")).as("r"))
      .select(col("doc_id"), col("r.*")).collect()
      .map(row => row.getLong(0) -> row).toMap
    def b(id: Long, f: String) =
      r(id).getBoolean(r(id).fieldIndex(f))
    assert(b(1, "pass"), r(1).toString)
    assert(!b(2, "r_word_count") && !b(2, "pass"))
    assert(b(2, "r_mean_word_len") && b(2, "r_alpha_words"))
    assert(!b(3, "r_symbol_ratio") && !b(3, "pass"))
    assert(b(3, "r_word_count")) // '#' is not a token
    assert(!b(4, "r_bullet_lines") && !b(4, "pass"))
    assert(!b(5, "r_alpha_words") && !b(5, "r_stopwords") && !b(5, "pass"))
    assert(b(5, "r_word_count"))
  }

  test("bigram LM: in-distribution text scores lower cross-entropy than noise") {
    import spark.implicits._
    val ref = Seq((0L, "the cat sat on the mat the cat ran"))
      .toDF("doc_id", "text")
    val tgt = Seq(
      (1L, "the cat sat on the mat"), // every bigram seen in ref
      (2L, "zz qq ww ee rr tt")       // nothing seen
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.bigramCrossEntropy(tgt, ref)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) < out(2L),
      s"fluent ${out(1L)} should beat noise ${out(2L)}")
    assert(out.values.forall(_ > 0))
  }

  test("pagerank: cycle symmetry, hub accumulation, dangling leak") {
    import spark.implicits._
    // 3-cycle: perfectly symmetric, every rank stays exactly 1/3
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val rc = graft.ops.Graph.pageRank(cycle, iterations = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rc.values.toSet.size == 1)
    assert(math.abs(rc(1L) - 1.0 / 3) < 1e-12)
    // star into node 1, node 1 dangling: hub collects, mass leaks
    val star = Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    val rs = graft.ops.Graph.pageRank(star, iterations = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rs(1L) > rs(2L) && rs(2L) == rs(3L) && rs(3L) == rs(4L))
    assert(rs.values.sum < 1.0) // dangling node 1 leaks its mass
  }

  test("pack manifest: offsets are the ordered cumsum, bucket-invariant") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq.fill(5)("a").mkString(" ")),    // offset 0
      (2L, Seq.fill(250)("b").mkString(" ")),  // offset 5
      (3L, Seq.fill(10)("c").mkString(" "))    // offset 255, straddles
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.packManifest(docs, seqLen = 256,
      bucketSize = 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 5L, 0L, 0L, 0L),
      (2L, 250L, 5L, 0L, 0L),
      (3L, 10L, 255L, 0L, 1L))) // crosses the 256 boundary
    // the bucketed two-level cumsum is a pure strategy choice: any
    // bucket size yields the identical manifest
    val big = graft.ops.TextAnalysis.packManifest(docs, seqLen = 256,
      bucketSize = 1000).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(big.toSeq == out.toSeq)
  }

  test("rrf fusion rewards presence in both rankings, handles absences") {
    import spark.implicits._
    val lex = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val dense = Seq((20L, 1L), (40L, 2L)).toDF("doc_id", "rank")
    val out = graft.ops.Search.rrfFuse(
      Seq("lex" -> lex, "dense" -> dense), topK = 10).collect()
    val byId = out.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // doc 20 is in both rankings -> highest fused score
    assert(out.head.getLong(0) == 20L)
    assert(math.abs(byId(20L) - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    assert(math.abs(byId(10L) - 1.0 / 61) < 1e-15) // lex only
    assert(math.abs(byId(40L) - 1.0 / 62) < 1e-15) // dense only
    // absent ranks are null, not zero
    val r40 = out.find(_.getLong(0) == 40L).get
    assert(r40.isNullAt(1) && r40.getLong(2) == 2L)
  }

  test("rrf fusion with three rankings stays a fixed-order fold") {
    import spark.implicits._
    val a = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rank")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "rank")
    val c = Seq((3L, 1L), (1L, 2L)).toDF("doc_id", "rank")
    val out = graft.ops.Search.rrfFuse(
      Seq("a" -> a, "b" -> b, "c" -> c), topK = 10).collect()
    // fused score column is last (id + one rank column per ranking)
    val byId = out.map(r => r.getLong(0) -> r.getDouble(4)).toMap
    // each doc is rank 1 in one ranking and rank 2 in another: the
    // three-term sums must be the exact left-to-right fold of the
    // 1/(60+r) contributions, identical for all three docs
    val expect = 1.0 / 61 + 1.0 / 62
    assert(byId.values.forall(v => math.abs(v - expect) < 1e-15))
    // deterministic under repartitioning
    val again = graft.ops.Search.rrfFuse(
      Seq("a" -> a.repartition(5), "b" -> b, "c" -> c.repartition(3)),
      topK = 10).collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(again == byId)
  }

  test("bm25 ranks the term-dense document first and bounds top-k") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark merge window"),
      (2L, "spark table row column agg"),
      (3L, "table row column agg join"),
      (4L, "window merge table row column join key value part batch")
    ).toDF("doc_id", "text")
    val out = graft.ops.Search.bm25(docs, Seq("spark", "window", "merge"),
      topK = 2).collect()
    assert(out.length == 2) // topK respected; doc 3 (no match) absent
    assert(out.head.getLong(0) == 1L) // all three terms, high tf
    assert(out.map(_.getDouble(1)).forall(_ > 0))
    assert(out(0).getDouble(1) > out(1).getDouble(1))
  }

  test("BPE training learns the hand-computable merges in order") {
    import spark.implicits._
    // word freqs: lower x3, low x2, newest x1 ->
    //   round 1 pairs: (l,o) 5+, (o,w) 5, (w,e) 4 (3 lower + 1 newest),
    //   (e,r) 3, (e,s) 1, (s,t) 1, (n,e) 1
    //   (l,o)=5 and (o,w)=5 tie -> lex tie-break picks (l,o)
    //   round 2: (lo,w)=5 wins; round 3: (low,e)=4 (3 lower + ... no:
    //   newest has no 'low') -> recount: lower="low e r", newest=
    //   "n e w e s t" -> (low,e)=3, (e,r)=3, (n,e)=1, (e,w)=1, ...
    //   tie (e,r) vs (low,e): count 3 each -> lex picks (e,r)
    val docs = Seq(
      (1L, "lower lower lower"), (2L, "low low"), (3L, "newest")
    ).toDF("doc_id", "text")
    val m = graft.ops.Bpe.trainMerges(docs, "text", rounds = 3)
      .orderBy("merge_rank")
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) == ("l", "o", 5L), s"round1=${m(0)}")
    assert(m(1) == ("lo", "w", 5L), s"round2=${m(1)}")
    assert(m(2) == ("e", "r", 3L), s"round3=${m(2)}")
    // inference twin replays the same merges
    val enc = graft.ops.Bpe.encodeWord("lowers",
      m.map(t => (t._1, t._2)).toSeq)
    assert(enc == Seq("low", "er", "s"), s"enc=$enc")
    // back-to-back occurrences both merge (the double-bar encoding's
    // guarantee): (a,a) twice in "aaaa" -> [aa, aa]
    assert(graft.ops.Bpe.encodeWord("aaaa", Seq(("a", "a"))) ==
      Seq("aa", "aa"))
    // and the odd tail stays single: "aaa" -> [aa, a]
    assert(graft.ops.Bpe.encodeWord("aaa", Seq(("a", "a"))) ==
      Seq("aa", "a"))
  }

  test("BPE incremental and recount strategies learn identical merge tables") {
    import spark.implicits._
    // real corpus slice + the hand-computed toy: force each strategy
    // through Bpe.trainWith and compare full merge tables. The
    // incremental path's delta bookkeeping (full-outer count merge,
    // zero-count drop, touched-set recount) must be exactly equal to a
    // from-scratch recount at every round.
    val docs = Tables.load(spark, sf, "documents").limit(200)
      .unionByName(Seq((90001L, "lower lower lower"), (90002L, "low low"),
        (90003L, "newest")).toDF("doc_id", "text"), allowMissingColumns = true)
      .select("doc_id", "text")
    def table(strategy: Bpe.Strategy): Seq[(Int, String, String, Long)] =
      Bpe.trainWith(docs, "text", rounds = 5, Some(strategy))
        .orderBy("merge_rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
    val recount = table(Bpe.Recount)
    val incremental = table(Bpe.Incremental)
    assert(recount == incremental, s"recount=$recount incr=$incremental")
    assert(recount.length == 5)
  }

  test("BPE strategies agree on a diversified synthetic vocabulary") {
    // the documents corpus has a degenerate vocabulary (30 distinct
    // words at sf0.01); the syllable-composed BpeCrossover corpus has
    // thousands of distinct words with shared subword structure — the
    // shape the incremental strategy exists for (its full-size 1 M+
    // word A/B runs via `runMain graft.BpeCrossover`, SCALING.md r9)
    val docs = graft.BpeCrossover.syntheticCorpus(spark, 20000L, 10000L)
    def table(strategy: Bpe.Strategy): Seq[String] =
      Bpe.trainWith(docs, "text", rounds = 6, Some(strategy))
        .orderBy("merge_rank").collect().map(_.mkString("|")).toSeq
    val recount = table(Bpe.Recount)
    val incremental = table(Bpe.Incremental)
    assert(recount == incremental, s"recount=$recount incr=$incremental")
    assert(recount.length == 6)
  }

  test("BPE training releases all checkpoint blocks except the 1-row tops") {
    // both strategies unpersist superseded AND final-round dictionary/
    // count checkpoints; only the `rounds` 1-row top-pair checkpoints
    // (which back the returned merge table) may stay cached. Guards the
    // round-8 leak fix: before it, cached blocks grew with the round
    // count and squeezed whatever ran after training.
    val docs = Tables.load(spark, sf, "documents").limit(300)
    for (strategy <- Seq(Bpe.Recount, Bpe.Incremental)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val rounds = 4
      Bpe.trainWith(docs, "text", rounds, Some(strategy)).collect()
      val added = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
      assert(added.size <= rounds,
        s"$strategy leaked ${added.size} cached RDDs (> $rounds tops)")
    }
  }

  test("BPE segmentation survives a corpus that learns fewer merges " +
    "than rounds") {
    import spark.implicits._
    // "ab" exhausts after one merge: rounds 2-3 learn nothing, the
    // merge table has 1 row, and segmentVocab must skip the absent
    // merges (try_element_at NULL guard) instead of nulling/throwing
    val docs = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val merges = graft.ops.Bpe.trainMerges(docs, "text", rounds = 3)
    val seg = graft.ops.Bpe.segmentVocab(docs, "text", merges, rounds = 3)
      .collect()
    assert(seg.length == 1)
    assert(seg.head.getString(0) == "ab")
    assert(seg.head.getString(1) == """["ab"]""", seg.head.getString(1))
    assert(seg.head.getInt(2) == 1)
  }

  test("boilerplateStrip domain doc counts ignore token-less documents " +
    "(punctuation-only counts, tab-only does not)") {
    import spark.implicits._
    // dom_docs must equal the number of docs contributing >= 1 segment
    // (the old distinct-over-the-explode semantics). The r17 proxy
    // trim(text) != '' over-counted tab/newline-only docs (Spark trim
    // strips only ASCII spaces) — this construction makes the
    // boilerplate threshold decision FLIP under that over-count:
    // seg S appears in 2 docs; correct dom_docs = 4 (docs 1,2,3,5 —
    // the punctuation-only doc 5 has one whitespace token, the
    // tab-only doc 4 has none), share 2/4 = 0.5 > 0.4 => S stripped;
    // the buggy count of 5 gives 0.4 (not > 0.4) => S kept.
    val seg8 = "aaa bbb ccc ddd eee fff ggg hhh" // exactly one segment
    val docs = Seq(
      (1L, "d", seg8),
      (2L, "d", seg8),
      (3L, "d", "unique zzz"),
      (4L, "d", "\t\n"),
      (5L, "d", "!!!")
    ).toDF("doc_id", "domain", "text")
    val out = graft.ops.TextAnalysis.boilerplateStrip(docs,
      maxDocShare = 0.4).collect()
    val byId = out.map(r => r.getLong(0) -> r.getString(4)).toMap
    // S stripped: docs 1,2 had only S, so they vanish from the output
    assert(!byId.contains(1L) && !byId.contains(2L),
      s"boilerplate segment not stripped: $byId")
    // the tokenful docs survive with their own segments
    assert(byId.get(3L).contains("unique zzz"), byId.toString)
    assert(byId.get(5L).contains("!!!"), byId.toString)
    // the tab-only doc has no segments and never appears
    assert(!byId.contains(4L), byId.toString)
  }
}
