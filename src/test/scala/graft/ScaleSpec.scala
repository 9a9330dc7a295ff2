package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinRollingHash.minRollingHash
import graft.ops.Skew
import graft.warehouse.Warehouse

/** Scale-mechanism tests: salted joins preserve results while spreading
  * keys; bucketed tables join without exchanges; the native rolling-hash
  * expression matches its spec under codegen. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val sf = "/root/testdata/sf0.001"

  /** Join tests run with broadcast off, so the joins shuffle. */
  private def noBroadcast[T](body: => T): T =
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  test("salted join returns exactly the plain join's rows") {
    noBroadcast {
      val o = Tables.load(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.load(spark, sf, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val plain = o.join(c, Seq("o_custkey")).collect().toSet
      val salted = Skew.saltedJoin(o, c, Seq("o_custkey"), 8).collect().toSet
      assert(salted == plain)
      assert(plain.nonEmpty)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    noBroadcast {
      val wh = new Warehouse(spark,
        Files.createTempDirectory("graft_bkt").toString)
      val o = Tables.load(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val l = Tables.load(spark, sf, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      wh.createBucketedTable(o, "main", "orders_b", Seq("o_orderkey"), 4)
      wh.createBucketedTable(l, "main", "lines_b", Seq("o_orderkey"), 4)
      val joined = wh.readBucketed("main", "orders_b")
        .join(wh.readBucketed("main", "lines_b"), Seq("o_orderkey"))
      assert(joined.count() > 0)
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty, s"expected no exchanges, got ${shuffles.length}")
    }
  }

  test("min rolling hash: known value, null under k, codegen path") {
    import spark.implicits._
    // "abcd" windows of 2: ab=97*257+98=25027, bc=98*257+99=25285,
    // cd=99*257+100=25543 -> min 25027
    val df = Seq("abcd", "x", "aaaa").toDF("s")
      .select(col("s"), minRollingHash(col("s"), 2).as("h"))
    val rows = df.collect().map(r => r.getString(0) ->
      (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(rows("abcd") == 97L * 257 + 98)
    assert(rows("x") == -1L) // shorter than k -> null
    assert(rows("aaaa") == 97L * 257 + 97)
    // against a parquet scan the expression stays inside whole-stage
    // codegen (the local Seq above constant-folds to a LocalTableScan,
    // which exercised the interpreted eval path instead)
    val onTable = Tables.load(spark, sf, "documents")
      .select(minRollingHash(lower(col("text")), 8).as("h"))
    // the `*(n)` prefix marks whole-stage-codegen'd operators
    assert(onTable.queryExecution.executedPlan.toString
      .contains("*(1) Project [min_rolling_hash"))
    assert(onTable.filter(col("h").isNotNull).count() > 0)
  }

  test("min shingle h32 equals the HOF h32-window formulation") {
    import graft.functions.MinShingleH32.minShingleH32
    import graft.ops.TextOps.h32
    val docs = Tables.load(spark, sf, "documents").limit(100)
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    val both = docs.select(
      minShingleH32(norm, 5).as("native"),
      when(length(norm) >= 5,
        array_min(transform(sequence(lit(1), length(norm) - 4),
          i => h32(norm.substr(i, lit(5)))))).as("hof"))
    assert(both.filter(col("native") =!= col("hof") ||
      col("native").isNull =!= col("hof").isNull).count() == 0)
    // null under k + codegen path on a parquet scan
    import spark.implicits._
    val tiny = Seq("abcd", "abcde").toDF("s")
      .select(minShingleH32(col("s"), 5).as("h")).collect()
    assert(tiny(0).isNullAt(0) && !tiny(1).isNullAt(0))
    val onTable = Tables.load(spark, sf, "documents")
      .select(minShingleH32(col("text"), 5).as("h"))
    assert(onTable.queryExecution.executedPlan.toString
      .contains("*(1) Project [min_shingle_h32"))
  }

  test("TextHash kernels equal their Column-HOF executable specs") {
    import graft.functions.TextHash
    import graft.ops.{Dedup, TextOps}
    val docs = Tables.load(spark, sf, "documents").limit(200)
    val spec = docs.select(
      transform(TextOps.tokens(col("text")), t => TextOps.h32(t)).as("th"))
      .select(col("th"), TextOps.hashedWordShingles(col("th"), 3).as("sh"),
        Dedup.simhash(col("th")).as("sim"))
      .select(col("th"), col("sh"), col("sim"),
        when(size(col("sh")) > 0, Dedup.minhashSignature(col("sh"), 16))
          .as("sig"))
    val native = docs.select(TextHash.tokenHashes(col("text")).as("th"))
      .select(col("th"), TextHash.hashedNgrams(col("th"), 3).as("sh"),
        TextHash.simHash32(col("th")).as("sim"))
      .select(col("th"), col("sh"), col("sim"),
        TextHash.minHashSig(col("sh"), 16).as("sig"))
    val s = spec.collect()
    val n = native.collect()
    assert(s.length == n.length)
    s.zip(n).foreach { case (a, b) =>
      assert(a.getSeq[Long](0) == b.getSeq[Long](0), "token hashes")
      // distinct order may differ between spec and kernel — compare sets
      assert(a.getSeq[Long](1).toSet == b.getSeq[Long](1).toSet, "shingles")
      assert(a.getLong(2) == b.getLong(2), "simhash")
      assert(a.getSeq[Long](3) == b.getSeq[Long](3), "minhash sig")
    }
    // native kernels stay inside whole-stage codegen on a parquet scan
    val plan = Tables.load(spark, sf, "documents")
      .select(TextHash.simHash32(TextHash.tokenHashes(col("text"))).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [simhash32(token_hashes"))
  }

  test("token lex stats equals the per-lexicon HOF folds in one pass") {
    import graft.ops.{TextAnalysis, TextOps}
    val lexes = TextAnalysis.lexicons.map(_._2)
    val docs = Tables.load(spark, sf, "documents").limit(200)
    val toks = TextOps.tokens(col("text"))
    def oldHits(lex: Seq[String]) = aggregate(toks, lit(0),
      (acc, t) => acc + when(t.isInCollection(lex), 1).otherwise(0))
    val both = docs.select(
      TextAnalysis.tokenLexStats(col("text")).as("st"),
      size(toks).as("old_n"),
      aggregate(toks, lit(0), (acc, t) => acc + length(t)).as("old_len"),
      array(lexes.map(l => oldHits(l).cast("long")): _*).as("old_hits"))
    val bad = both.filter(
      col("st.n_tokens") =!= col("old_n") ||
        col("st.sum_token_len") =!= col("old_len") ||
        col("st.hits") =!= col("old_hits"))
    assert(bad.count() == 0)
    // stays inside whole-stage codegen on a parquet scan
    val plan = Tables.load(spark, sf, "documents")
      .select(TextAnalysis.tokenLexStats(col("text")).as("st"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [token_lex_stats"))
  }

  test("kernels match the Column specs on non-ASCII edge inputs") {
    import spark.implicits._
    import graft.functions.{MinShingleH32, TextHash}
    import graft.ops.{TextAnalysis, TextOps}
    // the two chars whose lower() maps INTO [a-z0-9] (K->k, İ->i+̇ ),
    // plus ſ (stays non-ASCII -> separator) and multi-byte noise
    val rows = Seq(
      "aKb and the der xİy", // K joins a token; İ ends one
      "aſb é ü 中文 the é", // separators only
      "Kelvin: 3K and İstanbul",
      "😀emoji🎈 pad the der die und das ist")
    val df = rows.toDF("text")
    // tokenizer: native kernel vs the regex Column spec
    val tokBad = df.select(
      TextHash.tokenHashes(col("text")).as("native"),
      transform(TextOps.tokens(col("text")), t => TextOps.h32(t)).as("spec"))
      .filter(col("native") =!= col("spec")).count()
    assert(tokBad == 0, "tokenHashes diverges from the regex spec")
    // token stats: counts + lengths vs the HOF folds
    val toks = TextOps.tokens(col("text"))
    val stBad = df.select(
      TextAnalysis.tokenLexStats(col("text")).as("st"),
      size(toks).as("n"),
      aggregate(toks, lit(0), (acc, t) => acc + length(t)).as("len"))
      .filter(col("st.n_tokens") =!= col("n") ||
        col("st.sum_token_len") =!= col("len")).count()
    assert(stBad == 0, "tokenLexStats diverges from the HOF spec")
    // char-shingle minhash: code-point windows vs the substr HOF spec
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    val shBad = df.select(
      MinShingleH32.minShingleH32(norm, 5).as("native"),
      when(length(norm) >= 5,
        array_min(transform(sequence(lit(1), length(norm) - 4),
          i => TextOps.h32(norm.substr(i, lit(5)))))).as("spec"))
      .filter(col("native") =!= col("spec") ||
        col("native").isNull =!= col("spec").isNull).count()
    assert(shBad == 0, "minShingleH32 diverges from the substr spec")
    // rolling hash: code-point values/windows vs an ord()-style spec
    import graft.functions.MinRollingHash.minRollingHash
    val rollSpec = when(length(norm) >= 8,
      array_min(transform(sequence(lit(1), length(norm) - 7),
        i => aggregate(
          transform(sequence(lit(0), lit(7)),
            j => ascii(norm.substr(i + j, lit(1))).cast("long")),
          lit(0L), (acc, v) => (acc * 257 + v) % 1000000007L))))
    val rollBad = df.select(minRollingHash(norm, 8).as("native"),
      rollSpec.as("spec"))
      .filter(col("native") =!= col("spec") ||
        col("native").isNull =!= col("spec").isNull).count()
    assert(rollBad == 0, "minRollingHash diverges from the ord spec")
  }
}
