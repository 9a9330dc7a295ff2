package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based equivalence for the native byte-scan kernels: ≥10³
  * ScalaCheck-generated Unicode strings — ASCII sentences, the special
  * lower()-folding characters (K, İ), combining marks, CJK, emoji,
  * astral-plane code points, and raw arbitrary-char strings including
  * unpaired surrogates (malformed UTF-16; both paths see the same
  * UTF8String bytes, so equivalence is still well-defined) — batched
  * into one DataFrame and compared column-for-column against the
  * Column-HOF executable specs the kernels replaced. Deterministic:
  * every sample is drawn with a fixed per-index seed. */
class KernelPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val gen: Gen[String] = {
    val special = Gen.oneOf(
      "İ", "K", "ſ", "ß", "Σ", "é", "Ü", "中", "文", "😀", "🎈",
      "̇", "́", // combining marks
      "\uD800", "\uDFFF", // unpaired surrogates
      "Ａ", "ｚ", "①") // fullwidth/enclosed (lower() stays non-ASCII)
    val astral = Gen.choose(0x10000, 0x10FFFF)
      .map(cp => new String(Character.toChars(cp)))
    val asciiWord = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        8 -> Gen.alphaNumChar,
        2 -> Gen.oneOf('.', ',', '!', '-', '_', '\'', '"')))
        .map(_.mkString))
    val token = Gen.frequency(
      5 -> asciiWord, 2 -> special, 1 -> astral)
    val doc = Gen.choose(0, 30).flatMap(n =>
      Gen.listOfN(n, token).map(_.mkString(" ")))
    val rawUnicode = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Char.MinValue, Char.MaxValue))
        .map(_.mkString))
    Gen.frequency(3 -> doc, 1 -> rawUnicode)
  }

  private def samples(n: Int): Seq[String] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private val N = 1200

  test(s"property: tokenizer-family kernels equal their specs on $N generated strings") {
    import spark.implicits._
    import graft.functions.TextHash
    import graft.ops.{Dedup, TextAnalysis, TextOps}
    val df = samples(N).toDF("text")
    // one tokenize per path, named producers (CollapseProject keeps
    // non-cheap multi-reference producers un-inlined)
    val both = df
      .select(col("text"),
        TextHash.tokenHashes(col("text")).as("nth"),
        transform(TextOps.tokens(col("text")), t => TextOps.h32(t)).as("sth"))
      .select(col("text"), col("nth"), col("sth"),
        TextHash.hashedNgrams(col("nth"), 3).as("nsh"),
        array_sort(TextOps.hashedWordShingles(col("sth"), 3)).as("ssh"),
        TextHash.simHash32(col("nth")).as("nsim"),
        Dedup.simhash(col("sth")).as("ssim"))
      .select(col("text"), col("nth"), col("sth"), col("nsh"), col("ssh"),
        col("nsim"), col("ssim"),
        TextHash.minHashSig(col("nsh"), 16).as("nsig"),
        when(size(col("ssh")) > 0, Dedup.minhashSignature(col("ssh"), 16))
          .as("ssig"))
    val bad = both.filter(
      col("nth") =!= col("sth") ||
        col("nsh") =!= col("ssh") ||
        col("nsim") =!= col("ssim") ||
        coalesce(col("nsig") =!= col("ssig"),
          col("nsig").isNull =!= col("ssig").isNull))
    val offenders = bad.select("text").limit(5).collect().map(_.getString(0))
    assert(offenders.isEmpty,
      s"kernel/spec divergence on: ${offenders.map(s => s"<$s>").mkString(", ")}")
    // lexicon stats over the same generated corpus
    val lexes = TextAnalysis.lexicons.map(_._2)
    val toks = TextOps.tokens(col("text"))
    def oldHits(lex: Seq[String]) = aggregate(toks, lit(0),
      (acc, t) => acc + when(t.isInCollection(lex), 1).otherwise(0))
    val stBad = df.select(col("text"),
      TextAnalysis.tokenLexStats(col("text")).as("st"),
      size(toks).as("n"),
      aggregate(toks, lit(0), (acc, t) => acc + length(t)).as("len"),
      array(lexes.map(l => oldHits(l).cast("long")): _*).as("hits"))
      .filter(col("st.n_tokens") =!= col("n") ||
        col("st.sum_token_len") =!= col("len") ||
        col("st.hits") =!= col("hits"))
      .select("text").limit(5).collect().map(_.getString(0))
    assert(stBad.isEmpty,
      s"tokenLexStats divergence on: ${stBad.map(s => s"<$s>").mkString(", ")}")
    // hash embedding: native one-pass kernel vs the interpreted
    // tokenize → 2-md5 → per-dim conv Column spec (p_rag's encoder) —
    // integers all the way to one final /1000.0, so exact == applies
    val embBad = df.select(col("text"),
      graft.ops.Similarity.hashEmbedText(col("text")).as("ne"),
      graft.ops.Similarity.hashEmbedTokens(toks).as("se"))
      .filter(col("ne") =!= col("se"))
      .select("text").limit(5).collect().map(_.getString(0))
    assert(embBad.isEmpty,
      s"hashEmbed16 divergence on: ${embBad.map(s => s"<$s>").mkString(", ")}")
  }

  test("bloom: zero false negatives, theoretical-order FPR on generated sets") {
    import spark.implicits._
    import graft.functions.Bloom
    val bits = 1 << 16
    val k = 3
    val members = (1 to 2000).map(i => (i.toLong * 2654435761L) ^ (i * 97L))
    val memberSet = members.toSet
    val nonMembers = (1 to 20000).map(i => i.toLong * 1000003L + 7L)
      .filterNot(memberSet)
    // build the sparse mask exactly as Decontam.overlapBloom does
    val words = members.toDF("g")
      .select(explode(Bloom.positions(col("g"), bits, k)).as("p"))
      .select(shiftright(col("p"), 6).as("w"),
        call_function("shiftleft", lit(1L),
          pmod(col("p"), lit(64)).cast("int")).as("b"))
      .groupBy(col("w")).agg(bit_or(col("b")).as("word"))
    val mask = words
      .agg(array_sort(collect_list(struct(col("w"), col("word")))).as("ws"))
      .select(transform(col("ws"), e => e.getField("w")).as("wk"),
        transform(col("ws"), e => e.getField("word")).as("wv"))
    val falseNeg = members.toDF("g").crossJoin(broadcast(mask))
      .filter(!Bloom.mayContain(col("wk"), col("wv"), col("g"), bits, k))
      .count()
    assert(falseNeg == 0, s"$falseNeg false negatives — must be impossible")
    val falsePos = nonMembers.toDF("g").crossJoin(broadcast(mask))
      .filter(Bloom.mayContain(col("wk"), col("wv"), col("g"), bits, k))
      .count()
    // theory: (1 - e^(-kn/m))^k ≈ 6.7e-4 → ~13 expected over 20k probes
    assert(falsePos < 100, s"FPR too high: $falsePos / ${nonMembers.size}")
  }

  test(s"property: char-shingle kernels equal their specs on $N generated strings") {
    import spark.implicits._
    import graft.functions.{MinRollingHash, MinShingleH32}
    import graft.ops.TextOps
    val df = samples(N).toDF("text")
      .select(regexp_replace(lower(col("text")), "\\s+", " ").as("norm"))
    val shBad = df.select(col("norm"),
      MinShingleH32.minShingleH32(col("norm"), 5).as("native"),
      when(length(col("norm")) >= 5,
        array_min(transform(sequence(lit(1), length(col("norm")) - 4),
          i => TextOps.h32(col("norm").substr(i, lit(5)))))).as("spec"))
      .filter(coalesce(col("native") =!= col("spec"),
        col("native").isNull =!= col("spec").isNull))
      .select("norm").limit(5).collect().map(_.getString(0))
    assert(shBad.isEmpty,
      s"minShingleH32 divergence on: ${shBad.map(s => s"<$s>").mkString(", ")}")
    val rollSpec = when(length(col("norm")) >= 8,
      array_min(transform(sequence(lit(1), length(col("norm")) - 7),
        i => aggregate(
          transform(sequence(lit(0), lit(7)),
            j => ascii(col("norm").substr(i + j, lit(1))).cast("long")),
          lit(0L), (acc, v) => (acc * 257 + v) % 1000000007L))))
    val rollBad = df.select(col("norm"),
      MinRollingHash.minRollingHash(col("norm"), 8).as("native"),
      rollSpec.as("spec"))
      .filter(coalesce(col("native") =!= col("spec"),
        col("native").isNull =!= col("spec").isNull))
      .select("norm").limit(5).collect().map(_.getString(0))
    assert(rollBad.isEmpty,
      s"minRollingHash divergence on: ${rollBad.map(s => s"<$s>").mkString(", ")}")
  }
}
