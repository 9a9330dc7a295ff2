package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** The LSH bucket kernel ([[graft.functions.LshTableBuckets]]) against
  * the literal-array formulation it replaced, and the plan shape of the
  * LSH ANN operator built on it. */
class LshKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------------------ oracle
  // The replaced formulation, verbatim in effect: every hyperplane is a
  // 64-literal array (md5 → 4 hex bytes → 3-decimal component), sliced
  // to the vector's length and dotted with the DotD kernel; a bit is
  // `when(dot >= 0, 1).otherwise(0)` in Spark's ordering.
  private def planeComponent(table: Int, p: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$table:$p/$d".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    ((java.lang.Long.parseLong(hex, 16) % 2001) - 1000).toDouble / 1000.0
  }

  private def literalBuckets(vec: Column, numPlanes: Int, table: Int,
      maxDim: Int = 64): Column = {
    val bits = (0 until numPlanes).map { p =>
      val plane = array((0 until maxDim)
        .map(d => lit(planeComponent(table, p, d))): _*)
      val dot = graft.functions.VecMath.dotD(
        vec, slice(plane, lit(1), size(vec)))
      when(dot >= 0, lit(1L)).otherwise(lit(0L))
    }
    bits.foldLeft(lit(0L))((acc, b) => acc * 2 + b)
  }

  private def literalTableBuckets(vec: Column, numPlanes: Int,
      numTables: Int): Column =
    array((0 until numTables).map(t => struct(lit(t).as("t"),
      literalBuckets(vec, numPlanes, t).as("b"))): _*)

  // --------------------------------------------------------- generator
  private type JD = java.lang.Double
  private val (zero, negZero, nan, inf, negInf): (JD, JD, JD, JD, JD) =
    (0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
  private val special: Seq[JD] =
    Seq(zero, negZero, nan, inf, negInf, null, 1e-300, -1e300)

  /** Named edge cases plus seeded random vectors: lengths around the
    * 64-dim plane width, mostly Gaussian elements with the special
    * values mixed in. */
  private def vectors(seed: Long, n: Int): Seq[Seq[JD]] = {
    val r = new scala.util.Random(seed)
    def gauss(len: Int): Seq[JD] =
      Seq.fill(len)(Double.box(r.nextGaussian()))
    val named: Seq[Seq[JD]] = Seq(
      null, Seq.empty,
      gauss(1), gauss(63), gauss(64), gauss(65), gauss(100),
      Seq.fill(64)(zero), Seq(zero), Seq.fill(64)(negZero),
      gauss(63) :+ nan, Seq(nan), gauss(64).updated(7, inf),
      gauss(64).updated(0, negInf), Seq(inf, negInf),
      gauss(64).updated(3, null).updated(40, null),
      Seq.fill[JD](64)(null), gauss(65).updated(64, null))
    val lengths = Seq(1, 2, 16, 63, 64, 65)
    val random = Seq.fill(n) {
      val len = if (r.nextBoolean()) lengths(r.nextInt(lengths.size))
        else 1 + r.nextInt(70)
      Seq.fill(len)(if (r.nextInt(12) == 0) special(r.nextInt(special.size))
        else Double.box(r.nextGaussian()))
    }
    named ++ random
  }

  private def vectorFrame(vs: Seq[Seq[JD]]) = {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    // an RDD relation: a local one would be folded by the interpreted
    // evaluator at optimization time and never reach codegen
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.zipWithIndex.map { case (v, i) => Row(i, v) }, 3), schema)
  }

  private def pairs(r: Row, i: Int): Seq[(Int, Long)] =
    r.getSeq[Row](i).map(s => (s.getInt(0), s.getLong(1)))

  private def assertKernelMatchesLiterals(seed: Long, numPlanes: Int,
      numTables: Int): Unit = {
    val vs = vectors(seed, 300)
    val rows = vectorFrame(vs)
      .select(col("id"),
        Similarity.tableBuckets(col("v"), numPlanes, numTables).as("k"),
        literalTableBuckets(col("v"), numPlanes, numTables).as("o"))
      .collect()
    assert(rows.length == vs.size)
    rows.foreach { r =>
      val k = pairs(r, 1)
      assert(k.map(_._1) == (0 until numTables))
      assert(k == pairs(r, 2), s"vector ${vs(r.getInt(0))}")
    }
  }

  private val shapes = Seq((6, 8, 1L), (5, 12, 2L), (8, 8, 3L), (1, 1, 4L))

  test("property: LSH kernel equals the literal-array buckets (codegen)") {
    shapes.foreach { case (planes, tables, seed) =>
      assertKernelMatchesLiterals(seed, planes, tables)
    }
  }

  test("property: LSH kernel equals the literal-array buckets (interpreted)") {
    TestSpark.withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      shapes.foreach { case (planes, tables, seed) =>
        assertKernelMatchesLiterals(seed + 100, planes, tables)
      }
    }
  }

  test("LSH kernel edge buckets: null and over-long vectors 0, NaN dots 1") {
    val vs: Seq[Seq[JD]] =
      Seq(null, Seq.fill[JD](65)(1.0), Seq(nan), Seq.empty)
    val got = vectorFrame(vs)
      .select(col("id"), Similarity.tableBuckets(col("v"), 6, 8).as("k"))
      .collect().sortBy(_.getInt(0)).map(r => pairs(r, 1).map(_._2).distinct)
    // a NaN dot and an empty vector's 0.0 dot both give bit 1 on all 6
    assert(got.toSeq == Seq(Seq(0L), Seq(0L), Seq(63L), Seq(63L)))
  }

  // --------------------------------------------------------- plan shape
  private def annLsh = {
    val e = Tables.load(spark, sf, "embeddings")
    Similarity.lshTopK(e.filter(col("vec_id") < 50), e, k = 5,
      numPlanes = 6, numTables = 8)
  }

  test("lshTopK analyzes to fewer than 100 literals (no plane literals)") {
    val literals = annLsh.queryExecution.analyzed.map(_.expressions
      .map(_.collect { case l: Literal => l }.size).sum).sum
    assert(literals < 100, s"$literals Literal nodes")
  }

  test("lshTopK's AQE final plan has exactly one shuffle exchange") {
    val df = annLsh
    assert(df.collect().nonEmpty)
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = graft.plans.PlanGuard.allNodes(finalPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles == 1, finalPlan.toString)
  }
}
