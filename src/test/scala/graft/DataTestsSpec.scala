package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DataTests

/** Semantics of the dbt generic data tests: NULL handling matches
  * dbt-core's compiled SQL (relationships skips NULL FKs, not_null
  * only flags NULLs, accepted_values ignores NULLs, expression_is_true
  * treats a NULL predicate as a violation), and the suite summary
  * reports pass/fail per test. */
class DataTestsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def child = {
    import spark.implicits._
    Seq((1L, Option(10L)), (2L, Option(10L)), (3L, Option(99L)),
      (4L, None), (5L, Option(99L)))
      .toDF("id", "fk")
  }

  private def parent = {
    import spark.implicits._
    Seq(10L, 20L).toDF("pk")
  }

  test("relationships reports orphans grouped with counts, skips NULL FKs") {
    val r = DataTests.relationships(child, "fk", parent, "pk").collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("fk") == 99L)
    assert(r.head.getAs[Long]("n_records") == 2L)
  }

  test("unique flags only repeated keys with their multiplicity") {
    val r = DataTests.unique(child, "fk").collect()
    // fk 10 twice, 99 twice; the single NULL is not repeated
    assert(r.map(x => Option(x.get(0)) -> x.getLong(1)).toMap ==
      Map(Option(10L) -> 2L, Option(99L) -> 2L))
  }

  test("expression_is_true counts NULL predicate as a violation") {
    val r = DataTests.expressionIsTrue(child, col("fk") < 50)
    // fk=99 rows fail the predicate, fk=NULL row evaluates NULL → fails
    assert(r.count() == 3)
  }

  test("accepted_values ignores NULLs and groups by offending value") {
    import spark.implicits._
    val df = Seq(Option("O"), Option("F"), Option("P"), Option("P"), None)
      .toDF("status")
    val r = DataTests.acceptedValues(df, "status", Seq("O", "F")).collect()
    assert(r.length == 1)
    assert(r.head.getAs[String]("value_field") == "P")
    assert(r.head.getAs[Long]("n_records") == 2L)
  }

  test("store-failures persists violation tables plus the run summary") {
    val wh = new graft.warehouse.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_audit").toString)
    val summary = DataTests.storeFailures(wh, Seq(
      "orphans" -> DataTests.relationships(child, "fk", parent, "pk"),
      "ids_unique" -> DataTests.unique(child, "id")))
    assert(summary.count() == 2)
    // the stored violation table is queryable after the run
    val stored = wh.read("dbt_test__audit", "orphans").collect()
    assert(stored.length == 1 && stored.head.getAs[Long]("fk") == 99L)
    assert(wh.read("dbt_test__audit", "run_summary")
      .filter(col("status") === "fail").count() == 1)
  }

  test("suite summarizes one row per test with pass/fail status") {
    val s = DataTests.suite(Seq(
      "orphans" -> DataTests.relationships(child, "fk", parent, "pk"),
      "not_null_fk" -> DataTests.notNull(child, "fk"),
      "ids_unique" -> DataTests.unique(child, "id"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(s == Map(
      "orphans" -> (1L, "fail"),
      "not_null_fk" -> (1L, "fail"),
      "ids_unique" -> (0L, "pass")))
  }
}
