package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Validation
import graft.operators.Validation._

/** §2.A.3 check matrix: each check type with one passing and one failing
  * fixture; validation must be non-gating and single-pass. */
class ValidationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("each check counts exactly its violations; data is never gated") {
    val df = Seq(
      (Some(60), Some("hello world"), Some(5.0), Some("US")),
      (Some(40), Some("hi"), Some(-1.0), Some("Narnia")),
      (None, None, None, None))
      .toDF("points", "title", "price", "country")
    val checks = Seq(
      InRange("points", 50, 100, nullable = false),
      StrLength("title", 3, 200),
      Ge("price", 0),
      IsIn("country", Seq("US", "France")))
    val rep = Validation.validate(df, checks).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep("points_in_range") == (2L, 3L))  // 40 fails, null fails
    assert(rep("title_str_length") == (1L, 3L)) // "hi" fails, null passes
    assert(rep("price_ge") == (1L, 3L))         // -1 fails, null passes
    assert(rep("country_isin") == (2L, 3L))     // Narnia AND null both fail
  }

  test("violation samples report min/max offending values as strings") {
    val df = Seq(1.0, -5.0, -2.0, 3.0).toDF("price")
    val rep = Validation.validate(df, Seq(Ge("price", 0))).collect().head
    assert(rep.getLong(1) == 2)
    // samples are rendered to string BEFORE min/max, so ordering is
    // lexicographic ("-2.0" < "-5.0") — deliberately identical to the
    // DuckDB oracle's min(CAST(x AS VARCHAR)) semantics
    assert(rep.getString(3) == "-2.0")
    assert(rep.getString(4) == "-5.0")
  }

  test("the report observed on a write equals validate's rows") {
    val df = Seq(
      (Some(60), Some("hello world"), Some(5.0), Some("US")),
      (Some(40), Some("hi"), Some(-1.0), Some("Narnia")),
      (None, None, None, None))
      .toDF("points", "title", "price", "country")
    // repeated names get _2 suffixes; the null country fails the
    // non-nullable IsIn
    val checks = Seq(
      InRange("points", 50, 100, nullable = false),
      StrLength("title", 3, 200),
      Ge("price", 0),
      Ge("price", 1),
      IsIn("country", Seq("US", "France")),
      IsIn("country", Seq("US")))
    val observed = Validation.observe(df, checks)
    observed.data.write.format("noop").mode("overwrite").save()
    val expected = Validation.validate(df, checks)
    val got = observed.report()
    assert(got.schema == expected.schema)
    assert(got.collect().toSeq == expected.collect().toSeq)
    assert(observed.rowCount == 3)
    assert(got.collect().map(_.getString(0)).toSeq == Seq("points_in_range",
      "title_str_length", "price_ge", "price_ge_2", "country_isin", "country_isin_2"))
  }
}
