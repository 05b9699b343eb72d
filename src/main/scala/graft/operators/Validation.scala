package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pandera-style declarative, lazy, NON-GATING validation
  * (SURVEY.md §2.A.3; reference /root/reference/dags/wine_etl_kaggle.py:
  * 104-165). A schema is a list of named per-column checks; validation
  * evaluates every check over the whole table in ONE scan (a single
  * projection of per-check violation flags feeding one aggregate — no
  * fan-out of N jobs), collects failures instead of failing fast, and
  * never mutates or filters the data ("Data will fail validations, but we
  * will load into DB anyway", wine_etl_kaggle.py:100).
  *
  * Scale shape: one pass over the data, partial+final aggregation of
  * #checks counters + min/max sample values — driver receives O(#checks)
  * rows, never O(rows).
  */
object Validation {

  sealed trait Check {
    def column: String
    def name: String
    /** Predicate that is TRUE when the row passes. */
    def pass(c: Column): Column
  }
  /** Null fails (pandera nullable=False). */
  final case class NotNull(column: String) extends Check {
    val name = s"${column}_not_null"
    def pass(c: Column): Column = c.isNotNull
  }
  /** Nullable range check: null passes, out-of-range fails. */
  final case class InRange(column: String, lo: Double, hi: Double,
      nullable: Boolean = true) extends Check {
    val name = s"${column}_in_range"
    def pass(c: Column): Column =
      if (nullable) c.isNull || c.between(lo, hi) else c.isNotNull && c.between(lo, hi)
  }
  final case class Ge(column: String, lo: Double, nullable: Boolean = true) extends Check {
    val name = s"${column}_ge"
    def pass(c: Column): Column =
      if (nullable) c.isNull || c >= lo else c.isNotNull && c >= lo
  }
  final case class StrLength(column: String, min: Int, max: Int = Int.MaxValue,
      nullable: Boolean = true) extends Check {
    val name = s"${column}_str_length"
    def pass(c: Column): Column = {
      val ok = length(c).between(min, max)
      if (nullable) c.isNull || ok else c.isNotNull && ok
    }
  }
  final case class IsIn(column: String, allowed: Seq[String],
      nullable: Boolean = false) extends Check {
    val name = s"${column}_isin"
    // non-nullable needs the explicit isNotNull conjunct: bare isin()
    // returns NULL (not false) for null input, and a NULL pass-predicate
    // would make the violation counter silently skip null rows
    def pass(c: Column): Column =
      if (nullable) c.isNull || c.isin(allowed: _*)
      else c.isNotNull && c.isin(allowed: _*)
  }

  /** The report's shape: one row per check. `sample_min`/`sample_max` are
    * the min/max offending values rendered as strings (pandera's
    * failure-case report, aggregated instead of exploded so the result is
    * bounded by #checks, not #rows). */
  val reportSchema: StructType = StructType(Seq(
    StructField("check_name", StringType),
    StructField("violations", LongType),
    StructField("n_rows", LongType, nullable = false),
    StructField("sample_min", StringType),
    StructField("sample_max", StringType)))

  /** The one definition of the report's aggregates, shared by [[validate]]
    * and [[observe]] so the two report paths cannot drift: a `__rows`
    * count, then per check `<name>__n` (violations), `<name>__lo` and
    * `<name>__hi` (offending-value samples). */
  private final class Aggregates(checks: Seq[Check]) {
    require(checks.nonEmpty, "validation needs at least one check")
    // disambiguate repeated (column, check-type) pairs — duplicate names
    // would collide as aggregate aliases and break the stack() unpivot
    val names: Seq[String] = {
      val seen = scala.collection.mutable.Map.empty[String, Int]
      checks.map { ck =>
        val n = seen.updateWith(ck.name)(c => Some(c.getOrElse(0) + 1)).get
        if (n == 1) ck.name else s"${ck.name}_$n"
      }
    }
    val columns: Seq[Column] = count(lit(1)).as("__rows") +:
      names.zip(checks).flatMap { case (name, ck) =>
        val c = col(ck.column)
        val fail = !ck.pass(c)
        Seq(
          sum(when(fail, 1L).otherwise(0L)).as(s"${name}__n"),
          min(when(fail, c.cast(StringType))).as(s"${name}__lo"),
          max(when(fail, c.cast(StringType))).as(s"${name}__hi"))
      }
  }

  /** Lazy-validate: returns the [[reportSchema]] rows —
    * (check_name, violations, n_rows, sample_min, sample_max) — as a plan
    * of one aggregate over `df`.
    */
  def validate(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val aggs = new Aggregates(checks)
    val one = df.agg(aggs.columns.head, aggs.columns.tail: _*)
    // unpivot the single summary row into (check_name, violations, …) rows
    val stackExpr = aggs.names.map { name =>
      s"'$name', `${name}__n`, `${name}__lo`, `${name}__hi`"
    }.mkString(s"stack(${aggs.names.length}, ", ", ", ")")
    one.select(col("__rows"),
        expr(s"$stackExpr as (check_name, violations, sample_min, sample_max)"))
      .select(col("check_name"), col("violations"), col("__rows").as("n_rows"),
        col("sample_min"), col("sample_max"))
  }

  /** A frame whose first action also computes its validation report. */
  final class Observed private[Validation] (val data: DataFrame,
      observation: Observation, names: Seq[String]) {
    /** Rows that passed through `data`'s action. Blocks until that action
      * has finished, so read it only after the action returned. */
    def rowCount: Long = observation.get("__rows").asInstanceOf[Long]

    /** The same rows [[validate]] returns, as a local relation: collecting
      * it starts no job. Blocks like [[rowCount]]. */
    def report(): DataFrame = {
      val m = observation.get
      val rows = names.map(name => Row(name, m(s"${name}__n"), m("__rows"),
        m(s"${name}__lo"), m(s"${name}__hi")))
      data.sparkSession.createDataFrame(rows.asJava, reportSchema)
    }
  }

  /** Observed-validate: `data` is `df` with the report's aggregates
    * attached as observed metrics, so whatever action consumes `data` (a
    * sink write) computes the report in the same pass — validation adds no
    * job and needs no cache. The first action on `data` fills the report. */
  def observe(df: DataFrame, checks: Seq[Check]): Observed = {
    val aggs = new Aggregates(checks)
    val observation = Observation()
    new Observed(df.observe(observation, aggs.columns.head, aggs.columns.tail: _*),
      observation, aggs.names)
  }
}
