package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity transform operators (SURVEY.md §2.A.2; reference
  * semantics at /root/reference/dags/wine_etl_kaggle.py:69-93). Each op is
  * a `DataFrame => DataFrame` built purely from codegen'd built-in
  * expressions — zero UDFs — so the whole chain collapses into a single
  * `Project` under whole-stage codegen.
  */
object Transforms {

  /** `pd.to_numeric(errors='coerce')` (wine_etl_kaggle.py:73): non-ANSI
    * cast yields null on malformed input; `try_cast` semantics under ANSI.
    */
  def castCoerce(col0: String, to: DataType): DataFrame => DataFrame =
    df => df.withColumn(col0, try_cast_safe(col(col0), to))

  private def try_cast_safe(c: Column, to: DataType): Column =
    // try_cast is ANSI-proof; identical to cast when ANSI is off.
    c.try_cast(to)

  /** `df.dropna(subset=[...])` (wine_etl_kaggle.py:74). */
  def dropNulls(cols: Seq[String]): DataFrame => DataFrame =
    df => df.na.drop(cols)

  /** `fillna(const)` (wine_etl_kaggle.py:75,78,79,89). */
  def imputeConst(m: Map[String, Any]): DataFrame => DataFrame =
    df => df.na.fill(m)

  /** `str.replace(lit, '', regex=False)` (wine_etl_kaggle.py:76) —
    * `translate` is the literal-safe exact equivalent for single chars. */
  def stripChars(col0: String, chars: String): DataFrame => DataFrame =
    df => df.withColumn(col0, translate(col(col0), chars, ""))

  /** `df[c].fillna(df[c].median())` (wine_etl_kaggle.py:77) — global exact
    * median imputed into nulls. Building the transform runs the median as
    * one scalar aggregate and substitutes it as a literal, so later
    * actions over the result reuse that value instead of re-running the
    * aggregate inside their own plans. `exact=false` switches to
    * approx_percentile for the 100 TB path (SURVEY §4.3).
    */
  def imputeMedian(col0: String, exact: Boolean = true): DataFrame => DataFrame = { df =>
    val med =
      if (exact) df.agg(percentile(col(col0), lit(0.5)))
      else df.agg(approx_percentile(col(col0), lit(0.5), lit(10000)))
    // the cast keeps the aggregate's result type when the median is null
    val m = lit(med.collect().head.get(0)).cast(med.schema.head.dataType)
    df.withColumn(col0, coalesce(col(col0), m))
  }

  /** `len(str(x)) if notnull else 0` (wine_etl_kaggle.py:81-82). */
  def strLen(src: String, dst: String): DataFrame => DataFrame =
    df => df.withColumn(dst, coalesce(length(col(src)), lit(0)).cast(IntegerType))

  /** `pd.cut(bins, labels)` (wine_etl_kaggle.py:84-86): RIGHT-closed /
    * left-open intervals `(b0,b1], (b1,b2], …` — value == lower edge of the
    * first bin (or null, or > last finite edge with no +inf bin) → null.
    * ML `Bucketizer` is left-closed, i.e. wrong here; a `when` chain keeps
    * the exact pandas semantics and stays inside codegen.
    *
    * `bins` are the finite edges (ascending); `labels.length == bins.length`
    * means the last label covers `(bins.last, +inf)`.
    */
  def binRightClosed(src: String, dst: String, bins: Seq[Double],
      labels: Seq[String]): DataFrame => DataFrame = { df =>
    require(labels.length == bins.length || labels.length == bins.length - 1)
    val c = col(src)
    val lower = bins.head
    val bounded = bins.tail.zip(labels).foldLeft(when(c <= lower, lit(null: String))) {
      case (acc, (edge, lab)) => acc.when(c <= edge, lit(lab))
    }
    val full =
      if (labels.length == bins.length) bounded.otherwise(lit(labels.last))
      else bounded
    df.withColumn(dst, when(c.isNull, lit(null: String)).otherwise(full))
  }

  /** `region_1.combine_first(region_2)` (wine_etl_kaggle.py:88). */
  def coalesceCols(dst: String, first: String, second: String): DataFrame => DataFrame =
    df => df.withColumn(dst, coalesce(col(first), col(second)))

  /** `astype('category').cat.codes` (wine_etl_kaggle.py:90): dense int
    * codes assigned by sorted order of distinct values; null → -1.
    *
    * `broadcastCodes` (default true — categorical by definition) builds
    * the dictionary on the driver: one aggregate collects the sorted
    * distinct values, and the code table goes back into the plan as a
    * local relation broadcast-joined to the data. The broadcast ships the
    * whole dictionary to every executor anyway, so holding it on the
    * driver adds no scale limit, and an overflow fails before any data is
    * joined.
    *
    * `broadcastCodes = false` is the high-cardinality path (10⁶+ distinct
    * values, tested): codes come from a range-partitioned sort of the
    * distinct set followed by RDD `zipWithIndex` — contiguous global ids
    * without an unpartitioned window, so the dictionary never funnels
    * through one partition or the driver — and the join back shuffles.
    *
    * `codeType` mirrors pandas' cat.codes dtype widening: ShortType
    * matches the reference's SMALLINT warehouse column, IntegerType for
    * dictionaries past 32k codes.
    */
  def dictEncode(src: String, dst: String, codeType: DataType = ShortType,
      broadcastCodes: Boolean = true): DataFrame => DataFrame = { df =>
    val spark = df.sparkSession
    val codeSchema = StructType(Seq(
      df.schema(src), StructField("__code", LongType, nullable = false)))
    // fail loudly if the dictionary outgrows the code type (e.g. 40k
    // distinct values into ShortType): a silent wrap would collide with
    // the -1 null sentinel and assign duplicate codes
    val maxCode: Long = codeType match {
      case ShortType   => Short.MaxValue.toLong
      case ByteType    => Byte.MaxValue.toLong
      case IntegerType => Int.MaxValue.toLong
      case _           => Long.MaxValue
    }
    val overflow = s"dictEncode: dictionary exceeds ${codeType.simpleString} range at code "
    val codes =
      if (broadcastCodes) {
        // collect_set drops nulls but keeps NaN bit patterns apart, which
        // array_distinct merges as distinct() does; array_sort orders by
        // the column type's Spark ordering, as the shuffle path's sort does
        val dict = df.agg(array_sort(array_distinct(collect_set(col(src)))))
          .collect().head.getSeq[Any](0)
        if (dict.length - 1L > maxCode)
          throw new IllegalArgumentException(
            s"$overflow${maxCode + 1} (${dict.length} distinct values of $src)")
        broadcast(spark.createDataFrame(
          dict.zipWithIndex.map { case (v, i) => Row(v, i.toLong) }.asJava,
          codeSchema))
      } else {
        val indexed = df.select(col(src)).na.drop().distinct()
          .orderBy(col(src)).rdd.zipWithIndex().map {
            case (r, i) => Row(r.get(0), i)
          }
        spark.createDataFrame(indexed, codeSchema)
          .withColumn("__code", when(col("__code") <= lit(maxCode), col("__code"))
            .otherwise(raise_error(concat(lit(overflow),
              col("__code").cast(StringType)))))
      }
    df.join(codes.withColumn(dst, col("__code").cast(codeType)).drop("__code"),
        Seq(src), "left")
      .withColumn(dst, coalesce(col(dst), lit(-1).cast(codeType)))
  }

  /** Compose a chain of transform stages. */
  def chain(stages: (DataFrame => DataFrame)*): DataFrame => DataFrame =
    df => stages.foldLeft(df)((d, f) => f(d))
}
