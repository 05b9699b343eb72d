package graft.pipeline

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Transforms, Validation}

/** The reference's wine ETL pipeline, Spark-native
  * (SURVEY.md §2.A / §3; reference /root/reference/dags/wine_etl_kaggle.py).
  *
  * The reference runs extract → transform → validate → load → cleanup as
  * five Airflow tasks exchanging CSV paths; here the chain is ONE plan
  * run by ONE write (Catalyst fuses transform, validation and load into
  * it). Only the two whole-column values the transform needs before any
  * row can be written — the price median and the country dictionary —
  * run as their own small aggregates, each collected to the driver as a
  * constant. The reference's semantics are preserved:
  *   - validation is observational, never gating (wine_etl_kaggle.py:100)
  *   - the warehouse write is append by default but overwrite-able
  *     (`:199` if_exists='append' makes re-runs duplicate rows — kept as
  *     explicit caller choice, documented rather than replicated blindly)
  *   - staged-file cleanup after a successful write (`:206-223`).
  */
object WinePipeline {

  /** Declared ingest schema (schema-on-read, no inference pass — see
    * SURVEY §1.3; column set from wine_etl_kaggle.py:106-146,175-194).
    * `points` ingests as string so malformed values survive until the
    * coerce-cast, matching pd.to_numeric(errors='coerce') (`:73`). */
  val ingestSchema: StructType = StructType(Seq(
    StructField("points", StringType),
    StructField("title", StringType),
    StructField("description", StringType),
    StructField("taster_name", StringType),
    StructField("taster_twitter_handle", StringType),
    StructField("price", DoubleType),
    StructField("designation", StringType),
    StructField("variety", StringType),
    StructField("region_1", StringType),
    StructField("region_2", StringType),
    StructField("province", StringType),
    StructField("country", StringType),
    StructField("winery", StringType)))

  /** Extract: the Kaggle file is ONE JSON array → multiLine; a missing
    * path fails fast like the reference's glob+FileNotFoundError
    * (`:57-64`) via the staged-source glob assert. */
  def extract(spark: SparkSession, jsonPath: String): DataFrame = {
    graft.sources.Staged.globAssert(spark, jsonPath)
    graft.sources.Staged.readJsonArray(spark, jsonPath, ingestSchema)
  }

  /** Transform: the full process_data chain (`:69-93`), order preserved. */
  def transform(df: DataFrame): DataFrame = Transforms.chain(
    Transforms.castCoerce("points", IntegerType),            // :73
    Transforms.dropNulls(Seq("points")),                     // :74
    Transforms.imputeConst(Map("taster_twitter_handle" -> "unknown")), // :75
    Transforms.stripChars("taster_twitter_handle", "@"),     // :76
    Transforms.imputeMedian("price"),                        // :77 (exact)
    Transforms.imputeConst(Map("designation" -> "unknown",   // :78
      "winery" -> "unknown")),                               // :79
    Transforms.strLen("title", "title_length"),              // :81
    Transforms.strLen("description", "description_length"),  // :82
    Transforms.binRightClosed("price", "price_category",     // :84-86
      Seq(0, 20, 50, 100, 500),
      Seq("cheap", "affordable", "midrange", "premium", "luxury")),
    Transforms.coalesceCols("region", "region_1", "region_2"), // :88
    Transforms.imputeConst(Map("region" -> "unknown")),      // :89
    Transforms.dictEncode("country", "country_code"))(df)    // :90

  /** The pandera schema (`:104-155`) as engine checks — including the
    * country allowlist that intentionally fails in bulk on real data. */
  val checks: Seq[Validation.Check] = {
    import Validation._
    Seq(
      InRange("points", 50, 100, nullable = false),          // :106-111
      StrLength("title", 3, 200),                            // :112-117
      StrLength("description", 10),                          // :118-122
      Ge("price", 0),                                        // :130-135
      IsIn("country", Seq("US", "France", "Italy", "Spain",  // :141-145
        "Argentina", "Chile", "Australia", "Germany")),
      Ge("title_length", 0, nullable = false),               // :147
      Ge("description_length", 0, nullable = false),         // :148
      NotNull("price_category"),                             // :149
      NotNull("region"),                                     // :150
      NotNull("country_code"))                               // :151
  }

  /** The reference's explicit warehouse DDL type map (`:175-194`),
    * expressed in the Spark DDL the JDBC writer's
    * `createTableColumnTypes` option parses: the reference's `Text`
    * columns (`:178` description) are STRING here — the JDBC dialect
    * renders STRING as the warehouse's text type (TEXT on Postgres, the
    * reference's exact DDL; CLOB on Derby) — and `Float` (`:181`) is
    * DOUBLE (Postgres DOUBLE PRECISION). `price_category` is
    * VARCHAR(50) per `:190` (String(length=50)); the rest VARCHAR(255).
    * Executed-at-runtime evidence: WinePipelineSpec round-trips this map
    * through an embedded Derby warehouse. */
  val warehouseColumnTypes: String = Seq(
    "points INTEGER", "title VARCHAR(255)", "description STRING",
    "taster_name VARCHAR(255)", "taster_twitter_handle VARCHAR(255)",
    "price DOUBLE", "designation VARCHAR(255)",
    "variety VARCHAR(255)", "region_1 VARCHAR(255)", "region_2 VARCHAR(255)",
    "province VARCHAR(255)", "country VARCHAR(255)", "winery VARCHAR(255)",
    "title_length INTEGER", "description_length INTEGER",
    "price_category VARCHAR(50)", "region VARCHAR(255)",
    "country_code SMALLINT").mkString(", ")


  final case class Result(rowsLoaded: Long, validationReport: DataFrame)

  /** Run the whole pipeline: JSON in → parquet warehouse out (JDBC via
    * `jdbcUrl`). `append=true` replicates the reference's re-run
    * duplication (`:199`); default is the safe overwrite. */
  def run(spark: SparkSession, jsonPath: String, warehousePath: String,
      append: Boolean = false, jdbcUrl: Option[String] = None,
      jdbcTable: String = "wine_data",
      cleanupStagingDir: Option[String] = None,
      jdbcColumnTypes: String = warehouseColumnTypes): Result = {
    // Validation is a side observation on the same data — evaluated, never
    // gating (wine_etl_kaggle.py:100). Its counters and the row count ride
    // the write as observed metrics, so the data is scanned once, nothing
    // is cached, and the report is bounded by #checks whatever the data size.
    val observed = Validation.observe(transform(extract(spark, jsonPath)), checks)
    val mode = if (append) "append" else "overwrite"
    jdbcUrl match {
      case Some(url) =>
        graft.sinks.Sinks.jdbcWrite(
          observed.data, url, jdbcTable, jdbcColumnTypes, mode)
      case None =>
        graft.sinks.Sinks.writeParquet(observed.data, warehousePath, mode)
    }
    // read only after the write returned: a failed write has already thrown
    // and never waits on metrics that will not arrive
    val result = Result(observed.rowCount, observed.report())
    // cleanup AFTER the successful write, like the reference's final task;
    // safe because the report is a local relation, not a plan over the input
    cleanupStagingDir.foreach(d => graft.sources.Staged.cleanup(spark, d))
    result
  }

  /** Reference-compat run: materializes the transformed table to CSV
    * between transform and validate/load, then re-reads it with the
    * declared post-transform schema — reproducing the reference's
    * observable CSV round-trip semantics (wine_etl_kaggle.py:92-102:
    * dtype erasure + schema-on-re-read; SURVEY §4.1). Note the round-trip
    * conflates empty strings with nulls (CSV has one empty
    * representation) — faithful to the reference's pandas behavior, and
    * the one observable way this mode can differ from the fused [[run]].
    * The default [[run]] fuses this away; use this mode when byte-level
    * stage artifacts are part of the contract. */
  def runWithCsvStaging(spark: SparkSession, jsonPath: String,
      csvStagePath: String, warehousePath: String): Result = {
    val transformed = transform(extract(spark, jsonPath))
    graft.sinks.Sinks.writeCsv(transformed, csvStagePath)
    // schema-on-re-read: the declared schema plays the role of pandera's
    // coerce=True re-casting after pandas' dtype erasure
    val reRead = graft.sources.Staged.readCsv(
      spark, csvStagePath, transformed.schema)
    val report = spark.createDataFrame(
      Validation.validate(reRead, checks).collect().toSeq.asJava,
      Validation.reportSchema)
    graft.sinks.Sinks.writeParquet(reRead, warehousePath)
    Result(spark.read.parquet(warehousePath).count(), report)
  }

  /** The whisky pipeline stub (reference dags/whisky_etl.py: declares a
    * scraper, never extracts). Modeled as a source stub that reads
    * pre-scraped lot files if present and otherwise yields an empty,
    * correctly-shaped frame — the orchestration shell without the scrape. */
  val whiskyLotSchema: StructType = StructType(Seq(
    StructField("lot_id", LongType),
    StructField("title", StringType),
    StructField("current_bid", DoubleType),
    StructField("auction_url", StringType)))

  def whiskyStub(spark: SparkSession, lotsPath: Option[String] = None): DataFrame =
    lotsPath match {
      case Some(p) => spark.read.schema(whiskyLotSchema).json(p)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], whiskyLotSchema)
    }

  /** Lot analytics the reference's whisky DAG was building toward (its
    * scrape never landed): per-auction bid stats + top lots, runnable on
    * any pre-scraped lots file matching [[whiskyLotSchema]]. */
  def whiskyLotStats(lots: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.Exact._
    lots.groupBy(col("auction_url"))
      .agg(
        count(lit(1)).as("n_lots"),
        dsum(col("current_bid")).as("bid_total"),
        davg(col("current_bid")).as("bid_avg"),
        max(col("current_bid")).as("bid_max"))
  }
}
