package graft.pipeline

import org.apache.spark.sql.SparkSession

/** CLI entry for the wine pipeline: `runMain graft.pipeline.WineMain
  * <wine.json> <warehouseDir> [--append]`. Prints the validation report
  * and load count — the same observable surface the reference's Airflow
  * logs expose (wine_etl_kaggle.py:162,200).
  */
object WineMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: WineMain <wine.json> <warehouseDir> [--append]")
    val Array(json, out) = args.take(2)
    val append = args.contains("--append")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val res = WinePipeline.run(spark, json, out, append = append)
    println(s"[wine] rows loaded: ${res.rowsLoaded} -> $out (append=$append)")
    println("[wine] validation report (non-gating):")
    res.validationReport.orderBy("check_name").show(50, truncate = false)
    spark.stop()
  }
}
