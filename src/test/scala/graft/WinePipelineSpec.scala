package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.WinePipeline

/** End-to-end wine pipeline parity on the synthetic fixture
  * (src/test/resources/wine_sample.json): 12 rows covering malformed
  * points, boundary prices {0, 20, 20.01, 500, 501}, null regions,
  * @handles, and non-allowlisted countries. */
class WinePipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixture: String =
    getClass.getResource("/wine_sample.json").getPath

  test("full pipeline: extract -> transform -> validate -> load") {
    val out = Files.createTempDirectory("wine_wh").toString
    val res = WinePipeline.run(spark, fixture, s"$out/wine_data")
    // 12 rows in; 2 drop at dropna(points): the null and the uncoercible.
    assert(res.rowsLoaded == 10)
    val loaded = spark.read.parquet(s"$out/wine_data")
    assert(loaded.count() == 10)

    val byTitle = loaded.collect().map(r =>
      r.getAs[String]("title") -> r).toMap
    // price_category boundaries (pd.cut right-closed)
    assert(byTitle("Zero-priced promotional bottle").getAs[String]("price_category") == null)
    assert(byTitle("Quinta dos Avidagos 2011 Avidagos Red").getAs[String]("price_category") == "cheap")
    assert(byTitle("Boundary 20.01 just over cheap").getAs[String]("price_category") == "affordable")
    assert(byTitle("Premium boundary at five hundred").getAs[String]("price_category") == "premium")
    assert(byTitle("Luxury above five hundred").getAs[String]("price_category") == "luxury")
    // @ stripped; null handle imputed to 'unknown'
    assert(byTitle("Nicosia 2013 Vulka Bianco").getAs[String]("taster_twitter_handle") == "kerinokeefe")
    assert(byTitle("Boundary 20.01 just over cheap").getAs[String]("taster_twitter_handle") == "unknown")
    // region coalesce + unknown fallback
    assert(byTitle("Zero-priced promotional bottle").getAs[String]("region") == "Central Coast")
    assert(byTitle("Both regions null goes unknown").getAs[String]("region") == "unknown")
    // null price was median-imputed (median of 10 non-null prices)
    assert(byTitle("Nicosia 2013 Vulka Bianco").getAs[Double]("price") > 0)
    // country_code: dense codes over sorted distinct countries
    val codes = loaded.select("country", "country_code").distinct().collect()
      .map(r => r.getString(0) -> r.getShort(1)).toMap
    assert(codes.values.toSeq.sorted == codes.values.toSeq.distinct.sorted)
    assert(codes("Argentina") == 0) // first in sorted order of this fixture

    // validation report: non-gating, expected violation counts
    val rep = res.validationReport.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("points_in_range") == 1)   // the 45-point row
    assert(rep("title_str_length") == 1)  // "Hi"
    assert(rep("country_isin") == 2)      // Portugal + Narnia
    assert(rep("price_category_not_null") == 1) // the zero-priced row
  }

  test("one run is at most 6 jobs and 3 JSON reads") {
    // the write carries validation and the row count; only the median and
    // the country dictionary run as their own (small) aggregates
    val group = "wine-job-graph"
    val fileBytes = Files.size(java.nio.file.Paths.get(fixture))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val inputBytes = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        inputBytes.put(e.stageInfo.stageId,
          e.stageInfo.taskMetrics.inputMetrics.bytesRead)
    }
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("wine_jobs").toString
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "WinePipeline.run job graph")
      try WinePipeline.run(spark, fixture, s"$out/wine_data")
      finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    val jsonReads = stages.asScala.count(id => inputBytes.getOrDefault(id, 0L) >= fileBytes)
    assert(jobs.get <= 6, s"${jobs.get} jobs")
    assert(jsonReads <= 3, s"$jsonReads stages read the whole JSON file")
  }

  test("a failed write throws its own error, never waits on the report, caches nothing") {
    graft.sinks.DerbyWarehouse.register()
    spark.catalog.clearCache()
    // no create=true: the in-memory database does not exist, so the JDBC
    // sink fails to connect before any row is written
    val url = "jdbc:derby:memory:wine_absent"
    val run = scala.concurrent.Future(
      WinePipeline.run(spark, fixture, warehousePath = "", jdbcUrl = Some(url)))(
      scala.concurrent.ExecutionContext.global)
    val ex = intercept[java.sql.SQLException] {
      scala.concurrent.Await.result(run, scala.concurrent.duration.Duration(120, "s"))
    }
    assert(ex.getMessage.contains("wine_absent"), ex.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  // ---- Kaggle HTTP transport against a local fake server (no egress) ----

  /** Build an in-memory zip of (name → content) entries. */
  private def zipOf(entries: (String, String)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  /** Local HTTP server serving `routes` (path → (status, body)); runs the
    * test body with its base URL, always shut down after. */
  private def withFakeServer(routes: Map[String, (Int, Array[Byte])])(
      body: String => Unit): Unit = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val seenAuth = new java.util.concurrent.atomic.AtomicReference[String]()
    routes.foreach { case (path, (status, bytes)) =>
      server.createContext(path, exchange => {
        seenAuth.set(exchange.getRequestHeaders.getFirst("Authorization"))
        exchange.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) exchange.getResponseBody.write(bytes)
        exchange.close()
      })
    }
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/api/v1")
    finally server.stop(0)
  }

  private val testCreds = sources.KaggleSource.Credentials("alice", "s3cret")

  test("kaggle transport: live fetch downloads, authenticates, and unzips") {
    val archive = zipOf("wine.json" -> """[{"points":"87"}]""",
      "readme.txt" -> "hello")
    withFakeServer(Map(
      "/api/v1/datasets/download/zynicide/wine-reviews" -> (200, archive))) { base =>
      val staging = Files.createTempDirectory("kaggle_live").toString
      val got = sources.KaggleSource.fetch("zynicide/wine-reviews", staging,
        transport = Some(sources.KaggleSource.HttpTransport),
        credentials = Some(testCreds), baseUrl = base)
      assert(got.map(p => java.nio.file.Paths.get(p).getFileName.toString).toSet ==
        Set("wine.json", "readme.txt"))
      val content = Files.readString(java.nio.file.Paths.get(s"$staging/wine.json"))
      assert(content == """[{"points":"87"}]""")
    }
  }

  test("kaggle fetch under a task policy retries a flaky transport") {
    val archive = zipOf("f.txt" -> "x")
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new sources.KaggleSource.Transport {
      def get(url: String, headers: Map[String, String]): (Int, Array[Byte]) =
        if (calls.incrementAndGet() < 3) (503, Array.emptyByteArray)
        else (200, archive)
    }
    val staging = Files.createTempDirectory("kaggle_retry").toString
    val policy = graft.pipeline.TaskPolicy.Policy(retries = 2,
      retryDelay = scala.concurrent.duration.Duration("10ms"),
      timeout = scala.concurrent.duration.Duration("10s"))
    val got = sources.KaggleSource.fetch("a/b", staging,
      transport = Some(flaky), credentials = Some(testCreds),
      policy = Some(policy))
    assert(calls.get == 3 && got.nonEmpty)
    // and with the budget exhausted, the last failure propagates
    val dead = new sources.KaggleSource.Transport {
      def get(url: String, headers: Map[String, String]): (Int, Array[Byte]) =
        (503, Array.emptyByteArray)
    }
    intercept[Exception] {
      sources.KaggleSource.fetch("a/b",
        Files.createTempDirectory("kaggle_dead").toString,
        transport = Some(dead), credentials = Some(testCreds),
        policy = Some(policy))
    }
  }

  test("kaggle transport: basic-auth header carries the kaggle.json cred shape") {
    val archive = zipOf("f.txt" -> "x")
    var captured: String = null
    val capturing = new sources.KaggleSource.Transport {
      def get(url: String, headers: Map[String, String]): (Int, Array[Byte]) = {
        captured = headers("Authorization"); (200, archive)
      }
    }
    val staging = Files.createTempDirectory("kaggle_auth").toString
    sources.KaggleSource.fetch("a/b", staging,
      transport = Some(capturing), credentials = Some(testCreds))
    val expected = "Basic " + java.util.Base64.getEncoder
      .encodeToString("alice:s3cret".getBytes("UTF-8"))
    assert(captured == expected)
  }

  test("kaggle transport: 404 and non-zip bodies fail loudly, mirror untouched") {
    withFakeServer(Map(
      "/api/v1/datasets/download/gone/gone" -> (404, "not found".getBytes("UTF-8")),
      "/api/v1/datasets/download/bad/zip" -> (200, "this is no zip".getBytes("UTF-8")))) { base =>
      val staging = Files.createTempDirectory("kaggle_err").toString
      val e404 = intercept[java.io.IOException] {
        sources.KaggleSource.fetch("gone/gone", staging,
          transport = Some(sources.KaggleSource.HttpTransport),
          credentials = Some(testCreds), baseUrl = base)
      }
      assert(e404.getMessage.contains("HTTP 404"))
      val eZip = intercept[java.io.IOException] {
        sources.KaggleSource.fetch("bad/zip", staging,
          transport = Some(sources.KaggleSource.HttpTransport),
          credentials = Some(testCreds), baseUrl = base)
      }
      assert(eZip.getMessage.contains("not a zip"))
    }
    // the offline path is unchanged: mirror wins even with a transport
    val mirror = Files.createTempDirectory("kaggle_mirror")
    Files.writeString(mirror.resolve("m.json"), "[]")
    val staging2 = Files.createTempDirectory("kaggle_mirror_stage").toString
    val got = sources.KaggleSource.fetch("any/thing", staging2,
      localMirror = Some(mirror.toString),
      transport = Some(sources.KaggleSource.HttpTransport))
    assert(got.map(p => java.nio.file.Paths.get(p).getFileName.toString) ==
      Seq("m.json"))
  }

  test("kaggle transport: zip-slip entries are rejected") {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.putNextEntry(new java.util.zip.ZipEntry("../escape.txt"))
    zos.write("evil".getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val staging = Files.createTempDirectory("kaggle_slip")
    val e = intercept[java.io.IOException] {
      sources.KaggleSource.unzipInto(bos.toByteArray, staging)
    }
    assert(e.getMessage.contains("escapes"))
    assert(!Files.exists(staging.getParent.resolve("escape.txt")))
  }

  test("kaggle transport: redirect is followed, auth dropped cross-host") {
    val archive = zipOf("r.txt" -> "redirected")
    // server A redirects to server B (a different host string: localhost
    // vs 127.0.0.1), which requires NO auth and serves the archive
    val serverB = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val authSeenAtB = new java.util.concurrent.atomic.AtomicReference[String]("unset")
    serverB.createContext("/blob", exchange => {
      authSeenAtB.set(exchange.getRequestHeaders.getFirst("Authorization"))
      exchange.sendResponseHeaders(200, archive.length)
      exchange.getResponseBody.write(archive)
      exchange.close()
    })
    serverB.start()
    val serverA = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    serverA.createContext("/api/v1/datasets/download/r/r", exchange => {
      exchange.getResponseHeaders.set("Location",
        s"http://localhost:${serverB.getAddress.getPort}/blob")
      exchange.sendResponseHeaders(302, -1)
      exchange.close()
    })
    serverA.start()
    try {
      val staging = Files.createTempDirectory("kaggle_redir").toString
      val got = sources.KaggleSource.fetch("r/r", staging,
        transport = Some(sources.KaggleSource.HttpTransport),
        credentials = Some(testCreds),
        baseUrl = s"http://127.0.0.1:${serverA.getAddress.getPort}/api/v1")
      assert(got.map(p => java.nio.file.Paths.get(p).getFileName.toString) ==
        Seq("r.txt"))
      // 127.0.0.1 → localhost is a host change: auth must not be forwarded
      assert(authSeenAtB.get() == null,
        s"Authorization leaked cross-host: ${authSeenAtB.get()}")
    } finally { serverA.stop(0); serverB.stop(0) }
  }

  test("CSV-staged compat run equals the fused run (reference 4.1 round-trip)") {
    val out = Files.createTempDirectory("wine_csv").toString
    val fused = WinePipeline.run(spark, fixture, s"$out/fused")
    val staged = WinePipeline.runWithCsvStaging(
      spark, fixture, s"$out/stage_csv", s"$out/staged")
    assert(staged.rowsLoaded == fused.rowsLoaded)
    val a = spark.read.parquet(s"$out/fused")
    val b = spark.read.parquet(s"$out/staged").select(a.columns.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // and the validation reports agree
    val ra = fused.validationReport.collect().map(_.toString).sorted
    val rb = staged.validationReport.collect().map(_.toString).sorted
    assert(ra.sameElements(rb))
  }

  test("append mode duplicates on re-run (reference :199 semantics)") {
    val out = Files.createTempDirectory("wine_wh2").toString
    WinePipeline.run(spark, fixture, s"$out/w", append = true)
    WinePipeline.run(spark, fixture, s"$out/w", append = true)
    assert(spark.read.parquet(s"$out/w").count() == 20)
  }

  test("JDBC warehouse round-trip (embedded Derby): declared DDL types + append/overwrite") {
    // the reference's actual load path (wine_etl_kaggle.py:167-202) run
    // for real against an embedded warehouse: Derby ships with Spark's
    // jars, so the jdbcWrite + createTableColumnTypes path gets runtime
    // evidence without a network Postgres
    graft.sinks.DerbyWarehouse.register()
    val url = "jdbc:derby:memory:winewh;create=true"
    val props = new java.util.Properties()
    def rows = spark.read.jdbc(url, "wine_data", props).count()

    def load(append: Boolean) = WinePipeline.run(spark, fixture,
      warehousePath = "", jdbcUrl = Some(url), append = append)
    val res = load(append = true)
    assert(res.rowsLoaded == 10 && rows == 10)

    // declared column types survived into the warehouse DDL
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getColumns(null, null, "WINE_DATA", null)
      // Spark quotes identifiers, so Derby stores the names lowercase;
      // uppercase for stable assertion keys
      val cols = Iterator.continually(rs)
        .takeWhile(_.next())
        .map(r => r.getString("COLUMN_NAME").toUpperCase ->
          (r.getString("TYPE_NAME"), r.getInt("COLUMN_SIZE")))
        .toMap
      assert(cols("POINTS")._1 == "INTEGER")
      assert(cols("TITLE") == ("VARCHAR", 255))
      assert(cols("PRICE_CATEGORY") == ("VARCHAR", 50)) // reference :190
      assert(cols("PRICE")._1 == "DOUBLE")
      assert(cols("COUNTRY_CODE")._1 == "SMALLINT")
      // reference Text column (declared STRING): rendered by the dialect
      // as the warehouse's text type — TEXT on Postgres, widest VARCHAR
      // on Derby (see graft.sinks.DerbyVarcharDialect)
      assert(cols("DESCRIPTION") == ("VARCHAR", 32672))
    } finally conn.close()

    // append duplicates on re-run (reference :199); overwrite resets
    load(append = true)
    assert(rows == 20)
    load(append = false)
    assert(rows == 10)
  }

  test("whisky stub yields the declared lot schema, empty without input") {
    val df = WinePipeline.whiskyStub(spark)
    assert(df.schema.fieldNames.toSeq ==
      Seq("lot_id", "title", "current_bid", "auction_url"))
    assert(df.count() == 0)
  }

  test("whisky lot analytics runs on pre-scraped lots") {
    val lots = Files.createTempDirectory("lots").resolve("lots.json")
    Files.writeString(lots,
      """{"lot_id": 1, "title": "Macallan 18", "current_bid": 300.0, "auction_url": "a1"}
        |{"lot_id": 2, "title": "Lagavulin 16", "current_bid": 90.0, "auction_url": "a1"}
        |{"lot_id": 3, "title": "Springbank 10", "current_bid": 120.0, "auction_url": "a2"}
        |""".stripMargin)
    val stats = WinePipeline.whiskyLotStats(
      WinePipeline.whiskyStub(spark, Some(lots.toString)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(stats("a1") == (2L, 390.0 / 2))
    assert(stats("a2") == (1L, 120.0))
  }
}
