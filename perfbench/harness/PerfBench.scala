package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Q, SparkEntry}
import graft.pipeline.WinePipeline

/** One closed-loop benchmark run in one JVM: a single client runs one
  * operation at a time, each starting after the previous one ends.
  *
  * Phases, in order:
  *  1. set-up, `setups` times: start a SparkSession and run every
  *     operation once (the warm-up pass); every set-up but the last stops
  *     its session again, which drops the session-scoped artifacts. The
  *     first, JIT-cold warm-up pass writes each output to `<out>/check`
  *     for the caller's oracle comparison;
  *  2. canary: a frozen lineitem scan+agg, the machine-speed yardstick;
  *  3. timed phase: whole passes over the operations, in a seeded order
  *     per pass, for about `seconds`; with `trace=1`, every second pass
  *     runs with a [[Tracer]] attached, whose spans go to `spans.jsonl`.
  *
  * Arguments are `key=value` pairs; see [[Conf]]. Results go to
  * `<out>/result.json` as raw samples: the caller computes the metrics.
  */
object PerfBench {

  final case class Conf(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
    val workload: String = this("workload")
    val out: Path = Paths.get(this("out"))
    val sfDir: String = this("sf_dir")
    val seconds: Double = this("seconds").toDouble
    val setups: Int = this("setups").toInt
    val trace: Boolean = this("trace") == "1"
    val cores: Int = this("cores").toInt
    val seed: Long = this("seed").toLong
    val clkTck: Double = this("clk_tck").toDouble // /proc ticks per second
  }

  /** One unit of client work. `run` returns a result fingerprint (row
    * count, or row count plus validation report) and the DataFrame whose
    * planning tracker the tracer reads, if there is one; given a check
    * directory, it also leaves its output there. */
  trait Op {
    def name: String
    /** Source file (without `.scala`) the operation is defined in. */
    def module: String
    def run(spark: SparkSession, check: Option[Path]): (String, Option[DataFrame])
  }

  /** A registry query, materialised the way `graft.Bench` does it. */
  final case class QueryOp(q: Q, sfDir: String) extends Op {
    def name: String = q.name
    def module: String = q.run.getClass.getName.split('$').head.split('.').last
    def run(spark: SparkSession, check: Option[Path]): (String, Option[DataFrame]) = {
      val df = q.run(spark, sfDir)
      val n = check match {
        case None => df.queryExecution.toRdd.count().toString
        case Some(dir) =>
          df.write.mode("overwrite").parquet(dir.resolve(name).toString)
          q.oracle.foreach(sql => Files.writeString(dir.resolve(s"$name.sql"), sql))
          ""
      }
      spark.catalog.clearCache()
      (n, Some(df))
    }
  }

  /** One `WinePipeline.run` over the generated JSON, overwriting the
    * parquet warehouse: the `WineMain` call path. */
  final case class WineOp(json: String, warehouse: String) extends Op {
    def name: String = "wine_pipeline"
    def module: String = "WinePipeline"
    def run(spark: SparkSession, check: Option[Path]): (String, Option[DataFrame]) = {
      val r = WinePipeline.run(spark, json, warehouse)
      val report = r.validationReport.collect()
        .map(row => s"${row.getString(0)}=${row.getLong(1)}").sorted
      val res = (r.rowsLoaded +: report.toSeq).mkString(";")
      check.foreach(dir => Files.writeString(dir.resolve("wine.txt"), res))
      (res, None)
    }
  }

  def operations(c: Conf): Seq[Op] = c.workload match {
    case "wine" =>
      Seq(WineOp(c("json"), c.out.resolve("warehouse").toString))
    case "registry" =>
      val byName = SparkEntry.registry.map(q => q.name -> q).toMap
      c("queries").split(",").toSeq.map(n => QueryOp(byName.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query $n")), c.sfDir))
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", c.out.resolve("spark-warehouse").toString)
      .config("spark.local.dir", c.out.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Process CPU time (user + system) in seconds, from /proc. */
  def cpuSeconds(clkTck: Double): Double = {
    val stat = Files.readString(Paths.get("/proc/self/stat"))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / clkTck // fields 14 and 15 of stat(5)
  }

  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Staged directories and their bytes under `operators.Stage`'s root. */
  def stagingListing(spark: SparkSession): (Set[String], Long) = {
    val root = Paths.get(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "_graft_stage")
    if (!Files.isDirectory(root)) (Set.empty, 0L)
    else {
      val dirs = Files.list(root).toArray.map(_.toString).toSet
      val walk = Files.walk(root)
      try {
        val bytes = walk.toArray.map(_.asInstanceOf[Path])
          .filter(Files.isRegularFile(_)).map(Files.size).sum
        (dirs, bytes)
      } finally walk.close()
    }
  }

  /** Frozen machine-speed canary: `graft.Bench`'s lineitem scan+agg,
    * copied here so that no change to the program can move it. */
  def canary(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions.{avg, count, lit, sum}
    val t0 = System.nanoTime()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
      .queryExecution.toRdd.count(): Unit
    spark.catalog.clearCache()
    (System.nanoTime() - t0) / 1e9
  }

  final case class Sample(name: String, pass: Int, seconds: Double,
      result: String, error: Option[String])

  def runOp(spark: SparkSession, op: Op, pass: Int,
      check: Option[Path] = None, before: Op => Unit = _ => (),
      after: Option[DataFrame] => Unit = _ => ()): Sample = {
    before(op)
    val t0 = System.nanoTime()
    val (res, df, err) =
      try { val (r, d) = op.run(spark, check); (r, d, None) }
      catch {
        case e: Exception =>
          ("", None, Some(s"${e.getClass.getName}: ${e.getMessage}"))
      }
    val s = (System.nanoTime() - t0) / 1e9
    after(df)
    Sample(op.name, pass, s, res, err)
  }

  /** The samples, wall time and process CPU time of one kind of pass. */
  final class Passes {
    val samples = mutable.ArrayBuffer.empty[Sample]
    var wall, cpu = 0.0
    var stagedDirsCreated = 0
  }

  /** Whole passes, each in a seeded order: as many as the first pass says
    * fill `c.seconds`, and at least three, so that a run's sample count
    * does not hinge on whether a last pass just made it in and every
    * operation has a median. With a tracer, untraced and traced passes
    * alternate, as many of each, so that drift in machine speed hits both
    * alike. Returns (untraced, traced) passes. */
  def timedPhase(spark: SparkSession, ops: Seq[Op], c: Conf,
      tracer: Option[Tracer]): (Passes, Passes) = {
    val plain, traced = new Passes
    var passes = 1
    var pass = 0
    while (pass < passes) {
      val tr = tracer.filter(_ => pass % 2 == 1)
      val into = if (tr.isDefined) traced else plain
      val dirs0 = if (tr.isDefined) stagingListing(spark)._1 else Set.empty[String]
      tr.foreach(_.attach())
      val cpu0 = cpuSeconds(c.clkTck)
      val t0 = System.nanoTime()
      new Random(c.seed * 1000003L + pass).shuffle(ops).foreach { op =>
        into.samples += runOp(spark, op, pass,
          before = o => tr.foreach(_.opStart(o.name, o.module, pass)),
          after = df => tr.foreach(_.opEnd(df)))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      into.wall += dt
      into.cpu += cpuSeconds(c.clkTck) - cpu0
      tr.foreach { t =>
        t.detach()
        into.stagedDirsCreated += (stagingListing(spark)._1 -- dirs0).size
      }
      if (pass == 0) {
        val n = math.max(3, math.ceil(c.seconds / dt).toInt)
        passes = if (tracer.isDefined) 2 * ((n + 1) / 2) else n
      }
      pass += 1
    }
    (plain, traced)
  }

  def main(args: Array[String]): Unit = {
    val c = Conf(args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    // the oracle-gated pair generators (as in graft.Verify), so that every
    // output can be compared with the DuckDB oracle
    System.setProperty("graft.oracle.exact", "true")
    Files.createDirectories(c.out)
    val ops = operations(c)
    val j = new Json
    // wall time of each harness phase, for the run record
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phaseDone(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }

    // 1. set-up, several times; the last session stays up
    val checkDir = c.out.resolve("check")
    Files.createDirectories(checkDir)
    var checkErrors: Seq[(String, String)] = Nil
    val setupS = mutable.ArrayBuffer.empty[Double]
    var warm: Seq[Sample] = Nil
    var spark: SparkSession = null
    for (i <- 0 until c.setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(c)
      val order = new Random(c.seed * 7919L + i).shuffle(ops)
      warm = order.map(op =>
        runOp(spark, op, -1 - i, if (i == 0) Some(checkDir) else None))
      setupS += (System.nanoTime() - t0) / 1e9
      if (i == 0) checkErrors = warm.flatMap(s => s.error.map(s.name -> _))
    }
    val (_, stagedBytes) = stagingListing(spark)
    phaseDone("setup")

    // 2. machine-speed canary, best of three, just before the timed phase
    val canaryS = (1 to 3).map(_ => canary(spark, c.sfDir)).min
    phaseDone("canary")

    // 3. timed phase; with tracing on, its passes alternate between
    //    untraced and traced
    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    val (plain, traced) = timedPhase(spark, ops, c, tracer)
    tracer.foreach(_.writeSpans(c.out.resolve("spans.jsonl")))
    phaseDone("timed")
    val rssKb = peakRssKb()

    def samples(ss: Seq[Sample]): String = j.arr(ss.map { s =>
      j.obj("name" -> j.str(s.name), "pass" -> s.pass.toString,
        "s" -> j.num(s.seconds), "result" -> j.str(s.result),
        "error" -> s.error.map(j.str).getOrElse("null"))
    })
    val fields = Seq(
      "setup_s" -> j.arr(setupS.toSeq.map(j.num)),
      "warmup" -> samples(warm),
      "check_errors" -> j.obj(checkErrors.map { case (k, v) => k -> j.str(v) }: _*),
      "canary_s" -> j.num(canaryS),
      "staged_bytes_after_setup" -> stagedBytes.toString,
      "timed" -> samples(plain.samples.toSeq),
      "timed_wall_s" -> j.num(plain.wall),
      "timed_cpu_s" -> j.num(plain.cpu),
      "traced" -> samples(traced.samples.toSeq),
      "traced_wall_s" -> j.num(traced.wall),
      "staged_dirs_created_timed" -> traced.stagedDirsCreated.toString,
      "peak_rss_kb" -> rssKb.toString,
      "spark_version" -> j.str(spark.version),
      "phase_s" -> j.obj(phases.toSeq.map { case (k, v) => k -> j.num(v) }: _*))
    Files.writeString(c.out.resolve("result.json"), j.obj(fields: _*), UTF_8)
    spark.stop()
  }
}

/** Minimal JSON writer: no JSON library is on the program's classpath. */
final class Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
