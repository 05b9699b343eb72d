package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans of the traced phase, recorded from outside the program: an
  * operation span per client call (with its Catalyst phase times), a job
  * span per Spark job of that call (grouped by a per-operation job
  * group), and a stage span per stage of that job (with its summed task
  * metrics). Spans stay in memory until [[writeSpans]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  private final class OpSpan(val id: Int, val name: String,
      val module: String, val pass: Int, val start: Long) {
    var end = -1L
    val phaseMs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  }
  private final class JobSpan(val id: Int, val group: String, val start: Long,
      val site: String, val stageIds: Set[Int]) {
    var end = -1L
  }
  private final class StageSpan(val key: (Int, Int)) {
    var job = -1
    var start, end = -1L
    var name = ""
    var numTasks, tasks = 0
    // summed over the stage's tasks
    var taskMs, runMs, gcMs = 0L
    var cpuNs, inputB, shReadB, shWriteB, spillB, outputB = 0L
  }

  private val ops = mutable.ArrayBuffer.empty[OpSpan]
  // SQL execution id -> call site of the Dataset action that started it
  private val execSites = mutable.Map.empty[Long, String]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageSpan]
  private val drainGroup = "perfbench-drain"
  @volatile private var drained = false

  private def group(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized(execSites(x.executionId) = x.description)
      case _ =>
    }
    // a job's call site: that of the Dataset action whose SQL execution
    // it belongs to, else that of the RDD action (its last stage's name)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        group(e.properties).foreach { g =>
          val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
            .flatMap(id => execSites.get(id.toLong))
          val site = exec.getOrElse(
            e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
          jobs(e.jobId) = new JobSpan(e.jobId, g, e.time, site, e.stageIds.toSet)
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobs.get(e.jobId).foreach { j =>
          j.end = e.time
          if (j.group == drainGroup) drained = true
        }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        val owner = jobs.values.filter(j => j.end < 0 && j.stageIds(info.stageId))
        if (owner.nonEmpty) {
          val s = stages.getOrElseUpdate((info.stageId, info.attemptNumber()),
            new StageSpan((info.stageId, info.attemptNumber())))
          s.job = owner.map(_.id).max
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
          s.tasks += 1
          s.taskMs += e.taskInfo.duration
          Option(e.taskMetrics).foreach { m =>
            s.runMs += m.executorRunTime
            s.cpuNs += m.executorCpuTime
            s.gcMs += m.jvmGCTime
            s.inputB += m.inputMetrics.bytesRead
            s.shReadB += m.shuffleReadMetrics.totalBytesRead
            s.shWriteB += m.shuffleWriteMetrics.bytesWritten
            s.spillB += m.diskBytesSpilled
            s.outputB += m.outputMetrics.bytesWritten
          }
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        stages.get((info.stageId, info.attemptNumber())).foreach { s =>
          s.name = info.name
          s.numTasks = info.numTasks
          s.start = info.submissionTime.getOrElse(-1L)
          s.end = info.completionTime.getOrElse(-1L)
        }
      }
  }

  /** Catalyst phase times of every Dataset action the program runs
    * inside an operation (e.g. the pipeline's collects and its write). */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** Adds the phases of `qe` to the operation during which they ended;
    * phases planned earlier (a memoized Dataset run again) count nowhere. */
  private def record(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val at = phases.values.map(_.endTimeMs).max
      ops.find(o => o.start <= at && (o.end < 0 || at <= o.end)).foreach { o =>
        phases.foreach { case (k, p) => o.phaseMs(k) += p.durationMs }
      }
    }
  }

  def attach(): Unit = {
    drained = false
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs a marker job and waits until the listener has seen it end: the
    * listener bus delivers in order, so every earlier event is in. */
  def detach(): Unit = {
    sc.setJobGroup(drainGroup, drainGroup, interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count(): Unit
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def opStart(name: String, module: String, pass: Int): Unit = {
    val o = synchronized {
      val o = new OpSpan(ops.size, name, module, pass, System.currentTimeMillis())
      ops += o
      o
    }
    // no job description: SQL executions then keep their call site as theirs
    sc.setJobGroup(s"op-${o.id}", null, interruptOnCancel = false)
  }

  def opEnd(df: Option[DataFrame]): Unit = {
    sc.clearJobGroup()
    val now = System.currentTimeMillis()
    synchronized {
      val o = ops.last
      o.end = now
      // the operation's own Dataset was materialised through toRdd, which
      // the execution listener does not see
      df.foreach { d =>
        d.queryExecution.tracker.phases.foreach { case (k, p) =>
          if (p.endTimeMs >= o.start) o.phaseMs(k) += p.durationMs
        }
      }
    }
  }

  def writeSpans(path: Path): Unit = synchronized {
    val j = new Json
    val lines = mutable.ArrayBuffer.empty[String]
    ops.foreach { o =>
      lines += j.obj("kind" -> j.str("op"), "id" -> j.str(s"op-${o.id}"),
        "parent" -> "null", "name" -> j.str(o.name),
        "module" -> j.str(o.module), "pass" -> o.pass.toString,
        "start" -> o.start.toString, "end" -> o.end.toString,
        "analysis_ms" -> o.phaseMs("analysis").toString,
        "optimization_ms" -> o.phaseMs("optimization").toString,
        "planning_ms" -> o.phaseMs("planning").toString)
    }
    jobs.values.filter(_.group.startsWith("op-")).foreach { jb =>
      lines += j.obj("kind" -> j.str("job"), "id" -> j.str(s"job-${jb.id}"),
        "parent" -> j.str(jb.group), "name" -> j.str(jb.site),
        "start" -> jb.start.toString, "end" -> jb.end.toString)
    }
    stages.values.filter(s => jobs.get(s.job).exists(_.group.startsWith("op-")))
      .foreach { s =>
        lines += j.obj("kind" -> j.str("stage"),
          "id" -> j.str(s"stage-${s.key._1}.${s.key._2}"),
          "parent" -> j.str(s"job-${s.job}"), "name" -> j.str(s.name),
          "start" -> s.start.toString, "end" -> s.end.toString,
          "num_tasks" -> s.numTasks.toString, "tasks" -> s.tasks.toString,
          "task_ms" -> s.taskMs.toString, "run_ms" -> s.runMs.toString,
          "cpu_ns" -> s.cpuNs.toString, "gc_ms" -> s.gcMs.toString,
          "input_b" -> s.inputB.toString, "shuffle_read_b" -> s.shReadB.toString,
          "shuffle_write_b" -> s.shWriteB.toString, "spill_b" -> s.spillB.toString,
          "output_b" -> s.outputB.toString)
      }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
