package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-engine counters for the traced run: a `SparkListener` for jobs,
  * stages and task metrics, and a `QueryExecutionListener` for Catalyst's
  * phase times. [[measure]] returns one op's deltas.
  */
final class EngineProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var jobs, stages, tasks, singleTaskStages = 0L
  private var taskRunMs, taskCpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  private var analysisMs, optimizationMs, planningMs = 0L
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    if (e.stageInfo.numTasks == 1) singleTaskStages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    Option(e.taskMetrics).foreach { m =>
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(phase: String): Long = p.get(phase).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def unregister(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def counters: Vector[Long] = synchronized {
    Vector(jobs, stages, tasks, singleTaskStages, taskRunMs, taskCpuNs, gcMs,
      shuffleWrite, shuffleRead, spill, analysisMs, optimizationMs, planningMs)
  }

  /** Run `op` and return its result with the engine metrics it caused. */
  def measure[A](op: => A): (A, Map[String, Double]) = {
    val sc = spark.sparkContext
    org.apache.spark.PerfbenchBus.drain(sc)
    val before = counters
    val persisted0 = sc.getPersistentRDDs.size
    val spansFrom = synchronized(taskSpans.size)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val a = op
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    org.apache.spark.PerfbenchBus.drain(sc)
    val d = counters.zip(before).map { case (x, y) => (x - y).toDouble }
    val busyMs = synchronized(EngineProbe.busyMillis(taskSpans.drop(spansFrom).toSeq, t0, t1))
    val cores = sc.defaultParallelism
    a -> Map(
      "spark.jobs" -> d(0), "spark.stages" -> d(1), "spark.tasks" -> d(2),
      "spark.single_task_stages" -> d(3),
      "spark.task_run_s" -> d(4) / 1e3, "spark.task_cpu_s" -> d(5) / 1e9,
      "spark.gc_s" -> d(6) / 1e3,
      "spark.shuffle_write_bytes" -> d(7), "spark.shuffle_read_bytes" -> d(8),
      "spark.spill_bytes" -> d(9),
      "spark.utilization" -> (if (wall > 0) d(4) / 1e3 / (wall * cores) else 0.0),
      "spark.persisted_rdds_delta" -> (sc.getPersistentRDDs.size - persisted0).toDouble,
      "catalyst.analysis_s" -> d(10) / 1e3, "catalyst.optimization_s" -> d(11) / 1e3,
      "catalyst.planning_s" -> d(12) / 1e3,
      "driver.idle_executor_s" -> math.max(0.0, wall - busyMs / 1e3))
  }
}

object EngineProbe {
  /** Milliseconds of [from, to] covered by at least one task interval. */
  def busyMillis(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }
}

/** In-memory spans (name, start, end, parent, op id) around public calls;
  * written as JSON when the traced run ends.
  */
final class Spans(var enabled: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                        parent: Option[Int], op: Int)

  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var currentOp = 0

  def apply[A](name: String)(body: => A): A = if (!enabled) body else {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      synchronized(done += Span(id, name, t0, t1, parent, currentOp))
    }
  }

  def all: Seq[Span] = synchronized(done.toSeq)

  /** Seconds per span name, excluding the time of direct child spans. */
  def selfSeconds(op: Int => Boolean = _ => true): Map[String, Double] = {
    val spans = all.filter(s => op(s.op))
    val childNs = spans.flatMap(s => s.parent.map(_ -> (s.endNs - s.startNs)))
      .groupMapReduce(_._1)(_._2)(_ + _)
    spans.groupMapReduce(_.name)(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9)(_ + _)
  }

  def totalSeconds(name: String, op: Int => Boolean = _ => true): Double =
    all.filter(s => s.name == name && op(s.op)).map(s => (s.endNs - s.startNs) / 1e9).sum

  def json: String = {
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    val self = selfSeconds()
    all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_s":${(s.startNs - t0) / 1e9},""" +
        s""""end_s":${(s.endNs - t0) / 1e9},"parent":${s.parent.getOrElse("null")},"op":${s.op}}"""
    }.mkString("{\"spans\":[", ",\n", "],\"self_seconds\":") +
      Json.obj(self.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }) + "}"
  }
}

object Spans {
  /** Op id of the spans recorded by a workload's traced layer pass. */
  val LayerPass: Int = -1
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
