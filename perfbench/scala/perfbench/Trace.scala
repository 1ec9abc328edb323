package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, made from the benchmark's own code. `op` is the
  * index of the timed op the span belongs to; `parent` is -1 for an op's root. */
final class Span(val id: Int, val parent: Int, val name: String, val op: Int,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  /** Counts the benchmark itself attaches (image evaluations, bytes landed). */
  val extra: mutable.Map[String, Long] = mutable.LinkedHashMap()
}

/** Task and job counts one span caused, summed from listener events. */
final class Counts {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var inputBytes, inputRecords, shuffleRead, shuffleWrite, outputBytes, spill = 0L
  // Catalyst phases of the query executions that started inside the span
  var queries = 0L
  var parseMs, analysisMs, optimizationMs, planningMs, executionMs = 0L
}

/** Attributes jobs, stages and task metrics to the span that submitted them.
  * A job carries its span id in a local property of the submitting thread;
  * stages and tasks follow their job. Runs on the listener-bus thread. */
final class CountingListener extends SparkListener {
  val bySpan = mutable.HashMap[Int, Counts]()
  private val stageSpan = mutable.HashMap[Int, Int]()

  private def counts(span: Int) = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { s =>
      val span = s.toInt
      counts(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(counts(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val c = counts(span)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.outputBytes += m.outputMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Collects the `QueryPlanningTracker` phases and execution time of every query
  * execution; they are attributed to spans by time when the run ends. */
final class PhaseListener extends QueryExecutionListener {
  /** (first phase start ms, phase name → ms, execution ms) */
  val events = mutable.ArrayBuffer[(Long, Map[String, Long], Long)]()

  private def record(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    val start =
      if (phases.isEmpty) System.currentTimeMillis() - durationNs / 1000000L
      else phases.values.map(_.startTimeMs).min
    events += ((start, phases.map { case (k, v) => k -> v.durationMs }, durationNs / 1000000L))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** For untimed warm-up ops: runs every body, records nothing. */
  val off = new Tracer(null, enabled = false)
}

/** Spans around the benchmark's calls into each layer. With tracing off no
  * listener is registered and `span` only runs its body. Spans stay in memory
  * until `toJson` writes them at the end of the run. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val jobs = new CountingListener
  private val phases = new PhaseListener
  if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(phases)
  }

  def span[T](name: String, op: Int)(body: Span => T): T =
    if (!enabled) body(null)
    else {
      val s = new Span(spans.length, stack.headOption.fold(-1)(_.id), name, op,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body(s)
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Innermost span whose wall-clock interval holds `ms`. */
  private def spanAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.startNs)

  def toJson(f: JsonNodeFactory): ArrayNode = {
    val arr = f.arrayNode()
    if (!enabled) return arr
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(phases)
    phases.synchronized {
      phases.events.foreach { case (start, ph, execMs) =>
        spanAt(start).foreach { s =>
          val c = jobs.synchronized(jobs.bySpan.getOrElseUpdate(s.id, new Counts))
          c.queries += 1
          c.parseMs += ph.getOrElse("parsing", 0L)
          c.analysisMs += ph.getOrElse("analysis", 0L)
          c.optimizationMs += ph.getOrElse("optimization", 0L)
          c.planningMs += ph.getOrElse("planning", 0L)
          c.executionMs += execMs
        }
      }
    }
    spans.foreach { s =>
      val o: ObjectNode = arr.addObject()
      o.put("id", s.id).put("parent", s.parent).put("name", s.name).put("op", s.op)
      o.put("start_ns", s.startNs).put("end_ns", s.endNs)
      val c = jobs.synchronized(jobs.bySpan.getOrElse(s.id, new Counts))
      val k = o.putObject("counts")
      k.put("jobs", c.jobs).put("stages", c.stages).put("tasks", c.tasks)
      k.put("executor_cpu_ns", c.cpuNs).put("executor_run_ms", c.runMs).put("gc_ms", c.gcMs)
      k.put("input_bytes", c.inputBytes).put("input_records", c.inputRecords)
      k.put("shuffle_read_bytes", c.shuffleRead).put("shuffle_write_bytes", c.shuffleWrite)
      k.put("output_bytes", c.outputBytes).put("spill_bytes", c.spill)
      k.put("queries", c.queries).put("parse_ms", c.parseMs).put("analysis_ms", c.analysisMs)
      k.put("optimization_ms", c.optimizationMs).put("planning_ms", c.planningMs)
      k.put("execution_ms", c.executionMs)
      s.extra.foreach { case (n, v) => k.put(n, v) }
    }
    arr
  }
}
