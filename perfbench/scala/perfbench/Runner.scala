package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.SparkSession

/** A workload: set-up that can be repeated from nothing, and a fixed op
  * sequence. Every op's observed outputs are recorded; the Python harness
  * checks them, so the Scala side never decides correctness. */
trait Workload {
  /** Fresh inputs and starting state in `dir`, then one untimed warm-up pass.
    * Warm-up outputs go to `warm` so they are checked too. */
  def setup(spark: SparkSession, dir: File, warm: Ops): Unit
  /** The timed ops, in plan order, on the state the last set-up left. */
  def run(spark: SparkSession, tracer: Tracer, ops: Ops): Unit
  /** End-of-run facts (state sizes, reference results), outside the timing. */
  def finish(spark: SparkSession, tracer: Tracer, out: ObjectNode): Unit = ()
  /** Extra session settings, e.g. a catalog rooted in the set-up's dir. */
  def conf(dir: File): Map[String, String] = Map.empty
}

/** Op records: kind, latency, weight (images for cells), outputs or error. */
final class Ops(val arr: ArrayNode) {
  def apply(kind: String, weight: Long = 1L)(body: ObjectNode => Unit): Unit = {
    val o = arr.addObject()
    o.put("op", arr.size() - 1).put("kind", kind).put("weight", weight)
    val out = o.putObject("out")
    val t0 = System.nanoTime()
    try body(out)
    catch { case e: Exception =>
      o.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    o.put("ms", (System.nanoTime() - t0) / 1e6)
  }
  /** Index of the op being recorded. */
  def current: Int = arr.size() - 1
}

object Runner {
  val json = new ObjectMapper()

  def session(work: File, dir: File, extra: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
      // sql_mix replays its queries cyclically, the worst case for the default
      // 100-entry LRU of generated classes: every statement recompiled its code
      // and the JIT recompiled the new classes. 1000 entries hold the mix.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the same rule set for every statement, as graft.Bench installs it
    graft.plans.GraftExtensions.install(spark)
    spark
  }

  /** Fixed single-core work unit, the probe graft.Bench uses: its time reads
    * the host's contention, nothing about the engine. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 60000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1 }
    if (acc == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  def loadAvg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(' ')(0).toDouble
    catch { case _: Exception => -1.0 }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Whole-stage and expression classes Spark generated and compiled. */
  private def codegens(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val plan: JsonNode = json.readTree(new File(args(0)))
    val outFile = new File(args(1))
    val work = new File(plan.get("work_dir").asText())
    val trace = plan.get("trace").asBoolean()
    val w: Workload = plan.get("workload").asText() match {
      case "cells"   => new Cells(plan)
      case "lake"    => new Lake(plan)
      case "sql_mix" => new SqlMix(plan)
      case other     => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val f = JsonNodeFactory.instance
    val out = f.objectNode()
    val diag = out.putObject("diagnostics")
    diag.put("load_start", loadAvg()).put("calib_start_s", calibrate())

    val setupS = out.putArray("setup_s")
    val warm = new Ops(out.putArray("warm"))
    var spark: SparkSession = null
    var prev: File = null
    for (rep <- 0 until plan.get("setup_reps").asInt()) {
      if (spark != null) spark.stop()
      if (prev != null) deleteRecursively(prev)
      val dir = new File(work, s"rep$rep")
      prev = dir
      val t0 = System.nanoTime()
      spark = session(work, dir, w.conf(dir))
      w.setup(spark, dir, warm)
      setupS.add((System.nanoTime() - t0) / 1e9)
    }

    val tracer = new Tracer(spark, trace)
    val ops = new Ops(out.putArray("ops"))
    val cpu0 = processCpuNs()
    val (jit0, gc0, cg0) = (jitMs(), gcMs(), codegens())
    val t0 = System.nanoTime()
    w.run(spark, tracer, ops)
    out.put("loop_s", (System.nanoTime() - t0) / 1e9)
    out.put("loop_cpu_s", (processCpuNs() - cpu0) / 1e9)
    diag.put("loop_jit_ms", jitMs() - jit0).put("loop_gc_ms", gcMs() - gc0)
      .put("loop_codegens", codegens() - cg0)
    out.set[ArrayNode]("spans", tracer.toJson(f))
    w.finish(spark, tracer, out.putObject("end"))
    diag.put("load_end", loadAvg()).put("calib_end_s", calibrate())
    spark.stop()
    json.writeValue(outFile, out)
  }
}
