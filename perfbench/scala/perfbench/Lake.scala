package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One graft table (k BIGINT, v STRING) with every commit-time stats opt-in on
  * k. Set-up builds a history of commits; each round then runs one 100-row
  * INSERT, one point lookup and one zone-map count/max. */
final class Lake(plan: JsonNode) extends Workload {
  private val Table = "graft.bench.t"
  private def keys(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq
  private val history = plan.get("history").elements().asScala.map(keys).toSeq
  private def rounds(n: JsonNode) =
    n.elements().asScala.map(r => (keys(r.get("insert")), r.get("lookup").asLong())).toSeq
  private val warmRounds = rounds(plan.get("warm_rounds"))
  private val timedRounds = rounds(plan.get("rounds"))
  private var root: File = _

  override def conf(dir: File): Map[String, String] = {
    root = new File(dir, "lake")
    Map("spark.sql.catalog.graft" -> "graft.catalog.GraftCatalog",
      "spark.sql.catalog.graft.root" -> root.getPath)
  }

  private def tableDir = new File(root, "bench/t")

  private def insert(spark: SparkSession, ks: Seq[Long]): Unit =
    spark.sql(s"INSERT INTO $Table VALUES " + ks.map(k => s"($k, 'v$k')").mkString(", "))

  override def setup(spark: SparkSession, dir: File, warm: Ops): Unit = {
    spark.sql(s"CREATE TABLE $Table (k BIGINT, v STRING) USING parquet TBLPROPERTIES (" +
      "'graft.stats.sums' = 'k', 'graft.stats.ndv' = 'k', " +
      "'graft.stats.kll' = 'k', 'graft.index.bloom' = 'k')")
    history.foreach(insert(spark, _))
    warmRounds.foreach(r => round(spark, Tracer.off, warm, r))
  }

  override def run(spark: SparkSession, tracer: Tracer, ops: Ops): Unit =
    timedRounds.foreach(r => round(spark, tracer, ops, r))

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).fold(0L)(_.map(dirBytes).sum)

  private def round(spark: SparkSession, tracer: Tracer, ops: Ops,
                    r: (Seq[Long], Long)): Unit = {
    def span[T](name: String)(body: Span => T): T = tracer.span(name, ops.current)(body)
    ops("insert") { _ =>
      span("op") { _ =>
        val before = if (tracer.enabled) dirBytes(tableDir) else 0L
        val s = span("catalog.commit") { s => insert(spark, r._1); s }
        // bytes the commit landed (data, stats, meta), read off the table dir
        if (s != null) s.extra("commit_bytes_written") = dirBytes(tableDir) - before
      }
    }
    ops("lookup") { out =>
      span("op") { _ =>
        val df = span("catalog.plan") { _ =>
          val df = spark.sql(s"SELECT k, v FROM $Table WHERE k = ${r._2}")
          df.queryExecution.executedPlan
          df
        }
        val rows = span("catalog.scan")(_ => df.collect())
        out.put("key", r._2)
        val a = out.putArray("rows")
        rows.foreach(row => a.addArray().add(row.getLong(0)).add(row.getString(1)))
      }
    }
    ops("agg") { out =>
      span("op") { _ =>
        val df = span("catalog.plan") { _ =>
          val df = spark.sql(s"SELECT count(*), max(k) FROM $Table")
          df.queryExecution.executedPlan
          df
        }
        val row = span("catalog.scan")(_ => df.collect().head)
        out.put("count", row.getLong(0)).put("max", row.getLong(1))
      }
    }
  }

  override def finish(spark: SparkSession, tracer: Tracer, out: ObjectNode): Unit = {
    out.put("snapshots", spark.sql(s"SELECT count(*) FROM $Table.snapshots").head().getLong(0))
    out.put("segments",
      spark.sql(s"SELECT count(*) FROM $Table.segments WHERE in_current").head().getLong(0))
    val rows = spark.sql(s"SELECT count(*) FROM $Table").head().getLong(0)
    val dir = tableDir
    out.put("live_rows", rows).put("store_bytes", dirBytes(dir)).put("store_rows", rows)
    val commits = new File(dir, "_graft_commits")
    val versions = Option(commits.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.getName.forall(_.isDigit))
    out.put("table_bytes", dirBytes(dir))
    out.put("meta_bytes", dirBytes(commits) + dirBytes(new File(dir, "_graft_meta")))
    out.put("version_files", versions.size)
    out.put("meta_bytes_newest",
      versions.maxByOption(_.getName.toLong).fold(0L)(_.length()))
  }
}
