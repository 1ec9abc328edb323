package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SparkSession}

/** A fixed, ordered list of declared queries over the sf0.1 tables. A timed op
  * is one query's `.count()`; the warm-up pass collects every result and
  * records an order-insensitive hash of it. */
final class SqlMix(plan: JsonNode) extends Workload {
  private val sfDir = plan.get("sf_dir").asText()
  private val queries = plan.get("queries").elements().asScala.map(_.asText()).toSeq
  private val passes = plan.get("passes").asInt()

  override def setup(spark: SparkSession, dir: File, warm: Ops): Unit = {
    require(new File(sfDir, "lineitem.parquet").exists(), s"no sf0.1 tables under $sfDir")
    queries.foreach { q =>
      warm(q) { out =>
        val rows = graft.SparkEntry.queries(q)(spark, sfDir).collect()
        out.put("rows", rows.length.toLong).put("hash", SqlMix.hash(rows))
      }
    }
  }

  override def run(spark: SparkSession, tracer: Tracer, ops: Ops): Unit =
    for (_ <- 0 until passes; q <- queries) {
      ops(q) { out =>
        val n = tracer.span(s"queries.$q", ops.current) { _ =>
          graft.SparkEntry.queries(q)(spark, sfDir).count()
        }
        out.put("rows", n)
      }
    }

  /** The stored inputs: bytes and rows (from the footers) of the parquet tables. */
  override def finish(spark: SparkSession, tracer: Tracer, out: ObjectNode): Unit = {
    val tables = Option(new File(sfDir).listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(_.getName.endsWith(".parquet"))
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = tables.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try r.getRecordCount finally r.close()
    }
    out.put("store_bytes", tables.map(_.length()).sum).put("store_rows", rows.sum)
  }
}

object SqlMix {
  /** Doubles rounded to 9 significant digits, so the last bits a shuffle's
    * summation order moves do not change the hash. */
  private def norm(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite || d == 0.0) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).toString
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case other => other.toString
  }

  /** Order-insensitive 64-bit hash: the wrapping sum of per-row hashes. */
  def hash(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach { r =>
      val s = norm(r)
      h += (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL)
    }
    java.lang.Long.toHexString(h)
  }
}
