package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.pipeline._
import graft.sources.CellImageJsonl
import org.apache.spark.sql.SparkSession

/** The reference cell-image flow, one JSONL file of images per op: cellimage
  * scan, features, Welford outlier model, the isNoOutlier filter, the Canny
  * grid search over a fixed subset of the kept images, predict over every kept
  * image, and KMeans masking of the first kept image. */
final class Cells(plan: JsonNode) extends Workload {
  private val images = plan.get("images_per_file").asInt()
  private val channels = plan.get("channels").asInt()
  private val size = plan.get("size").asInt()
  private val cannyImages = plan.get("canny_images").asInt()
  private def ints(n: JsonNode): Seq[Int] = n.elements().asScala.map(_.asInt()).toSeq
  private val t1 = ints(plan.get("threshold1"))
  private val t2 = ints(plan.get("threshold2"))
  private val shapes = plan.get("shapes").elements().asScala
    .map(s => (s.get(0).asInt(), s.get(1).asInt())).toSeq
  private val warmFiles = ints(plan.get("warm_files"))
  private val files = ints(plan.get("files"))
  private var inputDir: File = _

  private def make(fileNo: Int): Seq[CellImage] =
    (0 until images).map(i =>
      CellImageFixtures.make(s"file_$fileNo", fileNo, i.toLong, channels, size, size))

  private def fileDir(fileNo: Int) = new File(inputDir, s"file_$fileNo")

  override def setup(spark: SparkSession, dir: File, warm: Ops): Unit = {
    inputDir = new File(dir, "images")
    (warmFiles ++ files).foreach(n => CellImageJsonl.write(fileDir(n), "part.jsonl", make(n)))
    warmFiles.foreach(n =>
      warm("cells", images)(out => op(spark, Tracer.off, warm.current, n, out)))
  }

  override def run(spark: SparkSession, tracer: Tracer, ops: Ops): Unit =
    files.foreach { n =>
      ops("cells", images) { out =>
        tracer.span("op", ops.current)(_ => op(spark, tracer, ops.current, n, out))
      }
    }

  private def op(spark: SparkSession, tracer: Tracer, i: Int, fileNo: Int,
                 out: ObjectNode): Unit = {
    import spark.implicits._
    def span[T](name: String)(body: Span => T): T = tracer.span(name, i)(body)
    out.put("file", fileNo)
    val imgs = span("sources") { _ =>
      val ds = spark.read.format("cellimage").option("path", fileDir(fileNo).getPath)
        .load().as[CellImage].cache()
      ds.count()
      ds
    }
    val feats = span("pipeline.features") { _ =>
      val f = imgs.map(Features.extract _).cache()
      f.count()
      f
    }
    val model = span("pipeline.outlier.train") { _ =>
      OutlierModel.train(feats.flatMap(identity(_)))
    }
    val kept = span("pipeline.outlier.filter") { _ =>
      val bc = spark.sparkContext.broadcast(model)
      feats.filter(fs => bc.value.isNoOutlier(fs)).map(_.head.imageIdx).collect().sorted
    }
    out.put("kept", kept.length)
    val subset = kept.take(cannyImages).toSet
    val (canny, _) = span("pipeline.canny.train") { s =>
      if (s != null)
        s.extra("canny_scores") = subset.size.toLong * channels * t1.size * t2.size * shapes.size
      CannyMaskModel.train(imgs.filter(ci => subset(ci.imageIdx)), t1, t2, shapes)
    }
    out.put("canny", canny.toJson)
    val keptSet = kept.toSet
    val maskPixels = span("pipeline.canny.predict") { _ =>
      canny.predict(imgs.filter(ci => keptSet(ci.imageIdx)))
        .map(_._3.count(identity).toLong).reduce(_ + _)
    }
    out.put("mask_pixels", maskPixels)
    val first = imgs.filter(_.imageIdx == kept.head).head()
    val (_, score) = span("pipeline.kmeans") { _ => KMeansMasking.maskAndScore(spark, first, 0) }
    out.put("kmeans_score", score)
    feats.unpersist()
    imgs.unpersist()
  }

  /** Reference pass over the same generated images, without Spark: features
    * per image, exact two-pass mean and sample variance, the voting rule, and
    * the Canny grid search as plain loops. */
  private def reference(fileNo: Int): (Int, String, Long) = {
    val imgs = make(fileNo)
    val feats = imgs.map(ci => Features.extract(ci).map(f => f.featureName -> f.values).toMap)
    val stats = Features.names.map { n =>
      n -> (0 until channels).map { c =>
        val xs = feats.map(_(n)(c))
        val mean = xs.sum / xs.size
        (mean, xs.map(x => (x - mean) * (x - mean)).sum / (xs.size - 1))
      }
    }.toMap
    val kept = imgs.zip(feats).filter { case (_, f) =>
      val votes = Features.names.map { n =>
        (0 until channels).map { c =>
          val (mean, variance) = stats(n)(c)
          val b = 0.5 * math.sqrt(variance)
          if (mean - b < f(n)(c) && f(n)(c) < mean + b) -1 else 1
        }.sum
      }.sum
      votes < 0
    }.map(_._1)
    val subset = kept.take(cannyImages)
    val grid = for (a <- t1; b <- t2; (kw, kh) <- shapes) yield CannyParams(a, b, kw, kh)
    val plane = size * size
    val params = (0 until channels).map { c =>
      val means = grid.map { p =>
        subset.map { ci =>
          val img = java.util.Arrays.copyOfRange(ci.data, c * plane, (c + 1) * plane)
            .map(v => ImageKernels.toUint8(v).toDouble)
          val nms = ImageKernels.cannyNms(img, size, size)
          val edges = ImageKernels.hysteresis(nms, size, size,
            math.min(p.threshold1, p.threshold2).toDouble, math.max(p.threshold1, p.threshold2).toDouble)
          val pred = ImageKernels.close(edges, size, size, p.kw, p.kh)
          Scoring.referenceScore(pred, java.util.Arrays.copyOfRange(ci.mask, c * plane, (c + 1) * plane))
        }.sum / subset.size
      }
      grid(means.indexOf(means.max))
    }
    val model = CannyMaskModel(params)
    (kept.size, model.toJson, kept.map(ci => model.predictMasks(ci).count(identity).toLong).sum)
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).fold(0L)(_.map(dirBytes).sum)

  override def finish(spark: SparkSession, tracer: Tracer, out: ObjectNode): Unit = {
    out.put("store_bytes", dirBytes(inputDir))
      .put("store_rows", (warmFiles.size + files.size).toLong * images)
    val ref = out.putObject("reference")
    (warmFiles ++ files).foreach { n =>
      val (kept, canny, pixels) = reference(n)
      ref.putObject(n.toString).put("kept", kept).put("canny", canny).put("mask_pixels", pixels)
    }
  }
}
