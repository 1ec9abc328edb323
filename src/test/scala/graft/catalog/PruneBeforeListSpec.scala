package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Pins for prune-before-list: a graft read prunes segments by zone map and
  * bloom index FIRST and lists only the survivors' files. Every table here
  * has more than 32 segments — past Spark's parallel-discovery threshold, so
  * listing all of them would launch a distributed listing job — and every
  * read plans with zero Spark jobs. */
class PruneBeforeListSpec extends SparkSpec {

  private lazy val root = {
    val d = Files.createTempDirectory("graft_prune_list_spec")
    spark.conf.set("spark.sql.catalog.gpl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpl.root", d.toString)
    d
  }

  private def sql(q: String) = spark.sql(q)
  private def tdir(t: String): Path = root.resolve("ns").resolve(t)

  /** Runs `body` and counts the Spark jobs it launches whose description
    * passes `which`. Listener delivery is async: the count is read once it
    * stops moving, before and after, and the difference returned. */
  private def jobsDuring[T](which: String => Boolean = _ => true)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (which(desc)) jobs.incrementAndGet()
      }
    }
    def settled(): Int = {
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = jobs.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      last
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = settled()
      val out = body
      (out, settled() - before)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val listing: String => Boolean = _.startsWith("Listing leaf files")

  /** Segment names the executed plan's parquet scans will read. */
  private def plannedSegs(df: DataFrame): Set[String] =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.toBatch.planInputPartitions().toSeq.flatMap {
          case f: org.apache.spark.sql.execution.datasources.FilePartition =>
            f.files.map(x => Paths.get(x.filePath.toString).getParent.getFileName.toString)
          case _ => Nil
        }
    }.flatten.toSet

  private def newSegment(t: String, before: Seq[String]): String = {
    val m = GraftMeta.read(tdir(t))
    val added = m.snapshots(m.current).filterNot(before.toSet)
    assert(added.size === 1, s"one append, one segment: $added")
    added.head
  }

  private def currentSegs(t: String): Seq[String] = {
    val m = GraftMeta.read(tdir(t))
    m.snapshots(m.current)
  }

  test("40-segment bloom table: point lookups and a stats-served aggregate plan with no job") {
    root
    val t = "bl40"
    sql(s"DROP TABLE IF EXISTS gpl.ns.$t")
    sql(s"""CREATE TABLE gpl.ns.$t (k BIGINT, v STRING) USING parquet
            TBLPROPERTIES ('graft.index.bloom' = 'k',
                           'graft.index.bloom.fpp' = '0.00001')""")
    // segment i holds k = 40 j + i: every segment's zone range spans the
    // domain, so only the bloom index can narrow a point lookup
    val segs = 40
    val segOf = (0 until segs).map { i =>
      val before = currentSegs(t)
      spark.range(0, 25).selectExpr(s"id * $segs + $i AS k", s"concat('v', id * $segs + $i) AS v")
        .coalesce(1).writeTo(s"gpl.ns.$t").append()
      i -> newSegment(t, before)
    }.toMap
    assert(currentSegs(t).size === segs)
    val keys = (0 until segs).flatMap(i => (0 until 25).map(j => j.toLong * segs + i))

    def lookup(k: Long, pushdown: Boolean): DataFrame =
      spark.read.option("graft.stats.aggregate-pushdown", pushdown.toString)
        .table(s"gpl.ns.$t").where(s"k = $k").select("k", "v")
    for (k <- Seq(685L, 3L, 999L)) {
      val df = lookup(k, pushdown = true)
      val (_, jobs) = jobsDuring()(df.queryExecution.executedPlan)
      assert(jobs === 0, s"point lookup k = $k planned $jobs Spark jobs")
      assert(plannedSegs(df) === Set(segOf((k % segs).toInt)),
        s"k = $k must plan exactly its bloom survivor")
      val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got === Seq((k, s"v$k")), "the generator's row")
      assert(got === lookup(k, pushdown = false).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq)
    }
    // a key outside every zone range prunes everything and lists nothing
    val miss = lookup(5000L, pushdown = true)
    val (_, missJobs) = jobsDuring()(miss.queryExecution.executedPlan)
    assert(missJobs === 0)
    assert(plannedSegs(miss).isEmpty)
    assert(miss.count() === 0L)

    def agg(pushdown: Boolean): DataFrame =
      spark.read.option("graft.stats.aggregate-pushdown", pushdown.toString)
        .table(s"gpl.ns.$t").selectExpr("count(*)", "max(k)")
    val served = agg(pushdown = true)
    val (plan, aggJobs) = jobsDuring()(served.queryExecution.executedPlan)
    assert(aggJobs === 0, s"stats-served count/max planned $aggJobs Spark jobs")
    assert(plan.toString.contains("graft-stats-agg"), s"not stats-served:\n$plan")
    val row = served.head()
    assert((row.getLong(0), row.getLong(1)) === (keys.size.toLong, keys.max))
    assert(agg(pushdown = false).head() === row)
  }

  test("merge-on-read composite past 32 segments: clean and DV'd lookups plan no job") {
    root
    val t = "dv40"
    sql(s"DROP TABLE IF EXISTS gpl.ns.$t")
    sql(s"""CREATE TABLE gpl.ns.$t (k BIGINT, p BIGINT, v STRING) USING parquet
            PARTITIONED BY (p)
            TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    // one commit, 40 partition-pure segments with disjoint k ranges
    spark.range(0, 1000).selectExpr("id AS k", "id DIV 25 AS p", "concat('v', id) AS v")
      .writeTo(s"gpl.ns.$t").append()
    assert(currentSegs(t).size === 40)
    sql(s"DELETE FROM gpl.ns.$t WHERE k IN (101, 102)") // a delete vector on p = 4
    val m = GraftMeta.read(tdir(t))
    assert(GraftDv.forSegments(m, m.current, m.snapshots(m.current)).size === 1,
      "exactly one segment carries a delete vector")

    def lookup(where: String): (Seq[(Long, String)], Int) = {
      val df = sql(s"SELECT k, v FROM gpl.ns.$t WHERE $where")
      val (_, jobs) = jobsDuring()(df.queryExecution.executedPlan)
      (df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1), jobs)
    }
    val (clean, cleanJobs) = lookup("k = 700")
    assert(cleanJobs === 0, s"clean-segment lookup planned $cleanJobs Spark jobs")
    assert(clean === Seq((700L, "v700")))
    val (dirty, dirtyJobs) = lookup("k BETWEEN 100 AND 103")
    assert(dirtyJobs === 0, s"DV'd-segment lookup planned $dirtyJobs Spark jobs")
    assert(dirty === Seq((100L, "v100"), (103L, "v103")), "deleted rows stay deleted")
    val (gone, goneJobs) = lookup("k = 101")
    assert(goneJobs === 0)
    assert(gone.isEmpty)
  }

  test("streaming micro-batch over a 40-segment table launches no listing job") {
    root
    val t = "st40"
    sql(s"DROP TABLE IF EXISTS gpl.ns.$t")
    sql(s"CREATE TABLE gpl.ns.$t (k BIGINT, p BIGINT) USING parquet PARTITIONED BY (p)")
    spark.range(0, 400).selectExpr("id AS k", "id % 40 AS p").writeTo(s"gpl.ns.$t").append()
    assert(currentSegs(t).size === 40)
    val from = GraftMeta.read(tdir(t)).current
    val q = spark.readStream.option("graft.stream.from", from).table(s"gpl.ns.$t")
      .select("k")
      .writeStream.format("memory").queryName("g_stream_st40").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("g_stream_st40").count() === 0L)
      val (_, listings) = jobsDuring(listing) {
        spark.range(400, 410).selectExpr("id AS k", "0L AS p").writeTo(s"gpl.ns.$t").append()
        q.processAllAvailable()
      }
      assert(listings === 0, s"the micro-batch launched $listings listing jobs")
      val got = spark.table("g_stream_st40").collect().map(_.getLong(0)).sorted
      assert(got.toSeq === (400L until 410L), "the micro-batch streams exactly the new commit")
    } finally q.stop()
  }
}
