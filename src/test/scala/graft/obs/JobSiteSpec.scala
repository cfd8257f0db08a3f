package graft.obs

import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec
import graft.api.Engine
import graft.ops.ScanPlanner

/** [[JobCensus.Job.site]] names the engine line behind a job, also for
  * the jobs AQE and broadcast exchanges submit from their own threads
  * (whose Spark call site is `CompletableFuture`). */
class JobSiteSpec extends SparkSpec {
  import spark.implicits._

  test("the jobs of an AQE broadcast-join read carry the ScanPlanner site") {
    val e = new Engine(spark, java.nio.file.Files.createTempDirectory("jobsite").toString)
    e.createTable("ns.sites", StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", LongType, nullable = false))),
      Seq("bucket[4](k)"))
    e.append("ns.sites", (0L until 40L).map(i => (i, i)).toDF("k", "v"))
    // an upsert commits an equality delete: reads anti-join it by broadcast
    e.upsert("ns.sites", Seq((3L, 30L), (7L, 70L)).toDF("k", "v"), Seq("k"))
    val t = e.load("ns.sites")
    // the frame-keyed prune collects its key census inside ScanPlanner,
    // over a merge-on-read read of the table itself
    val (paths, jobs) = JobCensus.during(spark) {
      ScanPlanner.pathsWhereInFrame(spark, t, "k", ScanPlanner.readTable(spark, t).select("k"))
    }
    assert(paths.nonEmpty)
    assert(jobs.size >= 2, s"expected a broadcast job and the collect, got $jobs")
    jobs.foreach { j =>
      assert(j.site.startsWith("graft.ops.ScanPlanner$.censusGroups("), s"job $j")
      assert(!j.site.contains("CompletableFuture"), s"job $j")
    }
  }

  test("a job outside any SQL execution takes its stage's engine frame") {
    val (_, jobs) = JobCensus.during(spark)(spark.sparkContext.parallelize(1 to 4).count())
    assert(jobs.size == 1 && jobs.head.executionId.isEmpty)
    assert(jobs.head.site.startsWith("graft.obs.JobSiteSpec"), s"job ${jobs.head}")
  }
}
