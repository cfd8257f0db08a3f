package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.queries.Registry

/** Dev helper: job-census SWEEP over every registered query — one warm
  * run then one measured run each, printing wall, job count, summed job
  * wall and the driver-side gap (wall − job wall). Sorting the output by
  * job count or by gap surfaces the queries whose cost is fixed per-job
  * overhead or driver work rather than data — the candidates for
  * pass-elimination. Usage: runMain graft.tools.QuerySweep [sfDir]
  */
object QuerySweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    Sessions.required.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        starts.put(js.jobId, js.time); ()
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { t0 =>
          nJobs.incrementAndGet(); jobMs.addAndGet(je.time - t0); ()
        }
      }
    })

    for ((name, fn) <- Registry.queries.toSeq.sortBy(_._1)) {
      try {
        fn(spark, sfDir).count() // warm
        Thread.sleep(100)
        nJobs.set(0); jobMs.set(0L)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(100)
        val jw = jobMs.get() / 1e3
        println(f"[sweep] $name%-26s ${wall}%6.2f s  ${nJobs.get()}%3d jobs  " +
          f"$jw%6.2f s jobwall  gap ${wall - jw}%6.2f s")
      } catch {
        case e: Throwable =>
          println(s"[sweep] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
