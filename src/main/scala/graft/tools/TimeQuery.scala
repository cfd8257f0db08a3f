package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.queries.Registry

/** Dev helper: time one registered query N times in-process under the
  * same session shape as [[graft.Bench]] (local[cpus], cpus shuffle
  * partitions, AQE on; cpus from `SPARK_GRAFT_CPUS`, else every core) —
  * JVM startup and first-use codegen excluded from all but the first
  * sample.
  * Usage: runMain graft.tools.TimeQuery <queryName> [sfDir] [n]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    Sessions.required.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      val rows = Registry.queries(name)(spark, sfDir).count()
      println(f"[time] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($rows rows)")
    }
    spark.stop()
  }
}
