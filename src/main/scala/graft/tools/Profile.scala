package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.Sessions
import graft.obs.JobCensus
import graft.queries.Registry

/** Dev profiler for registered queries, one warm in-process session.
  * Usage: runMain graft.tools.Profile <q1,q2,...|all> [time|jobs|show] [runs]
  * with `sfDir` from `SPARK_GRAFT_SF_DIR` and cores from
  * `SPARK_GRAFT_CPUS` (else every core).
  *  - `time` (default): wall and rows of each of `runs` runs (default
  *    3), then the min;
  *  - `jobs`: `runs - 1` warm runs, then one measured run's wall, job
  *    count, summed job wall and driver gap (wall − job wall); each job's
  *    wall, engine call site and description follow unless `all` is
  *    profiled;
  *  - `show`: the first 30 rows and the formatted plan. */
object Profile {
  /** One run of a query: wall, rows counted and the jobs it ran. */
  final case class Run(wallS: Double, rows: Long, jobs: Vector[JobCensus.Job]) {
    def jobWallS: Double = jobs.map(_.wallMs).sum / 1e3
  }

  /** One `count()` of registered query `name` under a [[JobCensus]]. */
  def measure(spark: SparkSession, sfDir: String, name: String): Run = {
    val ((rows, wall), jobs) = JobCensus.during(spark) {
      val t0 = System.nanoTime()
      val n = Registry.queries(name)(spark, sfDir).count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    Run(wall, rows, jobs)
  }

  /** Profiles `names` in `mode`, one line at a time to `out`; a failing
    * query prints its error and the rest still run. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], mode: String,
      runs: Int, detail: Boolean, out: String => Unit): Unit = {
    require(Set("time", "jobs", "show")(mode), s"unknown mode $mode")
    val unknown = names.filterNot(Registry.queries.contains)
    require(unknown.isEmpty, s"unknown queries ${unknown.mkString(",")}")
    names.foreach { name =>
      try mode match {
        case "time" =>
          val walls = (1 to runs).map { i =>
            val r = measure(spark, sfDir, name)
            out(f"[time] $name run $i: ${r.wallS}%.3f s (${r.rows} rows)")
            r.wallS
          }
          out(f"[time] $name min ${walls.min}%.3f s")
        case "jobs" =>
          (1 until runs).foreach(_ => Registry.queries(name)(spark, sfDir).count())
          val r = measure(spark, sfDir, name)
          out(f"[jobs] $name%-26s ${r.wallS}%6.2f s  ${r.jobs.size}%3d jobs  " +
            f"${r.jobWallS}%6.2f s jobwall  gap ${r.wallS - r.jobWallS}%6.2f s  (${r.rows} rows)")
          if (detail) r.jobs.foreach { j =>
            out(f"[jobs]   job ${j.id}%4d ${j.wallMs / 1e3}%6.3f s  ${j.site}  ${j.description.take(140)}")
          }
        case "show" =>
          val df = Registry.queries(name)(spark, sfDir)
          out(s"[show] $name: ${df.columns.mkString(" | ")}")
          df.take(30).foreach(r => out(r.toSeq.mkString(" | ")))
          out(df.queryExecution.explainString(FormattedMode))
      } catch {
        case NonFatal(e) => out(s"[$mode] $name FAILED: ${e.getMessage}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <q1,q2,...|all> [time|jobs|show] [runs]")
    val all = args(0) == "all"
    val names = if (all) Registry.queries.keys.toSeq.sorted else args(0).split(",").toSeq
    val spark = Sessions.local(Sessions.cpus())
    try run(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      names, args.lift(1).getOrElse("time"), args.lift(2).fold(3)(_.toInt),
      detail = !all, println(_))
    finally spark.stop()
  }
}
