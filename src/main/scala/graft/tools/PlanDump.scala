package graft.tools

import java.nio.file.{Files, Paths}

import graft.Sessions
import graft.queries.Registry

/** Dump `.explain("formatted")` for registered queries to files — the
  * optimization rounds' plan evidence (plans/rNN/<query>_<tag>.txt).
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> [q1,q2,...] [execute]
  * (no list = every registered query). Write-path queries execute their
  * fixture commits while building the DataFrame; the dumped plan is the
  * declared read-back. With the trailing `execute` flag the query is RUN
  * (collect) before dumping, so the plan is AQE's FINAL one —
  * `ReusedExchange` nodes and runtime join rewrites only exist there. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2 && args(2) != "execute") Some(args(2).split(",").toSet)
      else None
    val execute = args.contains("execute")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus())
    // GRAFT_PLAN_CONF="k=v;k=v" — session confs for dumping a conf-gated
    // tier's plan (e.g. forcing the funnel's materialized-levels gate)
    sys.env.get("GRAFT_PLAN_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    Files.createDirectories(outDir)
    Registry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          if (execute) df.collect()
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(outDir.resolve(s"${name}_$tag.txt"), plan)
          System.err.println(s"[plan] $name ok")
        } catch { case e: Throwable =>
          System.err.println(s"[plan] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
