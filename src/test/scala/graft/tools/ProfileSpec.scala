package graft.tools

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec

/** Smoke test of the query profiler: each mode runs once on one cheap
  * registered query, on the spec's own session. */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val q = "q_scan_project"

  private def lines(mode: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    Profile.run(spark, sf, Seq(q), mode, runs = 1, detail = true, out += _)
    assert(!out.exists(_.contains("FAILED")), out.mkString("\n"))
    out.toSeq
  }

  test("a measured run reports the jobs jobsDuring counts, and their " +
      "summed wall fits in the query wall") {
    var r: Profile.Run = null
    val n = jobsDuring { r = Profile.measure(spark, sf, q) }
    assert(r.jobs.nonEmpty && r.jobs.size == n, r.jobs.toString)
    assert(r.jobWallS <= r.wallS, r.toString)
    assert(r.rows > 0)
  }

  test("time, jobs and show print their lines") {
    val time = lines("time")
    assert(time.size == 2 && time(0).startsWith(s"[time] $q run 1: ") &&
      time(1).startsWith(s"[time] $q min "), time.toString)
    val jobs = lines("jobs")
    val n = "(\\d+) jobs".r.findFirstMatchIn(jobs.head).get.group(1).toInt
    assert(jobs.head.startsWith(s"[jobs] $q") && n > 0)
    assert(jobs.tail.size == n && jobs.tail.forall(_.startsWith("[jobs]   job")))
    val show = lines("show")
    assert(show.head == s"[show] $q: l_orderkey | l_linenumber | path_col | l_quantity")
    assert(show.size == 32 && show.last.contains("== Physical Plan =="))
  }

  test("an unknown query or mode is refused before anything runs") {
    intercept[IllegalArgumentException](
      Profile.run(spark, sf, Seq("q_nope"), "time", 1, detail = true, _ => ()))
    intercept[IllegalArgumentException](
      Profile.run(spark, sf, Seq(q), "plan", 1, detail = true, _ => ()))
  }
}
