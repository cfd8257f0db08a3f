package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Census of the Spark jobs one body runs: per job its id, wall time,
  * SQL execution id, a description and the engine call site. The one job
  * listener the tools and specs share; see [[JobCensus.during]]. */
final class JobCensus private () extends SparkListener {
  import JobCensus._

  private val starts = new ConcurrentLinkedQueue[Start]()
  private val ends = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execDescs = new ConcurrentHashMap[Long, String]()
  private val execDetails = new ConcurrentHashMap[Long, String]()
  private val events = new AtomicLong()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val p = Option(js.properties)
    def prop(k: String) = p.flatMap(q => Option(q.getProperty(k)))
    starts.add(Start(js.jobId, js.time, prop("spark.sql.execution.id").map(_.toLong),
      prop("spark.job.description"), prop("callSite.short"),
      js.stageInfos.sortBy(_.stageId).map(_.details)))
    events.incrementAndGet(); ()
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    ends.put(je.jobId, je.time)
    events.incrementAndGet(); ()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execDescs.put(s.executionId, s.description)
      execDetails.put(s.executionId, s.details)
      events.incrementAndGet(); ()
    case _ => ()
  }

  /** Waits until no event has arrived for 300 ms. */
  private def settle(): Unit = {
    var last = -1L
    while (last != events.get()) { last = events.get(); Thread.sleep(300) }
  }

  private def jobs: Vector[Job] = starts.asScala.toVector.map { s =>
    Job(s.id, Option(ends.get(s.id)).fold(0L)(_ - s.time), s.executionId,
      s.jobDesc.orElse(s.executionId.flatMap(id => Option(execDescs.get(id))))
        .orElse(s.callSite).getOrElse("?"),
      (s.executionId.flatMap(id => Option(execDetails.get(id))).toSeq ++ s.stageDetails)
        .flatMap(_.linesIterator.map(_.trim).find(_.startsWith("graft.")))
        .headOption.getOrElse("?"))
  }
}

object JobCensus {
  /** One job: `wallMs` is 0 if its end never arrived. `description` is
    * the job description, else its SQL execution's, else the short call
    * site. `site` is the first `graft.` frame of the stack that submitted
    * the job's SQL execution, else of its stages' call sites, else `?`:
    * the engine line a job belongs to, also for the jobs AQE and
    * broadcast exchanges submit from their own threads. */
  final case class Job(id: Int, wallMs: Long, executionId: Option[Long], description: String,
      site: String)

  private final case class Start(id: Int, time: Long, executionId: Option[Long],
      jobDesc: Option[String], callSite: Option[String], stageDetails: Seq[String])

  /** Runs `body` and returns its value with the jobs it started, in start
    * order. The listener bus is async: the census settles before and
    * after `body`, so events still queued from earlier work are not
    * counted and every event of `body`'s own jobs has arrived. */
  def during[A](spark: SparkSession)(body: => A): (A, Vector[Job]) = {
    val census = new JobCensus
    spark.sparkContext.addSparkListener(census)
    try {
      census.settle()
      val before = census.starts.size
      val result = body
      census.settle()
      (result, census.jobs.drop(before))
    } finally spark.sparkContext.removeSparkListener(census)
  }

  /** Driver actions among `jobs`: one per SQL execution that ran a job,
    * plus one per job outside any execution. */
  def actions(jobs: Seq[Job]): Int =
    jobs.map(j => j.executionId.toRight(j.id)).distinct.size
}
