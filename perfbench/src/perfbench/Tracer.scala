package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.meta.{AvroManifests, IcebergTable, MetaCatalog}

/** Counts and times table loads of every engine built on it. */
final class CountingCatalog(inner: MetaCatalog) extends MetaCatalog {
  val loads = new AtomicLong()
  val loadMs = new DoubleAdder()
  def name: String = inner.name
  def listNamespaces(): Seq[String] = inner.listNamespaces()
  def listTables(): Seq[(String, String)] = inner.listTables()
  def tableLocation(ref: String): String = inner.tableLocation(ref)
  def loadTable(ref: String): IcebergTable = {
    val t0 = System.nanoTime()
    try inner.loadTable(ref)
    finally { loads.incrementAndGet(); loadMs.add((System.nanoTime() - t0) / 1e6) }
  }
}

/** The traced run's per-op spans, built only from outside the engine: a
  * SparkListener (jobs, stages, task metrics), a QueryExecutionListener
  * (Catalyst phases), the counting catalog (table loads), GC and
  * allocation counters of the driver thread, and probes run next to each
  * op, outside its interval (manifest decode, DataFrame lift, file pruning,
  * a filesystem census of the op's table directory).
  *
  * Each op's wall splits into `exec.busy_ms` (union of its job intervals),
  * Catalyst time outside those jobs, and the rest, `driver.gap_ms`. */
final class Tracer(spark: SparkSession, w: Workload, catalogs: Seq[CountingCatalog])
    extends OpObserver {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  // written by the listener-bus thread while `recording`, read by the
  // driver thread after a drain
  @volatile private var recording = false
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[Job]
  private val queries = ArrayBuffer.empty[Query]
  private val exec = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) Tracer.this.synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += Job(e.jobId, s, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (recording) Tracer.this.synchronized { exec("stages") += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) Tracer.this.synchronized {
      exec("tasks") += 1
      val m = e.taskMetrics
      if (m != null) {
        exec("task_run_ms") += m.executorRunTime
        exec("task_cpu_ms") += m.executorCpuTime / 1e6
        exec("input_bytes") += m.inputMetrics.bytesRead
        exec("input_records") += m.inputMetrics.recordsRead
        exec("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        exec("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        exec("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (recording) Tracer.this.synchronized {
      val ph = qe.tracker.phases
      queries += Query(Seq("analysis", "optimization", "planning").flatMap(p =>
        ph.get(p).map(s => p -> (s.startTimeMs, s.endTimeMs))).toMap)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def gcMs = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
  private def allocBytes = threads.getThreadAllocatedBytes(Thread.currentThread().getId).toDouble

  private var gc0, alloc0, loads0, loadMs0 = 0.0
  private var census0 = Map.empty[String, Long]
  private var cur = mutable.LinkedHashMap.empty[String, Double]
  private var curSpan: Map[String, Any] = Map.empty
  val spans = ArrayBuffer.empty[Map[String, Any]]
  private val perOp = ArrayBuffer.empty[(Sample, Map[String, Double])]

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def loadsNow = catalogs.map(_.loads.get).sum.toDouble
  private def loadMsNow = catalogs.map(_.loadMs.sum).sum

  override def before(op: Op, id: Int): Unit = {
    census0 = if (w.commitKinds(op.kind)) Fs.census(w.tableDir(op.table)) else Map.empty
    PerfbenchBus.drain(sc)
    synchronized { jobStart.clear(); jobs.clear(); queries.clear(); exec.clear() }
    loads0 = loadsNow; loadMs0 = loadMsNow
    gc0 = gcMs
    alloc0 = allocBytes
    recording = true
  }

  override def after(op: Op, s: Sample): Unit = {
    val alloc = allocBytes - alloc0
    val gc = gcMs - gc0
    PerfbenchBus.drain(sc)
    recording = false
    val (lo, hi) = (epochMs(s.startNs), epochMs(s.endNs))
    val (js, qs, ex) = synchronized { (jobs.toSeq, queries.toSeq, exec.toMap) }
    val jobIv = js.map(j => (j.start.toDouble, j.end.toDouble))
    val busy = measure(clip(jobIv, lo, hi))
    val phaseIv = qs.flatMap(_.phases.values.map { case (a, b) => (a.toDouble, b.toDouble) })
    val catalyst = measure(subtract(clip(phaseIv, lo, hi), jobIv))
    val wall = s.ms
    def phase(p: String) = qs.flatMap(_.phases.get(p)).map { case (a, b) => (b - a).toDouble }.sum
    cur = mutable.LinkedHashMap(
      "meta.table_loads_per_op" -> (loadsNow - loads0),
      "meta.table_load_ms" -> (loadMsNow - loadMs0),
      "catalyst.queries_per_op" -> qs.size.toDouble,
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "exec.jobs_per_op" -> js.size.toDouble,
      "exec.stages_per_op" -> ex.getOrElse("stages", 0.0),
      "exec.tasks_per_op" -> ex.getOrElse("tasks", 0.0),
      "exec.busy_ms" -> busy) ++
      Seq("task_run_ms", "task_cpu_ms", "input_bytes", "input_records",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
        .map(k => s"exec.$k" -> ex.getOrElse(k, 0.0)) ++ Seq(
      "driver.gap_ms" -> (wall - busy - catalyst),
      "jvm.gc_ms_per_op" -> gc,
      "jvm.driver_alloc_mb_per_op" -> alloc / (1024.0 * 1024.0))
    curSpan = Map("id" -> s.id, "name" -> s"${op.kind}@${op.table}",
      "start_ms" -> lo, "end_ms" -> hi, "wall_ms" -> wall,
      "exec_busy_ms" -> busy, "catalyst_ms" -> catalyst, "driver_gap_ms" -> (wall - busy - catalyst),
      "children" -> (js.map(j => Map("job" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end)) ++
        qs.map(q => Map("catalyst" -> q.phases.map { case (p, (a, b)) => p -> Seq(a, b) }))))
  }

  override def checked(op: Op, s: Sample): Unit = {
    val dir = w.tableDir(op.table)
    val t = IcebergTable.load(dir)
    // manifest decode of the op's current table state, next to the op
    val snap = t.metadata.currentSnapshot
    val (listMs, manifests) = time(snap.map(x => AvroManifests.readManifestList(t.resolvePath(x.manifestList)))
      .getOrElse(Seq.empty))
    val data = manifests.filter(_.content == 0)
    val (decodeMs, entries) = time(data.map(m => AvroManifests.readManifest(t.resolvePath(m.manifestPath)).size).sum)
    val (liftMs, _) = time(graft.rel.MetaRelations.files(spark, t))
    // file pruning with the op's filter (or the workload's key-range filter)
    val filters = if (op.prune.nonEmpty) op.prune else w.pruneFilter(op.table)
    val live = t.files()
    val (pruneMs, (kept, manifestsKept)) = time((
      graft.sql.FilePrune.liveEntries(t, None, filters).size,
      data.count(m => filters.forall(f => graft.sql.FilePrune.keepManifest(t, m, f)))))
    val census = Fs.census(dir)
    val liveBytes = live.map(_.fileSizeInBytes).sum.toDouble
    cur ++= Seq(
      "meta.manifest_list_ms" -> listMs, "meta.manifest_decode_ms" -> decodeMs,
      "meta.manifests_live" -> manifests.size.toDouble, "meta.entries_decoded" -> entries.toDouble,
      "meta.decode_us_per_entry" -> (if (entries > 0) decodeMs * 1e3 / entries else 0.0),
      "rel.lift_ms" -> liftMs,
      "plan.files_total" -> live.size.toDouble, "plan.files_kept" -> kept.toDouble,
      "plan.keep_ratio" -> (if (live.nonEmpty) kept.toDouble / live.size else 0.0),
      "plan.manifests_kept" -> manifestsKept.toDouble, "plan.prune_ms" -> pruneMs,
      "commit.snapshots_live" -> t.metadata.snapshots.size.toDouble,
      "commit.delete_files_live" -> t.deleteFiles().size.toDouble,
      "commit.space_amp" -> (if (liveBytes > 0) census.values.sum / liveBytes else 0.0))
    w.counts.get("rows_out").filter(_ > 0).foreach(n =>
      cur("exec.rows_read_per_row_out") = cur("exec.input_records") / n)
    Seq("candidate_pairs", "survivors", "components_changed", "retired_docs")
      .foreach(k => w.counts.get(k).foreach(v => cur(s"ops.$k") = v))
    if (w.commitKinds(op.kind)) {
      val added = census.filter { case (p, _) => !census0.contains(p) }
      def bytes(f: String => Boolean) = added.filter(kv => f(kv._1)).values.sum.toDouble
      val meta = bytes(_.startsWith("metadata/"))
      val dataB = bytes(_.startsWith("data/"))
      val json = added.keys.filter(_.endsWith(".metadata.json"))
      cur ++= Seq("commit.files_written" -> added.size.toDouble,
        "commit.metadata_bytes" -> meta, "commit.data_bytes" -> dataB,
        "commit.write_amp" -> (if (dataB > 0) (meta + dataB) / dataB else 0.0),
        "commit.metadata_json_bytes" -> bytes(_.endsWith(".metadata.json")),
        "commit.metadata_versions_per_commit" -> json.size.toDouble)
      if (op.kind == "maint") cur("maint.bytes_rewritten") = dataB
    }
    w.counts.collect { case (k, v) if k.endsWith("_ms") => s"maint.$k" -> v }.foreach(cur += _)
    perOp += ((s, cur.toMap))
    spans += curSpan ++ Map("ok" -> s.ok, "layers" -> cur.toMap)
  }

  /** Per-layer metrics of the traced ops: each a mean over the ops it
    * applies to (commit metrics over commit ops, `ops.*` over the ops
    * reporting them, ...), 0 where no op of the run applies. */
  def metrics(): Seq[(String, Double, String)] = {
    val ok = perOp.filter(_._1.ok).map(_._2)
    PerLayer.map { case (name, unit) =>
      val xs = ok.flatMap(_.get(name))
      (name, if (xs.isEmpty) 0.0 else xs.sum / xs.size, unit)
    }
  }
}

object Tracer {
  final case class Job(id: Int, start: Long, end: Long)
  final case class Query(phases: Map[String, (Long, Long)])

  def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e6, r)
  }

  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }

  /** Total length of the union of intervals. */
  def measure(iv: Seq[(Double, Double)]): Double =
    merge(iv).map { case (a, b) => b - a }.sum

  def merge(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Parts of `iv` not covered by `minus`. */
  def subtract(iv: Seq[(Double, Double)], minus: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val cut = merge(minus)
    merge(iv).flatMap { case (a, b) =>
      cut.foldLeft(List((a, b))) { (pieces, c) =>
        pieces.flatMap { case (x, y) =>
          Seq((x, math.min(y, c._1)), (math.max(x, c._2), y)).filter { case (p, q) => q > p }
        }
      }
    }
  }

  /** Per-layer metric names and units, in BENCHMARK.json order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "meta.table_loads_per_op" -> "count", "meta.table_load_ms" -> "ms",
    "meta.manifest_list_ms" -> "ms", "meta.manifest_decode_ms" -> "ms",
    "meta.manifests_live" -> "count", "meta.entries_decoded" -> "count",
    "meta.decode_us_per_entry" -> "us", "rel.lift_ms" -> "ms",
    "catalyst.queries_per_op" -> "count", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "plan.files_total" -> "count", "plan.files_kept" -> "count", "plan.keep_ratio" -> "ratio",
    "plan.manifests_kept" -> "count", "plan.prune_ms" -> "ms",
    "exec.jobs_per_op" -> "count", "exec.stages_per_op" -> "count", "exec.tasks_per_op" -> "count",
    "exec.busy_ms" -> "ms", "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
    "exec.input_bytes" -> "bytes", "exec.input_records" -> "count",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "driver.gap_ms" -> "ms",
    "commit.files_written" -> "count", "commit.metadata_bytes" -> "bytes",
    "commit.data_bytes" -> "bytes", "commit.write_amp" -> "ratio",
    "commit.metadata_json_bytes" -> "bytes", "commit.metadata_versions_per_commit" -> "count",
    "commit.snapshots_live" -> "count", "commit.delete_files_live" -> "count",
    "commit.space_amp" -> "ratio",
    "maint.bytes_rewritten" -> "bytes",
    "ops.candidate_pairs" -> "count", "ops.survivors" -> "count",
    "ops.components_changed" -> "count", "ops.retired_docs" -> "count",
    "jvm.gc_ms_per_op" -> "ms", "jvm.driver_alloc_mb_per_op" -> "MB")
}
