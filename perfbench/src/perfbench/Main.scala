package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.meta.{FsCatalog, MetaCatalog}

/** Benchmark entry point: one workload, one seed, one closed loop.
  *
  * Prints a context line and, last, the result line
  * `{"correct", "attempted", "failed", "metrics"}`; `--trace 1` swaps the
  * end-to-end metrics for the per-layer ones. Normally started through
  * `perfbench/run.py`, which builds the classes and sets the JVM flags. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, cpus: Int, nproc: Int, record: String, commit: String,
      stamp: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), need("cpus").toInt, need("nproc").toInt,
      need("record"), m.getOrElse("commit", "unknown"), m.getOrElse("stamp", "unknown"))
  }

  def session(a: Args, wh: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", wh)
    graft.Sessions.required.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(a: Args, spark: SparkSession, catalog: String => MetaCatalog): Workload =
    a.workload match {
    case "meta_inspect" => new MetaInspect(spark, a.work, a.seed, catalog)
    case "cdc_table" => new CdcTable(spark, a.work, a.seed, catalog)
    case "dedup_ingest" => new DedupIngest(spark, a.work, a.data, a.seed, catalog)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A fixed pure-JVM loop: its time tracks the box's speed, not the engine's. */
  def calibrationMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 1023
        i += 1
      }
      if (acc == 42) println("")
      (System.nanoTime() - t0) / 1e6
    }
    Harness.median(Seq.fill(5)(once()))
  }

  /** Least heap in use over a few full GCs: Spark's ContextCleaner frees
    * checkpointed and cached blocks only after a GC has found them
    * unreachable, so one GC alone reads whatever the cleaner had not yet
    * dropped. */
  def heapLiveMb(): Double = (0 until 4).map { _ =>
    System.gc()
    Thread.sleep(250)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wh = s"${a.work}/wh"
    Files.createDirectories(Paths.get(wh))
    val calib = calibrationMs()

    val t0 = System.nanoTime()
    val spark = session(a, wh)
    val sessionS = secs(t0)
    // traced runs build every engine on a load-counting catalog, one per warehouse
    val counting = scala.collection.mutable.LinkedHashMap.empty[String, CountingCatalog]
    val catalog: String => MetaCatalog =
      if (a.trace) dir => counting.getOrElseUpdate(dir, new CountingCatalog(new FsCatalog(dir)))
      else dir => new FsCatalog(dir)
    val w = workload(a, spark, catalog)
    val fix = System.nanoTime()
    w.setup()
    val fixtureS = secs(fix)
    val warm = System.nanoTime()
    val warmFails = w.warmup().zipWithIndex
      .map { case (op, i) => Harness.runOne(w, op, -1 - i, new OpObserver {}) }
      .filterNot(_.ok)
    val warmS = secs(warm)
    val setupS = sessionS + fixtureS + warmS
    System.err.println(f"[perfbench] setup session=$sessionS%.2fs fixtures=$fixtureS%.2fs warmup=$warmS%.2fs")

    val tracer = if (a.trace) Some(new Tracer(spark, w, counting.values.toSeq)) else None
    val ((samples, wallS), untraced) = tracer match {
      case None =>
        (Harness.closedLoop(w, Harness.rounds(w, a.seconds), 0, new OpObserver {}), Seq.empty)
      case Some(tr) =>
        // the first half of the rounds runs untraced so the traced rest's
        // overhead shows
        val rounds = Harness.rounds(w, a.seconds)
        val plainRounds = math.max(1, rounds / 2)
        val (plain, _) = Harness.closedLoop(w, plainRounds, 0, new OpObserver {})
        tr.install()
        val traced = Harness.closedLoop(w, math.max(1, rounds - plainRounds), plain.size, tr)
        tr.uninstall()
        (traced, plain)
    }
    val heapMb = heapLiveMb()
    val finalFails = try w.finalCheck() catch {
      case e: Throwable => Seq(s"final check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    finalFails.foreach(f => System.err.println(s"[perfbench] final check: $f"))
    warmFails.foreach(s => System.err.println(s"[perfbench] warm-up op ${s.kind} failed: ${s.error}"))

    val sum = Harness.summarize(samples, wallS, w.reported)
    val failFrac = if (sum.attempted == 0) 1.0 else sum.failed.toDouble / sum.attempted
    val context = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> a.nproc, "spark_threads" -> a.cpus, "jvm" -> System.getProperty("java.version"),
      "git_commit" -> a.commit, "source_stamp" -> a.stamp, "calibration_ms" -> calib,
      "setup" -> Map("session_s" -> sessionS, "fixture_s" -> fixtureS, "warmup_s" -> warmS),
      "loop_s" -> wallS,
      "fail_frac" -> failFrac, "ops" -> sum.counts,
      "latency_samples" -> samples.count(_.ok),
      "kind_p50_ms" -> sum.perKind.toMap,
      "final_check_failures" -> finalFails)
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", sum.opsPerS, "1/s"),
        ("op_p50_ms", sum.p50, "ms"),
        ("op_p90_ms", sum.p90, "ms"),
        ("heap_live_mb", heapMb, "MB"))
      case Some(tr) =>
        val plain = Harness.summarize(untraced, 0.0, w.reported).perKind.map(_._2)
        val overhead = sum.perKind.map(_._2).zip(plain)
          .map { case (t, u) => t - u }.filterNot(_.isNaN)
        tr.metrics() :+
          ("trace.overhead_ms", if (overhead.isEmpty) Double.NaN else overhead.sum / overhead.size, "ms")
    }
    val result = Map(
      "correct" -> (sum.failed == 0 && finalFails.isEmpty && warmFails.isEmpty && sum.attempted > 0),
      "attempted" -> sum.attempted,
      "failed" -> sum.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))
    val record = Map("context" -> context, "result" -> result,
      "samples" -> (untraced.map(_ -> false) ++ samples.map(_ -> tracer.isDefined)).map {
        case (s, traced) => Map("kind" -> s.kind, "table" -> s.table, "id" -> s.id,
          "ms" -> s.ms, "ok" -> s.ok, "error" -> s.error, "traced" -> traced)
      },
      "spans" -> tracer.map(_.spans).getOrElse(Seq.empty))
    Files.writeString(Paths.get(a.record), Json(record))
    spark.stop()
    println(Json(Map("context" -> context)))
    println(Json(result))
  }
}
