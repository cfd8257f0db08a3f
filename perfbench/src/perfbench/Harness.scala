package perfbench

import org.apache.commons.math3.special.Beta

/** A check that an op's output disagrees with the benchmark's model. */
final class WrongResult(msg: String) extends RuntimeException(msg)

object Check {
  def equal(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new WrongResult(s"$what: got $got, want $want")
  def that(what: String, ok: Boolean): Unit =
    if (!ok) throw new WrongResult(what)
}

/** One operation of a closed loop. `run` is the timed call into the
  * engine; it returns the verification thunk, which runs outside the
  * op's interval and throws [[WrongResult]] when the output disagrees
  * with the workload's model. `table` groups per-table statistics and
  * names the table the traced run probes next to the op. */
final case class Op(kind: String, table: String, run: () => (() => Unit),
    prune: Seq[org.apache.spark.sql.sources.Filter] = Nil)

/** One finished op. A failed op (threw, or its check failed) keeps its
  * interval for the trace but never contributes a latency. */
final case class Sample(kind: String, table: String, id: Int,
    startNs: Long, endNs: Long, ok: Boolean, error: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

trait Workload {
  /** Counts the last op's check derived from its output (`survivors`,
    * `rows_out`, ...); the harness clears them before every op. */
  var counts: Map[String, Double] = Map.empty
  /** Op kinds that have a per-kind median metric, metric prefix first. */
  def reported: Seq[String]
  /** Build the fixtures the run uses. */
  def setup(): Unit
  /** One untimed op of every kind (JIT, codegen and first-touch caches). */
  def warmup(): Seq[Op]
  def next(): Op
  /** Ops per round of the seeded mix; a run measures whole rounds, so
    * every run has the same op composition. */
  def roundSize: Int
  /** Nominal wall of one round on a quiet 4-core box. It sizes a run:
    * `--seconds` buys `ceil(seconds / roundSeconds)` rounds, a fixed count,
    * so a slow run measures the same ops as a fast one. */
  def roundSeconds: Double
  /** Untimed end-of-run model checks; the failures found. */
  def finalCheck(): Seq[String]
  /** Table directory behind an op's `table`, for the traced probes. */
  def tableDir(table: String): String
  /** Op kinds that commit (the traced run takes a file census around them). */
  def commitKinds: Set[String] = Set.empty
  /** A seeded key-range filter the traced run prunes `table`'s files
    * with, for ops that carry no filter of their own. */
  def pruneFilter(table: String): Seq[org.apache.spark.sql.sources.Filter]
}

/** Hooks a traced run hangs around every op. */
trait OpObserver {
  def before(op: Op, id: Int): Unit = ()
  def after(op: Op, s: Sample): Unit = ()
  def checked(op: Op, s: Sample): Unit = ()
}

object Harness {

  /** Whole rounds that `seconds` of loop buy on `w` (at least one). */
  def rounds(w: Workload, seconds: Double): Int =
    math.max(1, math.ceil(seconds / w.roundSeconds - 1e-9).toInt)

  /** Runs `rounds` whole rounds of ops back to back — one client, the next
    * op issued only after the previous one returned and was checked.
    * Returns the samples and the loop's wall in seconds. */
  def closedLoop(w: Workload, rounds: Int, firstId: Int,
      obs: OpObserver): (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val out = (firstId until firstId + rounds * w.roundSize).map(id => runOne(w, w.next(), id, obs))
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def runOne(w: Workload, op: Op, id: Int, obs: OpObserver): Sample = {
    w.counts = Map.empty
    obs.before(op, id)
    val s = System.nanoTime()
    val verdict = try Right(op.run()) catch { case e: Throwable => Left(e) }
    val e = System.nanoTime()
    val timed = Sample(op.kind, op.table, id, s, e, ok = true, "")
    obs.after(op, timed)
    val checked = verdict.flatMap { chk =>
      try { chk(); Right(()) } catch { case t: Throwable => Left(t) }
    } match {
      case Right(_) => timed
      case Left(t) =>
        val msg = s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300)
        System.err.println(s"[perfbench] op $id ${op.kind}@${op.table} FAILED $msg")
        timed.copy(ok = false, error = msg)
    }
    obs.checked(op, checked)
    checked
  }

  /** Harrell–Davis estimate of the `p` quantile: a weighted mean of every
    * order statistic (Beta(p(n+1), (1-p)(n+1)) weights). A run has a few
    * dozen ops, so a p90 read off two adjacent order statistics would
    * hinge on two samples; this one does not. NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val v = xs.sorted
      val n = v.size
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      def cdf(x: Double) =
        if (x <= 0) 0.0 else if (x >= 1) 1.0 else Beta.regularizedBeta(x, a, b)
      v.indices.map(i => (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n)) * v(i)).sum
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Median latency of one op kind: the median per table, averaged over
    * the tables the kind ran on (equal weight per table, so a mix of a
    * small and a large table does not make the median jump between the
    * two modes when their sample counts differ by one). */
  def kindP50(ok: Seq[Sample], kind: String): Double = {
    val perTable = ok.filter(_.kind == kind).groupBy(_.table).values
      .map(ss => median(ss.map(_.ms))).toSeq
    if (perTable.isEmpty) Double.NaN else perTable.sum / perTable.size
  }

  final case class Summary(attempted: Int, failed: Int, opsPerS: Double,
      p50: Double, p90: Double, perKind: Seq[(String, Double)], counts: Map[String, Int])

  /** `wallS` is the closed loop's wall: ops plus the client's own work
    * between them (preparing the next op, checking the last one). */
  def summarize(samples: Seq[Sample], wallS: Double, kinds: Seq[String]): Summary = {
    val ok = samples.filter(_.ok)
    Summary(samples.size, samples.count(!_.ok),
      if (wallS > 0) ok.size / wallS else 0.0,
      percentile(ok.map(_.ms), 0.5),
      percentile(ok.map(_.ms), 0.9),
      kinds.map(k => k -> kindP50(ok, k)),
      ok.groupBy(s => s"${s.kind}@${s.table}").map { case (k, v) => k -> v.size })
  }
}

/** Minimal JSON rendering for the run records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product if p.productArity == 0 => quote(p.toString)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
