package perfbench

import org.apache.spark.sql.sources.Filter

/** Self-test of the harness, no Spark needed: injected wrong results and
  * thrown exceptions must count as failed ops with no latency recorded,
  * and the percentile code must reproduce known values. Exit code 1 on
  * any failed assertion. */
object SelfTest {

  /** Ops cycle good / wrong / throws; good ops sleep 5, 10, 15, ... ms. */
  final class Faulty extends Workload {
    val reported = Seq("good")
    val roundSize = 3
    val roundSeconds = 1.0
    private var i = 0
    def setup(): Unit = ()
    def warmup(): Seq[Op] = Seq.empty
    def finalCheck(): Seq[String] = Seq.empty
    def tableDir(table: String): String = ""
    def pruneFilter(table: String): Seq[Filter] = Nil
    def next(): Op = {
      i += 1
      val n = i
      (n % 3) match {
        case 1 => Op("good", "t", () => { Thread.sleep(5L * (n / 3 + 1)); () => () })
        case 2 => Op("good", "t", () => () => throw new WrongResult(s"injected wrong result $n"))
        case _ => Op("good", "t", () => throw new IllegalStateException(s"injected exception $n"))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    var failures = 0
    def expect(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"} $what")
      if (!ok) failures += 1
    }
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-4

    val w = new Faulty
    val samples = (0 until 9).map(id => Harness.runOne(w, w.next(), id, new OpObserver {}))
    val s = Harness.summarize(samples, 1.0, w.reported)
    expect("9 ops attempted", s.attempted == 9)
    expect("6 injected faults counted as failed", s.failed == 6)
    expect("wrong results fail with WrongResult",
      samples.filter(x => !x.ok && x.error.startsWith("WrongResult")).size == 3)
    expect("exceptions fail with their own type",
      samples.filter(x => !x.ok && x.error.startsWith("IllegalStateException")).size == 3)
    expect("only good ops are counted as completed", s.counts == Map("good@t" -> 3))
    expect("ops_per_s counts completed ops only", near(s.opsPerS, 3.0))
    val good = samples.filter(_.ok).map(_.ms)
    expect("p50 is over good ops only", near(s.perKind.head._2, Harness.median(good)))
    expect("p90 is over good ops only", near(s.p90, Harness.percentile(good, 0.9)))
    expect("good op latencies are the slept ones (>= 5, 10, 15 ms)",
      good.zip(Seq(5.0, 10.0, 15.0)).forall { case (g, want) => g >= want && g < want + 200 })

    val (loop, wallS) = Harness.closedLoop(new Faulty, 2, 0, new OpObserver {})
    expect("a closed loop runs whole rounds", loop.size == 6)
    expect("seconds buy whole rounds",
      Harness.rounds(w, 1e-3) == 1 && Harness.rounds(w, 2.0) == 2 && Harness.rounds(w, 2.5) == 3)
    expect("loop wall covers every op", wallS * 1e3 >= loop.map(_.ms).sum)

    val known = (1 to 10).map(_.toDouble)
    // Harrell–Davis reference values, computed independently with the
    // regularized incomplete beta function
    expect("p50 of 1..10 is 5.5", near(Harness.percentile(known, 0.5), 5.5))
    expect("p90 of 1..10 is 9.4351", near(Harness.percentile(known, 0.9), 9.4351))
    expect("p90 of a constant sample is the constant",
      near(Harness.percentile(Seq.fill(7)(4.0), 0.9), 4.0))
    expect("p50 of one sample is that sample", near(Harness.percentile(Seq(3.0), 0.5), 3.0))
    expect("p90 lies between p50 and the max",
      Harness.percentile(known, 0.9) > Harness.percentile(known, 0.5) &&
        Harness.percentile(known, 0.9) < 10)
    val twoTables = Seq(Sample("k", "a", 0, 0, 1000000, ok = true, ""),
      Sample("k", "a", 1, 0, 3000000, ok = true, ""),
      Sample("k", "b", 2, 0, 10000000, ok = true, ""))
    expect("kind p50 averages per-table medians (2 and 10 ms -> 6 ms)",
      near(Harness.kindP50(twoTables, "k"), 6.0))
    expect("interval union", near(Tracer.measure(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))), 4.0))
    expect("interval subtract",
      near(Tracer.measure(Tracer.subtract(Seq((0.0, 10.0)), Seq((2.0, 3.0), (5.0, 7.0)))), 7.0))

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
