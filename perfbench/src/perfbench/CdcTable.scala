package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._

import graft.api.Engine
import graft.meta.MetaCatalog

/** Writes beside reads on one merge-on-read table of flat `orders` rows:
  * appends of new keys, upserts of live keys, range deletes, key-range
  * probes through the `graft` SQL catalog, full aggregates through
  * `Engine.readTable`, and a maintenance op closing every round of the
  * mix. A driver-side key → row model checks every read. */
final class CdcTable(spark: SparkSession, work: String, seed: Long,
    catalog: String => MetaCatalog) extends Workload {
  import CdcTable._

  val reported = Seq("append", "upsert", "delete", "probe", "scan")

  private val rng = new scala.util.Random(seed)
  private val wh = s"$work/wh"
  private val ref = "bench.orders"
  /** key → (custkey, status, price in cents) */
  private val model = new java.util.TreeMap[java.lang.Long, (Long, String, Long)]()
  private var nextKey = 1L

  def tableDir(table: String): String = s"$wh/bench/$table"

  private def row(): (Long, String, Long) =
    (rng.nextInt(15000).toLong, Statuses(rng.nextInt(Statuses.size)), 100000L + rng.nextInt(49900000))

  private def frame(rows: Seq[(Long, (Long, String, Long))]) =
    spark.createDataFrame(rows.map { case (k, (c, s, p)) => Row(k, c, s, p / 100.0) }.asJava, Schema)

  def setup(): Unit = {
    val e = new Engine(spark, wh)
    e.createTable(ref, Schema)
    val gen = new scala.util.Random(seed ^ 0x5eedL)
    var k = 1L
    (0 until SeedAppends).foreach { _ =>
      val rows = (0 until SeedRows).map { _ =>
        val r = (k, (gen.nextInt(15000).toLong, Statuses(gen.nextInt(Statuses.size)),
          100000L + gen.nextInt(49900000)))
        k += 1
        r
      }
      e.append(ref, frame(rows))
      rows.foreach { case (key, v) => model.put(key, v) }
    }
    nextKey = k
  }

  private def engine() = new Engine(spark, wh, catalog(wh))

  override val commitKinds = Set("append", "upsert", "delete", "maint")
  private val probeRng = new scala.util.Random(seed ^ 0x7eaceL)
  private def range(lo: Long, hi: Long): Seq[Filter] =
    Seq(GreaterThanOrEqual("o_orderkey", lo), LessThanOrEqual("o_orderkey", hi))
  def pruneFilter(table: String): Seq[Filter] = {
    val lo = model.firstKey() + (probeRng.nextDouble() * (model.lastKey() - model.firstKey())).toLong
    range(lo, lo + ProbeSpan - 1)
  }

  /** A live key near a seeded point of the key space. */
  private def liveKey(): Long = {
    val lo = model.firstKey().longValue
    val hi = model.lastKey().longValue
    val k = model.ceilingKey(lo + (rng.nextDouble() * (hi - lo)).toLong)
    if (k == null) hi else k.longValue
  }

  private def totals(lo: Long, hi: Long): (Long, Long, Long) = {
    val sub = model.subMap(lo, true, hi, true).asScala
    (sub.size.toLong, sub.keys.map(_.longValue).sum, sub.values.map(_._3).sum)
  }

  private def checkAgg(what: String, r: Row, want: (Long, Long, Long)): Unit = {
    counts += "rows_out" -> r.getLong(0).toDouble
    val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getDecimal(2).movePointRight(2).longValueExact)
    Check.equal(what, got, want)
  }

  private def append(): Op = {
    val rows = (0 until AppendRows).map(i => (nextKey + i, row()))
    nextKey += AppendRows
    val df = frame(rows)
    Op("append", "orders", () => {
      val r = engine().append(ref, df)
      () => {
        Check.equal("append records", r.addedRecords, AppendRows.toLong)
        rows.foreach { case (k, v) => model.put(k, v) }
      }
    })
  }

  private def upsert(): Op = {
    val keys = Iterator.continually(liveKey()).distinct.take(UpsertRows).toSeq
    val rows = keys.map(k => (k, row()))
    val df = frame(rows)
    Op("upsert", "orders", () => {
      val r = engine().upsert(ref, df, Seq("o_orderkey"))
      () => {
        Check.equal("upsert records", r.addedRecords, UpsertRows.toLong)
        rows.foreach { case (k, v) => model.put(k, v) }
      }
    })
  }

  private def delete(): Op = {
    val lo = liveKey()
    val hi = lo + DeleteSpan - 1
    Op("delete", "orders", () => {
      val r = engine().deleteWhere(ref, col("o_orderkey").between(lo, hi))
      () => {
        Check.that(s"delete [$lo, $hi] committed", r.isDefined)
        model.subMap(lo, true, hi, true).clear()
      }
    })
  }

  private def probe(): Op = {
    val lo = liveKey()
    val hi = lo + ProbeSpan - 1
    Op("probe", "orders", () => {
      val r = spark.sql(
        s"""SELECT count(*), sum(o_orderkey), sum(CAST(o_totalprice AS DECIMAL(18,2)))
           |FROM graft.$ref WHERE o_orderkey BETWEEN $lo AND $hi""".stripMargin).collect()
      () => checkAgg(s"probe [$lo, $hi]", r(0), totals(lo, hi))
    }, prune = range(lo, hi))
  }

  private def scanAgg(e: Engine) =
    e.readTable(ref).agg(count(lit(1)), sum(col("o_orderkey")),
      sum(col("o_totalprice").cast(DecimalType(18, 2)))).collect()

  private def scan(): Op = Op("scan", "orders", () => {
    val r = scanAgg(engine())
    () => checkAgg("scan", r(0), totals(Long.MinValue, Long.MaxValue))
  })

  /** Compaction, dangling-delete cleanup and snapshot expiry, one op. */
  private def maint(): Op = Op("maint", "orders", () => {
    val e = engine()
    val (compactMs, _) = Tracer.time { e.rewriteSmallFiles(ref); e.pruneDanglingDeletes(ref) }
    val (expireMs, _) = Tracer.time(e.expireSnapshots(ref, System.currentTimeMillis(), retainLast = 1))
    counts = Map("compact_ms" -> compactMs, "expire_ms" -> expireMs)
    () => {
      checkAgg("after maintenance", scanAgg(engine())(0), totals(Long.MinValue, Long.MaxValue))
    }
  })

  private val round: Seq[String] = Mix.flatMap { case (k, n) => Seq.fill(n)(k) }
  private var queue = List.empty[String]
  val roundSize: Int = round.size + 1
  val roundSeconds = 6.0

  private def make(kind: String): Op = kind match {
    case "append" => append()
    case "upsert" => upsert()
    case "delete" => delete()
    case "probe" => probe()
    case "scan" => scan()
    case "maint" => maint()
  }

  /** A round: the mix in seeded order, then maintenance. */
  def next(): Op = {
    if (queue.isEmpty) queue = rng.shuffle(round).toList :+ "maint"
    val k = queue.head
    queue = queue.tail
    make(k)
  }

  def warmup(): Seq[Op] = (round.distinct :+ "maint").map(make)

  def finalCheck(): Seq[String] = {
    val rows = new Engine(spark, wh, catalog(wh)).readTable(ref).collect()
    val got = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getString(2),
      math.round(r.getDouble(3) * 100))).toMap
    val want = model.asScala.map { case (k, v) => k.longValue -> v }.toMap
    if (got == want) Seq.empty
    else {
      val missing = want.keySet.diff(got.keySet).size
      val extra = got.keySet.diff(want.keySet).size
      val differ = want.count { case (k, v) => got.get(k).exists(_ != v) }
      Seq(s"table != model: ${rows.length} rows vs ${want.size}; " +
        s"$missing missing, $extra extra, $differ differ")
    }
  }
}

object CdcTable {
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))
  val Statuses = Vector("F", "O", "P")

  val SeedAppends = 6
  val SeedRows = 10000
  val AppendRows = 300
  val UpsertRows = 150
  val DeleteSpan = 200
  val ProbeSpan = 2000

  /** Ops per round, before its closing maintenance op. */
  val Mix: Seq[(String, Int)] = Seq(
    "append" -> 3, "upsert" -> 2, "delete" -> 1, "probe" -> 2, "scan" -> 2)
}
