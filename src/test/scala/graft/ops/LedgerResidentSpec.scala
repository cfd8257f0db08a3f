package graft.ops

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec
import graft.api.Engine
import graft.obs.JobCensus

/** The component ledger's resident rows ([[ComponentIndex]] loads them
  * on a further call at the snapshot it last worked at and keeps them
  * between calls at `(table uuid, snapshot id)`) give the same deltas and
  * tables as an instance that reads the table every time (bound 0), and
  * are dropped after any commit the instance did not make. */
class LedgerResidentSpec extends SparkSpec {
  import spark.implicits._

  /** Edge and id frames as local relations, the form the ingest loop
    * hands the ledger (a renaming `toDF` is a projection over one). */
  private def edgeFrame(ps: Iterable[(Long, Long)]): DataFrame =
    spark.createDataFrame(ps.toSeq.map { case (a, b) => Row(a, b) }.asJava,
      StructType(Seq(StructField("a_id", LongType, nullable = false),
        StructField("b_id", LongType, nullable = false))))

  private def idFrame(xs: Seq[Long]): DataFrame =
    spark.createDataFrame(xs.map(Row(_)).asJava,
      StructType(Seq(StructField("doc_id", LongType, nullable = false))))

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.select("doc_id", "component").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  private def closure(ps: Iterable[(Long, Long)]): Seq[(Long, Long)] =
    Dedup.minLabels(ps).toSeq.filter { case (d, c) => d != c }.sorted

  private def warehouse(): Engine =
    new Engine(spark, java.nio.file.Files.createTempDirectory("ledgerres").toString)

  private def ledger(e: Engine, ref: String, boot: Seq[(Long, Long)],
      maxRows: Long = ComponentIndex.ResidentMaxRows): ComponentIndex = {
    val idx = new ComponentIndex(e, ref, 8, maxRows)
    idx.create()
    idx.bootstrap(edgeFrame(boot))
    idx
  }

  /** The table as an instance that holds no rows reads it. */
  private def tableRows(idx: ComponentIndex): Seq[(Long, Long)] =
    rows(new ComponentIndex(idx.engine, idx.ref, 8, 0L).assignments)

  private def sites(body: => Unit): Seq[String] =
    JobCensus.during(spark)(body)._2.map(_.site)

  private def onlyCommits(ss: Seq[String]): Boolean =
    ss.forall(_.startsWith("graft.meta.TableWriter"))

  test("seeded folds and retires: resident and table-reading ledgers agree " +
      "with each other and with the closure after every step") {
    val rnd = new Random(20261020L)
    val boot = (0L until 40L by 3L).map(i => (i, i + 1L)) ++ Seq((1L, 2L), (50L, 51L))
    val e = warehouse()
    val res = ledger(e, "ns.seq_resident", boot)
    val read = ledger(e, "ns.seq_read", boot, maxRows = 0L)
    val edges = scala.collection.mutable.Set(boot: _*)
    def provider(ids: DataFrame): DataFrame = {
      val s = ids.collect().map(_.getLong(0)).toSet
      edgeFrame(edges.filter(p => s(p._1) && s(p._2)))
    }
    var calls = 0
    def check(step: String, a: DataFrame, b: DataFrame): Unit = {
      calls += 1
      assert(rows(a) == rows(b), s"$step: returned rows differ")
      val expected = closure(edges)
      assert(tableRows(res) == expected, s"$step: resident ledger's table")
      assert(tableRows(read) == expected, s"$step: reading ledger's table")
      assert(read.residentRows.isEmpty, s"$step: rows resident at bound 0")
      // the first call after bootstrap keeps the pushed-down reads
      val kept = res.residentRows
      assert(kept.isDefined == calls > 1, s"$step: resident after $calls calls")
      kept.foreach(k => assert(k.sorted == expected, s"$step: resident rows"))
    }
    def labels: Seq[Long] = closure(edges).map(_._2).distinct
    def fold(step: String, batch: Seq[(Long, Long)]): Unit = {
      edges ++= batch
      check(step, res.fold(edgeFrame(batch)), read.fold(edgeFrame(batch)))
    }
    def retire(step: String, ids: Seq[Long]): Unit = {
      edges --= edges.filter(p => ids.contains(p._1) || ids.contains(p._2)).toSeq
      check(step, res.retire(idFrame(ids), provider(_)),
        read.retire(idFrame(ids), provider(_)))
    }
    for (step <- 0 until 24) step % 6 match {
      case 0 => // a chain through several standing components
        val ls = rnd.shuffle(labels).take(4 + rnd.nextInt(4))
        fold(s"$step chain", ls.zip(ls.drop(1)).map { case (a, b) => (a + 1, b) })
      case 1 => // duplicate, reversed and self edges around new docs
        val d = 100L + step * 10
        fold(s"$step dups", Seq((d, d + 1), (d + 1, d), (d, d + 1), (d, d), (d + 1, d + 2)))
      case 2 => // batch ids that ARE standing labels, one with a smaller new id
        val ls = rnd.shuffle(labels).take(2)
        fold(s"$step labels", ls.map(l => (l, 200L + step)) :+ ((ls.head, -step.toLong)))
      case 3 => // edges inside one standing component: an empty delta
        val c = closure(edges).groupBy(_._2).maxBy(_._2.size)
        fold(s"$step empty", c._2.map { case (d, l) => (d, l) } :+ ((c._1, c._1)))
      case 4 => // retire a label and a member of another component
        val ls = rnd.shuffle(labels).take(2)
        val member = closure(edges).filter(_._2 == ls.last).map(_._1).headOption
        retire(s"$step retire", ls.take(1) ++ member)
      case 5 => // random edges among old and new docs, then a retire of singletons
        fold(s"$step random", Seq.fill(6)((rnd.nextInt(60).toLong, rnd.nextInt(260).toLong)))
        retire(s"$step singletons", Seq(9999L, 9999L))
    }
    assert(rows(res.assignments) == tableRows(read))
    assert(res.residentRows.map(_.sorted).contains(tableRows(read)))
  }

  test("a one-shot fold keeps the pushed-down reads; the next call loads the rows") {
    val boot = (0L until 40L by 2L).map(i => (i, i + 1L))
    val e = warehouse()
    ledger(e, "ns.oneshot", boot)
    val idx = new ComponentIndex(e, "ns.oneshot", 8)
    idx.fold(edgeFrame(Seq((1L, 2L))))
    assert(idx.residentRows.isEmpty, "a first fold loaded the whole ledger")
    val left = boot.filterNot(_._1 == 0L) :+ ((1L, 2L))
    idx.retire(idFrame(Seq(0L)), ids => {
      val s = ids.collect().map(_.getLong(0)).toSet
      edgeFrame(left.filter(p => s(p._1) && s(p._2)))
    })
    val expected = closure(left)
    assert(idx.residentRows.map(_.sorted).contains(expected))
    assert(rows(idx.assignments) == expected)
  }

  test("commits by others move the snapshot: the next fold re-reads the table") {
    val boot = Seq((1L, 2L), (10L, 11L), (20L, 21L), (30L, 31L))
    val e = warehouse()
    val a = ledger(e, "ns.foreign", boot)
    val b = new ComponentIndex(e, "ns.foreign", 8)
    val edges = scala.collection.mutable.ArrayBuffer(boot: _*)
    def foldA(batch: Seq[(Long, Long)]): Seq[String] = {
      edges ++= batch
      val ss = sites(a.fold(edgeFrame(batch)))
      assert(rows(a.assignments) == closure(edges))
      assert(tableRows(a) == closure(edges))
      ss
    }
    foldA(Seq((2L, 3L)))
    foldA(Seq((3L, 4L)))
    assert(onlyCommits(foldA(Seq((4L, 5L)))), "a warm fold reads no table")
    def readsAfter(foreign: => Unit): Unit = {
      foreign
      assert(a.residentRows.isEmpty, "rows of an older snapshot served")
      val ss = foldA(Seq((edges.last._2, edges.last._2 + 1)))
      assert(ss.exists(_.startsWith("graft.ops.Dedup$.longPairs")), s"no read: $ss")
      assert(a.residentRows.isEmpty)
    }
    readsAfter { edges += ((11L, 12L)); b.fold(edgeFrame(Seq((11L, 12L)))) }
    readsAfter(assert(a.compact().isDefined))
    readsAfter {
      edges += ((40L, 41L))
      e.append("ns.foreign", Seq((41L, 40L)).toDF("doc_id", "component"))
    }
    assert(rows(new ComponentIndex(e, "ns.foreign").assignments) == closure(edges))
  }

  test("a snapshot id handed out again after rollback and expiration is not " +
      "taken for the resident rows' snapshot") {
    val boot = Seq((1L, 2L), (10L, 11L), (20L, 21L))
    val e = warehouse()
    val a = ledger(e, "ns.reuse", boot)
    val bootId = e.load("ns.reuse").metadata.currentSnapshotId.get
    a.fold(edgeFrame(Seq((2L, 3L))))
    a.fold(edgeFrame(Seq((3L, 4L))))
    val heldId = e.load("ns.reuse").metadata.currentSnapshotId.get
    assert(a.residentRows.isDefined)
    // back to the bootstrap snapshot, drop both folds' snapshots, and
    // commit two other folds: the second gets the held snapshot's id
    e.rollback("ns.reuse", bootId)
    e.expireSnapshots("ns.reuse", System.currentTimeMillis() + 60000L)
    val b = new ComponentIndex(e, "ns.reuse", 8)
    b.fold(edgeFrame(Seq((11L, 12L))))
    b.fold(edgeFrame(Seq((21L, 22L))))
    assert(e.load("ns.reuse").metadata.currentSnapshotId.contains(heldId))
    val expected = closure(boot ++ Seq((11L, 12L), (21L, 22L)))
    assert(a.residentRows.isEmpty)
    assert(rows(a.assignments) == expected)
    a.fold(edgeFrame(Seq((1L, 30L))))
    assert(rows(a.assignments) == closure(boot ++ Seq((11L, 12L), (21L, 22L), (1L, 30L))))
  }

  test("two resident instances conflict under foldWithRetry: both edge sets land") {
    val base = Seq((1L, 2L), (10L, 11L), (20L, 21L))
    val e = warehouse()
    val a = ledger(e, "ns.cas", base)
    val b = new ComponentIndex(e, "ns.cas", 8)
    // both have worked at the same snapshot, so their concurrent folds
    // off it load it resident
    a.fold(edgeFrame(Seq((2L, 3L))))
    b.fold(edgeFrame(Seq((3L, 3L))))
    val e1 = Seq((3L, 10L))
    val e2 = Seq((11L, 20L))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    def submit(idx: ComponentIndex, batch: Seq[(Long, Long)]) =
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { gate.await(); idx.foldWithRetry(edgeFrame(batch)); () }
      })
    val (f1, f2) = (submit(a, e1), submit(b, e2))
    f1.get(); f2.get(); pool.shutdown()
    val expected = closure(base ++ Seq((2L, 3L)) ++ e1 ++ e2)
    assert(rows(a.assignments) == expected)
    assert(tableRows(a) == expected)
    for (idx <- Seq(a, b)) assert(idx.residentRows.forall(_.sorted == expected))
  }

  test("a ledger above the resident bound keeps the table reads") {
    val boot = (0L until 20L by 2L).map(i => (i, i + 1L))
    val e = warehouse()
    val idx = ledger(e, "ns.bound", boot, maxRows = 5L)
    idx.fold(edgeFrame(Seq((1L, 2L))))
    val ss = sites(idx.fold(edgeFrame(Seq((3L, 4L)))))
    assert(ss.exists(_.startsWith("graft.ops.Dedup$.longPairs")), s"no read: $ss")
    assert(idx.residentRows.isEmpty)
    assert(rows(idx.assignments) == closure(boot ++ Seq((1L, 2L), (3L, 4L))))
  }

  test("a warm driver-tier fold and retire run only commit jobs") {
    val boot = (0L until 30L by 2L).map(i => (i, i + 1L))
    val e = warehouse()
    val idx = ledger(e, "ns.warm", boot)
    idx.fold(edgeFrame(Seq((1L, 2L))))
    idx.fold(edgeFrame(Seq((9L, 10L))))
    // renaming `toDF` frames are driver rows too
    val foldSites = sites(idx.fold(Seq((3L, 4L), (5L, 6L), (100L, 7L)).toDF("a_id", "b_id")))
    assert(foldSites.nonEmpty && onlyCommits(foldSites), s"fold jobs: $foldSites")
    val edges = boot ++ Seq((1L, 2L), (9L, 10L), (3L, 4L), (5L, 6L), (100L, 7L))
    val retireSites = sites(idx.retire(Seq(4L, 20L).toDF("doc_id"), ids => {
      val s = ids.collect().map(_.getLong(0)).toSet
      edgeFrame(edges.filter(p => s(p._1) && s(p._2)))
    }))
    assert(retireSites.nonEmpty && onlyCommits(retireSites), s"retire jobs: $retireSites")
    assert(rows(idx.assignments) ==
      closure(edges.filterNot(p => Set(4L, 20L)(p._1) || Set(4L, 20L)(p._2))))
  }
}
