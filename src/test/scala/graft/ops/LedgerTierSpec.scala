package graft.ops

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.api.Engine

/** The component ledger's driver tier ([[ComponentIndex.fold]] /
  * [[ComponentIndex.retire]] within [[Dedup.LiteralMaxIds]] ids) equals
  * its distributed tier (bound 0) on adversarial batches: same deltas,
  * same tables. */
class LedgerTierSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** Two ledgers bootstrapped from the same pairs: (driver, distributed). */
  private def twins(name: String, boot: Seq[(Long, Long)]): (ComponentIndex, ComponentIndex) = {
    val e = new Engine(spark, java.nio.file.Files.createTempDirectory("ledgertier").toString)
    def one(ref: String) = {
      val idx = new ComponentIndex(e, ref, nBuckets = 8)
      idx.create()
      idx.bootstrap(boot.toDF("a_id", "b_id"))
      idx
    }
    (one(s"ns.${name}_driver"), one(s"ns.${name}_dist"))
  }

  private def snapshots(idx: ComponentIndex): Int =
    idx.engine.load(idx.ref).metadata.snapshots.size

  /** Fold `batch` through both tiers; assert equal deltas and tables. */
  private def foldBoth(driver: ComponentIndex, dist: ComponentIndex,
      batch: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val d1 = rows(driver.fold(batch.toDF("a_id", "b_id")))
    val d2 = rows(dist.fold(batch.toDF("a_id", "b_id"), 0))
    assert(d1 == d2, s"deltas differ for $batch")
    assert(rows(driver.assignments) == rows(dist.assignments), s"tables differ after $batch")
    d1
  }

  private def closure(ps: Seq[(Long, Long)]): Seq[(Long, Long)] =
    Dedup.minLabels(ps).toSeq.filter { case (d, c) => d != c }.sorted

  test("fold: chains merging many components, duplicate and self edges, " +
      "batch ids equal to standing labels — both tiers agree") {
    val boot = (0L until 20L by 2L).map(i => (i, i + 1L))
    val (driver, dist) = twins("fold", boot)
    // a chain through every standing component: nine labels merge away
    val chain = (1L until 19L by 2L).map(i => (i, i + 1L))
    foldBoth(driver, dist, chain)
    // duplicate, reversed and self edges, plus a new doc
    foldBoth(driver, dist, Seq((50L, 50L), (50L, 51L), (51L, 50L), (50L, 51L), (3L, 3L)))
    // batch ids that ARE standing labels (no stored row of their own),
    // one with a smaller new id that takes the label over
    foldBoth(driver, dist, Seq((50L, 0L), (100L, 200L)))
    val d = foldBoth(driver, dist, Seq((200L, 50L), (-1L, 100L)))
    assert(d.nonEmpty)
    val all = boot ++ chain ++ Seq((50L, 51L), (50L, 0L), (100L, 200L), (200L, 50L), (-1L, 100L))
    assert(rows(driver.assignments) == closure(all))
  }

  test("fold: an empty delta commits nothing on either tier") {
    val (driver, dist) = twins("empty", Seq((1L, 2L), (2L, 3L)))
    val before = (snapshots(driver), snapshots(dist))
    // every edge lands inside one standing component
    assert(foldBoth(driver, dist, Seq((1L, 3L), (2L, 2L), (3L, 2L))).isEmpty)
    assert((snapshots(driver), snapshots(dist)) == before)
  }

  test("retire: members, labels and singletons — both tiers agree") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (20L, 21L), (30L, 31L), (31L, 32L), (32L, 30L))
    val (driver, dist) = twins("retire", edges)
    var retired = Set.empty[Long]
    def provider(ids: DataFrame): DataFrame = {
      val s = ids.collect().map(_.getLong(0)).toSet
      edges.filter(p => s(p._1) && s(p._2) && !retired(p._1) && !retired(p._2))
        .toDF("a_id", "b_id")
    }
    def retireBoth(ids: Seq[Long]): Unit = {
      retired ++= ids
      val r1 = rows(driver.retire(ids.toDF("doc_id"), provider(_)))
      val r2 = rows(dist.retire(ids.toDF("doc_id"), provider(_), inMaxIds = 0))
      assert(r1 == r2, s"retire results differ for $ids")
      assert(rows(driver.assignments) == rows(dist.assignments), s"tables differ after $ids")
      assert(rows(driver.assignments) ==
        closure(edges.filter(p => !retired(p._1) && !retired(p._2))))
    }
    retireBoth(Seq(2L))            // a bridge member: {1} and {3,4} split
    retireBoth(Seq(10L, 30L))      // labels: the survivors relabel
    retireBoth(Seq(99L, 99L))      // a singleton, duplicated: no-op
    val before = (snapshots(driver), snapshots(dist))
    retireBoth(Seq(98L))
    assert((snapshots(driver), snapshots(dist)) == before)
  }
}
