package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._

import graft.api.Engine
import graft.meta.MetaCatalog
import graft.ops.{ComponentIndex, Dedup, NearDupIndex}

/** Dedup ingest over the `documents` table: a `NearDupIndex` gate and a
  * `ComponentIndex` ledger bootstrapped from a seeded 90% of the corpus.
  * Per batch of 2% of the corpus, drawn from the held-out rest: `admit`,
  * then `fold` of the batch's candidate pairs; every
  * [[DedupIngest.MaintEvery]] batches a maintenance op retires a 1% slice
  * from both indexes and compacts the gate. A retired document goes back
  * to the held-out pool and may come back later under a fresh id, as a
  * re-submitted copy.
  *
  * The model is each document's band signatures (computed once, outside
  * any op) and the set of live documents: the gate must admit exactly the
  * batch documents that share no band with the indexed ones, and the
  * ledger must equal the connected components of the band-collision graph
  * over every live document it has seen. */
final class DedupIngest(spark: SparkSession, work: String, data: String, seed: Long,
    catalog: String => MetaCatalog) extends Workload {
  import DedupIngest._

  val reported = Seq("admit", "fold")

  private val wh = s"$work/wh"
  private val rng = new scala.util.Random(seed)
  private val texts = mutable.LongMap.empty[String]
  // held-out documents, next batch first; a re-submitted copy has no id yet
  private val pool = mutable.Queue.empty[(Option[Long], String)]
  private var nextId = 0L // first id of a re-submitted copy

  private type Band = (Int, Long)
  private val sigs = mutable.LongMap.empty[Seq[Band]]
  private val live = mutable.Set.empty[Long]      // seen and not retired
  private val indexed = mutable.Set.empty[Long]   // in the near-dup index
  private var batches = 0
  private var nd: NearDupIndex = _
  private var ci: ComponentIndex = _

  def tableDir(table: String): String = s"$wh/bench/$table"

  override val commitKinds = Set("admit", "fold", "maint")
  private val probeRng = new scala.util.Random(seed ^ 0x7eaceL)
  def pruneFilter(table: String): Seq[Filter] = {
    val lo = probeRng.nextInt(nextId.toInt).toLong
    Seq(GreaterThanOrEqual("doc_id", lo), LessThanOrEqual("doc_id", lo + BatchDocs - 1))
  }

  /** The next held-out document: a corpus document under its own id, or
    * a re-submitted copy under a fresh one. */
  private def newDoc(): Long = {
    if (pool.isEmpty) throw new IllegalStateException("held-out document pool is empty")
    val (given, text) = pool.dequeue()
    val id = given.getOrElse { nextId += 1; nextId - 1 }
    texts(id) = text
    id
  }

  private def docs(ids: Iterable[Long]): DataFrame =
    spark.createDataFrame(ids.toSeq.map(i => Row(i, texts(i))).asJava, DocSchema)

  private def ids(xs: Iterable[Long]): DataFrame =
    spark.createDataFrame(xs.toSeq.map(Row(_)).asJava, StructType(Seq(StructField("doc_id", LongType))))

  /** Band signatures of `ids`, computed through the engine's own kernel. */
  private def signatures(xs: Seq[Long]): Unit =
    Dedup.bandSignatures(docs(xs)).collect().groupBy(_.getLong(0)).foreach { case (d, rs) =>
      sigs(d) = rs.map(r => (r.getInt(1), r.getLong(2))).toSeq
    }

  private def collides(d: Long, among: collection.Set[Long], bands: Map[Band, Seq[Long]]) =
    sigs(d).exists(b => bands.getOrElse(b, Nil).exists(among))

  private def byBand(of: Iterable[Long]): Map[Band, Seq[Long]] =
    of.toSeq.flatMap(d => sigs(d).map(_ -> d)).groupMap(_._1)(_._2)

  /** Every band-collision pair among `of`, as (a_id < b_id). */
  private def pairs(of: Iterable[Long]): Set[(Long, Long)] =
    byBand(of).values.flatMap { ds =>
      val s = ds.distinct.sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }.toSet

  private def pairFrame(ps: Iterable[(Long, Long)]): DataFrame =
    spark.createDataFrame(ps.toSeq.map { case (a, b) => Row(a, b) }.asJava, PairSchema)

  /** Sparse min-id components of the collision graph over the live docs. */
  private def expectedLedger(): Set[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs(live).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    live.iterator.map(d => d -> find(d)).filter { case (d, c) => d != c }.toSet
  }

  private def ledger(c: ComponentIndex): Set[(Long, Long)] =
    c.assignments.select("doc_id", "component").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet

  /** Loads the corpus, shuffles it with the seed, bootstraps both
    * indexes from the first 90% and holds the rest out for the batches. */
  def setup(): Unit = {
    val corpus = graft.Tables.documents(spark, data).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    val boot = math.round(corpus.size * BootShare).toInt
    nextId = corpus.last._1 + 1
    rng.shuffle(corpus).foreach { case (id, text) => pool.enqueue(Some(id) -> text) }
    val bootIds = Seq.fill(boot)(newDoc())
    signatures(bootIds)
    live ++= bootIds
    indexed ++= bootIds
    val e = new Engine(spark, wh, catalog(wh))
    val bootFrame = docs(bootIds)
    nd = new NearDupIndex(e, "bench.near_dup")
    nd.create()
    nd.bootstrap(bootFrame)
    ci = new ComponentIndex(e, "bench.components")
    ci.create()
    ci.bootstrap(Dedup.minhashCandidates(spark, bootFrame))
  }

  private var pending = List.empty[Op]

  /** The next batch: its admit op, then its fold op. */
  private def batch(): List[Op] = {
    val b = Seq.fill(BatchDocs)(newDoc())
    signatures(b)
    val frame = docs(b)
    val bands = byBand(indexed)
    val expected = b.filterNot(collides(_, indexed, bands)).toSet
    val admit = Op("admit", "near_dup", () => {
      val survivors = nd.admit(frame)
      () => {
        val got = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
        counts = Map("survivors" -> got.size.toDouble)
        Check.equal("admitted", got, expected)
        indexed ++= got
        live ++= b
      }
    })
    // the batch's candidate pairs: its docs against every live doc seen
    // so far, and among themselves
    val mine = b.toSet
    val edges = byBand(live ++ b).values.flatMap { ds =>
      val s = ds.distinct.sorted
      for (i <- s.indices; j <- i + 1 until s.size if mine(s(i)) || mine(s(j)))
        yield (s(i), s(j))
    }.toSet
    val edgeFrame = pairFrame(edges)
    val fold = Op("fold", "components", () => {
      val delta = ci.fold(edgeFrame)
      () => {
        counts = Map("candidate_pairs" -> edges.size.toDouble,
          "components_changed" -> delta.count().toDouble)
        Check.equal("ledger", ledger(ci), expectedLedger())
      }
    })
    List(admit, fold)
  }

  /** Retire a seeded slice of live docs from both indexes, then compact. */
  private def maint(): Op = {
    val gone = rng.shuffle(live.toSeq.sorted).take(RetireDocs)
    val corpus = docs(texts.keys.toSeq.sorted)
    Op("maint", "near_dup", () => {
      nd.retire(gone)
      ci.retire(ids(gone), Dedup.pairsFromDocs(corpus))
      counts = Map("compact_ms" -> Tracer.time(nd.compact())._1)
      () => {
        counts += "retired_docs" -> gone.size.toDouble
        live --= gone
        indexed --= gone
        gone.foreach(d => pool.enqueue(None -> texts(d)))
        Check.equal("ledger after retire", ledger(ci), expectedLedger())
      }
    })
  }

  val roundSize: Int = 2 * MaintEvery + 1
  val roundSeconds = 14.0

  /** A round: [[MaintEvery]] batches, then maintenance. */
  def next(): Op = {
    if (pending.isEmpty) {
      if (batches == MaintEvery) { batches = 0; pending = List(maint()) }
      else { batches += 1; pending = batch() }
    }
    val op = pending.head
    pending = pending.tail
    op
  }

  def warmup(): Seq[Op] = batch() :+ maint()

  def finalCheck(): Seq[String] = {
    val e = new Engine(spark, wh, catalog(wh))
    val fresh = new ComponentIndex(e, "bench.components")
    val scratch = Dedup.connectedComponents(pairFrame(pairs(live)))
      .select("doc_id", "component").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).filter { case (d, c) => d != c }.toSet
    val got = ledger(fresh)
    val idx = new NearDupIndex(e, "bench.near_dup").signatures
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    Seq(
      if (got == scratch) None
      else Some(s"ledger != from-scratch components: ${got.size} vs ${scratch.size} rows"),
      if (idx == indexed) None
      else Some(s"near-dup index holds ${idx.size} docs, model ${indexed.size}")).flatten
  }
}

object DedupIngest {
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))
  val PairSchema: StructType = StructType(Seq(
    StructField("a_id", LongType, nullable = false), StructField("b_id", LongType, nullable = false)))

  /** Share of the corpus the indexes are bootstrapped from. */
  val BootShare = 0.9
  /** 2% and 1% of the 5,000-document corpus. */
  val BatchDocs = 100
  val RetireDocs = 50
  /** Batches between maintenance ops. */
  val MaintEvery = 1
}
