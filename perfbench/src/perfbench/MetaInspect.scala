package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}

import graft.api.Engine
import graft.fixtures.FixtureWriter
import graft.meta.MetaCatalog

/** Metadata analytics over two monster tables, no commits: summary,
  * files, health, diff, tree and snapshots through `Engine`, each on a
  * fresh engine handle as one CLI call would make it. */
final class MetaInspect(spark: SparkSession, work: String, seed: Long,
    catalog: String => MetaCatalog) extends Workload {
  import MetaInspect._

  val reported = Seq("summary", "files", "health", "diff")

  private val wh = s"$work/wh"
  private val rng = new scala.util.Random(seed)
  private val snapBase = 2000L // FixtureWriter.writeMonster's first snapshot id

  def tableDir(table: String): String = s"$wh/bench/$table"

  def setup(): Unit =
    Tables.foreach(t => FixtureWriter.writeMonster(s"$wh/bench/${t.name}", t.commits, t.filesPerCommit))

  private val probeRng = new scala.util.Random(seed ^ 0x7eaceL)
  def pruneFilter(table: String): Seq[Filter] = {
    val lo = probeRng.nextInt(50000).toLong
    Seq(GreaterThanOrEqual("id", lo), LessThanOrEqual("id", lo + 500))
  }

  private def engine() = new Engine(spark, wh, catalog(wh))
  private def ref(t: Monster) = s"bench.${t.name}"

  private def op(kind: String, t: Monster): Op = {
    val k = 1 + rng.nextInt(t.commits - 1) // the diff pair (k-1, k)
    val run: () => (() => Unit) = kind match {
      case "summary" => () => {
        val r = engine().summary(ref(t)).collect()
        () => {
          Check.equal("summary rows", r.length, 1)
          val row = r(0)
          Check.equal("file_count", row.getAs[Long]("file_count"), t.files)
          Check.equal("total_records", row.getAs[Long]("total_records"), t.records)
          Check.equal("total_bytes", row.getAs[Long]("total_bytes"), t.bytes)
          Check.equal("partition_count", row.getAs[Long]("partition_count"), t.partitions)
          Check.equal("snapshot_count", row.getAs[Int]("snapshot_count"), t.commits)
        }
      }
      case "files" => () => {
        val r = engine().files(ref(t))
          .select("file_path", "record_count", "file_size_in_bytes", "partition").collect()
        () => {
          Check.equal("files rows", r.length.toLong, t.files)
          Check.equal("files records", r.map(_.getLong(1)).sum, t.records)
          Check.equal("files bytes", r.map(_.getLong(2)).sum, t.bytes)
        }
      }
      case "health" => () => {
        val h = engine().health(ref(t))
        val sections = Seq(h.fileStats, h.manifestCensus, h.partitionStats,
          h.nullRates, h.columnShare, h.columnBounds, h.overlap).map(_.collect())
        () => {
          // the report caches its files frame; drop it so the next health
          // op plans and scans afresh, as a new CLI process would
          spark.catalog.clearCache()
          val fs = sections.head(0)
          Check.equal("health file_count", fs.getAs[Long]("file_count"), t.files)
          Check.equal("health total_bytes", fs.getAs[Long]("total_bytes"), t.bytes)
          Check.equal("health manifests", sections(1)(0).getAs[Long]("total_manifests"),
            t.commits.toLong)
          Check.equal("health partitions", sections(2).length.toLong, t.partitions)
        }
      }
      case "diff" => () => {
        val totals = engine().diff(ref(t), snapBase + k - 1, snapBase + k).totals.collect()
        () => {
          val bySide = totals.map(r => r.getAs[String]("side") ->
            (r.getAs[Long]("files"), r.getAs[Long]("records"), r.getAs[Long]("bytes"))).toMap
          val added = (t.filesPerCommit.toLong, t.filesPerCommit * RowsPerFile, t.commitBytes(k))
          Check.equal(s"diff $k added", bySide.get("added"), Some(added))
          Check.equal(s"diff $k deleted", bySide.get("deleted"), Some((0L, 0L, 0L)))
          Check.equal(s"diff $k net", bySide.get("net"), Some(added))
        }
      }
      case "tree" => () => {
        val r = engine().tree(ref(t)).collect()
        () => {
          Check.equal("tree manifests", r.length, t.commits)
          Check.equal("tree files", r.map(_.getAs[Long]("file_count")).sum, t.files)
        }
      }
      case "snapshots" => () => {
        val r = engine().snapshots(ref(t)).collect()
        () => Check.equal("snapshots", r.length, t.commits)
      }
    }
    Op(kind, t.name, run)
  }

  /** One round: every kind once on each table, in seeded order. */
  private val round: Seq[(String, Monster)] = for (k <- Kinds; t <- Tables) yield (k, t)
  private var queue = List.empty[(String, Monster)]
  val roundSize: Int = round.size
  val roundSeconds = 8.0

  def next(): Op = {
    if (queue.isEmpty) queue = rng.shuffle(round).toList
    val (k, t) = queue.head
    queue = queue.tail
    op(k, t)
  }

  /** One round in fixed order: a kind's first run on each table is still
    * slower than its later ones, so both tables are warmed. */
  def warmup(): Seq[Op] = round.map { case (k, t) => op(k, t) }

  def finalCheck(): Seq[String] = Seq.empty // no commits: every op checked its own totals
}

object MetaInspect {
  val RowsPerFile = 10L

  /** A `FixtureWriter.writeMonster` table and its known totals. */
  final case class Monster(name: String, commits: Int, filesPerCommit: Int) {
    private def size(ci: Int, fi: Int): Long = 4096L + (fi * 977L + ci * 131L) % 60000L
    def commitBytes(ci: Int): Long = (0 until filesPerCommit).map(size(ci, _)).sum
    val files: Long = commits.toLong * filesPerCommit
    val records: Long = files * RowsPerFile
    val bytes: Long = (0 until commits).map(commitBytes).sum
    val partitions: Long = math.min(filesPerCommit, 1000).toLong
  }

  val Tables = Seq(Monster("monster_5k", 5, 1000), Monster("monster_50k", 20, 2500))

  val Kinds = Seq("summary", "files", "health", "diff", "tree", "snapshots")
}
