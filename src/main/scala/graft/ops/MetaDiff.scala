package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.meta.{DataFileEntry, IcebergTable, ManifestFile, Snapshot}
import graft.rel.MetaRelations

/** Snapshot diff (ref `collect_diff`, `formatters.py:1051-1111`): the live
  * data files of each snapshot whose path is not live in the other, plus
  * per-side totals and nets. Manifest files are immutable, so a manifest
  * both snapshots list contributes the same live entries to both sides
  * and cancels out: only the manifests that differ are decoded (see
  * `MetaDiff.delta`).
  */
final case class DiffReport(
    added: DataFrame,
    deleted: DataFrame,
    totals: DataFrame,
    operation: String)

object MetaDiff {

  private val diffSchema = StructType(
    Seq("file_path", "partition", "record_count", "file_size_in_bytes")
      .map(MetaRelations.filesSchema(_)))

  /** What `to` changed over `from`: its live data entries whose path is
    * not live in `from` (added), and the converse (deleted), each ordered
    * by path. The two data-manifest lists are split by path into
    * only-`from`, only-`to` and shared, and only the first two are
    * decoded, by one [[MetaRelations.fold]] that reads just the
    * [[diffSchema]] fields. A path can be live in a shared manifest and
    * in an unshared one at once (a file added twice), so the candidates
    * are checked against the shared manifests' live paths by a second,
    * path-only fold: memory stays O(candidates), and the result equals
    * the anti-join of the two full listings on any table. At most one
    * manifest per side decodes in one task either way, so it stays on the
    * driver whatever its size. */
  private def delta(spark: SparkSession, t: IcebergTable, from: Option[Long], to: Long,
      threshold: Int): (Seq[DataFileEntry], Seq[DataFileEntry]) = {
    def data(id: Option[Long]) = id.toSeq.flatMap(i => t.manifests(Some(i))).filter(_.content == 0)
    val (m1, m2) = (data(from), data(Some(to)))
    def key(m: ManifestFile) = t.resolvePath(m.manifestPath)
    val both = m1.map(key).toSet.intersect(m2.map(key).toSet)
    val (only1, only2) = (m1.filterNot(m => both(key(m))), m2.filterNot(m => both(key(m))))
    val shared = m1.filter(m => both(key(m))).distinctBy(key)
    val n1 = only1.size
    val (e1, e2) = MetaRelations.fold(spark, t, only1 ++ only2, Some(diffSchema.fieldNames.toSeq),
        if (n1 <= 1 && only2.size <= 1) Int.MaxValue else threshold,
        () => (Vector.empty[DataFileEntry], Vector.empty[DataFileEntry]))(
      (acc, i, e) => if (i < n1) (acc._1 :+ e, acc._2) else (acc._1, acc._2 :+ e),
      (a, b) => (a._1 ++ b._1, a._2 ++ b._2))
    val (p1, p2) = (e1.map(_.filePath).toSet, e2.map(_.filePath).toSet)
    val (add, del) = (e2.filterNot(e => p1(e.filePath)), e1.filterNot(e => p2(e.filePath)))
    val candidates = (add ++ del).map(_.filePath).toSet
    val hits: collection.Set[String] =
      if (candidates.isEmpty) Set.empty[String]
      else MetaRelations.fold(spark, t, shared, Some(Seq("file_path")), threshold,
        () => mutable.HashSet.empty[String])(
        (s, _, e) => { if (candidates(e.filePath)) s += e.filePath; s }, _ ++= _)
    def side(es: Seq[DataFileEntry]) = es.filterNot(e => hits(e.filePath))
      .sortBy(_.filePath)(MetaRelations.sparkStringOrder)
    (side(add), side(del))
  }

  private def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def row(e: DataFileEntry): Seq[Any] =
    Seq(e.filePath, e.partition, e.recordCount, e.fileSizeInBytes)

  /** Added and deleted files between two snapshots, with a `totals`
    * relation of per-side (files, bytes, records) and their net: all three
    * local relations. */
  def diff(spark: SparkSession, t: IcebergTable, snap1: Long, snap2: Long): DiffReport =
    diff(spark, t, snap1, snap2, MetaRelations.DistributeEntriesThreshold)

  private[graft] def diff(spark: SparkSession, t: IcebergTable, snap1: Long, snap2: Long,
      threshold: Int): DiffReport = {
    // validate both ids exist up front (ref formatters.py:1053-1055)
    Seq(snap1, snap2).foreach { id =>
      if (t.metadata.snapshot(id).isEmpty)
        throw new NoSuchElementException(s"Snapshot $id not found")
    }
    val (a, d) = delta(spark, t, Some(snap1), snap2, threshold)
    def sums(es: Seq[DataFileEntry]) =
      es.foldLeft(new Array[Long](3))(MetaRelations.count3(_, 0, _))
    val (add, del) = (sums(a), sums(d))
    val totals = Seq("added" -> add, "deleted" -> del,
        "net" -> add.indices.map(i => Math.subtractExact(add(i), del(i))).toArray)
      .map { case (side, x) => Row(side, x(0), x(2), x(1)) }
    def rel(es: Seq[DataFileEntry]) = local(spark, es.map(e => Row.fromSeq(row(e))), diffSchema)
    DiffReport(rel(a), rel(d),
      local(spark, totals, StructType.fromDDL("side STRING NOT NULL, files BIGINT NOT NULL, " +
        "bytes BIGINT NOT NULL, records BIGINT NOT NULL")),
      t.metadata.snapshot(snap2).map(_.operation).getOrElse("unknown"))
  }

  /** Incremental changelog over the parent-pointer chain `(fromSnap,
    * toSnap]`: one row per (snapshot, change, file), where `change` is
    * `added` | `deleted`, ordered by commit time then path (ref snapshot
    * walk `formatters.py:156-173`). Each parent→child pair contributes its
    * manifest delta (as in [[diff]]); the chain walk and the ordering are
    * driver-side, and the result is a local relation. */
  def changes(spark: SparkSession, t: IcebergTable, fromSnap: Long, toSnap: Long): DataFrame =
    changes(spark, t, fromSnap, toSnap, MetaRelations.DistributeEntriesThreshold)

  private[graft] def changes(spark: SparkSession, t: IcebergTable, fromSnap: Long, toSnap: Long,
      threshold: Int): DataFrame = {
    // walk child←parent pointers from toSnap back to fromSnap (exclusive)
    var chain = List.empty[Snapshot]
    var cur: Option[Snapshot] = Some(t.metadata.snapshot(toSnap)
      .getOrElse(throw new NoSuchElementException(s"Snapshot $toSnap not found")))
    while (cur.exists(_.snapshotId != fromSnap)) {
      val s = cur.get
      chain = s :: chain
      cur = s.parentSnapshotId.map(pid => t.metadata.snapshot(pid).getOrElse(
        throw new NoSuchElementException(s"Parent snapshot $pid not found")))
      if (cur.isEmpty)
        throw new IllegalArgumentException(
          s"Snapshot $fromSnap is not an ancestor of $toSnap")
    }
    require(chain.nonEmpty, s"empty snapshot range ($fromSnap, $toSnap]")

    val rows = chain.flatMap { s =>
      val (a, d) = delta(spark, t, s.parentSnapshotId, s.snapshotId, threshold)
      a.map((s, "added", _)) ++ d.map((s, "deleted", _))
    }.sortBy { case (s, change, e) => (s.timestampMs, s.snapshotId, change, e.filePath) }(
      Ordering.Tuple4(Ordering.Long, Ordering.Long, Ordering.String,
        MetaRelations.sparkStringOrder))
    local(spark, rows.map { case (s, change, e) =>
        Row.fromSeq(Seq(s.snapshotId, s.timestampMs, s.operation, change) ++ row(e)) },
      StructType(StructType.fromDDL("snapshot_id BIGINT NOT NULL, timestamp_ms BIGINT NOT NULL, " +
        "operation STRING NOT NULL, change STRING NOT NULL").fields ++ diffSchema.fields))
  }
}
