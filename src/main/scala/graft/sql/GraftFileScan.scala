package graft.sql

import java.util.OptionalLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.GraftParquetBridge
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.meta.{DataFileEntry, IcebergTable, SchemaField, Transforms}

/** The catalog's data scan over a statically-pruned manifest file list,
  * upgraded with the two DSv2 capabilities that matter most on a big
  * cluster:
  *
  *   - [[SupportsReportStatistics]] — `numRows` and `sizeInBytes` are the
  *     EXACT sums over the surviving manifest entries (`record_count`,
  *     `file_size_in_bytes`), not a size-based guess. Catalyst's join
  *     planning sees real cardinalities, so a dimension-sized graft table
  *     broadcast-joins instead of shuffling 100 TB of fact rows.
  *   - [[SupportsRuntimeV2Filtering]] — dynamic partition pruning: when
  *     this table is joined on a column the manifests carry stats for,
  *     Spark feeds the join-key values observed at RUNTIME back into
  *     `filter(...)`, and the scan re-prunes its file list with the same
  *     conservative bounds/partition-transform logic as static pushdown
  *     ([[FilePrune.keep]]). A `sales JOIN dim ON sales.region = dim.r`
  *     with 3 surviving dim rows reads 3 partitions' files, not all of
  *     them — without any static predicate on the fact table.
  *
  * Row reading still delegates to Spark's own vectorized `ParquetScan`
  * ([[GraftParquetBridge.scan]]) over the surviving paths, so whole-stage
  * codegen and row-group pruning are native. The delegate is rebuilt on
  * each `toBatch` call because Spark plans partitions once before and
  * once after runtime filtering.
  *
  * Scale shape: pruning runs driver-side over the manifest entry list
  * (metadata-scale), the way Iceberg's scan planning does; every pruned
  * entry saves a full data-file read on the executors.
  */
final class GraftFileScan(
    t: IcebergTable,
    dataSchema: StructType,
    required: StructType,
    pushed: Seq[sources.Filter],
    initialEntries: Seq[DataFileEntry],
    runtimeFilterCols: Option[Seq[String]] = None)
  extends Scan with SupportsRuntimeV2Filtering with SupportsReportStatistics
  with SupportsReportPartitioning {

  @volatile private var entries: Seq[DataFileEntry] = initialEntries

  /** Exposed for specs/EXPLAIN audits: the currently surviving file list. */
  def currentEntries: Seq[DataFileEntry] = entries

  override def readSchema(): StructType = required

  /** Every projected column is a candidate runtime-filter attribute:
    * manifest bounds exist for all primitives, so bounds pruning (not
    * just partition identity) can act on whatever key the join uses.
    * Restricted to the pruned read schema — Spark resolves these against
    * the scan's OUTPUT attributes. Row-level operation scans narrow this
    * to the partition SOURCE columns (`runtimeFilterCols`): Spark's
    * runtime group filtering builds one distinct-subquery over ALL filter
    * attributes, and a full-row struct neither translates to a v1 filter
    * nor prunes — partition columns keep the subquery cheap and the
    * prune effective. */
  override def filterAttributes(): Array[NamedReference] =
    runtimeFilterCols.getOrElse(required.fieldNames.toSeq)
      .filter(c => required.fieldNames.contains(c))
      .map(Expressions.column).toArray

  override def filter(predicates: Array[Predicate]): Unit = {
    val v1: Array[sources.Filter] = GraftParquetBridge.toV1Filters(predicates)
    if (v1.nonEmpty)
      entries = entries.filter(e => v1.forall(f => FilePrune.keep(t, e, f)))
  }

  // ---- storage-partitioned joins (SPJ): when the table is
  // identity-partitioned and SPJ planning is on, report
  // KeyGroupedPartitioning and plan ONE input partition per partition
  // value — two graft tables on the same layout then join with NO
  // shuffle on either side (the decisive join shape at 100 TB: neither
  // fact table moves).

  private val BucketRe = """bucket\[(\d+)\]""".r

  /** Spec dims usable as SPJ keys — identity or bucket[N] over a
    * top-level source of a convertible type, present in every surviving
    * entry's partition map, and in the projected schema (keys resolve
    * against scan output). Bucket keys resolve through the catalog's V2
    * `bucket` function ([[GraftBucketFunction]]). */
  private def spjDims: Seq[(String, SchemaField, String)] = {
    val md = t.metadata
    val dims = md.currentSpec.fields
      .filter(sf => sf.transform == "identity" ||
        BucketRe.findFirstIn(sf.transform).contains(sf.transform))
      .flatMap { sf =>
        md.currentSchema.fields
          .find(f => f.id == sf.sourceId && !f.path.contains('.'))
          .filter(f => Set("long", "int", "string", "date").contains(f.fieldType))
          .filter(f => required.fieldNames.contains(f.name))
          .map(f => (sf.name, f, sf.transform))
      }
    // a null partition value (sentinel) is not representable as a typed
    // grouping key — misreporting it as a string would co-locate rows
    // under a fabricated key, so SPJ opts out for such tables
    if (dims.nonEmpty &&
        entries.forall(e => dims.forall { case (p, _, _) =>
          e.partition.get(p).exists(_ != Transforms.NullPartitionValue) }))
      dims
    else Seq.empty
  }

  private def keyValue(raw: String, iceType: String, transform: String): Any =
    transform match {
      case BucketRe(_) => raw.toInt
      case _ => iceType match {
        case "long" => raw.toLong
        case "int" => raw.toInt
        case "string" => UTF8String.fromString(raw)
        case "date" => java.time.LocalDate.parse(raw).toEpochDay.toInt
      }
    }

  private def keyGroups(dims: Seq[(String, SchemaField, String)])
    : Seq[(InternalRow, Seq[(String, Long)])] =
    entries.groupBy(e => dims.map { case (p, src, tr) =>
      keyValue(e.partition(p), src.fieldType, tr) })
      .toSeq.sortBy(_._1.mkString("|"))
      .map { case (key, es) =>
        (new GenericInternalRow(key.toArray): InternalRow,
          es.map(fileOf))
      }

  override def outputPartitioning(): Partitioning = {
    val dims = if (GraftParquetBridge.v2BucketingEnabled) spjDims else Seq.empty
    if (dims.isEmpty) new UnknownPartitioning(0)
    else new KeyGroupedPartitioning(
      dims.map {
        case (_, src, BucketRe(n)) => Expressions.bucket(n.toInt, src.name)
        case (_, src, _) => Expressions.identity(src.name)
      }.toArray,
      keyGroups(dims).size)
  }

  override def toBatch: Batch = {
    val dims = if (GraftParquetBridge.v2BucketingEnabled) spjDims else Seq.empty
    if (dims.nonEmpty)
      GraftParquetBridge.keyGroupedBatch(
        SparkSession.active, keyGroups(dims), dataSchema, required, pushed)
    else GraftParquetBridge.scan(
      SparkSession.active,
      entries.map(fileOf), dataSchema, required, pushed).toBatch
  }

  /** An entry as the (absolute path, byte length) the scan indexes. */
  private def fileOf(e: DataFileEntry): (String, Long) =
    t.resolvePath(e.filePath) -> e.fileSizeInBytes

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(entries.map(_.fileSizeInBytes).sum)
    override def numRows(): OptionalLong =
      OptionalLong.of(entries.map(_.recordCount).sum)

    /** Per-column stats for CBO: `distinctCount` from the last ANALYZE
      * ([[graft.ops.Stats.analyzeTable]] properties), `nullCount` summed
      * from the surviving manifest entries. */
    override def columnStats(): java.util.Map[
        NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val ndv = graft.ops.Stats.storedNdv(t)
      val out = new java.util.HashMap[
        NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      t.metadata.currentSchema.fields
        .filter(f => !f.path.contains('.') && required.fieldNames.contains(f.name))
        .foreach { f =>
          val nulls: Option[Long] = {
            val per = entries.map(_.nullValueCounts.get(f.id))
            if (per.nonEmpty && per.forall(_.isDefined)) Some(per.flatten.sum)
            else None
          }
          val dc = ndv.get(f.name)
          if (dc.isDefined || nulls.isDefined)
            out.put(
              Expressions.column(f.name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): OptionalLong =
                  dc.map(OptionalLong.of).getOrElse(OptionalLong.empty)
                override def nullCount(): OptionalLong =
                  nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty)
              })
        }
      out
    }
  }

  override def description(): String =
    s"GraftFileScan(${t.tableDir}, files=${entries.size})"
}
