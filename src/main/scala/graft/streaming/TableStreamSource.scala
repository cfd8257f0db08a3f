package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.meta.{IcebergMeta, IcebergTable}
import graft.ops.ScanPlanner

/** Structured Streaming TABLE source: the table's committed ROWS as an
  * incremental stream — each micro-batch reads exactly the data files
  * APPENDED by the snapshots since the last trigger, through Spark's own
  * vectorized parquet reader, with `_commit_snapshot_id` stamped on
  * every row (the Iceberg Spark micro-batch read analog).
  *
  * {{{
  * spark.readStream
  *   .format("graft.streaming.TableStreamProvider")
  *   .option("tableDir", "/wh/ns/table")
  *   .option("start-from", "earliest")      // or "latest" (default earliest)
  *   .option("skip-change-commits", "true") // skip delete/overwrite commits
  *   .load()                                // table columns + _commit_snapshot_id
  * }}}
  *
  * Append commits stream their added files. `replace` commits (compaction,
  * manifest rewrite, z-order) are physical-only and always skipped.
  * Delete/overwrite commits CHANGE existing rows — an append-only stream
  * cannot represent them, so the stream fails on them unless
  * `skip-change-commits=true` (Iceberg's
  * streaming-skip-{delete,overwrite}-snapshots semantics). Offsets are
  * stable (sequenceNumber, snapshotId) commit keys. */
class TableStreamProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TableStream.outputSchema(options.get("tableDir"))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TableStreamTable(
      properties.get("tableDir"),
      "true".equalsIgnoreCase(properties.get("skip-change-commits")),
      "latest".equalsIgnoreCase(properties.get("start-from")))
}

object TableStream {
  def tableSchema(tableDir: String): StructType = {
    // id-attributed on id-stamped tables: a stream crossing a rename
    // boundary keeps reading pre-rename files' data by field id
    val t = IcebergTable.load(tableDir)
    ScanPlanner.readSchema(SparkSession.active, t).getOrElse(
      throw new UnsupportedOperationException(
        s"streaming read needs a flat primitive schema ($tableDir)"))
  }

  def outputSchema(tableDir: String): StructType = {
    require(tableDir != null, "option 'tableDir' is required")
    StructType(tableSchema(tableDir).fields :+
      StructField("_commit_snapshot_id", LongType, nullable = false))
  }
}

final class TableStreamTable(
    tableDir: String, skipChanges: Boolean, startLatest: Boolean)
  extends Table with SupportsRead {
  require(tableDir != null, "option 'tableDir' is required")
  override def name(): String = s"stream($tableDir)"
  override def schema(): StructType = TableStream.outputSchema(tableDir)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = TableStream.outputSchema(tableDir)
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TableStreamStream(tableDir, skipChanges, startLatest)
      }
    }
}

final class TableStreamStream(
    tableDir: String, skipChanges: Boolean, startLatest: Boolean)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow: pin the end offset at query start so the run
  // drains exactly the commits that existed then, and stops — commits
  // racing in mid-drain wait for the next run (Iceberg's semantics).
  private var pinnedEnd: Option[Offset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    pinnedEnd = Some(SnapshotKeyOffset.latest(tableDir))
  override def reportLatestOffset(): Offset = SnapshotKeyOffset.latest(tableDir)
  // SupportsAdmissionControl (parent trait): no rate limiting — a batch
  // is a set of whole commits, so the limit-aware form delegates
  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()

  override def initialOffset(): Offset =
    if (startLatest) SnapshotKeyOffset.latest(tableDir) else SnapshotKeyOffset.zero
  override def latestOffset(): Offset =
    pinnedEnd.getOrElse(SnapshotKeyOffset.latest(tableDir))
  override def deserializeOffset(json: String): Offset = SnapshotKeyOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotKeyOffset]
    val e = end.asInstanceOf[SnapshotKeyOffset]
    val t = IcebergTable.load(tableDir)
    val spark = SparkSession.active
    val schema = TableStream.tableSchema(tableDir)
    SnapshotKeyOffset.slice(t.metadata.snapshots, s, e).flatMap { sn =>
      sn.operation match {
        case "replace" => Seq.empty // physical-only rewrite
        case "append" | "overwrite" | "delete" =>
          val prev = sn.parentSnapshotId
            .map(p => t.files(Some(p)).map(_.filePath).toSet)
            .getOrElse(Set.empty[String])
          val removed = prev -- t.files(Some(sn.snapshotId)).map(_.filePath).toSet
          val newDeletes = {
            val prevDel = sn.parentSnapshotId
              .map(p => t.deleteFiles(Some(p)).map(_.filePath).toSet)
              .getOrElse(Set.empty[String])
            t.deleteFiles(Some(sn.snapshotId)).exists(e => !prevDel.contains(e.filePath))
          }
          if (removed.nonEmpty || newDeletes) {
            if (!skipChanges)
              throw new UnsupportedOperationException(
                s"snapshot ${sn.snapshotId} (${sn.operation}) modifies existing rows; " +
                  "an append-only stream cannot represent it — set " +
                  "skip-change-commits=true to stream only appended rows, or use " +
                  "Engine.rowChanges for full CDC")
            // Skip the WHOLE snapshot, added files included: a change
            // commit's added files are rewritten survivors — rows already
            // emitted by earlier batches — so streaming them would emit
            // duplicates (Iceberg streaming-skip-overwrite-snapshots
            // skips the entire snapshot too).
            Seq.empty
          } else {
            val addedEntries = t.files(Some(sn.snapshotId))
              .filterNot(e => prev.contains(e.filePath))
            // hive-ADOPTED files lack their identity-partition columns
            // in-file, and this low-level parquet scan has no metadata
            // fill — refuse loudly rather than stream nulls; the
            // migrate-field-ids rewrite materializes the columns
            if (graft.meta.Transforms.needsPathFill(t.metadata, addedEntries))
              throw new UnsupportedOperationException(
                s"snapshot ${sn.snapshotId} adds hive-adopted files whose " +
                "partition columns live in table metadata, not the files — " +
                "run migrate-field-ids (rewrites and materializes them) " +
                "before streaming this range")
            val added = addedEntries.map(e =>
              t.resolvePath(e.filePath) -> e.fileSizeInBytes)
            if (added.isEmpty) Seq.empty
            else org.apache.spark.sql.GraftParquetBridge
              .scan(spark, added, schema, schema, Seq.empty)
              .toBatch.planInputPartitions()
              .map(fp => TableStreamPartition(fp, sn.snapshotId): InputPartition)
          }
        case other =>
          if (skipChanges) Seq.empty
          else throw new UnsupportedOperationException(
            s"unsupported streamed operation '$other' (snapshot ${sn.snapshotId})")
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val schema = TableStream.tableSchema(tableDir)
    val delegate = org.apache.spark.sql.GraftParquetBridge
      .scan(spark, Seq.empty, schema, schema, Seq.empty)
      .toBatch.createReaderFactory()
    new TableStreamReaderFactory(delegate)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class TableStreamPartition(
    filePartition: InputPartition, snapshotId: Long) extends InputPartition

/** Wraps the stock parquet reader, appending `_commit_snapshot_id` to
  * each row (forces the row-based read path — the join row is cheap and
  * the batch sizes are per-commit). */
final class TableStreamReaderFactory(delegate: PartitionReaderFactory)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TableStreamPartition]
    val inner = delegate.createReader(p.filePartition)
    val extra = new GenericInternalRow(Array[Any](p.snapshotId))
    val joined = new JoinedRow
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = joined(inner.get(), extra)
      override def close(): Unit = inner.close()
    }
  }
}
