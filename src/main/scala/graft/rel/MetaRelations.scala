package graft.rel

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.meta.IcebergTable

/** The Iceberg metadata tree as Spark relations — the analog of
  * Spark-Iceberg's `t.files` / `t.snapshots` / `t.manifests` /
  * `t.partitions` metadata tables (ref pyiceberg `inspect.*`,
  * `formatters.py:263-320`).
  *
  * Metadata volumes are small (thousands of rows for thousands of data
  * files), so rows are parsed driver-side (Jackson + core Avro) and lifted
  * with `createDataFrame`; the analytics over them stay distributed,
  * declarative DataFrame transforms. The one exception is the health
  * report ([[graft.ops.MetaHealth]]): it is a single mergeable aggregate,
  * like the reference's one pass over `inspect.files()`, so it folds the
  * entries directly — on the driver, or in one job past
  * [[DistributeEntriesThreshold]] — instead of planning seven relations
  * over this one. At 100 TB of *data* the metadata tree
  * is still MB-scale — this boundary is deliberate and documented
  * (SURVEY §7.3): a DSv2 connector would add complexity with no pruning or
  * parallelism to win at these row counts.
  */
object MetaRelations {

  val filesSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("file_format", StringType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("status", IntegerType, nullable = false),
    StructField("partition", MapType(StringType, StringType), nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("file_size_in_bytes", LongType, nullable = false),
    StructField("column_sizes", MapType(IntegerType, LongType), nullable = false),
    StructField("value_counts", MapType(IntegerType, LongType), nullable = false),
    StructField("null_value_counts", MapType(IntegerType, LongType), nullable = false),
    StructField("lower_bounds", MapType(IntegerType, BinaryType), nullable = false),
    StructField("upper_bounds", MapType(IntegerType, BinaryType), nullable = false),
    StructField("equality_ids", ArrayType(IntegerType), nullable = false)))

  /** Above this many live entries (driver-known from the manifest-list
    * counts, no manifest read needed) the Avro parse moves to executors:
    * at 500k files a driver loop parses + serializes ~300 MB into tasks
    * (the "task of very large size" warning), while `mapPartitions` over
    * the manifest paths reads each manifest exactly once, in parallel,
    * next to where the rows are consumed. */
  val DistributeEntriesThreshold: Int = 2000

  private def entryRow(e: graft.meta.DataFileEntry): Row =
    Row(e.filePath, e.fileFormat, e.snapshotId, e.status, e.partition,
      e.recordCount, e.fileSizeInBytes, e.columnSizes, e.valueCounts,
      e.nullValueCounts, e.lowerBounds, e.upperBounds, e.equalityIds)

  /** `files` relation, pinned to a snapshot (None = current). Small
    * tables parse driver-side (a 5k-row frame split across 32 partitions
    * pays more task overhead than compute); big tables distribute the
    * manifest reads ([[DistributeEntriesThreshold]]). */
  def files(spark: SparkSession, t: IcebergTable, snapshotId: Option[Long] = None,
      // manifest-level pruning (ManifestSummaries): a caller that has
      // already ruled out manifests via their partition summaries passes
      // the survivors — only THEIR Avro is ever parsed, driver or executor
      onlyManifests: Option[Seq[graft.meta.ManifestFile]] = None): DataFrame = {
    val allDataManifests = t.manifests(snapshotId).filter(_.content == 0)
    val dataManifests = onlyManifests.getOrElse(allDataManifests)
    val approxEntries = dataManifests
      .map(m => m.addedFilesCount + m.existingFilesCount).sum
    if (approxEntries <= DistributeEntriesThreshold) {
      val rows =
        if (dataManifests.size == allDataManifests.size)
          t.files(snapshotId).map(entryRow) // memoized full listing
        else dataManifests
          .flatMap(m => t.manifestEntries(m.manifestPath)) // per-manifest memo
          .filter(_.status != 2).map(entryRow)
      spark.createDataFrame(rows.asJava, filesSchema)
        .coalesce(math.max(1, rows.size / 50000))
    } else {
      // executor-parallel scan: ship only the manifest PATHS (bytes per
      // task ~ a path string), parse Avro next to the consumer. One task
      // per manifest up to the session's default parallelism.
      val paths = dataManifests.map(m => t.resolvePath(m.manifestPath))
      val ds = spark.createDataset(paths)(org.apache.spark.sql.Encoders.STRING)
        .repartition(math.min(paths.size, spark.sparkContext.defaultParallelism))
      ds.mapPartitions { it =>
        it.flatMap { p =>
          graft.meta.AvroManifests.readManifest(p).iterator
            .filter(_.status != 2).map(entryRow)
        }
      }(org.apache.spark.sql.Encoders.row(filesSchema))
        .toDF()
    }
  }

  /** Live v2 delete-file entries (delete manifests, content=1) as a
    * relation with the same schema as [[files]]; always driver-parsed —
    * delete manifests are rare and small relative to data manifests. */
  def deleteFiles(spark: SparkSession, t: IcebergTable, snapshotId: Option[Long] = None): DataFrame = {
    val rows = t.deleteFiles(snapshotId).map(entryRow)
    spark.createDataFrame(rows.asJava, filesSchema)
  }

  val snapshotsSchema: StructType = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_snapshot_id", LongType, nullable = true),
    StructField("timestamp_ms", LongType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("summary", MapType(StringType, StringType), nullable = false),
    StructField("manifest_list", StringType, nullable = false)))

  def snapshots(spark: SparkSession, t: IcebergTable): DataFrame = {
    val rows = t.metadata.snapshots.map { s =>
      Row(s.snapshotId, s.parentSnapshotId.map(Long.box).orNull, s.timestampMs,
        s.operation, s.summary, s.manifestList)
    }
    spark.createDataFrame(rows.asJava, snapshotsSchema)
  }

  val historySchema: StructType = StructType(Seq(
    StructField("made_current_at_ms", LongType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = true),
    StructField("is_current_ancestor", BooleanType, nullable = false)))

  /** The `history` metadata table (Spark-Iceberg `t.history` analog):
    * every snapshot with whether it is an ancestor of the CURRENT one —
    * false marks abandoned lineage (overwritten or rolled-back away). */
  def history(spark: SparkSession, t: IcebergTable): DataFrame = {
    val md = t.metadata
    val ancestors = Iterator.iterate(md.currentSnapshot)(
        _.flatMap(_.parentSnapshotId).flatMap(md.snapshot))
      .takeWhile(_.isDefined).flatten.map(_.snapshotId).toSet
    val rows = md.snapshots.map { s =>
      Row(s.timestampMs, s.snapshotId, s.parentSnapshotId.map(Long.box).orNull,
        ancestors.contains(s.snapshotId))
    }
    spark.createDataFrame(rows.asJava, historySchema)
  }

  val metadataLogSchema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("modified_ms", LongType, nullable = false)))

  /** The metadata-log table (Spark-Iceberg `t.metadata_log_entries`
    * analog): every `vN.metadata.json` under the table with size and
    * mtime — each row is one commit's metadata document. */
  def metadataLog(spark: SparkSession, tableDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val metaDir = Paths.get(tableDir, "metadata")
    val rows = scala.util.Using.resource(Files.list(metaDir)) { s =>
      s.iterator().asScala
        .filter(_.getFileName.toString.matches("v\\d+\\.metadata\\.json"))
        // zero-byte files are RETIRED tombstones (metadata retention,
        // [[graft.meta.IcebergMeta]]) — history, not log entries
        .filter(p => Files.size(p) > 0)
        .map { p =>
          val v = p.getFileName.toString.stripPrefix("v")
            .stripSuffix(".metadata.json").toInt
          Row(v, p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
        }.toSeq.sortBy(_.getInt(0))
    }
    spark.createDataFrame(rows.asJava, metadataLogSchema)
  }

  val refsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false)))

  /** The refs table (Spark-Iceberg `t.refs` analog): every named branch
    * and tag with the snapshot it points at. */
  def refs(spark: SparkSession, t: IcebergTable): DataFrame = {
    val rows = t.metadata.refs.toSeq.sortBy(_._1).map { case (name, r) =>
      Row(name, r.refType, r.snapshotId)
    }
    spark.createDataFrame(rows.asJava, refsSchema)
  }

  val manifestsSchema: StructType = StructType(Seq(
    StructField("manifest_path", StringType, nullable = false),
    StructField("manifest_length", LongType, nullable = false),
    StructField("partition_spec_id", IntegerType, nullable = false),
    StructField("content", IntegerType, nullable = false),
    StructField("added_snapshot_id", LongType, nullable = false),
    StructField("added_files_count", IntegerType, nullable = false),
    StructField("existing_files_count", IntegerType, nullable = false),
    StructField("deleted_files_count", IntegerType, nullable = false),
    StructField("added_rows_count", LongType, nullable = false),
    StructField("existing_rows_count", LongType, nullable = false),
    StructField("deleted_rows_count", LongType, nullable = false),
    // Spark-Iceberg `t.manifests` parity: the manifest-list partition
    // field summaries scan planning skips whole manifests with (round 18)
    StructField("partition_summaries", ArrayType(StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("contains_null", BooleanType, nullable = false),
      StructField("lower_bound", StringType, nullable = true),
      StructField("upper_bound", StringType, nullable = true)))),
      nullable = false)))

  private def summaryRows(m: graft.meta.ManifestFile): Seq[Row] =
    m.partitions.map(s => Row(s.name, s.containsNull, s.lower.orNull, s.upper.orNull))

  def manifests(spark: SparkSession, t: IcebergTable, snapshotId: Option[Long] = None): DataFrame = {
    val rows = t.manifests(snapshotId).map { m =>
      Row(m.manifestPath, m.manifestLength, m.partitionSpecId, m.content,
        m.addedSnapshotId, m.addedFilesCount, m.existingFilesCount,
        m.deletedFilesCount, m.addedRowsCount, m.existingRowsCount,
        m.deletedRowsCount, summaryRows(m))
    }
    spark.createDataFrame(rows.asJava, manifestsSchema)
  }

  val schemasSchema: StructType = StructType(Seq(
    StructField("schema_id", IntegerType, nullable = false),
    StructField("field_id", IntegerType, nullable = false),
    StructField("field_name", StringType, nullable = false),
    StructField("field_path", StringType, nullable = false),
    StructField("field_type", StringType, nullable = false),
    StructField("required", BooleanType, nullable = false)))

  /** Flattened schema history: one row per (schema version, field),
    * including nested struct/list/map children with their dotted
    * `field_path` — resolved by stable field id for evolution diffs (ref
    * `tui/widgets.py:310-350`; nested render `formatters.py:127-139`). */
  def schemas(spark: SparkSession, t: IcebergTable): DataFrame = {
    val rows = for {
      s <- t.metadata.schemas
      f <- s.fields
    } yield Row(s.schemaId, f.id, f.name, f.path, f.fieldType, f.required)
    spark.createDataFrame(rows.asJava, schemasSchema)
  }

  val entriesSchema: StructType = StructType(
    filesSchema.fields.toSeq ++ Seq(
      StructField("content", IntegerType, nullable = false),
      StructField("manifest_path", StringType, nullable = false)))

  private def entryRowFull(e: graft.meta.DataFileEntry, manifest: String): Row =
    Row(e.filePath, e.fileFormat, e.snapshotId, e.status, e.partition,
      e.recordCount, e.fileSizeInBytes, e.columnSizes, e.valueCounts,
      e.nullValueCounts, e.lowerBounds, e.upperBounds, e.equalityIds,
      e.content, manifest)

  /** `entries` — EVERY manifest entry of a snapshot, data AND delete
    * manifests, INCLUDING status=2 (deleted) tombstones, with the
    * owning manifest path (Iceberg's `t$entries` inspection table; the
    * raw material `files`/`delete_files` filter down from). Distributes
    * the Avro parse over executors past the same threshold as [[files]]. */
  def entries(spark: SparkSession, t: IcebergTable, snapshotId: Option[Long] = None): DataFrame = {
    val ms = t.manifests(snapshotId)
    val approx = ms.map(m =>
      m.addedFilesCount + m.existingFilesCount + m.deletedFilesCount).sum
    if (approx <= DistributeEntriesThreshold) {
      val rows = ms.flatMap(m =>
        graft.meta.AvroManifests.readManifest(t.resolvePath(m.manifestPath))
          .map(entryRowFull(_, m.manifestPath)))
      spark.createDataFrame(rows.asJava, entriesSchema)
    } else {
      val paths = ms.map(m => (t.resolvePath(m.manifestPath), m.manifestPath))
      val ds = spark.createDataset(paths)(
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING))
        .repartition(math.min(paths.size, spark.sparkContext.defaultParallelism))
      ds.mapPartitions { it =>
        it.flatMap { case (abs, rel) =>
          graft.meta.AvroManifests.readManifest(abs).iterator
            .map(entryRowFull(_, rel))
        }
      }(org.apache.spark.sql.Encoders.row(entriesSchema)).toDF()
    }
  }

  /** `all_files` — live data-file entries referenced by ANY snapshot
    * still in the metadata (Iceberg's `t$all_data_files`): the union
    * over each DISTINCT data manifest, so shared manifests are read
    * once. Like Iceberg's, a file can appear once per manifest that
    * carries it (rewrite-manifests dedups those). */
  def allFiles(spark: SparkSession, t: IcebergTable): DataFrame = {
    val distinctManifests = t.metadata.snapshots
      .flatMap(s => t.manifests(Some(s.snapshotId)))
      .filter(_.content == 0)
      .distinctBy(_.manifestPath)
    // all_files spans EVERY snapshot — the largest of the inspection
    // relations — so it honors the same distribution threshold as
    // files()/entries(): past it, ship manifest paths and parse on
    // executors instead of the driver.
    val approx = distinctManifests
      .map(m => m.addedFilesCount + m.existingFilesCount).sum
    if (approx <= DistributeEntriesThreshold) {
      val rows = distinctManifests.flatMap(m =>
        graft.meta.AvroManifests.readManifest(t.resolvePath(m.manifestPath))
          .filter(_.status != 2).map(entryRow))
      spark.createDataFrame(rows.asJava, filesSchema)
    } else {
      val paths = distinctManifests.map(m => t.resolvePath(m.manifestPath))
      spark.createDataset(paths)(org.apache.spark.sql.Encoders.STRING)
        .repartition(math.min(paths.size, spark.sparkContext.defaultParallelism))
        .mapPartitions { it =>
          it.flatMap { p =>
            graft.meta.AvroManifests.readManifest(p).iterator
              .filter(_.status != 2).map(entryRow)
          }
        }(org.apache.spark.sql.Encoders.row(filesSchema))
        .toDF()
    }
  }

  val allManifestsSchema: StructType = StructType(
    manifestsSchema.fields.toSeq :+
      StructField("reference_snapshot_id", LongType, nullable = false))

  /** `all_manifests` — one row per (snapshot, manifest-list entry)
    * across every snapshot in the metadata (Iceberg's
    * `t$all_manifests`): which manifests each historical snapshot
    * references — the provenance view expire/rewrite decisions read. */
  def allManifests(spark: SparkSession, t: IcebergTable): DataFrame = {
    val rows = for {
      s <- t.metadata.snapshots
      m <- t.manifests(Some(s.snapshotId))
    } yield Row(m.manifestPath, m.manifestLength, m.partitionSpecId, m.content,
      m.addedSnapshotId, m.addedFilesCount, m.existingFilesCount,
      m.deletedFilesCount, m.addedRowsCount, m.existingRowsCount,
      m.deletedRowsCount, summaryRows(m), s.snapshotId)
    spark.createDataFrame(rows.asJava, allManifestsSchema)
  }

  /** S4 — per-partition stats derived from `files` (one shuffle on the
    * partition key, ref `formatters.py:307-320`). */
  def partitions(files: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    files.groupBy(map_entries(col("partition")).cast("string").as("partition"))
      .agg(
        sum(col("record_count")).as("record_count"),
        count(lit(1)).as("file_count"),
        sum(col("file_size_in_bytes")).as("total_data_file_size_in_bytes"))
  }
}
