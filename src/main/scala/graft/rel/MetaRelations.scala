package graft.rel

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.meta.{AvroManifests, DataFileEntry, IcebergTable, ManifestFile}

/** The Iceberg metadata tree as Spark relations — the analog of
  * Spark-Iceberg's `t.files` / `t.snapshots` / `t.manifests` /
  * `t.partitions` metadata tables (ref pyiceberg `inspect.*`,
  * `formatters.py:263-320`).
  *
  * Metadata volumes are small (thousands of rows for thousands of data
  * files), so rows are parsed driver-side (Jackson + core Avro) and lifted
  * as local relations; past [[DistributeEntriesThreshold]] live entries
  * the Avro parse moves to executors, one task per manifest. Verbs whose
  * answer is an aggregate of the entries — the health report
  * ([[graft.ops.MetaHealth]]), [[summary]], [[tree]] and the snapshot
  * diff's path guard ([[graft.ops.MetaDiff]]) — do not lift a listing at
  * all: they run one mergeable [[fold]] over the live entries, decoding
  * only the Avro fields they read, and emit `LocalRelation`s, like the
  * reference's one pass over `inspect.files()`. At 100 TB of *data* the
  * metadata tree is still MB-scale — this boundary is deliberate and
  * documented (SURVEY §7.3): a DSv2 connector would add complexity with
  * no pruning or parallelism to win at these row counts.
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

  private def entryRow(e: DataFileEntry): Row =
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
      onlyManifests: Option[Seq[ManifestFile]] = None): DataFrame = {
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
    } else decode(spark, t, dataManifests, approxEntries, filesSchema)(liveRow)
  }

  private def liveRow(e: DataFileEntry, manifest: String): Option[Row] =
    if (e.status != 2) Some(entryRow(e)) else None

  /** Rows of `schema` from `manifests`' entries (`row` also gets each
    * entry's manifest path as listed): parsed on the driver up to
    * [[DistributeEntriesThreshold]] `approx` entries, else on executors —
    * only the manifest PATHS ship (bytes per task ~ a path string) and the
    * Avro is parsed next to the consumer; a local scan splits its rows one
    * per task up to the default parallelism, so no shuffle is needed. */
  private def decode(spark: SparkSession, t: IcebergTable, manifests: Seq[ManifestFile],
      approx: Long, schema: StructType)(row: (DataFileEntry, String) => Option[Row]): DataFrame =
    if (approx <= DistributeEntriesThreshold)
      spark.createDataFrame(manifests.flatMap(m => AvroManifests.readManifest(
        t.resolvePath(m.manifestPath)).flatMap(row(_, m.manifestPath))).asJava, schema)
    else spark.createDataset(manifests.map(m => (t.resolvePath(m.manifestPath), m.manifestPath)))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .mapPartitions(_.flatMap { case (abs, rel) =>
        AvroManifests.readManifest(abs).iterator.flatMap(row(_, rel))
      })(Encoders.row(schema))
      .toDF()

  /** Fold the live (status 0/1) entries of `manifests` into one value: on
    * the driver when their manifest-list counts total at most `threshold`
    * entries, else in ONE `parallelize(paths).mapPartitions(fold)
    * .reduce(merge)` job — no shuffle, no cache. `add` also gets the index
    * into `manifests` of the entry's manifest. With a `projection`
    * ([[AvroManifests.readManifest]]) only those `data_file` fields are
    * decoded and nothing is memoized; without one the driver reads through
    * the table's per-manifest memo. */
  private[graft] def fold[A: ClassTag](spark: SparkSession, t: IcebergTable,
      manifests: Seq[ManifestFile], projection: Option[Seq[String]], threshold: Int,
      zero: () => A)(
      add: (A, Int, DataFileEntry) => A, merge: (A, A) => A): A = {
    def foldAll(acc: A, ms: Iterator[(Seq[DataFileEntry], Int)]): A =
      ms.foldLeft(acc) { case (a, (es, i)) =>
        es.foldLeft(a)((b, e) => if (e.status != 2) add(b, i, e) else b)
      }
    val live = manifests.map(m => m.addedFilesCount.toLong + m.existingFilesCount).sum
    if (manifests.isEmpty || live <= threshold)
      foldAll(zero(), manifests.iterator.zipWithIndex.map { case (m, i) =>
        (projection.fold(t.manifestEntries(m.manifestPath))(
          AvroManifests.readManifest(t.resolvePath(m.manifestPath), _)), i)
      })
    else {
      val sc = spark.sparkContext
      sc.parallelize(manifests.map(m => t.resolvePath(m.manifestPath)).zipWithIndex,
          math.min(manifests.size, sc.defaultParallelism))
        .mapPartitions(it => Iterator(foldAll(zero(), it.map { case (p, i) =>
          (projection.fold(AvroManifests.readManifest(p))(AvroManifests.readManifest(p, _)), i)
        })))
        .reduce(merge)
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

  private def summaryRows(m: ManifestFile): Seq[Row] =
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

  private def entryRowFull(e: DataFileEntry, manifest: String): Row =
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
    decode(spark, t, ms, approx, entriesSchema)((e, rel) => Some(entryRowFull(e, rel)))
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
    decode(spark, t, distinctManifests, approx, filesSchema)(liveRow)
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
  def partitions(files: DataFrame): DataFrame =
    files.groupBy(map_entries(col("partition")).cast("string").as("partition"))
      .agg(
        sum(col("record_count")).as("record_count"),
        count(lit(1)).as("file_count"),
        sum(col("file_size_in_bytes")).as("total_data_file_size_in_bytes"))

  /** Spark's string order — UTF-8 bytes, not UTF-16 units — for local
    * rows that stand in for an `orderBy`. */
  val sparkStringOrder: Ordering[String] = Ordering.fromLessThan((a, b) =>
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)

  /** Count `e` into `(files, records, bytes)` at `a(at)`; sums overflow
    * loudly, as Spark's ANSI `sum` does. */
  private[graft] def count3(a: Array[Long], at: Int, e: DataFileEntry): Array[Long] = {
    a(at) += 1
    a(at + 1) = Math.addExact(a(at + 1), e.recordCount)
    a(at + 2) = Math.addExact(a(at + 2), e.fileSizeInBytes)
    a
  }

  private def sumInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    a.indices.foreach(i => a(i) = Math.addExact(a(i), b(i)))
    a
  }

  /** A8 — one-row table summary (ref `formatters.py:940-979`): live data
    * file count, record and byte totals and distinct partition maps, from one
    * [[fold]] that decodes only `partition`, `record_count` and
    * `file_size_in_bytes`. */
  def summary(spark: SparkSession, t: IcebergTable, tableName: String): DataFrame =
    summary(spark, t, tableName, DistributeEntriesThreshold)

  private[graft] def summary(spark: SparkSession, t: IcebergTable, tableName: String,
      threshold: Int): DataFrame = {
    val (sums, parts) = fold(spark, t, t.manifests().filter(_.content == 0),
        Some(Seq("partition", "record_count", "file_size_in_bytes")), threshold,
        () => (new Array[Long](3), mutable.HashSet.empty[Seq[(String, String)]]))(
      // keyed by entry list: Spark's distinct tells apart maps whose
      // entries differ only in order, as a foreign writer may store them
      (acc, _, e) => { count3(acc._1, 0, e); acc._2 += e.partition.toSeq; acc },
      (a, b) => { sumInto(a._1, b._1); a._2 ++= b._2; a })
    val md = t.metadata
    spark.createDataFrame(java.util.List.of(Row(sums(0), sums(1), sums(2), parts.size.toLong,
        tableName, md.formatVersion, md.snapshots.size, md.currentSchema.fields.size,
        md.lastUpdatedMs)),
      StructType.fromDDL("file_count BIGINT NOT NULL, total_records BIGINT NOT NULL, " +
        "total_bytes BIGINT NOT NULL, partition_count BIGINT NOT NULL, " +
        "table_name STRING NOT NULL, format_version INT NOT NULL, snapshot_count INT NOT NULL, " +
        "field_count INT NOT NULL, last_updated_ms BIGINT NOT NULL"))
  }

  /** The TUI metadata-tree data (ref `formatters.py:1195-1307`): one row
    * per manifest, ordered by path, with its live entry stats, its share
    * of all rows (A13 "45% of rows") and its size-color class vs the
    * average file size (W8). One [[fold]] decodes only `record_count` and
    * `file_size_in_bytes`; the table-wide totals ride along as columns, so
    * the derived columns stay Spark expressions over local rows and a
    * collect runs no job. */
  def tree(spark: SparkSession, t: IcebergTable, snapshotId: Option[Long] = None): DataFrame =
    tree(spark, t, snapshotId, DistributeEntriesThreshold)

  private[graft] def tree(spark: SparkSession, t: IcebergTable, snapshotId: Option[Long],
      threshold: Int): DataFrame = {
    val ms = t.manifests(snapshotId)
    val sums = fold(spark, t, ms, Some(Seq("record_count", "file_size_in_bytes")), threshold,
      () => new Array[Long](3 * ms.size))((a, i, e) => count3(a, 3 * i, e), sumInto)
    val all = sums.grouped(3).foldLeft(new Array[Long](3))(sumInto)
    val rows = ms.indices.sortBy(ms(_).manifestPath)(sparkStringOrder).map { i =>
      Row(ms(i).manifestPath, ms(i).content, sums(3 * i), sums(3 * i + 1), sums(3 * i + 2),
        all(1), all(2), all(0))
    }
    val avgBytes = col("all_bytes") / col("all_files")
    spark.createDataFrame(rows.asJava, StructType.fromDDL("manifest_path STRING, " +
        "content INT NOT NULL, file_count BIGINT NOT NULL, row_count BIGINT NOT NULL, " +
        "total_bytes BIGINT NOT NULL, all_rows BIGINT, all_bytes BIGINT, all_files BIGINT"))
      .select(col("manifest_path"), col("content"), col("file_count"), col("row_count"),
        col("total_bytes"),
        round(lit(100.0) * col("row_count") / col("all_rows"), 2).as("pct_of_rows"),
        when(col("file_count") === 0, "green")
          .when(col("total_bytes") / col("file_count") <= avgBytes * 0.5, "green")
          .when(col("total_bytes") / col("file_count") <= avgBytes * 1.5, "yellow")
          .otherwise(lit("red")).as("size_color"))
  }
}
