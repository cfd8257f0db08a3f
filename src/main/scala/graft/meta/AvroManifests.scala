package graft.meta

import java.io.File
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}

/** Avro manifest-list + manifest files, read/written with core Avro
  * `GenericDatumReader`/`Writer` (no Iceberg or spark-avro jar in this
  * environment — SURVEY §0). The record layout follows the Iceberg spec's
  * field naming (manifest_path/length/content counts for manifest lists —
  * ref `formatters.py:193-220`; status/snapshot_id/data_file with
  * per-column stat k/v arrays for manifests — ref `formatters.py:263-281`,
  * `:528-540`), with the fields our engine consumes.
  *
  * Manifests are metadata-small; parsing happens driver-side and the rows
  * are lifted into DataFrames ([[graft.rel.MetaRelations]]) for the
  * distributed analytics.
  */
/** Per-partition-field summary on a manifest-LIST entry (Iceberg spec
  * `field_summary`): lets scan planning skip a whole manifest — never
  * opening its Avro — when a partition predicate cannot match any entry
  * inside. Bounds are the engine's CANONICAL partition-value rendering
  * ([[TableWriter.canonicalPartitionValue]]); readers parse them back to
  * typed values before comparing, so ordering is the value type's, never
  * the string's ("9" vs "10"). `lower`/`upper` absent with
  * `containsNull` set means every entry's value is null. A field that
  * cannot be soundly summarized (an entry missing the key — older-spec
  * files — or a foreign spelling that does not parse) is simply omitted:
  * pruning treats absence as "may match". */
final case class PartitionFieldSummary(
    name: String,
    containsNull: Boolean,
    lower: Option[String],
    upper: Option[String])

final case class ManifestFile(
    manifestPath: String,
    manifestLength: Long,
    partitionSpecId: Int,
    content: Int, // 0 = data, 1 = deletes
    addedSnapshotId: Long,
    addedFilesCount: Int,
    existingFilesCount: Int,
    deletedFilesCount: Int,
    addedRowsCount: Long,
    existingRowsCount: Long,
    deletedRowsCount: Long,
    /** Iceberg `partitions` field summaries; empty on legacy manifest
      * lists (written before round 18) and on manifests whose fields
      * could not be summarized — both read as "prune nothing". */
    partitions: Seq[PartitionFieldSummary] = Seq.empty)

final case class DataFileEntry(
    status: Int, // 0 existing, 1 added, 2 deleted
    snapshotId: Long,
    content: Int,
    filePath: String,
    fileFormat: String,
    partition: Map[String, String],
    recordCount: Long,
    fileSizeInBytes: Long,
    columnSizes: Map[Int, Long],
    valueCounts: Map[Int, Long],
    nullValueCounts: Map[Int, Long],
    lowerBounds: Map[Int, Array[Byte]],
    upperBounds: Map[Int, Array[Byte]],
    /** For content=2 EQUALITY delete files: the schema field ids whose
      * values identify rows to delete (Iceberg spec `equality_ids`).
      * Empty for data files and position deletes. */
    equalityIds: Seq[Int] = Seq.empty,
    /** Commit sequence of the snapshot that ADDED this file (Iceberg's
      * `data_sequence_number`), persisted ON the entry so delete
      * scoping survives expiration of the adding snapshot (a carried
      * delete manifest can outlive its snapshot's log entry). -1 =
      * legacy entry — readers fall back to the snapshot-log lookup. */
    sequenceNumber: Long = -1L) {

  /** THE sequence-resolution rule, shared by scan planning, dangling-
    * delete pruning, and commit-time materialization: the entry's own
    * stamped sequence wins; a legacy entry (-1) resolves through the
    * snapshot log; an entry whose adding snapshot has been expired
    * resolves to `legacyDefault` (0 for data files — old; MaxValue for
    * delete files — conservative). One definition so the three
    * consumers cannot diverge on the scoping rule. */
  def resolvedSeq(seqBySnapshot: Map[Long, Long], legacyDefault: Long): Long =
    if (sequenceNumber >= 0) sequenceNumber
    else seqBySnapshot.getOrElse(snapshotId, legacyDefault)
}

object AvroManifests {

  val ManifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"added_snapshot_id","type":"long"},
      |{"name":"added_files_count","type":"int"},
      |{"name":"existing_files_count","type":"int"},
      |{"name":"deleted_files_count","type":"int"},
      |{"name":"added_rows_count","type":"long"},
      |{"name":"existing_rows_count","type":"long"},
      |{"name":"deleted_rows_count","type":"long"},
      |{"name":"partitions","type":{"type":"array","items":
      |  {"type":"record","name":"field_summary","fields":[
      |    {"name":"name","type":"string"},
      |    {"name":"contains_null","type":"boolean"},
      |    {"name":"lower_bound","type":["null","string"],"default":null},
      |    {"name":"upper_bound","type":["null","string"],"default":null}]}},
      | "default":[]}]}""".stripMargin)

  val ManifestSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":"long"},
      |{"name":"sequence_number","type":"long","default":-1},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int"},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"partition","type":{"type":"array","items":
      |    {"type":"record","name":"partition_field","fields":[
      |      {"name":"name","type":"string"},{"name":"value","type":"string"}]}}},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"column_sizes","type":{"type":"array","items":
      |    {"type":"record","name":"i64_entry","fields":[
      |      {"name":"key","type":"int"},{"name":"value","type":"long"}]}}},
      |  {"name":"value_counts","type":{"type":"array","items":"i64_entry"}},
      |  {"name":"null_value_counts","type":{"type":"array","items":"i64_entry"}},
      |  {"name":"lower_bounds","type":{"type":"array","items":
      |    {"type":"record","name":"bin_entry","fields":[
      |      {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}},
      |  {"name":"upper_bounds","type":{"type":"array","items":"bin_entry"}},
      |  {"name":"equality_ids","type":{"type":"array","items":"int"},"default":[]}
      |]}}]}""".stripMargin)

  // ---- write ----

  def writeManifestList(path: String, manifests: Seq[ManifestFile]): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](ManifestListSchema))
    w.create(ManifestListSchema, new File(path))
    manifests.foreach { m =>
      val r = new GenericData.Record(ManifestListSchema)
      r.put("manifest_path", m.manifestPath)
      r.put("manifest_length", m.manifestLength)
      r.put("partition_spec_id", m.partitionSpecId)
      r.put("content", m.content)
      r.put("added_snapshot_id", m.addedSnapshotId)
      r.put("added_files_count", m.addedFilesCount)
      r.put("existing_files_count", m.existingFilesCount)
      r.put("deleted_files_count", m.deletedFilesCount)
      r.put("added_rows_count", m.addedRowsCount)
      r.put("existing_rows_count", m.existingRowsCount)
      r.put("deleted_rows_count", m.deletedRowsCount)
      val sumSchema = ManifestListSchema.getField("partitions")
        .schema().getElementType
      r.put("partitions", m.partitions.map { s =>
        val sr = new GenericData.Record(sumSchema)
        sr.put("name", s.name)
        sr.put("contains_null", s.containsNull)
        sr.put("lower_bound", s.lower.orNull)
        sr.put("upper_bound", s.upper.orNull)
        sr
      }.asJava)
      w.append(r)
    }
    w.close()
  }

  def writeManifest(path: String, entries: Seq[DataFileEntry]): Unit = {
    val dfSchema = ManifestSchema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema().getElementType
    val i64Schema = dfSchema.getField("column_sizes").schema().getElementType
    val binSchema = dfSchema.getField("lower_bounds").schema().getElementType

    def i64Arr(m: Map[Int, Long]): java.util.List[GenericRecord] =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        val e = new GenericData.Record(i64Schema)
        e.put("key", k); e.put("value", v); e: GenericRecord
      }.asJava
    def binArr(m: Map[Int, Array[Byte]]): java.util.List[GenericRecord] =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        val e = new GenericData.Record(binSchema)
        e.put("key", k); e.put("value", ByteBuffer.wrap(v)); e: GenericRecord
      }.asJava

    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](ManifestSchema))
    w.create(ManifestSchema, new File(path))
    entries.foreach { e =>
      val df = new GenericData.Record(dfSchema)
      df.put("content", e.content)
      df.put("file_path", e.filePath)
      df.put("file_format", e.fileFormat)
      df.put("partition", e.partition.toSeq.sortBy(_._1).map { case (k, v) =>
        val p = new GenericData.Record(partSchema)
        p.put("name", k); p.put("value", v); p: GenericRecord
      }.asJava)
      df.put("record_count", e.recordCount)
      df.put("file_size_in_bytes", e.fileSizeInBytes)
      df.put("column_sizes", i64Arr(e.columnSizes))
      df.put("value_counts", i64Arr(e.valueCounts))
      df.put("null_value_counts", i64Arr(e.nullValueCounts))
      df.put("lower_bounds", binArr(e.lowerBounds))
      df.put("upper_bounds", binArr(e.upperBounds))
      df.put("equality_ids", e.equalityIds.map(Int.box).asJava)
      val r = new GenericData.Record(ManifestSchema)
      r.put("status", e.status)
      r.put("snapshot_id", e.snapshotId)
      r.put("sequence_number", e.sequenceNumber)
      r.put("data_file", df)
      w.append(r)
    }
    w.close()
  }

  // ---- read ----

  private def readAll[A](path: String, schema: Schema)(f: GenericRecord => A): Seq[A] = {
    val reader = DataFileReader.openReader(new File(path), new GenericDatumReader[GenericRecord](schema))
    try reader.iterator().asScala.map(f).toVector
    finally reader.close()
  }

  def readManifestList(path: String): Seq[ManifestFile] =
    readAll(path, ManifestListSchema) { r =>
      ManifestFile(
        r.get("manifest_path").toString,
        r.get("manifest_length").asInstanceOf[Long],
        r.get("partition_spec_id").asInstanceOf[Int],
        r.get("content").asInstanceOf[Int],
        r.get("added_snapshot_id").asInstanceOf[Long],
        r.get("added_files_count").asInstanceOf[Int],
        r.get("existing_files_count").asInstanceOf[Int],
        r.get("deleted_files_count").asInstanceOf[Int],
        r.get("added_rows_count").asInstanceOf[Long],
        r.get("existing_rows_count").asInstanceOf[Long],
        r.get("deleted_rows_count").asInstanceOf[Long],
        // legacy lists (pre-summary writers) resolve to the schema
        // default [] — belt-and-braces null check kept anyway
        Option(r.get("partitions"))
          .map(_.asInstanceOf[java.util.List[GenericRecord]].asScala.toSeq)
          .getOrElse(Seq.empty)
          .map(sr => PartitionFieldSummary(
            sr.get("name").toString,
            sr.get("contains_null").asInstanceOf[Boolean],
            Option(sr.get("lower_bound")).map(_.toString),
            Option(sr.get("upper_bound")).map(_.toString))))
    }

  def readManifest(path: String): Seq[DataFileEntry] = readAll(path, ManifestSchema)(entryOf)

  /** Decode a manifest keeping only the named `data_file` fields (the
    * entry's status, snapshot id and sequence number are always read).
    * The reader schema drops the other fields, so Avro skips their bytes
    * instead of building records, and they come back empty: `""`, `0`,
    * empty maps and lists. Such entries are partial: never cache them
    * where full entries are expected. */
  def readManifest(path: String, projection: Seq[String]): Seq[DataFileEntry] =
    readAll(path, projected(projection))(entryOf)

  private def projected(fields: Seq[String]): Schema = {
    def keep(s: Schema, f: Schema.Field => Option[Schema]): Schema =
      Schema.createRecord(s.getName, s.getDoc, s.getNamespace, false,
        s.getFields.asScala.flatMap(x => f(x).map(new Schema.Field(x, _))).asJava)
    val dataFile = keep(ManifestSchema.getField("data_file").schema(),
      x => Some(x.schema()).filter(_ => fields.contains(x.name)))
    keep(ManifestSchema, x => Some(if (x.name == "data_file") dataFile else x.schema()))
  }

  private def entryOf(r: GenericRecord): DataFileEntry = {
    val df = r.get("data_file").asInstanceOf[GenericRecord]
    // a field the reader schema projected away reads as null
    def get(field: String): AnyRef = if (df.hasField(field)) df.get(field) else null
    def recs(field: String): Seq[GenericRecord] =
      Option(get(field)).map(_.asInstanceOf[java.util.List[GenericRecord]].asScala.toSeq)
        .getOrElse(Seq.empty)
    def i64Map(field: String): Map[Int, Long] =
      recs(field).map(e => e.get("key").asInstanceOf[Int] -> e.get("value").asInstanceOf[Long]).toMap
    def binMap(field: String): Map[Int, Array[Byte]] =
      recs(field).map { e =>
        val bb = e.get("value").asInstanceOf[ByteBuffer]
        val arr = new Array[Byte](bb.remaining())
        bb.duplicate().get(arr)
        e.get("key").asInstanceOf[Int] -> arr
      }.toMap
    def long(field: String): Long = Option(get(field)).map(_.asInstanceOf[Long]).getOrElse(0L)
    DataFileEntry(
      r.get("status").asInstanceOf[Int],
      r.get("snapshot_id").asInstanceOf[Long],
      Option(get("content")).map(_.asInstanceOf[Int]).getOrElse(0),
      Option(get("file_path")).map(_.toString).getOrElse(""),
      Option(get("file_format")).map(_.toString).getOrElse(""),
      recs("partition").map(p => p.get("name").toString -> p.get("value").toString).toMap,
      long("record_count"),
      long("file_size_in_bytes"),
      i64Map("column_sizes"),
      i64Map("value_counts"),
      i64Map("null_value_counts"),
      binMap("lower_bounds"),
      binMap("upper_bounds"),
      // older manifests (pre-equality-ids) resolve through the schema
      // default; Avro surfaces int arrays as java.util.List[Integer]
      Option(get("equality_ids"))
        .map(_.asInstanceOf[java.util.List[Integer]].asScala.toSeq.map(_.toInt))
        .getOrElse(Seq.empty),
      // pre-sequence manifests resolve through the schema default (-1)
      Option(r.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(-1L))
  }
}
