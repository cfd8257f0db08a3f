package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.GraftParquetBridge
import org.apache.spark.sql.execution.datasources.parquet.GraftSchemaInference

import graft.expr.IcebergDecode
import graft.meta.{DataFileEntry, FieldIds, IcebergTable}

/** Metadata-pruned DATA reads — the read half of "DataFrame read/write
  * over Iceberg tables": plan a scan by pruning the snapshot's file list
  * with partition values and column min/max bounds (the pruning the
  * reference only VISUALIZES in its overlap/bounds panels,
  * `formatters.py:563-658`), then hand the surviving parquet paths to
  * Spark's scan.
  *
  * Scale shape: pruning runs on the `files` metadata relation (thousands
  * of rows at 100 TB), entirely as DataFrame transforms over the decoded
  * bound bytes — the expensive thing it saves is the DATA scan: a
  * predicate touching 1% of the id range reads ~1% of the files. Every
  * read is planned from the manifest entries it already holds
  * ([[readEntries]]: a file-source relation whose file index IS the entry
  * list — no directory listing, no listing job), so Catalyst still pushes
  * residual filters into the row groups of the files that do get read. */
object ScanPlanner {

  /** Above this many live data files, the equality-delete per-file
    * sequence map ships as a broadcast join against the files relation
    * instead of a `typedLit` literal (a literal over millions of paths
    * bloats the plan text and the driver). Session-tunable so parity
    * tests can force the join form on small tables. */
  private[graft] def eqSeqLiteralMaxFiles(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.eqDeleteSeqLiteralMaxFiles")
      .map(_.toInt).getOrElse(1000)

  /** Snapshots at or under this many data files (per the snapshot
    * summary) are walked on the driver by the metadata folds that have an
    * executor-parallel twin ([[AnnIndex.drift]]). Mirrors
    * [[graft.rel.MetaRelations]]'s >2000-entry distributed-parse
    * contract. (Partition probes always prune on the driver: the read
    * that follows is planned from the kept entries.) */
  private[graft] val DriverPruneMaxFiles = 2000L

  /** Ceiling (total on-disk bytes, per the manifests' metadata-known
    * `file_size_in_bytes`) under which the merge-on-read delete APPLY
    * joins keep their explicit `broadcast()` hint. Delete sets are
    * normally metadata-small and the hint is the right plan — but a
    * corpus-scale retire (the 100M-id case `graft.retire.broadcastMaxIds`
    * exists for) lands an equality-delete key set of exactly that size,
    * and an unconditional hint would force it through the driver with no
    * fallback on the very next read. Above the ceiling the hint is
    * DROPPED and AQE picks the join (shuffled hash / sort-merge — `<=>`
    * keys extract as equi-join keys, so the anti-join stays keyed).
    * 64 MB of parquet is comfortably a broadcast even at typical 3-4×
    * decompression. `0` disables the hint tier entirely — the
    * parity-spec switch. The gate is pure metadata: no Spark job. */
  private[graft] val DeleteBroadcastMaxBytesConf = "graft.scan.deleteBroadcastMaxBytes"
  private[graft] val DeleteBroadcastMaxBytesDefault = 64L << 20

  private[graft] def deleteBroadcastMaxBytes(spark: SparkSession): Long =
    spark.conf.getOption(DeleteBroadcastMaxBytesConf)
      .map { s =>
        try s.trim.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$DeleteBroadcastMaxBytesConf must be a plain byte count " +
            s"(e.g. ${DeleteBroadcastMaxBytesDefault}), got '$s'")
        }
      }.getOrElse(DeleteBroadcastMaxBytesDefault)

  /** The conditional hint for a frame read from `files` delete entries:
    * broadcast while their metadata-known size total fits the ceiling. */
  private[graft] def hintIfDeleteFits(
      spark: SparkSession, files: Seq[graft.meta.DataFileEntry])(
      df: DataFrame): DataFrame = {
    val max = deleteBroadcastMaxBytes(spark)
    if (max > 0 && files.map(_.fileSizeInBytes).sum <= max) broadcast(df) else df
  }

  /** File paths of `snapshot` whose `[lower, upper]` bounds for `column`
    * may intersect `[lo, hi]` (missing bounds keep the file — pruning
    * must be conservative), plus files matching `partitionEquals` when
    * given. Returns the files relation filtered, not collected. */
  def pruneFiles(
      spark: SparkSession,
      t: IcebergTable,
      files: DataFrame,
      column: String,
      lo: Option[Double],
      hi: Option[Double],
      partitionEquals: Map[String, String] = Map.empty): DataFrame = {
    val field = t.metadata.currentSchema.fields.find(_.name == column)
      .getOrElse(throw new NoSuchElementException(
        s"column $column not in current schema"))
    val fid = field.id
    val decLo = IcebergDecode.decodeNum(lit(field.fieldType), col("lower_bounds")(fid))
    val decHi = IcebergDecode.decodeNum(lit(field.fieldType), col("upper_bounds")(fid))
    // conservative: a file with no recorded bound for the column survives
    val loOk = lo.map(v => decHi.isNull || decHi >= v).getOrElse(lit(true))
    val hiOk = hi.map(v => decLo.isNull || decLo <= v).getOrElse(lit(true))
    // `partitionEquals` keys are SOURCE columns; each maps through every
    // spec field derived from that source (identity, bucket[N],
    // truncate[W] — any spec version) to the partition value a matching
    // file must carry (see [[inGroups]])
    files.filter(loOk && hiOk &&
      groupsFilter(partitionProbeGroups(t, partitionEquals)))
  }

  /** The spec fields derived from source `column`, one per spec-field
    * NAME: `Some(transform)` when every spec version agrees on it, `None`
    * when they conflict (no single stored form to prune on). */
  private def specFieldsOf(t: IcebergTable, column: String)
      : (graft.meta.SchemaField, Seq[(String, Option[String])]) = {
    val src = t.metadata.currentSchema.fields.find(_.name == column)
      .getOrElse(throw new NoSuchElementException(
        s"partition predicate column $column not in current schema"))
    src -> t.metadata.partitionSpecs.flatMap(_.fields)
      .filter(_.sourceId == src.id)
      .groupBy(_.name).toSeq.sortBy(_._1).map { case (pname, sfs) =>
        pname -> (sfs.map(_.transform).distinct match {
          case Seq(tr) => Some(tr)
          case _ => None
        })
      }
  }

  /** `column ∈ values` as (spec-field name → allowed stored forms)
    * groups — the shape every pruning tier consumes. Each value maps
    * through the field's transform to every stored form a matching file
    * may carry (canonical + the raw spelling: foreign manifests may store
    * non-canonical). A group is `None` (cannot prune) for conflicting
    * transforms or when ANY value fails to map: pruning on a PARTIAL
    * literal set would drop files holding the unmappable value's rows
    * while the residual row filter still matches them. */
  private def inGroups(t: IcebergTable, column: String,
      values: Seq[String]): Seq[(String, Option[Set[String]])] = {
    val (src, fields) = specFieldsOf(t, column)
    fields.map { case (pname, transform) =>
      pname -> transform.flatMap { tr =>
        val pvs = values.map(v =>
          graft.meta.Transforms.literalForms(tr, v, src.fieldType))
        if (pvs.exists(_.isEmpty)) None else Some(pvs.flatten.flatten.toSet)
      }
    }
  }

  /** The partition-equals probes as [[inGroups]], one key at a time. */
  private def partitionProbeGroups(t: IcebergTable,
      partitionEquals: Map[String, String]): Seq[(String, Option[Set[String]])] =
    partitionEquals.toSeq.flatMap { case (k, v) => inGroups(t, k, Seq(v)) }

  /** The groups as a predicate over the files relation: a file's recorded
    * value must be allowed, or absent (files of other spec versions keep
    * — conservative). */
  private def groupsFilter(groups: Seq[(String, Option[Set[String]])]): Column =
    groups.flatMap { case (pname, allowed) =>
      allowed.map(av => col("partition")(pname).isNull ||
        col("partition")(pname).isin(av.toSeq.map(lit(_)): _*))
    }.foldLeft(lit(true))(_ && _)

  /** Read the ACTUAL data of a snapshot as a DataFrame (all live files),
    * with v2 position deletes applied merge-on-read: deleted (file, pos)
    * rows are anti-joined away using the parquet reader's
    * `_metadata.file_path` / `_metadata.row_index` columns — one
    * broadcast anti-join when delete files exist, a plain scan when they
    * don't (delete sets are metadata-small next to the data). */
  def readTable(spark: SparkSession, t: IcebergTable, snapshotId: Option[Long] = None): DataFrame =
    readSplit(spark, t, snapshotId, liveFiles(t, snapshotId))

  /** The snapshot's live data entries; a read of none is an error. */
  private def liveFiles(t: IcebergTable, snapshotId: Option[Long]): Seq[DataFileEntry] = {
    val entries = t.files(snapshotId)
    require(entries.nonEmpty, s"snapshot has no data files under ${t.tableDir}")
    entries
  }

  /** Merge-on-read scan of an explicit SUBSET of the snapshot's data
    * files (`entries`, live in `snapshotId`): the same delete
    * application as [[readTable]] (position anti-join; sequence-scoped
    * equality), restricted to those files — what incremental compaction
    * reads so a partial rewrite can never resurrect deleted rows. */
  def readFiles(spark: SparkSession, t: IcebergTable, entries: Seq[DataFileEntry],
      snapshotId: Option[Long] = None): DataFrame = {
    require(entries.nonEmpty, "readFiles needs at least one file")
    readSplit(spark, t, snapshotId, entries)
  }

  /** THE read of table parquet: a file-source relation over exactly
    * `entries`' files, indexed from their manifest facts (absolute path,
    * `file_size_in_bytes` — [[GraftParquetBridge.readParquet]]), so no
    * read lists a directory or stats a file. `schema` is the read schema;
    * without one (legacy tables whose schema is not Spark-expressible)
    * it is the footer schema of the first file in path order — what
    * parquet inference over the same paths picks — read on the driver. */
  private[graft] def readEntries(spark: SparkSession, t: IcebergTable,
      entries: Seq[DataFileEntry], schema: Option[StructType]): DataFrame = {
    val files = entries.map(e => t.resolvePath(e.filePath) -> e.fileSizeInBytes)
    GraftParquetBridge.readParquet(spark, files, schema.getOrElse(
      GraftSchemaInference.schemaOfFile(spark, files.map(_._1).min)))
  }

  /** Position-delete files' `(file_path, pos)` rows. */
  private[graft] def readPositionDeletes(spark: SparkSession, t: IcebergTable,
      posDels: Seq[DataFileEntry]): DataFrame =
    readEntries(spark, t, posDels, Some(PositionDeleteSchema))

  private val PositionDeleteSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  /** [[readTable]] pinned to `snapshotId`'s FILE SET but rendered in
    * the CURRENT schema — what the change feed needs: CDC output is a
    * current-schema view even when the commits predate evolution. */
  def readTableCurrentSchema(spark: SparkSession, t: IcebergTable,
      snapshotId: Option[Long]): DataFrame =
    readSplit(spark, t, snapshotId, liveFiles(t, snapshotId),
      schemaSnapOverride = Some(None))

  /** [[readTableLineage]], current-schema rendering (see
    * [[readTableCurrentSchema]]). */
  def readTableLineageCurrentSchema(spark: SparkSession, t: IcebergTable,
      snapshotId: Option[Long]): DataFrame =
    readSplit(spark, t, snapshotId, liveFiles(t, snapshotId), keepLineage = true,
      schemaSnapOverride = Some(None))

  /** [[readTable]] with row lineage kept: two extra columns `__gr_path`
    * (table-relative file path) and `__gr_pos` (row index within the
    * file), surviving the merge-on-read joins. This is what row-level
    * operations (DELETE) build their position sets from — matching
    * against already-deleted rows is impossible because the deletes are
    * applied before the caller's predicate. */
  def readTableLineage(spark: SparkSession, t: IcebergTable,
      snapshotId: Option[Long] = None): DataFrame =
    readSplit(spark, t, snapshotId, liveFiles(t, snapshotId), keepLineage = true)

  /** FILE-SCOPED merge-on-read: split the requested files into the
    * DELETE-UNTOUCHED set (scanned bare — vectorized parquet read, no
    * anti-joins above it, stays inside whole-stage codegen) and the
    * DELETE-HIT set (the full [[applyDeletes]] machinery), unioned.
    * On a 100 TB table one row-level DELETE typically touches a handful
    * of files; without the split EVERY file's rows flow through the
    * anti-join stages — with it, delete debt costs IO proportional to
    * the files that actually carry it.
    *
    * The hit set is computed driver-side from metadata plus one
    * metadata-scale pass over the position-delete parquet (distinct
    * `file_path` targets — the same read [[Maintenance.pruneDanglingDeletes]]
    * does); an equality delete hits every file whose commit sequence is
    * strictly below the delete's (Iceberg v2 scoping), so files at or
    * above the NEWEST equality-delete sequence escape it structurally. */
  private def readSplit(
      spark: SparkSession,
      t: IcebergTable,
      snapshotId: Option[Long],
      entries: Seq[DataFileEntry],
      keepLineage: Boolean = false,
      // None = render in the snapshot's own schema (time-travel
      // semantics); Some(s) = render in the schema at `s` (the change
      // feed pins the FILE SET to a parent commit but must present the
      // CURRENT schema)
      schemaSnapOverride: Option[Option[Long]] = None): DataFrame = {
    val schemaSnap = schemaSnapOverride.getOrElse(snapshotId)
    def scan(es: Seq[DataFileEntry]) = scanFiles(spark, t, es, schemaSnap, snapshotId)
    val allDels = t.deleteFiles(snapshotId)
    if (allDels.isEmpty)
      return applyDeletes(spark, t, snapshotId, scan(entries), keepLineage, schemaSnap)

    val (eqDels, posDels) = allDels.partition(_.content == 2)
    val seqBySnapshot = t.metadata.snapshots
      .map(s => s.snapshotId -> s.sequenceNumber).toMap
    val posTargets: Set[String] =
      if (posDels.isEmpty) Set.empty
      else readPositionDeletes(spark, t, posDels)
        .select("file_path").distinct()
        .collect().map(_.getString(0)).toSet
    // a data file escapes ALL equality deletes iff its sequence is >= the
    // newest delete's (apply requires dataSeq < delSeq); legacy entries
    // (-1 → snapshot-log fallback, else 0) conservatively read as hit
    val maxEqSeq = eqDels.map(_.resolvedSeq(seqBySnapshot, Long.MaxValue))
      .maxOption.getOrElse(Long.MinValue)
    val (hit, clean) = entries.partition(e =>
      posTargets.contains(e.filePath) ||
        e.resolvedSeq(seqBySnapshot, 0L) < maxEqSeq)

    def lineaged(df: DataFrame): DataFrame =
      if (!keepLineage) df
      else df.withColumn("__gr_path", relPathFromMetadata(t))
        .withColumn("__gr_pos", col("_metadata.row_index"))
    Seq(
      if (clean.isEmpty) None else Some(lineaged(scan(clean))),
      if (hit.isEmpty) None
      else Some(applyDeletes(spark, t, snapshotId, scan(hit), keepLineage, schemaSnap))
    ).flatten.reduce(_.unionByName(_))
  }

  /** Scan `entries`' files through the table's CURRENT schema when it is
    * expressible: under metadata-only evolution files differ per schema
    * version — an explicit read schema makes later-added columns surface
    * as nulls from older files, dropped columns disappear, and the
    * column order follow the schema (plain inference would pick one
    * file's shape). Hive-adopted partition columns are filled from the
    * entries ([[fillPathPartitionsEntries]]). */
  private def scanFiles(spark: SparkSession, t: IcebergTable,
      entries: Seq[DataFileEntry],
      schemaSnap: Option[Long],
      fileSnap: Option[Long]): DataFrame =
    fillPathPartitionsEntries(spark, t,
      readEntries(spark, t, entries, readSchemaForFiles(spark, t, schemaSnap, fileSnap)),
      entries, schemaSnap)

  /** Fill HIVE-ADOPTED identity-partition columns from the manifests'
    * per-file constants: hive-layout `add_files` sources don't contain
    * their partition columns — the values live in the adopted entries'
    * partition maps ([[graft.meta.Transforms.PathPartitionColsKey]]).
    * The identity invariant makes `coalesce(col, perFileConstant)`
    * EXACT: every row of a file carries the file's partition value, so
    * engine-written files (column present in-file) are untouched,
    * adopted files (column absent → reads null) take the constant, and
    * a null-sentinel partition stays null.
    *
    * Metadata-gated: tables that never adopted a hive drop carry no
    * property and pay nothing. The per-file constant ships as a literal
    * path→value map while the scan is metadata-small (same tier as the
    * eq-delete sequence map); above the threshold it becomes ONE lookup
    * relation joined on `_metadata.file_path` for ALL fill columns,
    * broadcast to the same 2M-file ceiling. `migrate-field-ids`' full
    * rewrite materializes the columns into the files, after which the
    * coalesce never fires. `allEntries` are the scanned files' entries;
    * no-op unless the table declares path-partition columns AND some
    * entry is an un-rewritten adopted file. */
  private[graft] def fillPathPartitionsEntries(
      spark: SparkSession,
      t: IcebergTable,
      df0: DataFrame,
      allEntries: Seq[graft.meta.DataFileEntry],
      schemaSnap: Option[Long]): DataFrame = {
    val declared = graft.meta.Transforms.pathPartitionCols(t.metadata)
      .filter(df0.columns.contains)
    if (declared.isEmpty) return df0
    val ice = schemaAt(t, schemaSnap)
    // only ADOPTED files can lack the column in-file — rewrites
    // (compaction, the migrate-field-ids overwrite) materialize it, so
    // restricting the maps here makes the fill a literal no-op (zero
    // extra plan nodes) once a table's adopted generation is rewritten
    val entries = allEntries
      .filter(_.filePath.startsWith(graft.meta.Transforms.AdoptedFilePrefix))
    // (column, declared type, relPath → raw value) per fillable column;
    // the partition map is keyed by spec-FIELD name — resolve through
    // every identity spec field derived from the source
    val fills: Seq[(String, org.apache.spark.sql.types.DataType, Map[String, String])] =
      declared.flatMap { c =>
        ice.fields.find(f => f.name == c && !f.path.contains('.')).flatMap { f =>
          sparkType(f.fieldType).flatMap { dt =>
            val pnames = t.metadata.partitionSpecs.flatMap(_.fields)
              .filter(sf => sf.sourceId == f.id && sf.transform == "identity")
              .map(_.name).distinct
            val m = entries.flatMap { e =>
              pnames.flatMap(e.partition.get).headOption
                .filter(_ != graft.meta.Transforms.NullPartitionValue)
                .map(e.filePath -> _)
            }.toMap
            if (m.isEmpty) None else Some((c, dt, m))
          }
        }
      }
    if (fills.isEmpty) return df0
    val pathCol = relPathFromMetadata(t)
    if (entries.size <= eqSeqLiteralMaxFiles(spark))
      fills.foldLeft(df0) { case (acc, (c, dt, m)) =>
        acc.withColumn(c, coalesce(col(c), element_at(typedLit(m), pathCol).cast(dt)))
      }
    else {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      import scala.jdk.CollectionConverters._
      val lookupSchema = StructType(StructField("__pp_path", StringType) +:
        fills.map { case (c, _, _) => StructField(s"__pp_$c", StringType) })
      val rows = entries.map(e => org.apache.spark.sql.Row.fromSeq(
        e.filePath +: fills.map { case (_, _, m) => m.get(e.filePath).orNull }))
      val rel = spark.createDataFrame(rows.asJava, lookupSchema)
      // same ceiling discipline as the eq-delete sequence map: the hint
      // holds to ~2M live files, beyond that AQE picks the join
      val hinted = if (entries.size <= 2000000) broadcast(rel) else rel
      val joined = df0.withColumn("__pp_key", pathCol)
        .join(hinted, col("__pp_key") === col("__pp_path"), "left")
      val filled = fills.foldLeft(joined) { case (acc, (c, dt, _)) =>
        acc.withColumn(c, coalesce(col(c), col(s"__pp_$c").cast(dt)))
      }
      filled.drop("__pp_key" +: "__pp_path" +:
        fills.map { case (c, _, _) => s"__pp_$c" }: _*)
    }
  }

  /** The read schema for `t`'s data files: the schema AT the requested
    * snapshot ([[schemaAt]] — time-travel reads use the snapshot's
    * recorded schema), FIELD-ID-ATTRIBUTED on id-stamped tables (created
    * by this engine's [[graft.meta.TableCreator]]) so Spark resolves
    * parquet columns by Iceberg field id — the spec's rename-safe
    * contract: a renamed column keeps pulling pre-rename files' data,
    * and a dropped+re-added name never resurrects the retired field's
    * old values. Legacy tables (no [[FieldIds.PropKey]] property — their
    * files may predate footer ids) keep the historical name-resolved
    * read. */
  def readSchema(spark: SparkSession, t: IcebergTable,
      snapshotId: Option[Long] = None)
      : Option[org.apache.spark.sql.types.StructType] =
    readSchemaForFiles(spark, t, snapshotId, snapshotId)

  /** [[readSchema]] with the SCHEMA snapshot decoupled from the FILE
    * snapshot: the schema (names/types) comes from `schemaSnap`, but the
    * id-attribution decision follows `fileSnap` — the snapshot whose
    * files the scan actually opens. The change feed reads a parent
    * commit's files under the CURRENT schema, and a migrated table's
    * pre-migration snapshots hold id-less files that must keep the name
    * read ([[FieldIds.idsAtSnapshot]]). */
  private def readSchemaForFiles(spark: SparkSession, t: IcebergTable,
      schemaSnap: Option[Long], fileSnap: Option[Long])
      : Option[org.apache.spark.sql.types.StructType] = {
    val ice = schemaAt(t, schemaSnap)
    sparkSchemaOf(ice).map { st =>
      if (!FieldIds.idsAtSnapshot(t.metadata, fileSnap)) st
      else {
        FieldIds.ensureReadEnabled(spark)
        FieldIds.attribute(st, ice)
      }
    }
  }

  /** Read equality-delete FILES' key columns — BY FIELD ID on id-stamped
    * tables: a delete file written before a key column's rename carries
    * the old parquet name, and a name read would silently miss (or
    * fail on) it. `ids` are the entry's equality_ids; column names and
    * types come from the schema at `snapshotId` (current when None). */
  def readEqDeleteFiles(
      spark: SparkSession,
      t: IcebergTable,
      ids: Seq[Int],
      files: Seq[DataFileEntry],
      schemaSnap: Option[Long] = None,
      fileSnap: Option[Long] = None): DataFrame =
    if (!FieldIds.idsAtSnapshot(t.metadata, fileSnap)) readEntries(spark, t, files, None)
    else {
      FieldIds.ensureReadEnabled(spark)
      val byId = schemaAt(t, schemaSnap).fields.map(f => f.id -> f).toMap
      val st = org.apache.spark.sql.types.StructType(ids.map { id =>
        val f = byId.getOrElse(id, throw new NoSuchElementException(
          s"equality id $id not in current schema"))
        org.apache.spark.sql.types.StructField(f.name,
          sparkType(f.fieldType).getOrElse(throw new IllegalStateException(
            s"equality-delete key ${f.name} has non-primitive type ${f.fieldType}")),
          nullable = true, FieldIds.idMetadata(id))
      })
      readEntries(spark, t, files, Some(st))
    }

  /** The qualified-URI prefix `_metadata.file_path` carries for files
    * under `t`'s table directory — resolved through Hadoop's own Path
    * qualification, the exact rendering the parquet reader stamps, so a
    * non-`file:` filesystem (HDFS-style deployments) or an alternate
    * URI spelling keys identically instead of assuming a hardcoded
    * `file:` scheme. */
  private[graft] def fileUriPrefix(tableDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(tableDir)
    // an explicit scheme (file:, hdfs://nn, s3a://bucket) is already the
    // reader's rendering — qualify only scheme-less paths, against the
    // filesystem they actually resolve through (the session's conf: a
    // fresh Configuration costs an XML parse per call)
    val qualified =
      if (p.toUri.getScheme != null) p.toString
      else p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
        .makeQualified(p).toString
    qualified.stripSuffix("/") + "/"
  }

  /** Table-RELATIVE path of each scanned row's source file (the form
    * delete files, the sequence map and the partition-fill maps key
    * on), derived from `_metadata.file_path`. GUARDED: a scanned file
    * whose URI does not sit under the table directory raises a
    * descriptive error instead of mis-keying — a silent miss would
    * resurrect deleted rows through the MoR joins and null the filled
    * partition columns, both invisible to the caller. */
  private[graft] def relPathFromMetadata(t: IcebergTable): org.apache.spark.sql.Column = {
    val prefix = fileUriPrefix(t.tableDir)
    val fp = col("_metadata.file_path")
    when(fp.startsWith(prefix), fp.substr(lit(prefix.length + 1), length(fp)))
      .otherwise(raise_error(concat(
        lit(s"scanned file outside the table directory (expected prefix " +
          s"$prefix): "), fp)))
  }

  /** Merge-on-read delete application over a raw scan `df0` of the
    * snapshot's files (or any subset — pruned scans included). */
  private def applyDeletes(
      spark: SparkSession,
      t: IcebergTable,
      snapshotId: Option[Long],
      df0: DataFrame,
      keepLineage: Boolean = false,
      schemaSnap: Option[Long] = None): DataFrame = {
    val allDels = t.deleteFiles(snapshotId)
    val (eqDels, posDels) = allDels.partition(_.content == 2)
    val seqBySnapshot = t.metadata.snapshots
      .map(s => s.snapshotId -> s.sequenceNumber).toMap
    // entry-stamped sequence first (survives snapshot expiration);
    // legacy entries (-1) fall back to the snapshot-log lookup
    def entrySeq(e: graft.meta.DataFileEntry, legacyDefault: Long): Long =
      e.resolvedSeq(seqBySnapshot, legacyDefault)

    // lineage must be captured ON THE SCAN — the hidden _metadata column
    // does not survive the delete joins
    val needLineage = keepLineage || posDels.nonEmpty
    val withLin =
      if (!needLineage) df0
      else df0
        .withColumn("__gr_path", relPathFromMetadata(t))
        .withColumn("__gr_pos", col("_metadata.row_index"))

    val df =
      if (eqDels.isEmpty) withLin
      else {
        val pairs: Seq[(String, Long)] = t.files(snapshotId)
          .map(e => e.filePath -> entrySeq(e, 0L))
        val pathCol = if (needLineage) col("__gr_path")
          else relPathFromMetadata(t)
        // the per-file commit sequence rides along as a literal
        // path→sequence map while the table is metadata-small; above the
        // threshold (millions of live files would bloat the literal into
        // the plan itself) it becomes a BROADCAST JOIN against the files
        // relation — same values, the map just ships as a broadcast
        // relation instead of plan text
        if (pairs.size <= eqSeqLiteralMaxFiles(spark))
          withLin.withColumn("__seq",
            coalesce(element_at(typedLit(pairs.toMap), pathCol), lit(0L)))
        else {
          import spark.implicits._
          // same keying as the literal branch's `.toMap` — a path that
          // ever appeared twice in t.files() must not duplicate data rows
          // through the join
          val seqRel = pairs.toMap.toSeq.sortBy(_._1).toDF("__seq_path", "__seq_val")
          // the hint holds to ~2M live files (a few hundred MB of path
          // strings); beyond that the driver-known pair count drops it
          // and AQE picks the join — same ceiling discipline as the
          // delete-value frames, gated for free off metadata
          val hinted =
            if (pairs.size <= 2000000) broadcast(seqRel) else seqRel
          withLin.withColumn("__seq_key", pathCol)
            .join(hinted,
              col("__seq_key") === col("__seq_path"), "left")
            .withColumn("__seq", coalesce(col("__seq_val"), lit(0L)))
            .drop("__seq_key", "__seq_path", "__seq_val")
        }
      }

    val afterPos = if (posDels.isEmpty) df
    else {
      val dels = readPositionDeletes(spark, t, posDels)
        .select(col("file_path").as("__del_path"), col("pos").as("__del_pos"))
      df.join(hintIfDeleteFits(spark, posDels)(dels),
          df("__gr_path") === dels("__del_path") && df("__gr_pos") === dels("__del_pos"),
          "left_anti")
    }

    // equality deletes (content=2): rows matching the delete file's values
    // on the equality-id columns disappear — SCOPED by sequence number:
    // only rows of data files whose commit sequence is STRICTLY SMALLER
    // than the delete's apply (Iceberg v2 semantics — a row re-appended
    // after the delete survives it). One broadcast anti-join per distinct
    // equality-id set, whatever the number of commits that wrote its
    // delete files: each delete row carries its file's sequence. The
    // per-file data sequence rides along as a
    // literal path→sequence map (metadata-scale; at very large file
    // counts this moves to a broadcast join against the files relation).
    // The hint on the delete VALUES is ceilinged on their metadata-known
    // byte total — see [[hintIfDeleteFits]].
    val afterEq = if (eqDels.isEmpty) afterPos
    else {
      val nameById = schemaAt(t, schemaSnap).fields.map(f => f.id -> f.name).toMap
      val applied = eqDels.groupBy(_.equalityIds).toSeq.sortBy(_._1.mkString(","))
        .foldLeft(afterPos) { case (acc, (ids, files)) =>
          require(ids.nonEmpty,
            s"equality delete file without equality_ids: ${files.head.filePath}")
          val cols = ids.map(id => nameById.getOrElse(id,
            throw new NoSuchElementException(s"equality id $id not in current schema")))
          val delVals = files.groupBy(e => entrySeq(e, Long.MaxValue)).toSeq.sortBy(_._1)
            .map { case (delSeq, fs) =>
              readEqDeleteFiles(spark, t, ids, fs, schemaSnap, snapshotId)
                .select(cols.map(c => col(c).as(s"__del_$c")) :+
                  lit(delSeq).as("__del_seq"): _*)
            }.reduce(_.unionByName(_))
          // null-safe equality: Iceberg equality deletes match null keys
          // to null values (a delete row with key=null removes rows whose
          // key is null), which === would silently never do
          val cond = cols.map(c => acc(c) <=> delVals(s"__del_$c"))
            .reduce(_ && _) && acc("__seq") < delVals("__del_seq")
          acc.join(hintIfDeleteFits(spark, files)(delVals), cond, "left_anti")
        }
      applied.drop("__seq")
    }
    if (keepLineage || !needLineage) afterEq
    else afterEq.drop("__gr_path", "__gr_pos")
  }

  private val PrimitiveSparkTypes: Map[String, DataType] = Map(
    "long" -> LongType, "int" -> IntegerType, "double" -> DoubleType,
    "float" -> FloatType, "string" -> StringType, "date" -> DateType,
    "timestamp" -> TimestampType, "boolean" -> BooleanType,
    "binary" -> BinaryType)

  private val ListRe = """list<(\w+)>""".r

  /** An engine-writable field type as a Spark type: primitives, `binary`
    * (opaque multimodal payloads), and `list<primitive>` (embedding
    * vectors). None for anything else. */
  def sparkType(fieldType: String): Option[DataType] = fieldType match {
    case ListRe(el) => PrimitiveSparkTypes.get(el).map(ArrayType(_, containsNull = true))
    case other => PrimitiveSparkTypes.get(other)
  }

  /** The current Iceberg schema as a Spark read schema, when every
    * TOP-LEVEL field is engine-expressible (primitive / binary /
    * list<primitive> — flattened list children ride along in the parsed
    * view and are skipped). Tables with struct/map types fall back to
    * parquet inference. */
  def currentSparkSchema(t: IcebergTable): Option[StructType] =
    sparkSchemaOf(t.metadata.currentSchema)

  /** The Spark-expressible schema AT a snapshot (un-attributed — the
    * logical shape for catalogs/time-travel scans; [[readSchema]] is the
    * read-side twin that adds field-id metadata). */
  def sparkSchemaAt(t: IcebergTable, snapshotId: Option[Long]): Option[StructType] =
    sparkSchemaOf(schemaAt(t, snapshotId))

  /** The Iceberg schema in effect AT a snapshot: the snapshot's recorded
    * `schema-id` (Iceberg v2 — what time-travel reads must use, so a
    * pinned read across later evolution sees the names/columns as of
    * the commit), falling back to the current schema for legacy
    * snapshots that predate the stamp (historical behavior). */
  def schemaAt(t: IcebergTable, snapshotId: Option[Long]): graft.meta.IceSchema =
    snapshotId
      .flatMap(id => t.metadata.snapshot(id))
      .flatMap(_.schemaId)
      .flatMap(sid => t.metadata.schemas.find(_.schemaId == sid))
      .getOrElse(t.metadata.currentSchema)

  /** The Spark type of one (possibly nested) field, rebuilt from the
    * flattened [[graft.meta.SchemaField]] path tree: struct members /
    * list elements / map entries are the `parent.child` /
    * `parent.element` / `parent.key|value` children the metadata parser
    * emits. Programmatically-built flat tables carry `list<primitive>`
    * WITHOUT an element child — that shape resolves through
    * [[sparkType]] directly. None for any type outside the readable
    * surface (unknown primitives — decimal, uuid, fixed — keep the
    * parquet-inference fallback). */
  private def sparkTypeAt(
      fields: Seq[graft.meta.SchemaField],
      f: graft.meta.SchemaField): Option[DataType] = {
    def children(path: String): Seq[graft.meta.SchemaField] = {
      val prefix = path + "."
      fields.filter(c => c.path.startsWith(prefix) &&
        !c.path.drop(prefix.length).contains('.'))
    }
    def all(ts: Seq[Option[DataType]]): Option[Seq[DataType]] =
      if (ts.forall(_.nonEmpty)) Some(ts.map(_.get)) else None
    def build(f: graft.meta.SchemaField): Option[DataType] =
      if (f.fieldType.startsWith("struct<")) {
        val kids = children(f.path)
        if (kids.isEmpty) None
        else all(kids.map(build)).map(ts => StructType(kids.zip(ts).map {
          case (k, t) => StructField(k.name, t, nullable = true) }))
      } else if (f.fieldType.startsWith("map<")) {
        val kids = children(f.path)
        for {
          k <- kids.find(_.name == "key"); v <- kids.find(_.name == "value")
          kt <- build(k); vt <- build(v)
        } yield MapType(kt, vt, valueContainsNull = true)
      } else if (f.fieldType.startsWith("list<")) {
        children(f.path).find(_.name == "element") match {
          case Some(el) => build(el).map(ArrayType(_, containsNull = true))
          case None => sparkType(f.fieldType)
        }
      } else PrimitiveSparkTypes.get(f.fieldType)
    build(f)
  }

  private def sparkSchemaOf(s: graft.meta.IceSchema): Option[StructType] = {
    val top = s.fields.filter(f => !f.path.contains('.'))
    val mapped = top.map(f => f -> sparkTypeAt(s.fields, f))
    if (mapped.forall(_._2.nonEmpty))
      Some(StructType(mapped.map { case (f, dt) =>
        StructField(f.name, dt.get, nullable = true) }))
    else None
  }

  /** An EMPTY frame when a snapshot holds zero live data files — the
    * correct answer for any pruned read of a fresh or fully-deleted
    * table (a retire/forget touching a never-admitted index must yield
    * an empty residual set, not abort). `Some(file)` keeps the old
    * behavior: scan one live file with `filter(false)` so the physical
    * parquet schema rides along; `None` synthesizes the empty frame
    * from the declared current schema (every engine table is
    * primitive/list-expressible; struct/map tables — which need parquet
    * inference — still raise, now with the reason named). */
  private def emptyOrPinned(
      spark: SparkSession, t: IcebergTable,
      anyFile: Option[DataFileEntry],
      snapshotId: Option[Long] = None): DataFrame = anyFile match {
    case Some(e) =>
      scanFiles(spark, t, Seq(e), snapshotId, snapshotId).filter(lit(false))
    case None => readSchema(spark, t, snapshotId) match {
      case Some(st) => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), st)
      case None => throw new IllegalStateException(
        s"snapshot has no data files under ${t.tableDir} and the " +
          "schema has struct/map fields (an empty read needs parquet " +
          "inference from a live file)")
    }
  }

  /** Read the data pruned to `column ∈ values` through the partition
    * spec: each value maps through every spec field derived from the
    * column (identity / bucket[N] / truncate[W]) to the partition value
    * a matching file must carry, and files matching NONE of them are
    * never opened — the multi-point twin of [[readTableWhere]]'s single
    * equality (an IN-list probe, e.g. a set of dates or a batch of
    * bucket keys). Conservative: files with no recorded value for the
    * key survive, and the exact IN predicate is re-applied row-level, so
    * the result equals the unpruned filtered read. */
  def readTableWhereIn(
      spark: SparkSession,
      t: IcebergTable,
      column: String,
      values: Seq[String],
      snapshotId: Option[Long] = None): DataFrame = {
    val groups = inGroups(t, column, values)
    prunedRead(spark, t, snapshotId, pruneEntries(t, snapshotId, groups),
      col(column).isin(values.map(lit(_)): _*))
  }

  /** The data files a [[readTableWhereIn]] probe opens. */
  def pathsWhereIn(spark: SparkSession, t: IcebergTable, column: String,
      values: Seq[String]): Seq[String] = {
    val groups = inGroups(t, column, values)
    pruneEntries(t, None, groups).map(e => t.resolvePath(e.filePath))
  }

  /** The frame-keyed twin of [[readTableWhereIn]], for key sets that
    * must not reach the driver (a streaming batch's band keys, a
    * mass-retire label set): the keys are `keys`' `column` column. ONE
    * distributed census collects their distinct stored forms under each
    * `bucket[N]` spec field of the column — at most N values per field,
    * metadata-scale — and feeds the same prune core. Only bucket fields
    * prune (the census renders their stored form exactly); every other
    * field keeps its files. No residual filter: the caller joins the
    * keys against the result. */
  def readTableWhereInFrame(spark: SparkSession, t: IcebergTable,
      column: String, keys: DataFrame): DataFrame =
    prunedRead(spark, t, None,
      pruneEntries(t, None, censusGroups(t, column, keys)), lit(true))

  /** The data files a [[readTableWhereInFrame]] probe opens. */
  def pathsWhereInFrame(spark: SparkSession, t: IcebergTable,
      column: String, keys: DataFrame): Seq[String] =
    pruneEntries(t, None, censusGroups(t, column, keys))
      .map(e => t.resolvePath(e.filePath))

  /** [[inGroups]] for a key FRAME, restricted to `bucket[N]` fields: one
    * job-bounded census of the distinct transformed keys (≤ the product
    * of the fields' bucket counts — one field outside spec evolution).
    * Null keys drop out: they match no row of an equi-join. */
  private def censusGroups(t: IcebergTable, column: String,
      keys: DataFrame): Seq[(String, Option[Set[String]])] = {
    val (src, fields) = specFieldsOf(t, column)
    val buckets = fields.collect {
      case (pname, Some(tr)) if tr.startsWith("bucket[") => pname -> tr }
    if (buckets.isEmpty) Seq.empty
    else {
      val census = keys.select(buckets.map { case (_, tr) =>
          // a DataType, not "string": a type name parses through the
          // SQL parser, whose grammar cache then stays on the heap
          graft.meta.Transforms.column(tr, col(column), src.fieldType)
            .cast(org.apache.spark.sql.types.StringType) }: _*)
        .distinct().collect()
      buckets.zipWithIndex.map { case ((pname, _), i) =>
        pname -> Some(census.flatMap(r => Option(r.getString(i))).toSet)
      }
    }
  }

  /** THE partition-probe prune core: the MANIFEST tier first
    * ([[graft.meta.ManifestSummaries.mayMatch]] — a manifest whose
    * partition summary excludes every allowed value is never OPENED;
    * summary-less manifests keep), then the FILE tier over the kept
    * manifests' entries, on the driver with zero Spark actions — the
    * read that follows is planned from those same entries anyway.
    * `groups` is only evaluated when the snapshot has data manifests. */
  private def pruneEntries(
      t: IcebergTable,
      snapshotId: Option[Long],
      groups: => Seq[(String, Option[Set[String]])]): IndexedSeq[DataFileEntry] = {
    val allManifests = t.manifests(snapshotId).filter(_.content == 0)
    if (allManifests.isEmpty) return IndexedSeq.empty
    val gs = groups
    val kept = allManifests.filter(m =>
      graft.meta.ManifestSummaries.mayMatch(t.metadata, m, gs))
    entriesOf(t, snapshotId, kept).iterator
      .filter(e => gs.forall { case (pname, allowed) =>
        allowed.forall(av => e.partition.get(pname).forall(av.contains))
      }).toIndexedSeq
  }

  /** Live entries of the `kept` data manifests of a snapshot — the
    * snapshot's memoized listing when nothing was pruned. */
  private def entriesOf(t: IcebergTable, snapshotId: Option[Long],
      kept: Seq[graft.meta.ManifestFile]): Seq[DataFileEntry] =
    if (kept.size == t.manifests(snapshotId).count(_.content == 0)) t.files(snapshotId)
    else kept.flatMap(m => t.manifestEntries(t.resolvePath(m.manifestPath)))
      .filter(_.status != 2)

  /** The one pruned-scan tail: the kept files go through the file-scoped
    * merge-on-read split (deletes apply to a pruned subset too; surviving
    * delete-untouched files scan bare), then `resid` re-applies the exact
    * predicate row-level. Nothing kept: the correct result is EMPTY with
    * the table's schema, scanning nothing. */
  private def prunedRead(
      spark: SparkSession,
      t: IcebergTable,
      snapshotId: Option[Long],
      kept: Seq[DataFileEntry],
      resid: Column): DataFrame =
    if (kept.isEmpty)
      emptyOrPinned(spark, t, anyLiveFile(t, snapshotId), snapshotId)
    else readSplit(spark, t, snapshotId, kept).filter(resid)

  /** ONE live data file of the snapshot, parsing manifests lazily until
    * an entry turns up — what the pruned-to-empty read paths pin their
    * result schema on. [[IcebergTable.files]] would parse EVERY manifest
    * for the same answer, defeating the manifest-level prune that just
    * emptied the scan. */
  private def anyLiveFile(t: IcebergTable, snapshotId: Option[Long]): Option[DataFileEntry] =
    t.manifests(snapshotId).iterator.filter(_.content == 0)
      .flatMap(m => t.manifestEntries(t.resolvePath(m.manifestPath))
        .iterator.filter(_.status != 2))
      .nextOption()

  /** The entries among the `kept` manifests' whose path the bounds prune
    * over the files relation (`pruned`) kept. */
  private def keptEntries(t: IcebergTable, snapshotId: Option[Long],
      kept: Seq[graft.meta.ManifestFile], pruned: DataFrame): Seq[DataFileEntry] = {
    // metadata-scale collect: the surviving PATH LIST parameterizes the
    // scan, exactly like any Iceberg planner's task list
    val paths = pruned.select("file_path").collect().map(_.getString(0)).toSet
    entriesOf(t, snapshotId, kept).filter(e => paths.contains(e.filePath))
  }

  /** Read the data with metadata pruning: only files whose bounds may
    * hold `column ∈ [lo, hi]` are opened; the exact range predicate is
    * re-applied row-level (and pushed into the parquet row groups by
    * Catalyst), so the result equals the unpruned filtered read. */
  def readTableWhere(
      spark: SparkSession,
      t: IcebergTable,
      column: String,
      lo: Option[Double],
      hi: Option[Double],
      snapshotId: Option[Long] = None,
      partitionEquals: Map[String, String] = Map.empty): DataFrame = {
    // MANIFEST-level tier: partition-equals probes against the manifest
    // list's partition summaries, plus the range probe against IDENTITY
    // summaries of the probed column — excluded manifests are never
    // opened. The file tier (pruneFiles) then decides per entry.
    val mGroups = partitionProbeGroups(t, partitionEquals)
    val srcId = t.metadata.currentSchema.fields
      .find(f => f.name == column && !f.path.contains('.')).map(_.id)
    val keptManifests = t.manifests(snapshotId).filter(_.content == 0)
      .filter(m =>
        graft.meta.ManifestSummaries.mayMatch(t.metadata, m, mGroups) &&
          srcId.forall(id => graft.meta.ManifestSummaries.mayIntersect(
            t.metadata, m, id, lo, hi)))
    val files = graft.rel.MetaRelations.files(spark, t, snapshotId,
      onlyManifests = Some(keptManifests))
    val pruned = keptEntries(t, snapshotId, keptManifests,
      pruneFiles(spark, t, files, column, lo, hi, partitionEquals))
    // lo/hi are in the BOUNDS' numeric domain (timestamps = micros,
    // dates = epoch days — [[graft.expr.IcebergDecode.decodeNumeric]]);
    // the row-level re-filter must compare in the same domain, and a
    // temporal column compared to a raw double does not even analyze
    val c = t.metadata.currentSchema.fields.find(_.name == column)
      .map(_.fieldType) match {
      case Some("timestamp") | Some("timestamptz") => unix_micros(col(column))
      case Some("date") => unix_date(col(column))
      case _ => col(column)
    }
    val range = (lo.map(c >= _), hi.map(c <= _)) match {
      case (Some(a), Some(b)) => a && b
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => lit(true)
    }
    // partition pruning is conservative (files with no recorded value for
    // the key survive — old-spec files after setPartitionSpec), so the
    // partition predicate must ALSO be re-applied row-level; identity
    // partitioning means the source column carries the value directly
    val resid = partitionEquals.foldLeft(range) { case (acc, (k, v)) =>
      // string literal on the right: coercion casts the foldable literal
      // to the column type, so the comparison stays pushdown-eligible
      acc && col(k) === lit(v)
    }
    prunedRead(spark, t, snapshotId, pruned, resid)
  }

  /** Read the data pruned to `column ∈ points` through the files' COLUMN
    * BOUNDS: a file is opened iff some point falls inside its
    * `[lower, upper]` range (missing bounds keep it — conservative) —
    * the point-SET twin of [[readTableWhere]]'s single span. A SCATTERED
    * point set (the nature of retire/compliance id sets) no longer drags
    * in every file between its min and max: each file answers "does it
    * hold ANY of these values", not "does it overlap the global span".
    * The bound test is one literal ARRAY probed per file-metadata row
    * (`exists` over the sorted points — metadata-scale work, never a
    * per-data-row predicate), and the exact IN predicate is re-applied
    * row-level, so the result equals the unpruned filtered read. The
    * caller's contract is a BOUNDED point set (affected-component /
    * batch scale); corpus-scale sets belong on a join, not a point
    * prune. */
  def readTableWhereInSet(
      spark: SparkSession,
      t: IcebergTable,
      column: String,
      points: Seq[Long],
      snapshotId: Option[Long] = None): DataFrame = {
    require(points.nonEmpty, "readTableWhereInSet needs at least one point")
    val field = t.metadata.currentSchema.fields.find(_.name == column)
      .getOrElse(throw new NoSuchElementException(
        s"column $column not in current schema"))
    val fid = field.id
    val decLo = IcebergDecode.decodeNum(lit(field.fieldType), col("lower_bounds")(fid))
    val decHi = IcebergDecode.decodeNum(lit(field.fieldType), col("upper_bounds")(fid))
    val sorted = points.distinct.sorted
    val arr = array(sorted.map(lit(_)): _*)
    // conservative: missing bounds keep the file; otherwise it survives
    // iff at least one point lies inside its recorded range
    val keep = decLo.isNull || decHi.isNull ||
      exists(arr, p => p >= decLo && p <= decHi)
    // manifest tier: when the column is an identity partition source,
    // a manifest whose summary range holds NO point is never opened
    // (points are bounded by contract — batch/component scale)
    val srcIdent = t.metadata.currentSchema.fields
      .find(f => f.name == column && !f.path.contains('.')).map(_.id)
    val keptManifests = t.manifests(snapshotId).filter(_.content == 0)
      .filter(m => srcIdent.forall(id => sorted.exists(p =>
        graft.meta.ManifestSummaries.mayIntersect(
          t.metadata, m, id, Some(p.toDouble), Some(p.toDouble)))))
    val pruned = keptEntries(t, snapshotId, keptManifests,
      graft.rel.MetaRelations.files(spark, t, snapshotId,
        onlyManifests = Some(keptManifests)).filter(keep))
    prunedRead(spark, t, snapshotId, pruned, col(column).isin(sorted: _*))
  }
}
