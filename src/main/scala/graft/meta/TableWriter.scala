package graft.meta

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.IcebergDecode

/** The write/commit half of the engine: append / overwrite / replace a
  * table's data as a new Iceberg snapshot — new parquet data files, a new
  * Avro manifest (+ carried-forward entries for replace), a new manifest
  * list, a snapshot with the summary totals the read side consumes
  * (`total-data-files` / `total-records` / `total-files-size`,
  * [[graft.ops.Overview.tableFacts]]), and the next `vN.metadata.json`.
  * The reference seeds its demo tables through pyiceberg's write path
  * (ref `demo.py:34-181`, `quickstart/seed.py:41-170`); this is the
  * engine-native equivalent.
  *
  * Scale shape: the data write is ONE parallel Spark job
  * (`partitionBy` on the staged partition-transform values — identity /
  * bucket[N] / truncate[W], see [[Transforms]] — each task streams
  * its partition values); per-file stats are ONE distributed aggregation
  * over the just-written files keyed by `input_file_name()` (the stats
  * pass every Iceberg writer pays); exact per-column byte sizes come from
  * parquet footers read in `mapPartitions` on executors. Driver work is
  * O(#new files) — metadata-scale — never O(rows).
  */
object TableWriter {

  final case class CommitResult(
      snapshotId: Long,
      addedFiles: Int,
      addedRecords: Long,
      metadataVersion: Int)

  /** Append `df` as a new snapshot; existing manifests carry forward.
    * `branch = Some(name)` commits onto that branch ref instead of the
    * main line: the branch head is the parent, the ref moves, and the
    * table's current snapshot is untouched (Iceberg branch-write
    * semantics — an isolated audit/experiment line on shared data).
    *
    * `wapId = Some(id)` STAGES the commit (Iceberg write-audit-publish,
    * the `spark.wap.id` flow): the snapshot is written with a `wap.id`
    * summary prop but NO pointer moves — readers of the table see
    * nothing until an audit passes and
    * [[graft.ops.Maintenance.cherrypick]] publishes it; an abandoned
    * staged snapshot is unreferenced and gets reclaimed by snapshot
    * expiration. */
  def append(spark: SparkSession, tableDir: String, df: DataFrame,
      branch: Option[String] = None,
      extraSummary: Map[String, String] = Map.empty,
      extraProperties: Map[String, String] = Map.empty,
      wapId: Option[String] = None): CommitResult = {
    require(branch.isEmpty || wapId.isEmpty,
      "a staged (write-audit-publish) append cannot also target a branch")
    commit(spark, tableDir, Some(df), "append", keepPredicate = _ => true,
      branch = branch, extraSummary = extraSummary,
      extraProperties = extraProperties, rebaseOnConflict = true,
      wapId = wapId)
  }

  /** Replace the table's live data with `df` (new snapshot; prior
    * snapshots stay readable — time travel). `extraProperties` land in
    * the SAME commit, so data and the metadata that describes it (e.g. a
    * rebuilt ANN quantizer) can never be observed apart.
    * `expectedCurrentSnapshotId` makes the replace CONDITIONAL: when `df`
    * was derived from a pinned snapshot read, passing that snapshot's id
    * turns an interleaved writer (whose rows this overwrite would
    * silently erase) into a [[CommitConflictException]]. */
  def overwrite(spark: SparkSession, tableDir: String, df: DataFrame,
      extraProperties: Map[String, String] = Map.empty,
      expectedCurrentSnapshotId: Option[Long] = None): CommitResult =
    commit(spark, tableDir, Some(df), "overwrite", keepPredicate = _ => false,
      extraProperties = extraProperties,
      expectedCurrentSnapshotId = expectedCurrentSnapshotId)

  /** MERGE-style UPSERT as one row-delta commit: `df`'s rows are
    * appended AND an equality-delete file on `keyCols` is committed in
    * the same snapshot — existing rows with matching keys disappear
    * (merge-on-read), the new rows survive their own delete because
    * sequence scoping exempts same-sequence files. No data rewrite.
    *
    * `expectedCurrentSnapshotId` makes the upsert CONDITIONAL (same
    * contract as [[overwrite]]): when `df` was DERIVED from a pinned
    * snapshot read, an unconditional retry-rebase would let this
    * commit's equality delete erase rows a concurrent writer upserted
    * in between — pass the pinned id and the race surfaces as
    * [[graft.meta.CommitConflictException]] instead. */
  def upsert(spark: SparkSession, tableDir: String, df: DataFrame,
      keyCols: Seq[String],
      expectedCurrentSnapshotId: Option[Long] = None): CommitResult = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    commit(spark, tableDir, Some(df), "overwrite", keepPredicate = _ => true,
      equalityDeleteOn = Some(keyCols), rebaseOnConflict = true,
      expectedCurrentSnapshotId = expectedCurrentSnapshotId)
  }

  /** ROW DELTA — the general form of [[upsert]]: ONE merge-on-read
    * commit that appends `df` AND equality-deletes every key in
    * `deleteKeys` (which may be a superset of, or disjoint from, `df`'s
    * own keys — deletion-only keys disappear without replacement, and
    * an EMPTY `df` makes this a pure keyed delete). The appended rows
    * survive the delete via sequence scoping, exactly like upsert.
    * Same CAS contract as [[upsert]] via `expectedCurrentSnapshotId`. */
  def rowDelta(spark: SparkSession, tableDir: String, df: DataFrame,
      keyCols: Seq[String], deleteKeys: DataFrame,
      expectedCurrentSnapshotId: Option[Long] = None): CommitResult = {
    require(keyCols.nonEmpty, "rowDelta needs at least one key column")
    commit(spark, tableDir, Some(df), "overwrite", keepPredicate = _ => true,
      equalityDeleteOn = Some(keyCols),
      equalityDeleteSource = Some(deleteKeys), rebaseOnConflict = true,
      expectedCurrentSnapshotId = expectedCurrentSnapshotId)
  }

  /** Replace a specific set of live files with `df` (compaction commit):
    * untouched files carry forward as `existing` entries, `removePaths`
    * disappear from the live set, `df`'s files join as `added`.
    * `binExpr` (may reference any schema column) splits output WITHIN a
    * partition value into one file per distinct bin — the oversized-
    * partition escape hatch; None keeps one file per value. */
  def replaceFiles(
      spark: SparkSession,
      tableDir: String,
      removePaths: Set[String],
      df: DataFrame,
      binExpr: Option[org.apache.spark.sql.Column] = None,
      carryDeletes: Boolean = false,
      operation: String = "replace"): CommitResult =
    commit(spark, tableDir, Some(df), operation,
      keepPredicate = e => !removePaths.contains(e.filePath),
      binExpr = binExpr, carryDeletes = carryDeletes)

  /** Row-level DELETE, merge-on-read style: rows of the current snapshot
    * matching `predicate` are recorded in a POSITION-DELETE parquet file
    * (Iceberg v2 `file_path`/`pos` schema) committed under a new `delete`
    * snapshot — no data file is rewritten; readers
    * ([[graft.ops.ScanPlanner.readTable]]) anti-join the positions away.
    * Returns None when nothing matches (no commit is made).
    *
    * Scale shape: one distributed scan evaluating the predicate (with
    * Catalyst pushing it into row groups) emitting only (path, pos)
    * pairs; the delete set is metadata-adjacent in size. Compaction
    * ([[graft.ops.Compact]]) later folds deletes into rewritten files. */
  def deleteWhere(
      spark: SparkSession,
      tableDir: String,
      predicate: org.apache.spark.sql.Column): Option[CommitResult] = {
    val dir = Paths.get(tableDir)
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    require(md.formatVersion == 2, "deleteWhere requires a format-version 2 table")
    val t = new IcebergTable(tableDir, md)
    if (t.files().isEmpty) return None

    // the match set is computed over the MERGE-ON-READ view (existing
    // position/equality deletes applied first): already-deleted rows can
    // never re-match, so deleted-position-records counts only NEW
    // deletions and an all-previously-deleted predicate commits nothing.
    // ONE pass: the match scan streams straight into the staged parquet
    // and the count comes off that file's footer — the old
    // count-then-write shape paid a second full scan (or a cache) for a
    // number the footer already holds.
    val delRows = graft.ops.ScanPlanner.readTableLineage(spark, t)
      .filter(predicate)
      .select(col("__gr_path").as("file_path"), col("__gr_pos").as("pos"))
      .orderBy("file_path", "pos")
      .coalesce(1)

    val snapId = md.snapshots.map(_.snapshotId).maxOption.getOrElse(999L) + 1L
    val tok = java.util.UUID.randomUUID().toString.take(8)
    // stage the position-delete parquet and move it under data/
    val relPath = s"data/delete-$snapId-$tok.parquet"
    val nDeleted = withStage("graft-delete") { stage =>
      FieldIds.attributeExplicit(delRows, Seq(
          "file_path" -> FieldIds.PosDeletePathId, "pos" -> FieldIds.PosDeletePosId))
        .write.mode("overwrite").parquet(stage.toString)
      val stagedOpt = scala.util.Using.resource(Files.list(stage))(
        _.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")))
      val n = stagedOpt.fold(0L)(footerRowCount(spark, _))
      if (n > 0) {
        Files.createDirectories(dir.resolve("data"))
        Files.move(stagedOpt.get, dir.resolve(relPath), StandardCopyOption.REPLACE_EXISTING)
      }
      n
    }
    if (nDeleted == 0) return None

    val delSeq = md.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1L
    val entry = DataFileEntry(
      status = 1, snapshotId = snapId, content = 1,
      filePath = relPath, fileFormat = "PARQUET", partition = Map.empty,
      recordCount = nDeleted, fileSizeInBytes = Files.size(dir.resolve(relPath)),
      columnSizes = Map.empty, valueCounts = Map.empty,
      nullValueCounts = Map.empty, lowerBounds = Map.empty,
      upperBounds = Map.empty, sequenceNumber = delSeq)
    val delManifestPath = s"metadata/manifest-$snapId-$tok-deletes.avro"
    AvroManifests.writeManifest(dir.resolve(delManifestPath).toString, Seq(entry))
    val delManifest = ManifestFile(
      delManifestPath, Files.size(dir.resolve(delManifestPath)),
      partitionSpecId = md.currentSpec.specId, content = 1,
      addedSnapshotId = snapId, addedFilesCount = 1, existingFilesCount = 0,
      deletedFilesCount = 0, addedRowsCount = nDeleted,
      existingRowsCount = 0L, deletedRowsCount = 0L)

    // data manifests carry forward untouched; the delete manifest joins
    val manifests = t.manifests() :+ delManifest
    val listPath = s"metadata/snap-$snapId-$tok.avro"
    AvroManifests.writeManifestList(dir.resolve(listPath).toString, manifests)

    val live = t.files()
    val nowMs = System.currentTimeMillis()
    val priorDeletes = t.deleteFiles()
    val snapshot = Snapshot(
      snapshotId = snapId,
      parentSnapshotId = md.currentSnapshotId,
      timestampMs = nowMs,
      sequenceNumber = delSeq,
      schemaId = Some(md.currentSchemaId),
      operation = "delete",
      summary = Map(
        "operation" -> "delete",
        "deleted-position-records" -> nDeleted.toString,
        "total-data-files" -> live.size.toString,
        "total-records" -> live.map(_.recordCount).sum.toString,
        "total-files-size" -> live.map(_.fileSizeInBytes).sum.toString,
        "total-delete-files" -> (priorDeletes.size + 1).toString),
      manifestList = listPath)
    val newMd = md.copy(
      lastUpdatedMs = nowMs,
      currentSnapshotId = Some(snapId),
      snapshots = md.snapshots :+ snapshot,
      refs = md.refs + ("main" -> SnapshotRef(snapId, "branch")))
    writeAtomic(dir.resolve(s"metadata/v${baseV + 1}.metadata.json"),
      IcebergMeta.render(newMd))
    Some(CommitResult(snapId, 1, nDeleted, baseV + 1))
  }

  // ------------------------------------------------------------- internals

  private def topLevelFields(md: TableMetadata): Seq[SchemaField] = {
    val s = md.currentSchema
    val top = s.fields.filter(f => !f.path.contains('.'))
    // list<primitive> columns flatten an `element` child into the parsed
    // view — that's the ONE nesting the write path accepts (plus binary);
    // struct/map tables (externally written) are refused as before
    s.fields.filterNot(f => !f.path.contains('.')).foreach { f =>
      require(f.name == "element" &&
        top.exists(tf => f.path == s"${tf.path}.element" &&
          tf.fieldType.startsWith("list<")),
        "write path supports flat primitive/binary/list<primitive> schemas " +
          s"only (nested field ${f.path} present)")
    }
    top.foreach { f =>
      require(graft.ops.ScanPlanner.sparkType(f.fieldType).nonEmpty,
        s"write path cannot express column ${f.name}: ${f.fieldType}")
    }
    top
  }

  /** Types whose min/max stats can be encoded as Iceberg bound bytes —
    * binary and list columns get value/null counts and sizes, no bounds
    * (Iceberg allows absent bounds; pruning stays conservative). */
  private def statable(fieldType: String): Boolean =
    !fieldType.startsWith("list<") && fieldType != "binary"

  private def isList(f: SchemaField): Boolean = f.fieldType.startsWith("list<")

  /** Top-level fields for a STATS pass over ALREADY-WRITTEN files — the
    * relaxed twin of [[topLevelFields]]: foreign nested tables (adoption
    * targets) keep their struct/map columns, which simply collect no
    * stats (Iceberg allows absent metrics); the strict writable-surface
    * check stays on the staged write path. */
  private def statFields(md: TableMetadata): Seq[SchemaField] =
    md.currentSchema.fields.filter(f => !f.path.contains('.'))

  /** The field id a column's STATS key by: the Iceberg spec keys
    * value/null counts and column sizes by the LEAF field, so a
    * `list<primitive>` column's metrics live under its ELEMENT field id
    * — an external Iceberg reader never looks them up under the list
    * wrapper's id. Primitive / binary columns are their own leaf. */
  private def statIds(md: TableMetadata, top: Seq[SchemaField]): Map[Int, Int] = {
    val all = md.currentSchema.fields
    top.map { f =>
      f.id -> (if (!isList(f)) f.id
        else all.find(_.path == s"${f.path}.element").map(_.id).getOrElse(f.id))
    }.toMap
  }

  /** Plain decimal spellings (plus the IEEE specials the engine's own
    * writes can stamp — NaN / ±Infinity): Java's Float/Double parsing
    * also accepts type suffixes ("1.5f") and hex floats; those are
    * almost certainly path junk, and a loud refusal beats silently
    * reinterpreting them. */
  private val DecimalRe = """[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?""".r
  private val FloatSpecials = Set("NaN", "Infinity", "-Infinity", "+Infinity")

  /** Lenient DIGIT COUNTS (hive writes `2024-1-5` style paths; Spark's
    * cast parses them) but STRICT calendar resolution — `Date.valueOf`
    * would silently normalize 2024-02-30 into 2024-03-01, inventing a
    * date that never appeared in the source path. */
  private val StrictDate = java.time.format.DateTimeFormatter
    .ofPattern("u-M-d")
    .withResolverStyle(java.time.format.ResolverStyle.STRICT)

  /** Types whose hive path values the engine can parse, canonicalize
    * and bound-encode. */
  private[graft] def canonicalizableType(iceType: String): Boolean = iceType match {
    case "long" | "int" | "double" | "float" | "string" | "boolean" |
         "date" | "timestamp" => true
    case _ => false
  }

  /** A hive path-partition value as the JVM value [[boundBytes]]
    * encodes — None for the null sentinel. Throws on an unparseable
    * value; the adoption gates ([[graft.api.Engine.adoptFiles]]) refuse
    * those before any commit, so the callers here never see one. */
  private[graft] def typedPartitionValue(iceType: String, raw: String): Option[Any] =
    if (raw == Transforms.NullPartitionValue) None
    else Some(iceType match {
      case "long" => raw.toLong
      case "int" => raw.toInt
      case "double" =>
        if (!DecimalRe.matches(raw) && !FloatSpecials.contains(raw))
          throw new IllegalArgumentException(s"'$raw' is not a plain decimal")
        raw.toDouble
      case "float" =>
        if (!DecimalRe.matches(raw) && !FloatSpecials.contains(raw))
          throw new IllegalArgumentException(s"'$raw' is not a plain decimal")
        raw.toFloat
      case "string" => raw
      case "boolean" =>
        if (raw == "true" || raw == "false") raw == "true"
        else throw new IllegalArgumentException(s"'$raw' is not a boolean")
      case "date" => Date.valueOf(java.time.LocalDate.parse(raw, StrictDate))
      case "timestamp" =>
        val ts = Timestamp.valueOf(raw.replace('T', ' '))
        // Iceberg timestamps are MICROS, and the scan fill's cast
        // truncates there — a sub-microsecond path value must not store
        // a "canonical" spelling the read path cannot reproduce
        ts.setNanos(ts.getNanos / 1000 * 1000)
        ts
      case other => throw new IllegalArgumentException(
        s"path partition values are unsupported for $other columns")
    })

  /** The CANONICAL string rendering of a hive path-partition value — the
    * exact form the engine's own staged writes stamp into partition maps
    * (`cast(value as string)` of the staging column), so a value that
    * arrives as "0123" under an int column stores as "123" and
    * partition-equals pruning, compaction's per-value grouping and the
    * partition analytics all key ONE logical partition one way.
    * Timestamps render Spark-cast style (no trailing fractional
    * zeros). */
  private[graft] def canonicalPartitionValue(iceType: String, raw: String): String =
    typedPartitionValue(iceType, raw) match {
      case None => Transforms.NullPartitionValue
      case Some(ts: Timestamp) =>
        // java.sql.Timestamp.toString always carries a fraction (".0");
        // Spark's cast-to-string drops trailing fractional zeros
        ts.toString.replaceAll("\\.?0+$", "")
      case Some(v) => v.toString
    }

  /** Per-file stat aggregation columns: `vc_` = non-null count for
    * primitive/binary columns; for list columns the ELEMENT totals —
    * `vc_` = total element count (null elements included, the spec's
    * value_count for the element leaf) and `nc_` = null element count —
    * plus min/max for bound-encodable types. A NULL top-level array and
    * an EMPTY array each count as ONE null value at the element leaf
    * (both counts): that is what parquet-footer-derived Iceberg metrics
    * record (the leaf chunk carries one below-max-def-level entry for a
    * null or empty list), so external readers see the same numbers
    * either way. */
  private def statAggsFor(fields: Seq[SchemaField]): Seq[org.apache.spark.sql.Column] =
    fields.flatMap { f =>
      def nullArrays = count_if(coalesce(size(col(f.name)), lit(0)) === 0)
      val vc =
        if (isList(f))
          (sum(coalesce(size(col(f.name)), lit(0))) + nullArrays)
            .cast("long").as(s"vc_${f.id}")
        else count(col(f.name)).as(s"vc_${f.id}")
      val nc =
        if (isList(f)) Seq(
          (sum(coalesce(size(filter(col(f.name), _.isNull)), lit(0))) + nullArrays)
            .cast("long").as(s"nc_${f.id}"))
        else Seq.empty
      val bounds =
        if (statable(f.fieldType)) Seq(
          min(col(f.name)).as(s"lo_${f.id}"),
          max(col(f.name)).as(s"hi_${f.id}"))
        else Seq.empty
      (vc +: nc) ++ bounds
    }

  /** (value_counts, null_value_counts) with a mixed source: footer-resolved fields read
    * their counts from `fstats`, agg-fallback fields (`aggSet`) from the
    * row — the two sources record the same numbers by construction (the
    * agg formulas were designed to mirror footer-derived metrics; the
    * equivalence spec pins it). */
  private def countStatsMixed(
      fields: Seq[SchemaField], sid: Map[Int, Int],
      // null is legal when `aggSet` is empty (the job-less commit shape):
      // the row is only consulted for agg-fallback fields
      row: org.apache.spark.sql.Row, nrows: Long,
      fstats: Map[Int, FieldStat],
      aggSet: Set[Int]): (Map[Int, Long], Map[Int, Long]) = (
    fields.map(f => sid(f.id) ->
      (if (!isList(f)) nrows
       else if (aggSet(f.id)) row.getAs[Long](s"vc_${f.id}")
       else fstats(f.id).vc)).toMap,
    fields.map(f => sid(f.id) ->
      (if (aggSet(f.id)) {
        if (isList(f)) row.getAs[Long](s"nc_${f.id}")
        else nrows - row.getAs[Long](s"vc_${f.id}")
      } else fstats(f.id).nc)).toMap)

  /** column_sizes keyed by the leaf stat id; list columns' bytes live in
    * parquet footers under the `name.list.element` path. */
  private def sizeStats(
      fields: Seq[SchemaField], sid: Map[Int, Int],
      sizes: Map[String, Long]): Map[Int, Long] =
    fields.flatMap(f =>
      sizes.get(f.name)
        .orElse(if (isList(f)) sizes.get(s"${f.name}.list.element") else None)
        .map(sid(f.id) -> _)).toMap

  /** Iceberg's `write.metadata.metrics.default = truncate(16)` discipline
    * for STRING bounds: a long-text column (documents at corpus scale)
    * must not copy full min/max text into EVERY manifest entry — at
    * 100 TB that turns the metadata layer into a second copy of the
    * corpus' edge values. 16 code points is the Iceberg default. */
  private[graft] val StringBoundTruncateAt = 16

  /** Lower bound: the 16-code-point prefix. A prefix is <= the value in
    * both code-point and UTF-8 byte order, so pruning stays sound. */
  private[graft] def truncateLower(s: String): String =
    if (s.codePointCount(0, s.length) <= StringBoundTruncateAt) s
    else s.substring(0, s.offsetByCodePoints(0, StringBoundTruncateAt))

  /** Upper bound: the 16-code-point prefix with its last incrementable
    * char bumped — strictly greater than every string sharing the
    * prefix, in both code-unit and UTF-8 byte order (increments never
    * land in the surrogate range). When no char in the prefix can be
    * bumped the FULL value is kept: a bigger bound, never an absent or
    * unsound one. */
  private[graft] def truncateUpper(s: String): String =
    if (s.codePointCount(0, s.length) <= StringBoundTruncateAt) s
    else {
      val pre = s.substring(0, s.offsetByCodePoints(0, StringBoundTruncateAt))
      val chars = pre.toCharArray
      def bumpable(c: Char) = !Character.isSurrogate(c) &&
        c != Character.MAX_VALUE && !Character.isSurrogate((c + 1).toChar)
      var i = chars.length - 1
      while (i >= 0 && !bumpable(chars(i))) i -= 1
      if (i < 0) s
      else new String(chars.take(i) :+ (chars(i) + 1).toChar)
    }

  /** [[boundBytes]] with the string-truncation discipline applied per
    * bound side — every stats-pass encode site routes through these. */
  private def loBoundBytes(iceType: String, v: Any): Array[Byte] = v match {
    case s: String if iceType == "string" => boundBytes(iceType, truncateLower(s))
    case _ => boundBytes(iceType, v)
  }
  private def hiBoundBytes(iceType: String, v: Any): Array[Byte] = v match {
    case s: String if iceType == "string" => boundBytes(iceType, truncateUpper(s))
    case _ => boundBytes(iceType, v)
  }

  private def boundBytes(iceType: String, v: Any): Array[Byte] = iceType match {
    case "date" => IcebergDecode.encode("date",
      v.asInstanceOf[Date].toLocalDate.toEpochDay.toInt)
    case "timestamp" =>
      // full micros: getTime alone floors to millis, silently widening
      // (lower) / narrowing (upper) every timestamp bound by up to 999µs
      val ts = v.asInstanceOf[Timestamp]
      IcebergDecode.encode("timestamp",
        ts.getTime * 1000L + (ts.getNanos / 1000) % 1000)
    case other => IcebergDecode.encode(other, v)
  }

  /** Bound bytes for a SYNTHESIZED hive path-partition value — `None`
    * for the null sentinel. Timestamps parse with the SESSION time zone
    * and keep full micros, because the scan fill reconstructs the
    * column by casting the canonical string with that zone
    * ([[graft.ops.ScanPlanner.fillPathPartitionsEntries]]): routing
    * through [[typedPartitionValue]]'s `Timestamp.valueOf` would pin
    * the wall clock to the JVM-DEFAULT zone instead, and whenever the
    * two zones differ the encoded bounds disagree with the values rows
    * actually read as — bounds pruning then silently drops files
    * holding matching rows. */
  private[graft] def pathBoundBytes(
      spark: SparkSession, iceType: String, raw: String): Option[Array[Byte]] =
    if (raw == Transforms.NullPartitionValue) None
    else if (iceType == "timestamp") {
      val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
      val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .stringToTimestamp(
          org.apache.spark.unsafe.types.UTF8String.fromString(raw), zone)
        .getOrElse(throw new IllegalArgumentException(
          s"'$raw' is not a timestamp"))
      Some(IcebergDecode.encode("timestamp", micros))
    } else typedPartitionValue(iceType, raw).map(v => boundBytes(iceType, v))

  /** `input_file_name()` URI → plain local path (keys must match the
    * footer reader's and the mover's view of the same file). */
  private def plainPath(uri: String): String = {
    val noScheme = if (uri.startsWith("file:")) uri.stripPrefix("file:") else uri
    java.net.URLDecoder.decode(noScheme, "UTF-8")
  }

  /** Commit-stats source: `footer` (default) derives manifest-entry
    * metrics — bounds, value/null counts, row counts — from the parquet
    * footers the commit already opens for column sizes, the same
    * footer-metrics derivation Iceberg's own writers and `add_files`
    * use, so committing N bytes never re-reads those N bytes. Columns a
    * footer cannot serve EXACTLY (NaN-suppressed float/double stats,
    * >4 KB binary edges dropping the chunk's stats, INT96 / unsigned /
    * NANOS-or-NTZ timestamp encodings, legacy-rebase Spark files,
    * legacy 2-level list encodings) fall back PER COLUMN to the
    * distributed aggregation — a column-pruned read of just those
    * columns — never to a wrong bound. `agg` forces the legacy full
    * aggregation for every column: the escape hatch and the
    * equivalence-spec lever. */
  private[graft] val StatsSourceKey = "spark.graft.commitStats.source"
  private def statsSource(spark: SparkSession): String = {
    val v = spark.conf.get(StatsSourceKey, "footer")
    require(v == "footer" || v == "agg",
      s"$StatsSourceKey must be 'footer' or 'agg' (got '$v')")
    v
  }

  /** Full footer facts (sizes + record count + decoded statistics) for
    * one file — the commit-side twin of the adoption gate's executor
    * pass, via the same [[graft.api.FooterFacts.infoOf]] fold. */
  private def footerInfoOf(p: String,
      conf: org.apache.hadoop.conf.Configuration): graft.api.FooterFacts.FooterInfo = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(p), conf)
    // explicit options: argless open() builds a fresh Configuration
    // (XML parse, ~7 ms) per footer — see graft.api.FooterFacts.read
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      org.apache.parquet.HadoopReadOptions.builder(conf, in.getPath).build())
    try graft.api.FooterFacts.infoOf(r.getFooter)
    finally r.close()
  }

  private[graft] val DriverFooterBatchMax = 128

  /** Exact row count off one file's footer — commits that just wrote a
    * single staged file (position/equality deletes) read their record
    * count here instead of paying a Spark job. */
  private def footerRowCount(spark: SparkSession, p: java.nio.file.Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(p.toString), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      org.apache.parquet.HadoopReadOptions.builder(conf, in.getPath).build())
    try r.getRecordCount finally r.close()
  }

  /** Runs `body` on a fresh temp directory named `prefix…`, then deletes
    * the whole tree whether `body` returns or throws: what a staging write
    * leaves once its parquet moved into the table (`_SUCCESS`, `.crc`
    * sidecars, emptied partition directories) or a failed write's
    * `_temporary`. The delete is best effort: it never hides `body`'s own
    * failure. */
  private def withStage[A](prefix: String)(body: Path => A): A = {
    val stage = Files.createTempDirectory(prefix)
    try body(stage)
    finally scala.util.Try(graft.api.Engine.deleteRecursively(stage))
  }

  /** Footer facts for a batch of files. Small batches (the per-commit
    * norm: staged file count ≈ shuffle partitions) read DRIVER-SIDE
    * bounded-parallel — a Spark job's fixed scheduling cost is ~10× the
    * footer reads themselves; large batches (compaction sweeps,
    * million-file adoptions without pre-read footers) keep the
    * executor-parallel pass. */
  private def footerInfos(spark: SparkSession,
      paths: Seq[String]): Map[String, graft.api.FooterFacts.FooterInfo] = {
    if (paths.isEmpty) return Map.empty
    if (paths.size <= DriverFooterBatchMax) {
      val out = new Array[(String, graft.api.FooterFacts.FooterInfo)](paths.size)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      // the session's conf, read-only from every worker: a fresh
      // Configuration's lazy XML-resource parse is the very cost this
      // path exists to dodge
      val conf = spark.sparkContext.hadoopConfiguration
      java.util.stream.IntStream.range(0, paths.size).parallel().forEach { i =>
        if (failure.get() == null) try {
          out(i) = paths(i) -> footerInfoOf(paths(i), conf)
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      }
      if (failure.get() != null) throw failure.get()
      return out.toMap
    }
    // scale-adaptive task count (shared sizing with the adoption gate)
    val nParts = graft.api.FooterFacts.footerTaskCount(
      paths.size, spark.sparkContext.defaultParallelism)
    val rdd = spark.sparkContext
      .parallelize(paths, nParts)
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        it.map(p => p -> footerInfoOf(p, conf))
      }
    rdd.collect().toMap
  }

  /** [[loBoundBytes]]/[[hiBoundBytes]] twin for FOOTER-decoded values
    * (file-width JVM values): widens promoted types (int32 under `long`,
    * float under `double`) and takes date / timestamp as epoch days /
    * micros directly. Throws on any value/type mismatch — the resolver
    * catches and falls back to the agg for that column. */
  private def footerBoundBytes(
      iceType: String, v: Any, upper: Boolean): Array[Byte] = iceType match {
    case "string" =>
      val s = v.asInstanceOf[String]
      IcebergDecode.encode("string", if (upper) truncateUpper(s) else truncateLower(s))
    case "date" =>
      IcebergDecode.encode("date", v.asInstanceOf[java.lang.Integer].intValue)
    case "timestamp" | "timestamptz" =>
      IcebergDecode.encode(iceType, v.asInstanceOf[java.lang.Long].longValue)
    case "int" =>
      IcebergDecode.encode("int", v.asInstanceOf[java.lang.Integer].intValue)
    case "long" => IcebergDecode.encode("long", (v: @unchecked) match {
      case i: java.lang.Integer => i.longValue // pre-widen int32 file
      case l: java.lang.Long => l.longValue
    })
    case "float" =>
      IcebergDecode.encode("float", v.asInstanceOf[java.lang.Float].floatValue)
    case "double" => IcebergDecode.encode("double", (v: @unchecked) match {
      case f: java.lang.Float => f.doubleValue // pre-widen float file
      case d: java.lang.Double => d.doubleValue
    })
    case "boolean" =>
      IcebergDecode.encode("boolean", v.asInstanceOf[java.lang.Boolean].booleanValue)
    case other => throw new IllegalArgumentException(
      s"footer bounds unsupported for $other")
  }

  /** One file's per-field manifest metrics resolved from its footer. */
  private final case class FieldStat(
      vc: Long, nc: Long, lo: Option[Array[Byte]], hi: Option[Array[Byte]])

  /** Resolve `statFs` against one file's footer facts: exact metrics for
    * every field the footer can serve, plus the fields that must go to
    * the per-column agg fallback. Resolution is conservative — any shape
    * the footer path has not proven exact (missing null counts, dropped
    * or undecodable bounds, legacy list encodings, repeated top-level
    * chunks, value/type mismatches) falls back rather than guessing. */
  private def footerFieldStats(
      statFs: Seq[SchemaField],
      info: graft.api.FooterFacts.FooterInfo):
      (Map[Int, FieldStat], Seq[SchemaField]) = {
    val out = Map.newBuilder[Int, FieldStat]
    val fallback = Seq.newBuilder[SchemaField]
    statFs.foreach { f =>
      val key = if (isList(f)) s"${f.name}.list.element" else f.name
      info.colStats.get(key) match {
        case None =>
          // no chunk at the conventional path: either the column is
          // absent from the file (a pre-widen drop — declared-schema
          // reads serve it all-null) or it hides under a legacy
          // encoding (2-level lists, a group) only the agg understands
          if (info.colStats.keys.exists(k =>
              k == f.name || k.startsWith(f.name + ".")))
            fallback += f
          else out += f.id -> FieldStat(info.rowCount, info.rowCount, None, None)
        case Some(cs) =>
          // a non-list top-level chunk must carry exactly one entry per
          // row — anything else is an encoding this path doesn't model
          if (!isList(f) && cs.valueCount != info.rowCount) fallback += f
          else cs.nullCount match {
            case None => fallback += f
            case Some(nc) =>
              val vc = if (isList(f)) cs.valueCount else info.rowCount
              if (!statable(f.fieldType)) out += f.id -> FieldStat(vc, nc, None, None)
              else if (!cs.boundsKnown) fallback += f
              else try out += f.id -> FieldStat(vc, nc,
                cs.lo.map(v => footerBoundBytes(f.fieldType, v, upper = false)),
                cs.hi.map(v => footerBoundBytes(f.fieldType, v, upper = true)))
              catch {
                case _: ClassCastException | _: IllegalArgumentException |
                     _: MatchError => fallback += f
              }
          }
      }
    }
    (out.result(), fallback.result())
  }

  private def commit(
      spark: SparkSession,
      tableDir: String,
      data: Option[DataFrame],
      operation: String,
      keepPredicate: DataFileEntry => Boolean,
      binExpr: Option[org.apache.spark.sql.Column] = None,
      branch: Option[String] = None,
      equalityDeleteOn: Option[Seq[String]] = None,
      // delete-key frame when it DIFFERS from `data` (rowDelta's
      // deletion-only keys); None = upsert semantics (df's own keys)
      equalityDeleteSource: Option[DataFrame] = None,
      carryDeletes: Boolean = false,
      extraSummary: Map[String, String] = Map.empty,
      extraProperties: Map[String, String] = Map.empty,
      rebaseOnConflict: Boolean = false,
      wapId: Option[String] = None,
      expectedCurrentSnapshotId: Option[Long] = None): CommitResult = {

    // the id guarantee depends on attributed write schemas landing
    // footer ids — pin the conf here (not only in graft.Sessions) so
    // user-built sessions write id-stamped files too
    FieldIds.ensureWriteEnabled(spark)
    val dir = Paths.get(tableDir)
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    require(md.formatVersion == 2,
      s"write path supports format-version 2 tables (got v${md.formatVersion})")
    // CAS precondition for commits whose DATA was derived from an earlier
    // pinned load (e.g. an ANN rebuild trained on a snapshot read): if the
    // table advanced in between, replaying this commit would silently
    // erase the interleaved writes — surface the conflict instead. Checked
    // against the commit's OWN load here and re-checked on every retry
    // reload below, so no retry can paper over it.
    def checkExpected(cur: Option[Long]): Unit =
      expectedCurrentSnapshotId.foreach { exp =>
        if (!cur.contains(exp))
          throw new CommitConflictException(
            s"table advanced past the caller's pinned snapshot $exp " +
              s"(current: ${cur.getOrElse("none")}) — recompute from the " +
              "current snapshot and retry")
      }
    checkExpected(md.currentSnapshotId)
    // per-ATTEMPT unique token in every artifact name: two concurrent
    // writers compute the same next snapId, and snapId-only names would
    // let the CAS loser clobber the winner's already-published data and
    // manifest files (REPLACE_EXISTING move) before its publish fails
    val tok = java.util.UUID.randomUUID().toString.take(8)

    val fields = topLevelFields(md)
    val sid = statIds(md, fields)
    val spec = md.currentSpec
    require(spec.fields.forall(sf => Transforms.isSupported(sf.transform)),
      s"write path supports identity/bucket[N]/truncate[W] partitioning only " +
        s"(spec: ${spec.fields.map(_.transform).mkString(",")})")
    // (partition-field name, source schema field, transform) per spec dim
    val partDims: Seq[(String, SchemaField, String)] = spec.fields.map { sf =>
      val src = fields.find(_.id == sf.sourceId).getOrElse(throw new IllegalStateException(
        s"partition source field ${sf.sourceId} not in current schema"))
      (sf.name, src, sf.transform)
    }

    val snapId = md.snapshots.map(_.snapshotId).maxOption.getOrElse(999L) + 1L

    // ---- 1. stage the data: one parallel partitionBy write; partition
    // sources are DUPLICATED into `__p_*` staging columns so the data
    // files retain the original column (Iceberg keeps identity sources in
    // the file) while the directory layout tells us each file's partition
    val newEntries: Seq[DataFileEntry] = data match {
      // no up-front emptiness probe: isEmpty would evaluate the input
      // plan once (limit 1) before the staging write evaluates it again
      // — a full extra pass over upsert/delta inputs. Emptiness is
      // decided from the staged output instead (no files → no entries).
      case Some(df0) =>
        val names = fields.map(_.name)
        require(df0.columns.toSet == names.toSet,
          s"dataframe columns ${df0.columns.sorted.mkString(",")} must match " +
            s"table schema ${names.sorted.mkString(",")}")
        // field-id-attributed write: the parquet footers carry each
        // column's Iceberg field id, so id-stamped tables read
        // rename-safely by id ([[FieldIds]]; write conf is default-on)
        val ordered = FieldIds.attributeColumns(df0.select(names.map(col): _*), fields)
        withStage("graft-commit") { stage =>
          // the optional bin is a STAGING partition column: partitionBy
          // splits by directory value inside each task, so bins become
          // separate files deterministically (task-boundary splitting would
          // be undone by partitionBy's per-value file merge + AQE coalescing)
          val staged0 = binExpr.foldLeft(
            partDims.foldLeft(ordered) { case (d, (pname, src, transform)) =>
              d.withColumn(s"__p_$pname",
                Transforms.column(transform, col(src.name), src.fieldType))
            })(
            (d, e) => d.withColumn("__bin", e))
          val stagingParts = partDims.map { case (pname, _, _) => s"__p_$pname" } ++
            (if (binExpr.isDefined) Seq("__bin") else Nil)
          // hash-distribute by the staging partition dims before the write —
          // the Iceberg default (write.distribution-mode=hash): each
          // (value, bin) lands in one task; one shuffle either way.
          // declared write sort order (Iceberg sort-orders): sort INSIDE
          // each task — no extra shuffle — so every file holds a sorted run
          // and its min/max bounds on the sort keys are tight (range
          // predicates then prune files instead of scanning them)
          val sortCols: Seq[org.apache.spark.sql.Column] =
            md.defaultSortOrder.toSeq.flatMap(_.fields).flatMap { sf =>
              fields.find(_.id == sf.sourceId).map { f =>
                val c = col(f.name)
                (sf.direction, sf.nullOrder) match {
                  case ("desc", "nulls-first") => c.desc_nulls_first
                  case ("desc", _) => c.desc_nulls_last
                  case (_, "nulls-last") => c.asc_nulls_last
                  case _ => c.asc_nulls_first
                }
              }
            }
          // `write.distribution-mode` table property (Iceberg): `hash`
          // (default) clusters each partition value into one task; `range`
          // range-partitions on (partition dims ++ sort keys) so files
          // carry NON-OVERLAPPING sort-key ranges table-wide (the best
          // pruning layout); `none` keeps the incoming distribution (no
          // shuffle — for pre-distributed pipelines).
          val distMode = md.properties.getOrElse("write.distribution-mode", "hash")
          val rangeCols = stagingParts.map(col) ++ sortCols
          val staged1 = distMode match {
            case "none" => staged0
            case "range" if rangeCols.nonEmpty =>
              staged0.repartitionByRange(rangeCols: _*)
            case _ =>
              if (stagingParts.isEmpty) staged0
              else staged0.repartition(stagingParts.map(col): _*)
          }
          val staged2 =
            if (sortCols.isEmpty) staged1
            else staged1.sortWithinPartitions(
              stagingParts.map(col) ++ sortCols: _*)
          if (stagingParts.isEmpty) staged2.write.mode("overwrite").parquet(stage.toString)
          else staged2.write.mode("overwrite")
            .partitionBy(stagingParts: _*).parquet(stage.toString)

          // an EMPTY input staged no parquet files (only _SUCCESS): same
          // no-new-entries commit the old isEmpty probe produced, decided
          // from a driver walk instead of an extra evaluation of the plan
          val anyStaged = {
            val walk = Files.walk(stage)
            try walk.iterator().asScala.exists(p =>
              p.getFileName.toString.endsWith(".parquet"))
            finally walk.close()
          }
          if (!anyStaged) Seq.empty
          else {
          // ---- 2. per-file stats, FOOTER-FIRST (never re-read what was
          // just written): the footers — opened for column sizes anyway —
          // carry bounds, null counts and row counts; the one grouped
          // count below reads ZERO columns (served from row-group
          // metadata) and exists to key files to their partition values
          // through Spark's own directory read-back. Columns a footer
          // cannot serve exactly ride the same job as a column-pruned agg.
          val source = statsSource(spark)
          val stagedPaths: Seq[String] = {
            val walk = Files.walk(stage)
            try walk.iterator().asScala.map(_.toString)
              .filter(_.endsWith(".parquet")).toSeq.sorted
            finally walk.close()
          }
          val infos = footerInfos(spark, stagedPaths)
          val resolved: Map[String, (Map[Int, FieldStat], Seq[SchemaField])] =
            if (source == "agg")
              stagedPaths.map(p => p -> (Map.empty[Int, FieldStat], fields)).toMap
            else stagedPaths.map(p => p -> footerFieldStats(fields, infos(p))).toMap
          val aggFs: Seq[SchemaField] = fields.filter(f =>
            resolved.values.exists(_._2.exists(_.id == f.id)))
          val aggSet = aggFs.map(_.id).toSet
          // Commits with full footer coverage need no Spark job at all:
          // the file set comes from the walk, row counts from the footers,
          // and PARTITION VALUES — previously the last reason a clean
          // partitioned commit paid a (zero-column) read-back job — come
          // from Spark's own partition-inference code run DRIVER-SIDE over
          // the staged leaf dirs (GraftPartitionParse.parsePartitionDirs:
          // the same parsePartitions entry point and session confs the
          // read-back used, so `__p_x=0123` still canonicalizes to `123`).
          // Only a commit with footer-unservable columns keeps the one
          // column-pruned agg job, which carries the partition read-back
          // with it as before. (A __bin staging dim never lands in the
          // partition map on either path.)
          val partValsByDir: Map[String, Map[String, Option[String]]] =
            if (partDims.isEmpty || aggFs.nonEmpty) Map.empty
            else org.apache.spark.sql.execution.datasources.GraftPartitionParse
              .parsePartitionDirs(spark, stage.toString,
              stagedPaths.map(p =>
                new org.apache.hadoop.fs.Path(p).getParent.toString).distinct)
          def partValsOf(walkKey: String): Map[String, Option[String]] = {
            val dir = new org.apache.hadoop.fs.Path(walkKey).getParent.toString
            partValsByDir.getOrElse(dir, throw new IllegalStateException(
              s"staged dir $dir missing from the driver-side partition parse"))
          }
          val perFile: Seq[(String, Option[org.apache.spark.sql.Row])] =
            if (aggFs.isEmpty)
              // mirror the agg-keyed shape: a zero-row staged file (never
              // produced by current Spark writers, but cheap to guard)
              // yields no agg group and thus no entry
              stagedPaths.filter(p => infos(p).rowCount > 0L).map(p => p -> None)
            else {
              val staged = spark.read.option("basePath", stage.toString)
                .parquet(stage.toString)
              val partKeys = partDims.map { case (pname, _, _) =>
                col(s"__p_$pname").cast("string").as(s"__p_$pname") }
              staged
                .groupBy(input_file_name().as("__file") +: partKeys: _*)
                .agg(count(lit(1)).as("nrows"), statAggsFor(aggFs): _*)
                .collect()
                .toSeq.sortBy(_.getAs[String]("__file")).map { row =>
                  // `input_file_name()` URIs decode to `///abs/path`;
                  // collapse leading slashes to the walked key form
                  val p = plainPath(row.getAs[String]("__file"))
                  ("/" + p.dropWhile(_ == '/'), Some(row))
                }
            }

          Files.createDirectories(dir.resolve("data"))
          perFile.zipWithIndex.map { case ((walkKey, rowOpt), i) =>
            val relPath = f"data/data-$snapId-$tok-$i%05d.parquet"
            Files.move(Paths.get(walkKey), dir.resolve(relPath),
              StandardCopyOption.REPLACE_EXISTING)
            val info = infos.getOrElse(walkKey, throw new IllegalStateException(
              s"staged file $walkKey missing from the footer pass"))
            val nrows = rowOpt.map(_.getAs[Long]("nrows")).getOrElse(info.rowCount)
            val fstats = resolved(walkKey)._1
            def aggRow = rowOpt.getOrElse(throw new IllegalStateException(
              s"$walkKey missing from the fallback stats agg"))
            val lower = fields.filter(f => statable(f.fieldType)).flatMap { f =>
              if (aggSet(f.id))
                Option(aggRow.getAs[Any](s"lo_${f.id}")).map(v => f.id -> loBoundBytes(f.fieldType, v))
              else fstats.get(f.id).flatMap(_.lo).map(f.id -> _)
            }.toMap
            val upper = fields.filter(f => statable(f.fieldType)).flatMap { f =>
              if (aggSet(f.id))
                Option(aggRow.getAs[Any](s"hi_${f.id}")).map(v => f.id -> hiBoundBytes(f.fieldType, v))
              else fstats.get(f.id).flatMap(_.hi).map(f.id -> _)
            }.toMap
            val (vCounts, nvCounts) =
              countStatsMixed(fields, sid, rowOpt.orNull, nrows, fstats, aggSet)
            DataFileEntry(
              status = 1, snapshotId = snapId, content = 0,
              filePath = relPath, fileFormat = "PARQUET",
              // Spark reads a __HIVE_DEFAULT_PARTITION__ staging dir back
              // as null — restore the sentinel (manifest strings are
              // non-nullable). Footer-complete commits take the values from
              // the driver-side parse of the file's own directory instead
              // of an agg row (no job ran).
              partition = partDims.map { case (pname, _, _) =>
                val v = rowOpt match {
                  case Some(row) => Option(row.getAs[String](s"__p_$pname"))
                  case None => partValsOf(walkKey)(s"__p_$pname")
                }
                pname -> v.getOrElse(Transforms.NullPartitionValue) }.toMap,
              recordCount = nrows,
              fileSizeInBytes = Files.size(dir.resolve(relPath)),
              columnSizes = sizeStats(fields, sid, info.columnBytes),
              valueCounts = vCounts,
              nullValueCounts = nvCounts,
              lowerBounds = lower, upperBounds = upper)
          }
          }
        }
      case _ => Seq.empty
    }

    def attempt(n: Int): CommitResult = {
      val (curMd, curBaseV, curSnapId) =
        if (n == 0) (md, baseV, snapId)
        else {
          val (m, v) = IcebergMeta.loadVersioned(tableDir)
          require(m.currentSchemaId == md.currentSchemaId &&
            m.defaultSpecId == md.defaultSpecId,
            "concurrent schema/spec evolution during commit — retry aborted")
          (m, v, m.snapshots.map(_.snapshotId).maxOption.getOrElse(999L) + 1L)
        }
      publishSnapshot(spark, dir, tableDir, curMd, curBaseV, fields,
        spec.specId, curSnapId,
        if (n == 0) newEntries else newEntries.map(_.copy(snapshotId = curSnapId)),
        operation, keepPredicate, branch,
        equalityDeleteOn.map(keys =>
          (equalityDeleteSource.getOrElse(data.get), keys)), carryDeletes,
        extraSummary, extraProperties, wapId,
        equalityFromData = equalityDeleteSource.isEmpty)
    }
    // append/upsert keep every pre-existing file, so replaying the SAME
    // logical commit on the winner's metadata is exactly the serial
    // execution. Rewrites (replace/overwrite of named files) validated
    // against a stale parent, and commits pinned to the snapshot their
    // data was derived from, must surface the conflict instead.
    if (rebaseOnConflict && expectedCurrentSnapshotId.isEmpty) retryOnConflict(attempt)
    else attempt(0)
  }

  /** The engine's one conflict policy: run `body(attempt)` and, when it
    * throws [[CommitConflictException]], run it again — the WHOLE body
    * (reload, re-derive, re-commit), never just the publish — up to 8
    * attempts with a 10 ms × attempt backoff. `attempt` counts from 0,
    * so a body can revalidate on `attempt > 0`. */
  def retryOnConflict[A](body: Int => A): A = {
    var n = 0
    while (true) {
      try return body(n)
      catch {
        case _: CommitConflictException if n < 7 =>
          n += 1
          Thread.sleep(10L * n)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit a set of ALREADY-WRITTEN final data files (relative path +
    * partition map) as a new snapshot — the commit half of the DSv2
    * executor-side write path ([[org.apache.spark.sql.GraftCowWriteBridge]]):
    * per-file stats come from the files' FOOTERS (one metadata pass, or
    * the caller's already-collected gate pass — never a read of the data
    * itself), with a per-column distributed-agg fallback, exactly like
    * the staged write path. `removePaths` are replaced (group-based
    * copy-on-write); the rest carries forward. */
  def commitFiles(
      spark: SparkSession,
      tableDir: String,
      files: Seq[(String, Map[String, String])],
      removePaths: Set[String],
      operation: String,
      extraSummary: Map[String, String] = Map.empty,
      expectedCurrentSnapshotId: Option[Long] = None,
      expectNoCurrentSnapshot: Boolean = false,
      expectedMetadataVersion: Option[Int] = None,
      extraProperties: Map[String, String] = Map.empty,
      // columns NOT present in the data files (hive-layout adoption:
      // identity-partition sources whose values live in the paths) —
      // their stats are synthesized exactly from the per-file partition
      // maps instead of aggregated from rows
      absentColumns: Set[String] = Set.empty,
      // per-file FOOTER FACTS (sizes + record count + decoded stats),
      // keyed by the file's RELATIVE path, when the caller already read
      // the footers (adoption's gate pass) — skips this commit's own
      // footer pass entirely
      knownFooters: Map[String, graft.api.FooterFacts.FooterInfo] = Map.empty): CommitResult = {
    val dir = Paths.get(tableDir)
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    require(md.formatVersion == 2,
      s"write path supports format-version 2 tables (got v${md.formatVersion})")
    // CAS pins for callers whose ADMISSION GATES ran against a specific
    // table state (adoptFiles: partition-spec / schema / footer-id
    // checks): a commit racing in between surfaces as a loud conflict,
    // and the caller re-validates on a fresh load before retrying.
    // `expectedMetadataVersion` is the STRONG pin — snapshot-id pins are
    // blind to METADATA-ONLY racers (a property stamp like
    // migrate-field-ids on an empty table, a setPartitionSpec — none of
    // which move currentSnapshotId yet all of which can invalidate the
    // gates), while every commit of any kind bumps the version.
    // `expectNoCurrentSnapshot` covers the fresh-table case where
    // None-means-no-check would hide a data race.
    expectedMetadataVersion.foreach { exp =>
      if (baseV != exp)
        throw new CommitConflictException(
          s"expected metadata v$exp but table moved to v$baseV — " +
            "revalidate and retry")
    }
    IcebergMeta.requireSnapshotPin(md,
      expectedCurrentSnapshotId, expectNoCurrentSnapshot)
    val fields = statFields(md)
    // entry partition maps are keyed by spec-FIELD name, which a foreign
    // writer's spec may legally name differently from the source column:
    // resolve each absent column to its identity spec field's name so
    // the synthesized stats find their per-file values either way
    val absentKeys: Map[String, String] = absentColumns.map { n =>
      val key = fields.find(f => f.name == n && !f.path.contains('.'))
        .flatMap(f => md.currentSpec.fields
          .find(sf => sf.sourceId == f.id && sf.transform == "identity")
          .map(_.name))
        .getOrElse(n)
      n -> key
    }.toMap
    val snapId = md.snapshots.map(_.snapshotId).maxOption.getOrElse(999L) + 1L
    val newEntries = graft.api.Engine.adoptTimed("stats-pass") {
      entriesForFiles(spark, dir, fields, statIds(md, fields),
        snapId, files, absentKeys, knownFooters) }
    graft.api.Engine.adoptTimed("publish") {
      publishSnapshot(spark, dir, tableDir, md, baseV, fields,
        md.currentSpec.specId, snapId, newEntries, operation,
        keepPredicate = e => !removePaths.contains(e.filePath),
        branch = None, equalityData = None, carryDeletes = false,
        extraSummary = extraSummary, extraProperties = extraProperties) }
  }

  /** [[DataFileEntry]]s for final (already-placed) parquet files, from
    * their FOOTERS — the gate pass's already-collected facts, or one
    * metadata pass here; the data itself is never re-read (the Iceberg
    * `add_files` discipline). Columns a footer cannot serve exactly fall
    * back per column to a column-pruned distributed agg; `agg` mode
    * (see [[StatsSourceKey]]) forces the legacy full aggregation. */
  private def entriesForFiles(
      spark: SparkSession,
      dir: Path,
      fields: Seq[SchemaField],
      sid: Map[Int, Int],
      snapId: Long,
      files: Seq[(String, Map[String, String])],
      // schema field name -> the partition-map key its per-file value
      // lives under (the identity spec-FIELD name; commitFiles resolves
      // it through sourceId so foreign-named specs key correctly)
      absentKeys: Map[String, String] = Map.empty,
      knownFooters: Map[String, graft.api.FooterFacts.FooterInfo] = Map.empty): Seq[DataFileEntry] = {
    if (files.isEmpty) return Seq.empty
    // `input_file_name()` URIs decode to `///abs/path`; collapse leading
    // slashes so both sides key on the same canonical form
    def canon(p: String): String = "/" + p.dropWhile(_ == '/')
    // stats cover only fields the FILES can serve: path-absent columns
    // (hive adoption) are patched from partition maps below, and
    // struct/map columns (foreign nested adoption targets) collect no
    // stats — Iceberg allows absent metrics
    val statFs = fields
      .filterNot(f => absentKeys.contains(f.name))
      .filter(f => graft.ops.ScanPlanner.sparkType(f.fieldType).nonEmpty)
    val source = statsSource(spark)
    // footer facts per REL path: adoption callers already opened every
    // footer (the gate pass reads ids + schema + block metadata + stats
    // in one visit); everyone else pays one metadata pass here
    val infos: Map[String, graft.api.FooterFacts.FooterInfo] =
      if (knownFooters.nonEmpty) knownFooters
      else {
        val abs = files.map { case (rel, _) => rel -> dir.resolve(rel).toString }
        val m = footerInfos(spark, abs.map(_._2))
        abs.map { case (rel, a) => rel -> m(a) }.toMap
      }
    val resolved: Map[String, (Map[Int, FieldStat], Seq[SchemaField])] =
      if (source == "agg")
        files.map { case (rel, _) => rel -> (Map.empty[Int, FieldStat], statFs) }.toMap
      else files.map { case (rel, _) => rel -> footerFieldStats(statFs, infos(rel)) }.toMap
    val aggFs: Seq[SchemaField] = statFs.filter(f =>
      resolved.values.exists(_._2.exists(_.id == f.id)))
    val aggSet = aggFs.map(_.id).toSet
    // the per-column fallback agg: reads ONLY the fallback columns, at an
    // explicit DECLARED read schema, not inference — a file adopted at a
    // pre-widen width (int32 under a `long` column, float under `double`)
    // must aggregate at the table's width, the same up-cast projection
    // the scan path applies, so bound bytes encode at the declared type
    val aggRows: Map[String, org.apache.spark.sql.Row] =
      if (aggFs.isEmpty) Map.empty
      else {
        val byAbs: Map[String, String] = files.map { case (rel, _) =>
          canon(dir.resolve(rel).toString) -> rel }.toMap
        val readSchema = org.apache.spark.sql.types.StructType(aggFs.map(f =>
          org.apache.spark.sql.types.StructField(f.name,
            graft.ops.ScanPlanner.sparkType(f.fieldType).get, nullable = true)))
        // the files are placed and final but not yet in any manifest: the
        // relation's file index takes their local sizes (no listing job)
        val df = graft.api.Engine.adoptTimed("stats-list") {
          org.apache.spark.sql.GraftParquetBridge.readParquet(spark,
            byAbs.keys.toSeq.map(p => p -> Files.size(Paths.get(p))), readSchema) }
        graft.api.Engine.adoptTimed("stats-agg") {
          df.groupBy(input_file_name().as("__file"))
            .agg(count(lit(1)).as("nrows"), statAggsFor(aggFs): _*)
            .collect() }
          .map(r => byAbs.getOrElse(canon(plainPath(r.getAs[String]("__file"))),
            throw new IllegalStateException(
              s"stats pass surfaced unknown file ${r.getAs[String]("__file")}")) -> r)
          .toMap
      }
    files.sortBy(_._1).flatMap { case (relPath, partition) =>
      val info = infos(relPath)
      val nrows = info.rowCount
      // mirror the legacy agg-keyed shape: a zero-row file produced no
      // agg group and thus no entry
      if (nrows == 0L) None
      else {
        val fstats = resolved(relPath)._1
        val rowOpt = aggRows.get(relPath)
        def aggRow = rowOpt.getOrElse(throw new IllegalStateException(
          s"$relPath missing from the fallback stats agg"))
        val (vCounts0, nvCounts0) = countStatsMixed(statFs, sid,
          if (aggSet.isEmpty) null else aggRow, nrows, fstats, aggSet)
        // path-absent columns: the value is constant per file (identity
        // partitioning), known exactly from the partition map — synthesize
        // tight lo=hi bounds so bounds pruning works on them too, not just
        // the partition map; a null-sentinel partition is all-null
        val absent: Seq[(SchemaField, Option[Array[Byte]])] = fields
          .filter(f => absentKeys.contains(f.name))
          .flatMap(f => partition.get(absentKeys(f.name))
            .map(v => f -> pathBoundBytes(spark, f.fieldType, v)))
        Some(DataFileEntry(
          status = 1, snapshotId = snapId, content = 0,
          filePath = relPath, fileFormat = "PARQUET", partition = partition,
          recordCount = nrows,
          fileSizeInBytes = Files.size(dir.resolve(relPath)),
          columnSizes = sizeStats(fields, sid, info.columnBytes),
          valueCounts = vCounts0 ++ absent.map { case (f, _) => sid(f.id) -> nrows },
          nullValueCounts = nvCounts0 ++ absent.map { case (f, v) =>
            sid(f.id) -> (if (v.isEmpty) nrows else 0L) },
          lowerBounds = statFs.filter(f => statable(f.fieldType)).flatMap { f =>
            if (aggSet(f.id))
              Option(aggRow.getAs[Any](s"lo_${f.id}")).map(v => f.id -> loBoundBytes(f.fieldType, v))
            else fstats.get(f.id).flatMap(_.lo).map(f.id -> _)
          }.toMap ++ absent.collect { case (f, Some(b)) => f.id -> b },
          upperBounds = statFs.filter(f => statable(f.fieldType)).flatMap { f =>
            if (aggSet(f.id))
              Option(aggRow.getAs[Any](s"hi_${f.id}")).map(v => f.id -> hiBoundBytes(f.fieldType, v))
            else fstats.get(f.id).flatMap(_.hi).map(f.id -> _)
          }.toMap ++ absent.collect { case (f, Some(b)) => f.id -> b }))
      }
    }
  }

  /** Steps 3-4 of every commit: carried-forward/existing manifests, the
    * optional same-commit equality-delete file, manifest list, snapshot
    * summary, next metadata version (CAS-published). */
  private def publishSnapshot(
      spark: SparkSession,
      dir: Path,
      tableDir: String,
      md: TableMetadata,
      baseV: Int,
      fields: Seq[SchemaField],
      specId: Int,
      snapId: Long,
      newEntries: Seq[DataFileEntry],
      operation: String,
      keepPredicate: DataFileEntry => Boolean,
      branch: Option[String],
      equalityData: Option[(DataFrame, Seq[String])],
      carryDeletes: Boolean,
      extraSummary: Map[String, String],
      extraProperties: Map[String, String] = Map.empty,
      wapId: Option[String] = None,
      // true when the equality-delete keys are the DATA's own keys
      // (upsert) — the projection then reads the committed files
      // instead of re-evaluating the input plan
      equalityFromData: Boolean = false): CommitResult = {
    FieldIds.ensureWriteEnabled(spark) // delete-file writes need ids too
    // fresh per-publish-attempt token (see commit): a conflicting
    // concurrent publisher must never overwrite these artifacts
    val tok = java.util.UUID.randomUUID().toString.take(8)
    // this commit's sequence — stamped on the snapshot AND on every entry
    // it writes (Iceberg data_sequence_number), so delete scoping holds
    // even after the adding snapshot is expired from the log
    val newSeq = md.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1L
    val seqBySnapshot = md.snapshots.map(s => s.snapshotId -> s.sequenceNumber).toMap
    def withSeq(e: DataFileEntry): DataFileEntry =
      if (e.sequenceNumber >= 0) e
      else e.copy(sequenceNumber = e.resolvedSeq(seqBySnapshot, -1L))

    // ---- 3. carried-forward entries (append keeps whole manifests;
    // overwrite/replace rewrite kept entries into an `existing` manifest).
    // A branch commit chains from the BRANCH head, not the current
    // snapshot — an unborn branch starts from the current snapshot.
    val t = new IcebergTable(tableDir, md)
    val parentId: Option[Long] = branch match {
      case Some(b) => md.refs.get(b).map(_.snapshotId).orElse(md.currentSnapshotId)
      case None => md.currentSnapshotId
    }
    val liveNow = parentId.map(id => t.files(Some(id))).getOrElse(Seq.empty)
    val kept = liveNow.filter(keepPredicate)
    val keepsEverything = kept.size == liveNow.size

    val manifests = scala.collection.mutable.ArrayBuffer.empty[ManifestFile]
    if (keepsEverything && liveNow.nonEmpty) {
      // append/upsert keep everything: the parent's manifests carry
      // forward untouched (incl. delete manifests)
      manifests ++= parentId.map(id => t.manifests(Some(id))).getOrElse(Seq.empty)
    } else if (kept.nonEmpty) {
      // rewrite kept entries as `existing` under their original snapshot,
      // materializing their sequence while the adding snapshot is still
      // in the log (legacy entries carry -1)
      val existing = kept.map(e => withSeq(e).copy(status = 0))
      val keptPath = s"metadata/manifest-$snapId-$tok-existing.avro"
      AvroManifests.writeManifest(dir.resolve(keptPath).toString, existing)
      manifests += ManifestFile(
        keptPath, Files.size(dir.resolve(keptPath)),
        partitionSpecId = specId, content = 0, addedSnapshotId = snapId,
        addedFilesCount = 0, existingFilesCount = existing.size,
        deletedFilesCount = 0, addedRowsCount = 0L,
        existingRowsCount = existing.map(_.recordCount).sum, deletedRowsCount = 0L,
        partitions = ManifestSummaries.of(md, specId, existing))
    }
    // incremental compaction: a PARTIAL rewrite must keep the delete
    // manifests — untouched files still need their position/equality
    // deletes applied on read; the rewritten files escape them anyway
    // (new paths; new commit sequence exempts them from older equality
    // deletes). The keepsEverything branch above already carried them.
    if (carryDeletes && !(keepsEverything && liveNow.nonEmpty)) {
      manifests ++= parentId.map(id => t.manifests(Some(id))).getOrElse(Seq.empty)
        .filter(_.content == 1)
    }
    if (newEntries.nonEmpty) {
      val addedPath = s"metadata/manifest-$snapId-$tok.avro"
      AvroManifests.writeManifest(dir.resolve(addedPath).toString,
        newEntries.map(_.copy(sequenceNumber = newSeq)))
      manifests += ManifestFile(
        addedPath, Files.size(dir.resolve(addedPath)),
        partitionSpecId = specId, content = 0, addedSnapshotId = snapId,
        addedFilesCount = newEntries.size, existingFilesCount = 0,
        deletedFilesCount = 0,
        addedRowsCount = newEntries.map(_.recordCount).sum,
        existingRowsCount = 0L, deletedRowsCount = 0L,
        partitions = ManifestSummaries.of(md, specId, newEntries))
    }

    // ---- 3b. upsert: an EQUALITY-delete file on the key columns joins
    // the same commit — it carries this snapshot's sequence, so it hits
    // matching rows of every EARLIER file while the data files added
    // above (same sequence) are exempt. One distinct-keys projection.
    equalityData.foreach { case (keyData, keys) =>
      val keyFields = keys.map(k => fields.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(s"upsert key $k not in schema")))
      // UPSERT (delete keys = the data's own keys): project the keys off
      // the JUST-COMMITTED data files instead of re-evaluating the input
      // plan — staging already ran it once, and an expensive upsert
      // source (a filter over a corpus table) must not be computed
      // twice for a few key columns. rowDelta's independent delete-key
      // frame, and the empty-input edge (no staged files to read), keep
      // the direct evaluation. A key source of driver rows
      // ([[graft.ops.Dedup.isDriverRows]]) is deduplicated on the
      // driver: no read-back, no distinct shuffle.
      val projected = keyData.select(keys.map(col): _*)
      val distinctKeys =
        if (graft.ops.Dedup.isDriverRows(projected))
          spark.createDataFrame(projected.collect().distinct.toSeq.asJava,
            projected.schema)
        else if (equalityFromData && newEntries.nonEmpty) {
          val files = newEntries.map(e =>
            dir.resolve(e.filePath).toString -> e.fileSizeInBytes)
          org.apache.spark.sql.GraftParquetBridge.readParquet(spark, files,
            org.apache.spark.sql.execution.datasources.parquet.GraftSchemaInference
              .schemaOfFile(spark, files.map(_._1).min))
            .select(keys.map(col): _*).distinct()
        } else projected.distinct()
      // one task, so the stage holds exactly one .parquet file to move
      val keysDf = FieldIds.attributeColumns(distinctKeys.coalesce(1), keyFields)
      val relPath = s"data/eqdelete-$snapId-$tok.parquet"
      withStage("graft-upsert") { stage =>
        keysDf.write.mode("overwrite").parquet(stage.toString)
        val staged = scala.util.Using.resource(Files.list(stage))(
          _.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get)
        Files.move(staged, dir.resolve(relPath), StandardCopyOption.REPLACE_EXISTING)
      }
      // exact row count straight off the file's own footer — a
      // spark.read...count() here costs a whole job per upsert commit
      val nKeys = footerRowCount(spark, dir.resolve(relPath))
      val entry = DataFileEntry(
        status = 1, snapshotId = snapId, content = 2,
        filePath = relPath, fileFormat = "PARQUET", partition = Map.empty,
        recordCount = nKeys, fileSizeInBytes = Files.size(dir.resolve(relPath)),
        columnSizes = Map.empty, valueCounts = Map.empty,
        nullValueCounts = Map.empty, lowerBounds = Map.empty,
        upperBounds = Map.empty, equalityIds = keyFields.map(_.id),
        sequenceNumber = newSeq)
      val delManifestPath = s"metadata/manifest-$snapId-$tok-eqdeletes.avro"
      AvroManifests.writeManifest(dir.resolve(delManifestPath).toString, Seq(entry))
      manifests += ManifestFile(
        delManifestPath, Files.size(dir.resolve(delManifestPath)),
        partitionSpecId = specId, content = 1, addedSnapshotId = snapId,
        addedFilesCount = 1, existingFilesCount = 0, deletedFilesCount = 0,
        addedRowsCount = nKeys, existingRowsCount = 0L, deletedRowsCount = 0L)
    }

    val listPath = s"metadata/snap-$snapId-$tok.avro"
    AvroManifests.writeManifestList(dir.resolve(listPath).toString, manifests.toSeq)

    // ---- 4. snapshot + next metadata version
    val live = kept ++ newEntries
    val nowMs = System.currentTimeMillis()
    val snapshot = Snapshot(
      snapshotId = snapId,
      parentSnapshotId = parentId,
      timestampMs = nowMs,
      sequenceNumber = newSeq,
      schemaId = Some(md.currentSchemaId),
      operation = operation,
      summary = Map(
        "operation" -> operation,
        "added-data-files" -> newEntries.size.toString,
        "added-records" -> newEntries.map(_.recordCount).sum.toString,
        "total-data-files" -> live.size.toString,
        "total-records" -> live.map(_.recordCount).sum.toString,
        "total-files-size" -> live.map(_.fileSizeInBytes).sum.toString)
        ++ wapId.map("wap.id" -> _)
        ++ extraSummary,
      manifestList = listPath)

    // main-line commits move current + the `main` ref; branch commits
    // move ONLY their ref, leaving the table's current snapshot alone; a
    // STAGED (write-audit-publish) commit moves nothing at all — the
    // snapshot sits in the log awaiting cherrypick or expiration
    val props = md.properties ++ extraProperties
    val newMd = if (wapId.isDefined) md.copy(
      lastUpdatedMs = nowMs,
      properties = props,
      snapshots = md.snapshots :+ snapshot)
    else branch match {
      case Some(b) if b != "main" => md.copy(
        lastUpdatedMs = nowMs,
        properties = props,
        snapshots = md.snapshots :+ snapshot,
        refs = md.refs + (b -> SnapshotRef(snapId, "branch")))
      case _ => md.copy(
        lastUpdatedMs = nowMs,
        properties = props,
        currentSnapshotId = Some(snapId),
        snapshots = md.snapshots :+ snapshot,
        refs = md.refs + ("main" -> SnapshotRef(snapId, "branch")))
    }
    val nextVersion = baseV + 1
    writeAtomic(dir.resolve(s"metadata/v$nextVersion.metadata.json"),
      IcebergMeta.render(newMd))

    CommitResult(snapId, newEntries.size, newEntries.map(_.recordCount).sum, nextVersion)
  }

  /** CAS publish ([[IcebergMeta.publish]]): atomic for readers, fails
    * with [[CommitConflictException]] if a concurrent writer claimed
    * the version first. */
  private def writeAtomic(target: Path, content: String): Unit =
    IcebergMeta.publish(target, content)
}
