package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.meta.{IcebergTable, TableWriter}

/** Small-file compaction — the ACTION behind the health report's
  * `compaction_recommended` flag (ref `formatters.py:422,461,775`
  * detects and recommends; an engine should also be able to act):
  * bin-pack live data files under the small-file threshold into larger
  * files, per partition, and commit the rewrite as a `replace` snapshot
  * via [[graft.meta.TableWriter.replaceFiles]]. Untouched files carry
  * forward; prior snapshots keep their manifest lists, so time travel to
  * the pre-compaction state still works.
  *
  * Scale shape: the rewrite is one distributed read of ONLY the small
  * files (never the whole table) + one shuffle keyed on the partition
  * sources (`repartition` by the identity partition columns puts each
  * partition value's rows in exactly one task → one output file per
  * partition value), then the normal commit stats pass. Driver work is
  * O(#files) metadata.
  */
object Compact {

  /** Files strictly below this are compaction candidates
    * (= [[MetaHealth.SmallFileBytes]], ref `formatters.py:340`). */
  val DefaultSmallBytes: Long = MetaHealth.SmallFileBytes

  /** Aim for output files around this size (Iceberg's default
    * write.target-file-size-bytes is 512 MB; 128 MB suits the demo
    * scale and is one HDFS-ish block). */
  val DefaultTargetBytes: Long = 128L * 1024 * 1024

  /** INCREMENTAL small-file compaction for delete-carrying tables: the
    * candidate partitions (≥2 small live files) are read MERGE-ON-READ
    * ([[ScanPlanner.readFiles]] applies position + sequence-scoped
    * equality deletes to exactly that subset) and rewritten; delete
    * manifests carry forward for the untouched files. The rewritten
    * files escape the old deletes structurally — new paths for position
    * deletes, a newer commit sequence for equality deletes — so a
    * partial rewrite can never resurrect a hidden row.
    *
    * This is the 100 TB path: a major fold rewrites the WHOLE table to
    * pay the delete debt at once ([[rewriteSmallFiles]]'s behavior when
    * deletes exist); incremental pays it partition-by-partition with IO
    * proportional to the candidates. Pair with
    * [[Maintenance.pruneDanglingDeletes]] to drop delete files that no
    * longer reference any live data. Returns None when no partition
    * qualifies. */
  def rewriteSmallFilesIncremental(
      spark: SparkSession,
      tableDir: String,
      smallBytes: Long = DefaultSmallBytes,
      targetBytes: Long = DefaultTargetBytes): Option[TableWriter.CommitResult] = {
    val t = IcebergTable.load(tableDir)
    val live = t.files()
    val candidates = live
      .filter(_.fileSizeInBytes < smallBytes)
      .groupBy(_.partition)
      .filter { case (_, es) => es.size >= 2 }
      .values.flatten.toSeq
    if (candidates.isEmpty) return None

    val df = ScanPlanner.readFiles(spark, t, candidates)
    val schemaFields = t.metadata.currentSchema.fields
    val partCols = t.metadata.currentSpec.fields.map { sf =>
      schemaFields.find(_.id == sf.sourceId).map(_.name).getOrElse(sf.name)
    }
    val packed =
      if (partCols.isEmpty) df.coalesce(
        math.max(1, (candidates.map(_.fileSizeInBytes).sum / targetBytes).toInt))
      else df.repartition(partCols.map(col): _*)
    Some(TableWriter.replaceFiles(spark, tableDir,
      candidates.map(_.filePath).toSet, packed,
      carryDeletes = t.deleteFiles().nonEmpty))
  }

  /** Z-ORDER CLUSTERING rewrite: replace ALL live data with the same
    * rows laid out along the Morton curve of `cols` ([[ZOrder]]) — one
    * output file per z-prefix region (per partition value for
    * partitioned tables), so every rewritten file carries tight
    * min/max bounds on EVERY clustered column and multi-dimensional
    * range predicates prune to a handful of files. The Iceberg analog
    * is `rewrite_data_files(strategy=>'sort', sort_order=>'zorder')`.
    *
    * Scale shape: one merge-on-read scan of the live data (deletes are
    * folded — the rewritten snapshot needs no delete manifests), one
    * shuffle keyed on (partition dims, z-prefix bin), the normal
    * distributed stats pass, metadata-scale driver commit. The z bin
    * count is ~`targetFiles` rounded up to a power of two; equi-width
    * z-bins can give uneven file sizes under heavy skew (documented in
    * [[ZOrder]]).
    *
    * Returns None for an empty table. */
  def rewriteClustered(
      spark: SparkSession,
      tableDir: String,
      cols: Seq[String],
      bits: Int = 8,
      targetFiles: Option[Int] = None): Option[TableWriter.CommitResult] = {
    require(cols.nonEmpty, "rewriteClustered needs at least one column")
    val t = IcebergTable.load(tableDir)
    val live = t.files()
    if (live.isEmpty) return None

    val nFiles = targetFiles.getOrElse(math.max(1,
      math.ceil(live.map(_.fileSizeInBytes).sum.toDouble / DefaultTargetBytes).toInt))
    val zbits = cols.size * bits
    // one file per z-prefix region: keep only enough leading z bits to
    // address ~nFiles regions
    val shift = math.max(0, zbits - math.max(1,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1, nFiles - 1).toLong)))

    val df = ScanPlanner.readTable(spark, t)
    // the bin expression is evaluated over the staged frame inside the
    // commit, so it must be self-contained over the table columns
    val zbinOfRow: org.apache.spark.sql.Column = {
      // lo/hi as literals: one metadata-scale agg (2k longs to the driver)
      val statCols = cols.flatMap(c =>
        Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
      val statRow = df.agg(statCols.head, statCols.tail: _*).head()
      // an all-NULL (or non-castable) column has null min/max — getLong
      // would NPE mid-rewrite with an opaque error; reject up front
      cols.zipWithIndex.foreach { case (c, i) =>
        require(!statRow.isNullAt(2 * i) && !statRow.isNullAt(2 * i + 1),
          s"cannot z-order on column '$c': no non-null numeric values " +
            "(all-NULL or not castable to long)")
      }
      val bins = cols.zipWithIndex.map { case (c, i) =>
        ZOrder.binCol(col(c), lit(statRow.getLong(2 * i)),
          lit(statRow.getLong(2 * i + 1)), bits) }
      shiftright(ZOrder.interleave(bins, bits), shift)
    }
    Some(TableWriter.replaceFiles(spark, tableDir,
      live.map(_.filePath).toSet, df, binExpr = Some(zbinOfRow)))
  }

  /** Rewrite partitions that hold ≥2 small live files. Returns None when
    * there is nothing to compact (no commit is made). */
  def rewriteSmallFiles(
      spark: SparkSession,
      tableDir: String,
      smallBytes: Long = DefaultSmallBytes,
      targetBytes: Long = DefaultTargetBytes): Option[TableWriter.CommitResult] = {

    val t = IcebergTable.load(tableDir)
    val live = t.files()
    // no data files (a fresh table, or one retired while empty: delete
    // files only) — nothing to fold; pruneDanglingDeletes drops the
    // dangling deletes
    if (live.isEmpty) return None

    // a table carrying LIVE DELETE FILES cannot be compacted file-subset-
    // wise: rewriting a file from its raw bytes would resurrect rows the
    // deletes hide, and the replace commit drops delete manifests. Fold
    // the deletes instead — MAJOR compaction: read the whole table
    // merge-on-read, rewrite every live file, and the new snapshot needs
    // no delete manifests at all (this is how the small-file+delete debt
    // the census flags actually gets paid down).
    if (t.deleteFiles().nonEmpty) {
      val schemaFields0 = t.metadata.currentSchema.fields
      val partCols0 = t.metadata.currentSpec.fields.map { sf =>
        schemaFields0.find(_.id == sf.sourceId).map(_.name).getOrElse(sf.name)
      }
      val df = ScanPlanner.readTable(spark, t)
      val packed =
        if (partCols0.isEmpty) df.coalesce(
          math.max(1, (live.map(_.fileSizeInBytes).sum / targetBytes).toInt))
        else df.repartition(partCols0.map(col): _*)
      return Some(TableWriter.replaceFiles(spark, tableDir,
        live.map(_.filePath).toSet, packed))
    }

    // only partitions where compaction buys anything: ≥2 small files
    val candidates = live
      .filter(_.fileSizeInBytes < smallBytes)
      .groupBy(_.partition)
      .filter { case (_, es) => es.size >= 2 }
      .values.flatten.toSeq
    if (candidates.isEmpty) return None

    // resolve identity sources by field id (partition field names can
    // differ from source column names in general Iceberg metadata)
    val schemaFields = t.metadata.currentSchema.fields
    val partCols = t.metadata.currentSpec.fields.map { sf =>
      schemaFields.find(_.id == sf.sourceId).map(_.name).getOrElse(sf.name)
    }

    // read ONLY the small files; identity sources are retained in the
    // files, so regrouping per partition is a plain repartition.
    // Id-stamped tables read through the field-id schema — pre-rename
    // files keep old parquet names, and name inference would rewrite the
    // renamed column as all-null. Hive-ADOPTED files lack their
    // identity-partition columns in-file — fill them from the entries'
    // partition maps, or the rewrite would MATERIALIZE nulls (silent
    // partition-value loss)
    val df0 = ScanPlanner.fillPathPartitionsEntries(spark, t,
      ScanPlanner.readEntries(spark, t, candidates, ScanPlanner.readSchema(spark, t)),
      candidates, schemaSnap = None)
    if (partCols.isEmpty) {
      val df = df0.coalesce(
        math.max(1, (candidates.map(_.fileSizeInBytes).sum / targetBytes).toInt))
      return Some(TableWriter.replaceFiles(spark, tableDir,
        candidates.map(_.filePath).toSet, df))
    }

    // bin-split oversized partitions: a partition whose small-file bytes
    // exceed targetBytes gets ceil(bytes/target) output files via a
    // deterministic row-hash bin (metadata-known per-value bin counts,
    // shipped as a literal map — partition-value cardinality is
    // metadata-scale). Typical case: every value maps to 1 bin → None →
    // exactly the plain one-file-per-partition shape.
    val binsByValue: Map[String, Int] = candidates
      .groupBy(_.partition.getOrElse(partCols.head, ""))
      .map { case (v, es) =>
        v -> math.max(1, math.ceil(es.map(_.fileSizeInBytes).sum.toDouble / targetBytes).toInt)
      }
    val binExpr: Option[org.apache.spark.sql.Column] =
      if (binsByValue.values.forall(_ == 1)) None
      else Some(pmod(
        xxhash64(df0.columns.map(col): _*),
        coalesce(element_at(typedLit(binsByValue), col(partCols.head).cast("string")),
          lit(1)).cast("long")))

    Some(TableWriter.replaceFiles(spark, tableDir,
      candidates.map(_.filePath).toSet, df0, binExpr))
  }
}
