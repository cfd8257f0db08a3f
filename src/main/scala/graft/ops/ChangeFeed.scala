package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.meta.{IcebergTable, Snapshot}

/** Row-level CHANGE DATA FEED over a snapshot range — the Iceberg
  * `create_changelog_view` analog: every committed row change in
  * `(fromSnap, toSnap]` as `_change_type` (`insert` / `delete`) rows
  * stamped with `_commit_snapshot_id`.
  *
  * METADATA-ACCELERATED: each snapshot's manifest diff names exactly the
  * files that changed, so the scan reads ONLY those files — an append
  * commit of 1 GB into a 100 TB table costs a 1 GB read, not a table
  * diff. Per operation:
  *
  *   - `append`: rows of the added data files → inserts.
  *   - `replace` (compaction / manifest rewrite / z-order): physical
  *     rewrite, no logical change → contributes nothing.
  *   - `delete` (merge-on-read position deletes): the added delete
  *     files' (path, pos) targets, resolved against the PARENT state's
  *     lineage read → deletes.
  *   - `overwrite`: added files → inserts; removed files' rows →
  *     deletes; plus, for same-commit equality deletes (upsert), parent
  *     rows matching the delete keys (null-safe) → deletes. Copy-on-
  *     write rewrites report delete+insert for every row of a rewritten
  *     file (the standard coarse COW changelog semantics).
  */
object ChangeFeed {

  /** Extra columns appended to the table schema. */
  val changeCols: Seq[StructField] = Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_snapshot_id", LongType, nullable = false))

  /** `net = true` refines overwrite (copy-on-write) commits to NET row
    * changes: rows present in both the removed and added files cancel
    * (multiset `exceptAll`), so an UPDATE of one row in a million-row
    * file reports one delete + one insert instead of two million coarse
    * rows (Iceberg `create_changelog_view(net_changes => true)`). The
    * extra cost is one shuffle bounded by the rewritten-file volume —
    * the same data the coarse feed already reads. */
  def rowChanges(
      spark: SparkSession, t: IcebergTable,
      fromSnap: Long, toSnap: Long, net: Boolean = false): DataFrame = {
    // child←parent chain walk, (fromSnap, toSnap]
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

    val tableSchema = ScanPlanner.currentSparkSchema(t).getOrElse(
      throw new UnsupportedOperationException(
        s"row changelog needs a flat primitive schema (${t.tableDir})"))
    val outSchema = StructType(tableSchema.fields ++ changeCols)
    def empty: DataFrame =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), outSchema)
    // id-stamped tables read by parquet field id (rename-safe: the feed
    // walks HISTORICAL file generations, which keep pre-rename names).
    // Per-read decision: a MIGRATED table's pre-boundary commits hold
    // id-less files that keep the name read (FieldIds.idsAtSeq)
    val attributedSchema = {
      graft.meta.FieldIds.ensureReadEnabled(spark)
      graft.meta.FieldIds.attribute(tableSchema, t.metadata.currentSchema)
    }
    // hive-adopted files lack their identity-partition columns in-file;
    // the per-slice read fills them from the entries' partition maps
    // (no-op for every other table — see ScanPlanner.fillPathPartitionsEntries)
    def readFiles(entries: Seq[graft.meta.DataFileEntry], ids: Boolean): DataFrame =
      ScanPlanner.fillPathPartitionsEntries(spark, t,
        ScanPlanner.readEntries(spark, t, entries, Some(
          if (ids && graft.meta.FieldIds.tableHasIds(t.metadata)) attributedSchema
          else tableSchema)),
        entries, schemaSnap = None)
    def stamp(df: DataFrame, change: String, s: Snapshot): DataFrame =
      df.select(tableSchema.fieldNames.toIndexedSeq.map(col): _*)
        .withColumn("_change_type", lit(change))
        .withColumn("_commit_snapshot_id", lit(s.snapshotId))

    // Long ranges walk each snapshot's manifests once, not twice: a
    // snapshot's file set is read as "current" for itself and again as
    // "parent" of its child — memoize both lookups across the chain.
    val filesAt = collection.mutable.Map.empty[Long, Seq[graft.meta.DataFileEntry]]
    def entriesAt(id: Long): Seq[graft.meta.DataFileEntry] =
      filesAt.getOrElseUpdate(id, t.files(Some(id)))
    val delsAt = collection.mutable.Map.empty[Long, Seq[graft.meta.DataFileEntry]]
    def deletesAt(id: Long): Seq[graft.meta.DataFileEntry] =
      delsAt.getOrElseUpdate(id, t.deleteFiles(Some(id)))

    val perSnapshot: Seq[DataFrame] = chain.flatMap { s =>
      if (s.operation == "replace") Seq.empty // physical-only rewrite
      else {
        val parentId = s.parentSnapshotId
        val curEntries = entriesAt(s.snapshotId)
        val prevEntries = parentId.map(entriesAt).getOrElse(Seq.empty)
        val curPaths = curEntries.map(_.filePath).toSet
        val prevPaths = prevEntries.map(_.filePath).toSet
        val added = curEntries.filterNot(e => prevPaths.contains(e.filePath))
          .sortBy(_.filePath)
        val removed = prevEntries.filterNot(e => curPaths.contains(e.filePath))
          .sortBy(_.filePath)
        // files ADDED by this commit carry ids iff the commit is at/past
        // the migration boundary; REMOVED files belong to the parent state
        val addedIds = graft.meta.FieldIds.idsAtSeq(t.metadata, s.sequenceNumber)
        val removedIds = graft.meta.FieldIds.idsAtSnapshot(t.metadata, parentId)

        val (inserts, removes) =
          if (net && added.nonEmpty && removed.nonEmpty) {
            // one-pass multiset diff: tag +1/-1, group on the full row,
            // re-expand |sum| copies. Each file set is scanned ONCE and
            // the only shuffle is one groupBy — two exceptAll plans
            // would scan both sides twice (exchange reuse between the
            // branches is not guaranteed).
            val dataCols = tableSchema.fieldNames.toIndexedSeq
            val tagged = readFiles(added, addedIds).withColumn("__w", lit(1L))
              .unionByName(readFiles(removed, removedIds).withColumn("__w", lit(-1L)))
            val diff = tagged.groupBy(dataCols.map(col): _*)
              .agg(sum(col("__w")).as("__d"))
            def expand(d: DataFrame): DataFrame =
              d.withColumn("__i", explode(expr("sequence(1, __dn)")))
                .select(dataCols.map(col): _*)
            val ins = expand(diff.filter(col("__d") > 0)
              .withColumn("__dn", col("__d")))
            val del = expand(diff.filter(col("__d") < 0)
              .withColumn("__dn", -col("__d")))
            (Some(stamp(ins, "insert", s)), Some(stamp(del, "delete", s)))
          } else (
            if (added.isEmpty) None
            else Some(stamp(readFiles(added, addedIds), "insert", s)),
            if (removed.isEmpty) None
            else Some(stamp(readFiles(removed, removedIds), "delete", s)))

        // delete files ADDED by this commit
        val prevDels = parentId.map(p => deletesAt(p).map(_.filePath).toSet)
          .getOrElse(Set.empty[String])
        val newDels = deletesAt(s.snapshotId)
          .filterNot(e => prevDels.contains(e.filePath))
        val (newEq, newPos) = newDels.partition(_.content == 2)

        val posDeletes =
          if (newPos.isEmpty) None
          else {
            val targets = ScanPlanner.readPositionDeletes(spark, t, newPos)
              .select(col("file_path").as("__del_path"), col("pos").as("__del_pos"))
            val parentRows = ScanPlanner.readTableLineageCurrentSchema(spark, t, parentId)
            Some(stamp(
              parentRows.join(ScanPlanner.hintIfDeleteFits(spark, newPos)(targets),
                parentRows("__gr_path") === targets("__del_path") &&
                  parentRows("__gr_pos") === targets("__del_pos"),
                "left_semi"),
              "delete", s))
          }

        val eqDeletes =
          if (newEq.isEmpty) None
          else {
            val nameById = t.metadata.currentSchema.fields.map(f => f.id -> f.name).toMap
            val parentRows = ScanPlanner.readTableCurrentSchema(spark, t, parentId)
            Some(newEq.groupBy(_.equalityIds).map { case (ids, files) =>
              val cols = ids.map(id => nameById.getOrElse(id,
                throw new NoSuchElementException(s"equality id $id not in schema")))
              // fileSnap = the ADDING commit: a feed range into a
              // migrated table's pre-boundary history must read that
              // era's id-less eq-delete files by NAME (the same gate the
              // data-file reads apply via addedIds above — an
              // id-attributed read of an id-less file has no name
              // fallback and would error or null the keys)
              val keys = ScanPlanner.readEqDeleteFiles(spark, t, ids, files,
                  fileSnap = Some(s.snapshotId))
                .select(cols.map(c => col(c).as(s"__del_$c")): _*).distinct()
              val cond = cols.map(c => parentRows(c) <=> keys(s"__del_$c")).reduce(_ && _)
              stamp(parentRows.join(
                ScanPlanner.hintIfDeleteFits(spark, files)(keys),
                cond, "left_semi"), "delete", s)
            }.reduce(_ unionByName _))
          }

        Seq(inserts, removes, posDeletes, eqDeletes).flatten
      }
    }
    // Balanced (tree) union: a linear fold over an N-commit range builds
    // an N-deep plan that blows analyzer recursion and loses union
    // flattening; pairwise reduction keeps depth O(log N).
    var level: Seq[DataFrame] = perSnapshot
    if (level.isEmpty) empty
    else {
      while (level.size > 1)
        level = level.grouped(2).map(_.reduce(_ unionByName _)).toSeq
      level.head
    }
  }
}
