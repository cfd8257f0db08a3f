package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{IcebergTable, TableWriter}

/** Row-level DELETE, COPY-ON-WRITE mode (Iceberg
  * `write.delete.mode=copy-on-write`): rewrite exactly the files that
  * hold matching rows, without those rows, as one `overwrite` snapshot
  * — the operation Iceberg itself stamps on CoW row-level commits.
  * `replace` is reserved for PHYSICAL-only rewrites (compaction,
  * z-order, rewrite-manifests) that change no row; CDC
  * ([[graft.ops.ChangeFeed]]) and fail-fast append-only streams skip
  * `replace` snapshots, so stamping a logical delete/update `replace`
  * would make it silently invisible to both.
  * The merge-on-read twin is [[graft.meta.TableWriter.deleteWhere]]
  * (position-delete files, no rewrite); copy-on-write costs the rewrite
  * up front but leaves the table delete-free — which keeps the bare
  * file-scan read paths (the SQL catalog's vectorized scan) valid, so
  * it is the mode behind SQL `DELETE FROM`.
  *
  * Scale shape: one distributed predicate scan over the merge-on-read
  * lineage view emits only the DISTINCT matching file paths (driver gets
  * a metadata-scale path list, like any scan-planning step); one
  * distributed rewrite of exactly those files; untouched files carry
  * forward. SQL semantics: rows delete where the predicate is TRUE;
  * FALSE and NULL rows survive. */
object Delete {

  /** Row-level UPDATE, copy-on-write (Iceberg `UPDATE ... SET` with
    * `write.update.mode=copy-on-write`): files holding matching rows are
    * rewritten with `assignments` applied to the matching rows and all
    * other rows byte-identical; untouched files carry forward. Same
    * scale shape as [[copyOnWrite]]. NULL predicates leave rows
    * unmodified (SQL semantics). Returns None when nothing matches. */
  def updateWhere(
      spark: SparkSession,
      tableDir: String,
      predicate: Column,
      assignments: Map[String, Column]): Option[TableWriter.CommitResult] = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    val t = IcebergTable.load(tableDir)
    if (t.files().isEmpty) return None
    val schemaCols = t.metadata.currentSchema.fields
      .filter(f => !f.path.contains('.')).map(_.name)
    assignments.keys.foreach(k => require(schemaCols.contains(k),
      s"assignment target $k is not a column of the table"))

    val matchedRel = ScanPlanner.readTableLineage(spark, t)
      .filter(predicate)
      .select("__gr_path").distinct()
      .collect().map(_.getString(0)).toSet
    if (matchedRel.isEmpty) return None

    val matched = t.files().filter(e => matchedRel.contains(e.filePath))
    val hit = coalesce(predicate, lit(false))
    // single projection: every assignment's right-hand side evaluates
    // against the ORIGINAL row (SQL UPDATE semantics — assignments never
    // see each other's new values)
    val rewritten = ScanPlanner.readFiles(spark, t, matched)
      .select(schemaCols.map { c =>
        assignments.get(c) match {
          case Some(v) => when(hit, v).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    Some(TableWriter.replaceFiles(spark, tableDir, matchedRel, rewritten,
      carryDeletes = t.deleteFiles().nonEmpty, operation = "overwrite"))
  }

  def copyOnWrite(
      spark: SparkSession,
      tableDir: String,
      predicate: Column): Option[TableWriter.CommitResult] = {
    val t = IcebergTable.load(tableDir)
    if (t.files().isEmpty) return None

    // deletes are applied BEFORE the predicate (lineage view), so
    // already-deleted rows can neither match nor resurrect
    val matchedRel = ScanPlanner.readTableLineage(spark, t)
      .filter(predicate)
      .select("__gr_path").distinct()
      .collect().map(_.getString(0)).toSet
    if (matchedRel.isEmpty) return None

    val matched = t.files().filter(e => matchedRel.contains(e.filePath))
    val survivors = ScanPlanner.readFiles(spark, t, matched)
      .filter(not(coalesce(predicate, lit(false))))
    Some(TableWriter.replaceFiles(spark, tableDir, matchedRel, survivors,
      carryDeletes = t.deleteFiles().nonEmpty, operation = "overwrite"))
  }
}
