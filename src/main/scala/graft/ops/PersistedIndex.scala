package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.api.Engine
import graft.meta.{IcebergTable, TableWriter}

/** The table lifecycle shared by the persisted indexes ([[NearDupIndex]],
  * [[AnnIndex]], [[ComponentIndex]]), each one Graft table at `ref`:
  * create, compact, an empty-safe read, keyed retires, the residual read
  * behind the `pairsAmong` providers, and the admission gates'
  * redelivery-safe tail and stream skeleton. A subclass declares the
  * table ([[schema]], [[partitionDecls]], [[idColumn]]) and keeps its
  * kernel: band signatures, the quantizer, or the union-find ledger. */
abstract class PersistedIndex(val engine: Engine, val ref: String) {

  def schema: StructType

  /** `col`, `bucket[N](col)` or `truncate[W](col)` declarations. */
  protected def partitionDecls: Seq[String]

  /** The row key retires and residual reads select on. */
  protected def idColumn: String

  /** Create the (empty) index table under its probe partitioning. */
  def create(): Unit = engine.createTable(ref, schema, partitionDecls)

  /** Maintenance: every admit or fold commits one small file per
    * partition it touches — fold each partition's small files back into
    * one. The rewrite re-stages through the partition spec, so probe
    * pruning survives. None = nothing small enough to fold. */
  def compact(smallBytes: Long = 32L * 1024 * 1024): Option[TableWriter.CommitResult] =
    engine.rewriteSmallFiles(ref, smallBytes = smallBytes)

  /** No rows, under the TABLE's schema rather than the handle's (a
    * default-constructed [[AnnIndex]] handle on an IVF-PQ table lacks
    * `codes`); built from metadata, no job. */
  private def emptyOf(t: IcebergTable): DataFrame =
    engine.spark.createDataFrame(new java.util.ArrayList[Row](),
      ScanPlanner.currentSparkSchema(t).getOrElse(schema))

  /** `t`'s live rows, merge-on-read; empty when a fresh or fully
    * retired index has no data files. */
  protected def rowsOf(t: IcebergTable): DataFrame = {
    val files = t.files()
    if (files.isEmpty) emptyOf(t) else ScanPlanner.readFiles(engine.spark, t, files)
  }

  /** A local [[idColumn]] frame of `xs`. */
  protected def idFrame(xs: Seq[Long]): DataFrame =
    engine.spark.createDataFrame(xs.map(Row(_)).asJava,
      StructType(Seq(StructField(idColumn, LongType, nullable = false))))

  /** One keyed equality-delete commit (a row delta with an empty insert)
    * dropping every row whose [[idColumn]] is in `ids`. Merge-on-read;
    * [[compact]] folds the tombstones later. The keys distribute through
    * the commit, so millions of ids never become a driver literal. */
  protected def deleteIds(ids: DataFrame): TableWriter.CommitResult =
    engine.rowDelta(ref, emptyOf(engine.load(ref)), Seq(idColumn), ids.select(idColumn))

  /** `body` — a whole load, derive and commit — rerun on a commit
    * conflict under the commit layer's policy
    * ([[TableWriter.retryOnConflict]]). */
  protected def rerunOnConflict[A](body: => A): A = TableWriter.retryOnConflict(_ => body)

  /** The index rows of `ids` (a `doc_id` frame, the ledger's contract),
    * checkpointed. At or under `inMaxIds` distinct ids the read
    * point-set-prunes on driver-known bounds
    * ([[ScanPlanner.readTableWhereInSet]]: per-admit files carry tight
    * id bounds, so scattered ids skip the files between them); above it
    * (a mass deletion hitting a giant dup component) the ids never reach
    * the driver: the index semi-joins the id frame. */
  protected def rowsAmong(ids: DataFrame, inMaxIds: Int): DataFrame = {
    val rids = ids.select(col("doc_id").as(idColumn)).distinct().localCheckpoint()
    val t = engine.load(ref)
    (Dedup.literalIds(rids, inMaxIds) match {
      case Some(seq) if seq.isEmpty => emptyOf(t)
      case Some(seq) => ScanPlanner.readTableWhereInSet(engine.spark, t, idColumn, seq)
      case None =>
        // hint only under the ceiling — a nation-scale member set must
        // not be FORCED through the driver as a broadcast
        rowsOf(t).join(Dedup.hintIf(Dedup.fitsBroadcast(rids))(rids),
          Seq(idColumn), "left_semi")
    }).localCheckpoint()
  }

  /** The redelivery-safe tail of an admission gate over `batch` (rows
    * keyed by [[idColumn]]). `pairs` are its collisions with the index
    * as `(a_id, b_id)`, `a_id` the batch row. `selfIndexed` holds the
    * ids a previous delivery already admitted: they pass again
    * (at-least-once for the caller) and are never flagged. ONE
    * checkpoint carries the survivors and their redelivery flag. With a
    * `ledger`, `pairs ∪ intra` (the batch's own `(a_id, b_id)` pairs —
    * fold-only, both ends are admitted) fold in first ([[foldEdges]]).
    * Returns `(survivors, fresh)`: the unflagged rows, and those of them
    * not yet indexed, which the caller appends. */
  protected def gate(batch: DataFrame, pairs: DataFrame, selfIndexed: DataFrame,
      ledger: Option[ComponentIndex], intra: => DataFrame): (DataFrame, DataFrame) = {
    // distinct: the flag attaches through a LEFT join
    val self = selfIndexed.select(col(idColumn)).distinct()
    def notSelf(df: DataFrame, c: String) =
      df.join(self.select(col(idColumn).as(c)), Seq(c), "left_anti")
    val hits = notSelf(pairs, "a_id") // redelivery ≠ dup
    // with a ledger the pairs feed the flag set AND the fold (a doc
    // bridging two components must merge them): materialize once
    val edges = ledger.map(_ => hits.distinct().localCheckpoint())
    val flagged = edges.getOrElse(hits).select(col("a_id").as(idColumn)).distinct()
    val checked = batch.join(flagged, Seq(idColumn), "left_anti")
      .join(self.withColumn("__gr_self", lit(true)), Seq(idColumn), "left")
      .withColumn("__gr_self", coalesce(col("__gr_self"), lit(false)))
      .localCheckpoint()
    ledger.zip(edges).foreach { case (l, e) =>
      foldEdges(l, e, notSelf(notSelf(intra, "a_id"), "b_id"))
    }
    val cols = batch.columns.toSeq.map(col)
    (checked.select(cols: _*), checked.filter(!col("__gr_self")).select(cols: _*))
  }

  /** Fold a gated batch's pairs into the dup-cluster `ledger`:
    * idempotent across redeliveries (absorbed pairs fold to an empty
    * delta, no commit), and collision-free batches never load the
    * ledger. It runs BEFORE the caller's append, with conflict retry:
    *   - ORDER: intra-edge suppression keys on selfIndexed, which the
    *     append establishes — a crash between an append-first commit and
    *     the fold would lose the admitted-admitted intra edges FOREVER
    *     (the redelivered batch suppresses them). Fold-first is safe in
    *     both crash orders: an unfolded redelivery re-derives everything,
    *     a folded-but-unappended redelivery re-gates (not selfIndexed
    *     yet) and its re-fold is an absorbed no-op.
    *   - RETRY: a concurrent fold/retire on a SHARED ledger (the other
    *     gate, or Engine.forget) landing mid-fold surfaces as
    *     CommitConflictException; [[ComponentIndex.foldWithRetry]]
    *     re-derives from the fresh snapshot instead of failing. */
  private def foldEdges(ledger: ComponentIndex, pairs: DataFrame, intra: DataFrame): Unit = {
    // ONE eager checkpoint: the emptiness probe, the fold's passes and
    // any CAS retry reuse the edge set instead of re-running the joins
    val edges = pairs.unionByName(intra).localCheckpoint()
    if (!edges.isEmpty) ledger.foldWithRetry(edges)
  }

  /** The streaming gates' `foreachBatch` skeleton: every micro-batch of
    * `input` goes through `perBatch`; progress lives in `checkpointDir`. */
  protected def stream(input: DataFrame, checkpointDir: String)(
      perBatch: DataFrame => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => perBatch(batch) }
      .start()
}
