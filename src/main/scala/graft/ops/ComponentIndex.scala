package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Engine
import graft.meta.IcebergTable

/** PERSISTENT dedup component assignment — the `(doc_id, component)`
  * frame [[Dedup.connectedComponents]] produces, materialized as a Graft
  * table and maintained INCREMENTALLY: each ingest batch's candidate
  * edges fold in through [[Dedup.incrementalComponents]] and the table
  * is updated by one MERGE-style row-delta commit over exactly the
  * affected docs. A 100 TB corpus never re-runs global label propagation
  * after bootstrap — the per-batch cost is two lookups in this table
  * (the batch's endpoint rows, then the rows of the merged-away
  * components) plus a batch-bounded contracted-graph clustering. A batch
  * whose distinct endpoints fit [[Dedup.LiteralMaxIds]] does all of it
  * on the driver: the clustering is a union-find and the delta commits
  * from a local relation (see [[fold]] / [[retire]]). The first such
  * call at a snapshot does the two lookups as pushed-down collects (the
  * id set, then the bucket-pruned read). A further call at the snapshot
  * the instance last worked at (typically its own last commit) reads a
  * ledger of at most [[ComponentIndex.ResidentMaxRows]] rows once and
  * keeps it RESIDENT, moved forward along each of the instance's own
  * CAS-pinned commits, so a warm driver-tier fold or retire reads no
  * table. Any other commit (another instance or process, [[compact]],
  * the distributed tier) moves the snapshot, and the lookups go back to
  * the pushed-down collects; so does a ledger above the bound.
  *
  * The table lifecycle ([[create]], [[compact]], the empty-safe read)
  * lives in [[PersistedIndex]]; this class keeps the union-find ledger.
  * It composes with [[NearDupIndex]]: `NearDupIndex.admit` gates a batch
  * and its collision pairs are exactly the new edges this index folds.
  * [[create]] once, [[bootstrap]] from the standing corpus' candidate
  * pairs, then per batch [[fold]].
  *
  * Storage is SPARSE: only non-trivial memberships (`doc_id !=
  * component`) are stored — singleton docs are implicit, so the table
  * holds only duplicate docs (typically a small fraction of the corpus).
  * Labels can only DECREASE under the min-id invariant, so a stored row
  * never becomes trivial and sparseness is maintained by filtering
  * inserts alone.
  *
  * Scale shape: the table is `bucket[nBuckets](component)`-partitioned,
  * so [[fold]]'s relabel pass — the one that rewrites WHOLE components —
  * reads through [[ScanPlanner]]'s partition-pruned read and touches only
  * the merged-away labels' buckets (a batch merges a handful of
  * components, so this reads a handful of buckets, not the corpus
  * assignment). The endpoint-resolution pass is one scan of the table
  * with the batch's id set pushed down, emitting batch-bounded rows.
  * The update commit is merge-on-read ([[Engine.upsert]]): an equality
  * delete on `doc_id` plus the delta rows, no data-file rewrite.
  */
final class ComponentIndex private[graft] (
    engine: Engine,
    ref: String,
    val nBuckets: Int,
    residentMaxRows: Long) extends PersistedIndex(engine, ref) {

  def this(engine: Engine, ref: String, nBuckets: Int = 32) =
    this(engine, ref, nBuckets, ComponentIndex.ResidentMaxRows)

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("component", LongType, nullable = false)))

  /** Bucket-partitioned on the RELABEL key (see class doc for why
    * `component`, not `doc_id`). */
  protected def partitionDecls: Seq[String] = Seq(s"bucket[$nBuckets](component)")
  protected def idColumn: String = "doc_id"

  /** Seed the assignment from the standing corpus' candidate pairs —
    * the ONLY call that runs global connected components. A pair-free
    * corpus (every doc a singleton) seeds nothing; [[fold]] works off
    * the empty table. */
  def bootstrap(pairs: DataFrame): Unit = {
    val rows = Dedup.connectedComponents(pairs)
      .filter(col("doc_id") =!= col("component")).localCheckpoint()
    if (!rows.isEmpty) engine.append(ref, rows)
    ()
  }

  /** The ledger rows this instance keeps between calls, at the snapshot
    * they were read or committed at; and the snapshot it last worked at
    * without them (a pushed-down read or its own commit). Guarded by the
    * instance lock (`admitStream`'s batches may fold from another
    * thread). */
  private var resident: Option[ComponentIndex.Resident] = None
  private var seen: Option[ComponentIndex.Key] = None

  /** `t`'s current snapshot as (table uuid, snapshot id, manifest list).
    * The manifest list's name carries a per-commit token: a snapshot id
    * that a later commit reuses (ids are one past the newest live one,
    * so rollback plus expiration can hand out an id again) never
    * matches. */
  private def keyOf(t: IcebergTable): Option[ComponentIndex.Key] =
    t.metadata.currentSnapshotId.flatMap(id => t.metadata.snapshots.find(_.snapshotId == id))
      .map(s => (t.metadata.tableUuid, s.snapshotId, s.manifestList))

  /** The resident rows when they are at `t`'s current snapshot. */
  private def residentOf(t: IcebergTable): Option[ComponentIndex.Resident] =
    synchronized { resident.filter(r => keyOf(t).contains(r.key)) }

  /** [[residentOf]], else, on a further call at the snapshot this
    * instance last worked at, one merge-on-read read of `t` kept as the
    * new resident rows, unless `t`'s live files hold more than
    * `residentMaxRows` rows by their manifest record counts. The first
    * call at any other snapshot keeps the pushed-down reads, so a
    * one-shot fold or retire reads no more than it did without
    * residency. */
  private def loadResident(t: IcebergTable): Option[ComponentIndex.Resident] =
    synchronized {
      residentOf(t).orElse {
        val key = keyOf(t)
        if (key.isEmpty || key != seen) seen = key
        else resident = key.filter(_ =>
          t.files().map(_.recordCount).sum <= residentMaxRows).map(k =>
          ComponentIndex.Resident(k, Dedup.longPairs(rowsOf(t), "doc_id", "component")))
        residentOf(t)
      }
    }

  /** The resident rows, when they are at the table's current snapshot. */
  private[graft] def residentRows: Option[Seq[(Long, Long)]] =
    residentOf(engine.load(ref)).map(_.rows)

  /** `t`'s rows of the `labels` components, through the bucket-pruned
    * read. */
  private def labelRows(t: IcebergTable)(labels: Seq[Long]): DataFrame =
    ScanPlanner.readTableWhereIn(engine.spark, t, "component", labels.map(_.toString))

  /** The driver tiers' row lookups at pinned load `t`: the resident rows
    * ([[loadResident]]), else pushed-down reads of `t` — the batch's
    * rows by `doc_id`, the components' rows through [[labelRows]].
    * `advance` follows this instance's commit `snapshotId`, CAS-pinned
    * to `t`'s snapshot, while that commit is still the table's current
    * snapshot: it moves the resident rows forward, else marks the
    * commit's snapshot seen. */
  private final class RowsAt(t: IcebergTable) extends Dedup.AssignRows {
    private lazy val kept = loadResident(t)
    private lazy val read = Dedup.readRows(rowsOf(t), Some(labelRows(t)))
    def ofDocs(ids: Seq[Long]): Seq[(Long, Long)] = kept.fold(read.ofDocs(ids))(_.ofDocs(ids))
    def ofLabels(labels: Seq[Long]): Seq[(Long, Long)] =
      kept.fold(read.ofLabels(labels))(_.ofLabels(labels))
    def advance(snapshotId: Long, gone: Seq[Long], added: Seq[(Long, Long)]): Unit = {
      val now = keyOf(engine.load(ref)).filter(_._2 == snapshotId)
      ComponentIndex.this.synchronized {
        kept match {
          case Some(k) => if (resident.exists(_ eq k)) resident = now.map(k.advance(_, gone, added))
          case None => seen = now
        }
      }
    }
  }

  /** The standing sparse assignment (non-trivial memberships only). */
  def assignments: DataFrame = rowsOf(engine.load(ref))

  /** The corpus-dedup DROP list, for free — VALID ONLY when every doc
    * in the ledger is corpus-resident (bootstrap/fold over edges among
    * kept docs): under the sparse convention every stored row is a doc
    * that is NOT its component's min-id survivor, i.e. exactly what the
    * keep-min rule drops. No join, no recompute: one projection.
    *
    * NOT valid for a gate-composed ledger
    * ([[NearDupIndex.admitStream]]'s `components`): there REJECTED docs
    * join the ledger without ever entering the corpus, and a rejected
    * doc with the smallest id becomes the component label — its
    * corpus-resident dup lands on this list and dropping it would
    * remove the only retained copy. A gate ledger is dup PROVENANCE;
    * derive a corpus drop list from it by intersecting with the corpus
    * and keeping the min CORPUS member per component instead. */
  def dropList: DataFrame = assignments.select("doc_id")

  /** Paths of the files a relabel of `labels`' components must read:
    * [[ScanPlanner.pathsWhereIn]] maps the driver-known labels through
    * the table's own `component` spec fields on the driver — no Spark
    * job just to hash a handful of longs. Files with no recorded bucket
    * value survive conservatively, and an unmappable label disables the
    * prune rather than guessing. */
  def relabelPaths(labels: Seq[Long]): Seq[String] =
    ScanPlanner.pathsWhereIn(engine.spark, engine.load(ref), "component",
      labels.map(_.toString))

  /** Fold one batch's candidate edges into the standing assignment:
    * compute the delta ([[Dedup.incrementalComponents]], sparse
    * convention, relabel served from the bucket-pruned read), commit the
    * non-trivial delta rows as ONE merge-on-read upsert keyed on
    * `doc_id`, and return the FULL delta (trivial rows included — the
    * caller-facing "what changed" view). An empty delta commits
    * nothing. CAS-guarded against concurrent folds: the commit carries
    * the pinned snapshot id, so a racing fold surfaces as
    * [[graft.meta.CommitConflictException]] (rerun; it picks up the
    * winner's rows) instead of silently erasing the winner's merges.
    * A batch within [[Dedup.LiteralMaxIds]] distinct endpoints takes the
    * driver tier: its delta is a local relation, committed as is. */
  def fold(newEdges: DataFrame): DataFrame = fold(newEdges, Dedup.LiteralMaxIds)

  /** [[fold]] at an explicit driver-tier bound (0 forces the distributed
    * tier — the tier-equivalence switch). */
  private[graft] def fold(newEdges: DataFrame, resolveInMaxIds: Int): DataFrame = {
    // ONE load pins the whole fold: resolution scan and pruned relabel
    // read — and the commit below is CAS-CONDITIONAL on that same
    // snapshot still being current. The delta was DERIVED from the
    // pinned store, so a concurrent fold landing in between would be
    // silently un-merged by an unconditional retry-rebase (this fold's
    // doc_id equality delete would erase the other's fresher rows);
    // instead the race surfaces as CommitConflictException — rerun the
    // fold, it picks up the other's rows. (A fresh, snapshot-less table
    // has no id to pin; the first concurrent folds of an EMPTY ledger
    // are the one window this cannot guard.)
    val t = engine.load(ref)
    def commit(upserts: DataFrame): Long =
      engine.upsert(ref, upserts, Seq("doc_id"),
        expectedCurrentSnapshotId = t.metadata.currentSnapshotId).snapshotId
    val at = new RowsAt(t)
    Dedup.incrementalDelta(rowsOf(t), newEdges, sparseAssign = true,
      relabelSource = Some(labelRows(t)), resolveInMaxIds, at) match {
      case Left(rows) =>
        val upserts = rows.filter { case (d, c) => d != c }
        if (upserts.nonEmpty)
          at.advance(commit(Dedup.pairFrame(engine.spark, upserts)), Nil, upserts)
        Dedup.pairFrame(engine.spark, rows)
      case Right(plan) =>
        val delta = plan.localCheckpoint()
        val upserts = delta.filter(col("doc_id") =!= col("component"))
        if (!upserts.isEmpty) commit(upserts)
        delta
    }
  }

  /** [[fold]] with a reload-and-rerun on CAS conflict: a racing
    * fold/retire that lands first surfaces as
    * [[graft.meta.CommitConflictException]]; the rerun re-pins the table
    * (picking up the winner's rows) and recomputes the delta, so both
    * edge sets land and the final ledger equals the from-scratch closure
    * over their union (spec-pinned with two concurrent folds). Rerun
    * HERE ([[PersistedIndex.rerunOnConflict]]), not inside the commit,
    * because the DELTA itself must be re-derived from the fresh snapshot
    * (a commit-level rebase would silently erase the winner's merges,
    * the exact failure the CAS guard exists to surface). */
  def foldWithRetry(newEdges: DataFrame): DataFrame = rerunOnConflict(fold(newEdges))

  /** [[retire]]'s conflict-retrying twin of [[foldWithRetry]]: the
    * affected-component surgery re-derives from the fresh snapshot on
    * each attempt. */
  def retireWithRetry(retired: DataFrame,
      pairsAmong: DataFrame => DataFrame): DataFrame =
    rerunOnConflict(retire(retired, pairsAmong))

  /** RETIRE docs from the ledger (corpus deletion / right-to-be-
    * forgotten): removing a doc removes its similarity EDGES, so the
    * component it sat in can SPLIT — the remaining members must be
    * re-clustered over their residual candidate pairs, not merely have
    * the retired rows dropped. Only the AFFECTED components pay:
    *
    *   1. retired docs' own rows resolve their components (one
    *      pushed-filter scan); retired ids that are themselves LABELS
    *      are found by the bucket-pruned relabel read (their own rows
    *      are implicit, their members' rows are not);
    *   2. every affected component's members read off the SAME pruned
    *      read; the remaining-member set (minus retired) goes to
    *      `pairsAmong` — supply residual candidate pairs among those
    *      docs (e.g. [[Dedup.bandCollisionPairs]] over a
    *      [[NearDupIndex]]'s signatures — after retiring them there
    *      too, or restricted to remaining ids as this method does
    *      defensively);
    *   3. [[Dedup.connectedComponents]] re-clusters the residual graph
    *      (affected-size, not corpus-size) — splits fall out naturally,
    *      min-id labels are re-derived from scratch;
    *   4. ONE CAS-guarded row-delta commit deletes ALL stored rows of
    *      affected components and inserts the re-clustered non-trivial
    *      rows (docs that became singletons simply vanish — sparse).
    *
    * Soundness: deleting docs only removes edges, so components can
    * only split WITHIN old boundaries — re-clustering affected
    * components over their residual pairs reproduces exactly the
    * from-scratch closure over the surviving corpus (spec-pinned).
    * Returns the re-clustered assignment of the remaining affected
    * members (trivial rows included); unaffected components never
    * appear and never shuffle. */
  def retire(retired: Seq[Long],
      pairsAmong: DataFrame => DataFrame): DataFrame =
    retire(idFrame(retired), pairsAmong)

  /** [[retire]] with the retired ids as a DataFrame (`doc_id` column) —
    * the corpus-scale form. Sets at or under `inMaxIds` distinct ids
    * (collected from a local frame, else one fused size-probe-and-collect
    * job, the [[Dedup.incrementalComponents]] `resolveInMaxIds` idiom)
    * take the DRIVER tier: the retired docs' rows and the affected
    * components' rows come from the resident rows (else a pushed-down
    * `isin` and the relabel prune over a driver-known label list,
    * collected), the residual pairs are collected, the re-clustering is
    * a union-find, and the one commit is built from local relations.
    * Above the threshold every retired-id filter
    * switches to a broadcast semi/anti-join and the relabel prune's
    * bucket census runs distributed
    * ([[ScanPlanner.readTableWhereInFrame]]) — a compliance batch of
    * millions of ids never inflates a plan or the driver. Same final
    * table state either way (spec-pinned with the threshold forced to
    * 0). */
  def retire(retired: DataFrame, pairsAmong: DataFrame => DataFrame,
      inMaxIds: Int = Dedup.LiteralMaxIds): DataFrame = {
    val ids = retired.select(col("doc_id"))
    if (Dedup.isDriverRows(retired)) {
      val lits = ids.collect().map(_.getLong(0)).distinct.toIndexedSeq
      if (inMaxIds > 0 && lits.size <= inMaxIds) return retireOnDriver(lits, pairsAmong)
    }
    val rids = ids.distinct().localCheckpoint()
    Dedup.literalIds(rids, inMaxIds) match {
      case Some(lits) => retireOnDriver(lits, pairsAmong)
      case None => retireDistributed(rids, pairsAmong)
    }
  }

  /** The driver tier of [[retire]]: the same steps and the same commit
    * as [[retireDistributed]], over collected rows. */
  private def retireOnDriver(lits: IndexedSeq[Long],
      pairsAmong: DataFrame => DataFrame): DataFrame = {
    val spark = engine.spark
    val t = engine.load(ref)
    val at = new RowsAt(t)
    val gone = lits.toSet
    // components of retired MEMBER docs, then every stored row of the
    // affected components (members plus rows labeled by a retired id)
    val retiredRows = at.ofDocs(lits)
    val affectedLabels = (retiredRows.map(_._2) ++ lits).distinct
    val affectedRows = at.ofLabels(affectedLabels)
    val remaining = affectedRows.flatMap { case (d, c) => Seq(d, c) }
      .distinct.filterNot(gone).sorted
    val kept = remaining.toSet
    val residual = Dedup.longPairs(
      pairsAmong(idFrame(remaining)), "a_id", "b_id")
      .filter { case (a, b) => kept(a) && kept(b) }
    val labels = Dedup.minLabels(residual)
    if (affectedRows.nonEmpty) {
      val inserts = labels.toSeq.sorted.filter { case (d, c) => d != c }
      val deleted = affectedRows.map(_._1)
      at.advance(engine.rowDelta(ref, Dedup.pairFrame(spark, inserts),
        Seq("doc_id"), idFrame(deleted),
        expectedCurrentSnapshotId = t.metadata.currentSnapshotId).snapshotId,
        deleted, inserts)
    }
    Dedup.pairFrame(spark, remaining.map(d => d -> labels.getOrElse(d, d)))
  }

  /** The distributed tier of [[retire]] over the checkpointed distinct
    * retired ids `rids`. */
  private def retireDistributed(rids: DataFrame,
      pairsAmong: DataFrame => DataFrame): DataFrame = {
    val t = engine.load(ref)
    val store = rowsOf(t)
    // hint ceiling: the explicit broadcast hints below are the
    // mass-deletion form, but a hint FORCES the broadcast regardless of
    // size — probe the checkpointed frame once and drop the hint above
    // the ceiling, letting AQE pick the join
    val ridsFit = Dedup.fitsBroadcast(rids)
    // components of retired MEMBER docs (their own stored rows), probed
    // through a broadcast semi-join
    val retiredRows = store.join(Dedup.hintIf(ridsFit)(rids),
      Seq("doc_id"), "left_semi").localCheckpoint()
    // all affected components' stored rows: members of those comps PLUS
    // rows labeled by a retired id (a retired LABEL's own row is
    // implicitly trivial — its members' rows are what the pruned read
    // finds). One bucket-pruned read covers both label sets.
    val affectedRows = {
      val labels = retiredRows.select(col("component"))
        .union(rids.select(col("doc_id").as("component")))
        .distinct().localCheckpoint()
      ScanPlanner.readTableWhereInFrame(engine.spark, t, "component", labels)
        .join(Dedup.hintIf(Dedup.fitsBroadcast(labels))(labels),
          Seq("component"), "left_semi")
    }.localCheckpoint()
    // remaining members: stored members plus the (implicit) label docs
    // themselves, minus everything retired. (retiredRows ⊆ affectedRows
    // — both read off the same pinned table, and retiredRows' labels
    // are among the affected labels — so they are already covered.)
    val remaining0 = affectedRows.select("doc_id")
      .union(affectedRows.select(col("component").as("doc_id")))
      .distinct()
    val remaining = remaining0.join(Dedup.hintIf(ridsFit)(rids),
      Seq("doc_id"), "left_anti").localCheckpoint()
    // residual candidate pairs among the remaining members only —
    // restricted defensively so a generous provider cannot leak edges
    // to retired or unaffected docs (one ceiling probe covers both
    // projections of the checkpointed frame)
    val remFit = Dedup.fitsBroadcast(remaining)
    val residual = pairsAmong(remaining)
      .join(Dedup.hintIf(remFit)(
        remaining.select(col("doc_id").as("a_id"))), Seq("a_id"), "left_semi")
      .join(Dedup.hintIf(remFit)(
        remaining.select(col("doc_id").as("b_id"))), Seq("b_id"), "left_semi")
    val reclustered = Dedup.connectedComponents(residual).localCheckpoint()
    // ONE commit: drop every stored row of the affected components,
    // insert the re-clustered non-trivial memberships. Nothing stored
    // was affected (all retired docs were singletons) → no commit.
    if (!affectedRows.isEmpty) {
      val deleteKeys = affectedRows.select("doc_id")
      val inserts = reclustered.filter(col("doc_id") =!= col("component"))
      engine.rowDelta(ref, inserts, Seq("doc_id"), deleteKeys,
        expectedCurrentSnapshotId = t.metadata.currentSnapshotId)
    }
    // caller-facing outcome: the full post-retire assignment of the
    // remaining affected members (re-clustered singletons fall back to
    // themselves — CC only emits nodes with edges)
    remaining
      .join(reclustered.select(col("doc_id").as("rid"), col("component").as("rc")),
        col("doc_id") === col("rid"), "left")
      .select(col("doc_id"), coalesce(col("rc"), col("doc_id")).as("component"))
  }
}

object ComponentIndex {
  /** The largest ledger (live rows by manifest record counts) an
    * instance loads resident on the driver: 2 MB as two long arrays. At
    * this size the loading call costs what its two pushed-down collects
    * cost; at 2^20 rows it costs about a second more (4 vCPU). */
  private[graft] val ResidentMaxRows: Long = 1L << 17

  /** A table snapshot: (table uuid, snapshot id, manifest list). */
  private type Key = (String, Long, String)

  /** Ledger rows at one snapshot, sorted by `doc_id` in two parallel
    * arrays. */
  private final class Resident(val key: Key, docs: Array[Long],
      comps: Array[Long]) extends Dedup.AssignRows {
    def rows: Seq[(Long, Long)] = docs.indices.map(i => docs(i) -> comps(i))

    def ofDocs(ids: Seq[Long]): Seq[(Long, Long)] = ids.flatMap { d =>
      val i = java.util.Arrays.binarySearch(docs, d)
      if (i >= 0) Some(d -> comps(i)) else None
    }

    def ofLabels(labels: Seq[Long]): Seq[(Long, Long)] = {
      val ls = labels.toSet
      docs.indices.collect { case i if ls(comps(i)) => docs(i) -> comps(i) }
    }

    /** These rows at snapshot `to`: `gone` docs removed, then `added`
      * laid over by `doc_id`. */
    def advance(to: Key, gone: Seq[Long], added: Seq[(Long, Long)]): Resident = {
      val adds = added.toMap.toArray.sortBy(_._1)
      val drop = gone.toSet ++ adds.map(_._1)
      val (d, c) = (Array.newBuilder[Long], Array.newBuilder[Long])
      var (i, j) = (0, 0)
      while (i < docs.length || j < adds.length) {
        if (j < adds.length && (i == docs.length || adds(j)._1 < docs(i))) {
          d += adds(j)._1; c += adds(j)._2; j += 1
        } else {
          if (!drop(docs(i))) { d += docs(i); c += comps(i) }
          i += 1
        }
      }
      new Resident(to, d.result(), c.result())
    }
  }

  private object Resident {
    def apply(key: Key, rows: Seq[(Long, Long)]): Resident = {
      val sorted = rows.sortBy(_._1)
      new Resident(key, sorted.map(_._1).toArray, sorted.map(_._2).toArray)
    }
  }
}
