package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Engine

/** PERSISTENT near-duplicate band index — the `(doc_id, band, band_sig)`
  * MinHash-LSH index materialized as a Graft table, so incremental and
  * streaming dedup gates probe a standing index instead of re-aggregating
  * corpus text on every call (the one thing incremental dedup exists to
  * avoid).
  *
  * The table lifecycle ([[create]], [[compact]], retires, residual
  * reads, the gate tail) lives in [[PersistedIndex]]; this class keeps
  * the band-signature kernel. [[create]] once, [[bootstrap]] from the
  * standing corpus, then per ingest batch [[admit]] — flag collisions against the index,
  * return the clean survivors, and append exactly the survivors'
  * signatures in one table commit so the next batch sees them. The
  * streaming twin passes [[signatures]] as the static side of
  * `EventStreams.nearDupStream`.
  *
  * Scale shape: the index table carries three fixed-width columns —
  * `nBands` rows per document, no text — and it is written
  * `bucket[nBuckets](band_sig)`-partitioned, so a probe PRUNES to the
  * files whose bucket collides with the batch's band keys instead of
  * scanning the whole index: at 100 TB the index is corpus-rows × nBands
  * rows, and a small ingest batch (≤ a few hundred band keys) touches
  * ~batchBuckets/nBuckets of its files. Each gate pass still touches NO
  * corpus documents. Signature parameters are pinned at construction: an
  * index probed with different (numPerm, rowsPerBand) than it was built
  * with would silently miss every collision. (The BUCKET count, by
  * contrast, is read back from the table's own partition specs at probe
  * time by [[ScanPlanner]]'s pruned read — pruning with a different N
  * than the files were written under would be silently unsound, so the
  * constructor value is only used by [[create]].)
  */
final class NearDupIndex(
    engine: Engine,
    ref: String,
    val numPerm: Int = 16,
    val rowsPerBand: Int = 4,
    val nBuckets: Int = 32) extends PersistedIndex(engine, ref) {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("band_sig", LongType, nullable = false)))

  /** Bucket-partitioned on the probe key so gate passes prune (see
    * [[probePaths]]). */
  protected def partitionDecls: Seq[String] = Seq(s"bucket[$nBuckets](band_sig)")
  protected def idColumn: String = "doc_id"

  /** Seed the index from the standing corpus — the ONLY call that
    * aggregates corpus text; everything after probes the table. */
  def bootstrap(corpus: DataFrame): Unit = {
    engine.append(ref, Dedup.bandSignatures(corpus, numPerm, rowsPerBand)
      .select(col("doc_id"), col("band"), col("band_sig")))
    ()
  }

  /** The standing index — a plain Graft-table scan (ids and 8-byte band
    * keys; no document text anywhere in this plan). */
  def signatures: DataFrame = rowsOf(engine.load(ref))

  /** Paths of the index files a probe for `batchSigs` must read: the
    * batch's distinct band-sig buckets (≤ nBuckets ints — a
    * metadata-scale census) prune the table's files through
    * [[ScanPlanner.pathsWhereInFrame]], under the bucket count each file
    * was WRITTEN with (read from the table's own partition specs, never
    * the constructor). Files with no recorded bucket value (written
    * before the table was bucketed) survive conservatively. */
  def probePaths(batchSigs: DataFrame): Seq[String] =
    ScanPlanner.pathsWhereInFrame(engine.spark, engine.load(ref), "band_sig", batchSigs)

  /** The index restricted to the files `batchSigs` can collide with —
    * a bucket-pruned scan with merge-on-read deletes still applied. */
  private def probeSignatures(batchSigs: DataFrame): DataFrame =
    ScanPlanner.readTableWhereInFrame(engine.spark, engine.load(ref), "band_sig", batchSigs)

  /** Flag increment docs whose bands collide with the index: one row per
    * flagged doc `(doc_id, dup_of, n_bands)`; absent docs are clean.
    * The batch's signatures are materialized ONCE (they feed both the
    * bucket-prune census and the collision join), and the index side is
    * the bucket-pruned file subset, not the whole table. */
  def check(increment: DataFrame): DataFrame =
    collisions(Dedup.bandSignatures(increment, numPerm, rowsPerBand)
      .localCheckpoint())

  /** [[check]] over already-materialized band signatures. */
  private def collisions(batchSigs: DataFrame): DataFrame =
    Dedup.bandCollisions(batchSigs, probeSignatures(batchSigs))

  /** Gate one ingest batch: return the docs that do NOT collide with the
    * index, and append exactly those docs' band signatures (one commit)
    * so subsequent batches — and any live `nearDupStream` readers on the
    * table — see them.
    *
    * By default intra-batch near-duplicates are both admitted (the
    * gate's contract is "new vs standing corpus", matching
    * [[Dedup.incrementalNearDup]]). `dedupWithinBatch = true` runs the
    * batch-local pass first: docs sharing a band within the batch form a
    * collision graph, [[Dedup.connectedComponents]] keeps the min-id doc
    * of every component (the same keep rule as the corpus dedup
    * pipeline), and only the kept docs face the index gate — so the
    * very first post-bootstrap batch can't seed the index with its own
    * internal duplicates. The intra-batch pair join is band-bucketed
    * (equi-join on `(band, band_sig)`), never all-pairs.
    *
    * The batch is hashed ONCE: its band signatures feed the gate probe
    * and the survivors' append (a semi-join on the survivors' ids). */
  def admit(
      increment: DataFrame, dedupWithinBatch: Boolean = false): DataFrame = {
    val sigs = Dedup.bandSignatures(increment, numPerm, rowsPerBand)
      .localCheckpoint()
    val (batch, batchSigs) =
      if (!dedupWithinBatch) (increment, sigs)
      else {
        val pairs = sigs
          .select(col("doc_id").as("a_id"), col("band"), col("band_sig"))
          .join(sigs.select(col("doc_id").as("b_id"), col("band"), col("band_sig")),
            Seq("band", "band_sig"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct()
        val drop = Dedup.connectedComponents(pairs)
          .filter(col("doc_id") =!= col("component")).select("doc_id")
          .localCheckpoint()
        (increment.join(drop, Seq("doc_id"), "left_anti"),
          sigs.join(drop, Seq("doc_id"), "left_anti").localCheckpoint())
      }
    val flagged = collisions(batchSigs).select(col("doc_id"))
    val survivors = batch.join(flagged, Seq("doc_id"), "left_anti")
      // one evaluation feeds both the signature append and the caller
      .localCheckpoint()
    engine.append(ref, batchSigs.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("band"), col("band_sig")))
    survivors
  }

  /** RETIRE docs from the index (corpus deletion): one pure keyed
    * equality-delete commit drops every band row of the retired ids —
    * without it, future gate probes still collide with the GHOSTS of
    * deleted documents and wrongly reject fresh copies. Merge-on-read
    * (no data rewrite); [[compact]] folds the tombstones later. The
    * ledger twin is [[ComponentIndex.retire]] — retire the signatures
    * FIRST so its `pairsAmong` provider no longer sees retired docs. */
  def retire(retired: Seq[Long]): graft.meta.TableWriter.CommitResult =
    deleteIds(idFrame(retired))

  /** [[retire]] with the retired ids as a DataFrame (`doc_id` column) —
    * the corpus-scale form ([[PersistedIndex.deleteIds]]). */
  def retire(retired: DataFrame): graft.meta.TableWriter.CommitResult =
    deleteIds(retired)

  /** Residual candidate pairs among `ids` — the canonical `pairsAmong`
    * provider for [[ComponentIndex.retire]] over a CORPUS ledger: the
    * docs' OWN band signatures, read back from this index through the
    * file-stats POINT-SET prune ([[ScanPlanner.readTableWhereInSet]] —
    * per-admit files carry tight doc_id bounds, so a file is opened only
    * if it may hold one of THESE ids; a span prune over a scattered
    * retire set would degrade to reading nearly every live file between
    * min and max), self-collide within band buckets. `ids` is
    * affected-component-bounded (the retire contract), so the driver
    * collect is safe. Call AFTER [[retire]]-ing the deleted docs here,
    * or their ghosts re-enter the residual graph.
    *
    * CONTRACT CAVEAT: this provider only sees docs whose signatures the
    * index HOLDS — admitted/corpus docs. A GATE-COMPOSED ledger
    * ([[admitStream]]'s `components`) also records REJECTED docs, whose
    * signatures were never appended; a retire touching their component
    * would degrade them to singletons (their provenance edges are
    * invisible here). For such ledgers derive the residual pairs from
    * the raw document store instead ([[Dedup.pairsFromDocs]]). */
  def pairsAmong(ids: DataFrame): DataFrame = pairsAmong(ids, Dedup.LiteralMaxIds)

  /** [[pairsAmong]] with an explicit literal-vs-join threshold
    * ([[PersistedIndex.rowsAmong]]). */
  def pairsAmong(ids: DataFrame, inMaxIds: Int): DataFrame = {
    val sigs = rowsAmong(ids, inMaxIds)
    Dedup.bandCollisionPairs(sigs, sigs)
      .filter(col("doc_id") =!= col("corpus_doc_id"))
      .select(col("doc_id").as("a_id"), col("corpus_doc_id").as("b_id"))
  }

  /** STREAMING gate: run every micro-batch of `docs` through the
    * [[admit]] logic — bucket-pruned probe against the standing index,
    * survivors' band signatures appended in one commit, survivors handed
    * to `onSurvivors` (write them to the corpus table, a sink, etc.).
    *
    * Versus `EventStreams.nearDupStream` (a stream-static band join that
    * re-scans the WHOLE index every micro-batch and only FLAGS
    * collisions), this is the closed-loop form: each batch's probe reads
    * only the index files its band keys collide with, and admitted docs
    * become part of the index for the very next batch.
    *
    * Redelivery-safe under foreachBatch's at-least-once (doc_ids must be
    * stable across redelivery): a doc whose FULL band-signature set is
    * already in the index under its own id was admitted by a previous
    * delivery of this batch — it passes through to `onSurvivors` again
    * (the sink sees at-least-once, never loses a survivor) and appends
    * nothing. Matching on (id, band, band_sig) rather than id presence
    * means a NEW doc that merely reuses an indexed id (a source restarting
    * its id sequence) is NOT mistaken for a redelivery: its signatures
    * differ, so it is gated against the index like any other doc. The
    * already-indexed check probes the same PRUNED slice as the collision
    * join — a doc's own signatures live in its own band buckets — so no
    * full index scan enters the loop.
    *
    * `components`, when given, maintains the persisted dup-cluster
    * assignment alongside the gate: each micro-batch's COMPLETE
    * collision pair set ([[Dedup.bandCollisionPairs]] — not the
    * min-aggregated `dup_of`, so a doc bridging two standing components
    * merges them) folds into the [[ComponentIndex]]
    * ([[Dedup.incrementalComponents]] under the hood), so rejected docs
    * keep a provenance row in the assignment ledger and transitive dup
    * chains close ACROSS micro-batches. Redelivery-safe for free: a
    * redelivered batch's pairs are already absorbed and the fold is an
    * idempotent no-op (no commit). Collision-free batches never load
    * the component table at all. NOTE the ledger is PROVENANCE here,
    * not a corpus drop list: rejected docs never enter the corpus, so a
    * cluster's min id can be a doc that exists only in the ledger
    * ([[ComponentIndex.dropList]] documents the distinction).
    *
    * The batch's INTERNAL collision pairs fold too (fold-only: both
    * docs are admitted), restricted to docs not already indexed so a
    * redelivered batch contributes nothing; without them the ledger
    * would diverge from a signature-level from-scratch closure. */
  def admitStream(
      docs: DataFrame,
      checkpointDir: String,
      components: Option[ComponentIndex] = None)(
      onSurvivors: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream(docs, checkpointDir) { batch =>
      val batchSigs = Dedup.bandSignatures(batch, numPerm, rowsPerBand)
        .localCheckpoint()
      // the bucket-pruned index slice, materialized once — feeds the
      // collision join AND the already-indexed check
      val probed = probeSignatures(batchSigs).localCheckpoint()
      // redelivered iff EVERY band row matches the index under the doc's
      // own id — id presence alone would mistake an id-reusing new doc
      // for a redelivery (and silently skip gating it)
      val selfIndexed = batchSigs
        .join(probed, Seq("doc_id", "band", "band_sig"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") === numPerm / rowsPerBand).select(col("doc_id"))
        .localCheckpoint()
      def pairsWith(index: DataFrame) = Dedup.bandCollisionPairs(batchSigs, index)
        .select(col("doc_id").as("a_id"), col("corpus_doc_id").as("b_id"))
      val (survivors, fresh) = gate(batch, pairsWith(probed), selfIndexed,
        components, pairsWith(batchSigs).filter(col("a_id") =!= col("b_id")))
      if (!fresh.isEmpty)
        // the fresh docs' signatures are already materialized in
        // batchSigs — append from the checkpoint instead of paying a
        // second tokenize+hash pass over the batch text
        engine.append(ref,
          batchSigs.join(fresh.select("doc_id"), Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("band"), col("band_sig")))
      onSurvivors(survivors)
    }
}
