package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Engine

/** PERSISTENT IVF-Flat / IVF-PQ index — the embeddings twin of
  * [[NearDupIndex]]: the learned coarse quantizer (centroids) and every
  * vector's inverted-list assignment materialized as a Graft table, so
  * repeated mining / search / semdedup runs SKIP re-clustering entirely
  * and probes read only the probed lists' files.
  *
  * Layout: one row per vector `(vec_id, label, cluster, v_norm,
  * embedding[, codes])`, identity-partitioned on `cluster` — the
  * partition IS the inverted list, so a probe batch touching `nProbe`
  * clusters prunes the scan to those clusters' files through the
  * table's own partition spec (no bloom/bucket indirection needed; the
  * cluster id is the exact list key). The vectors ride INLINE (the
  * table owns `list<float>` payloads — no join back to a corpus table
  * at probe time), with the per-vector norm precomputed once at
  * admission. With `pqM > 0` the index is IVF-PQ: per-subspace
  * product-quantization `codes` ride each row, the scoring pass of a
  * probe reads codes only (column pruning keeps the 4·dim-byte vectors
  * out of the dominant list IO), and the inline vectors serve the exact
  * rerank of the shortlist — the FAISS IVF-PQ serving shape.
  * Centroids persist in the table PROPERTIES (`Double.toString` exact
  * round-trip), read back on every probe — at IVF scale (k ≈ √N) the
  * centroid matrix is driver-state-sized, the same contract as
  * [[Clustering.kmeans]]'s per-iteration collect.
  *
  * The table lifecycle ([[create]], [[compact]], retires, residual
  * reads, the gate tail) lives in [[PersistedIndex]]; this class keeps
  * the quantizer. [[create]] once, [[bootstrap]] from the standing
  * corpus (the ONLY call that runs kmeans), then [[admit]] per ingest
  * batch —
  * new vectors are assigned to the FROZEN centroids (map-side argmin,
  * no retrain, one append commit) and land in their lists for the very
  * next probe. Re-train by rebuilding: quantizer drift under
  * distribution shift is a rebuild decision, not an incremental one
  * (the standard IVF posture).
  */
final class AnnIndex(
    engine: Engine,
    ref: String,
    val kClusters: Int = 4,
    val iters: Int = 2,
    val pqM: Int = 0,
    val pqK: Int = 16) extends PersistedIndex(engine, ref) {

  /** With `pqM > 0` the index is IVF-PQ: every row additionally carries
    * `codes` — `pqM` per-subspace product-quantization codes (one byte
    * each at realistic `pqK`) — and probes ADC-scan the codes with an
    * exact rerank instead of reading the full vectors
    * ([[Similarity.ivfPqRouted]]). `pqM`/`pqK` matter only at
    * [[create]]/[[bootstrap]] time; every read path detects PQ from the
    * persisted codebooks property, so a default-constructed handle
    * serves an existing PQ index correctly. */
  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("label", IntegerType, nullable = true),
    StructField("cluster", IntegerType, nullable = false),
    StructField("v_norm", DoubleType, nullable = false),
    StructField("embedding", ArrayType(FloatType), nullable = false)) ++
    (if (pqM > 0)
      Seq(StructField("codes", ArrayType(IntegerType), nullable = false))
    else Nil))

  /** Identity-partitioned on the cluster id — each partition is one
    * inverted list. */
  protected def partitionDecls: Seq[String] = Seq("cluster")
  protected def idColumn: String = "vec_id"

  private val CentroidsProp = AnnIndex.CentroidsProp

  private def assignedRows(emb: DataFrame, cents: Seq[Seq[Double]],
      cbs: Option[Seq[Seq[Seq[Double]]]]): DataFrame = {
    val base = Clustering.assign(emb, cents)
      .withColumn("v_norm", Similarity.norm("embedding"))
      .select(col("vec_id"), col("label").cast("int").as("label"),
        col("cluster"), col("v_norm"), col("embedding"))
    // PQ indexes carry the codes INLINE — encoded once at admission
    // (map-side argmin over the frozen codebook literals), never
    // recomputed at probe time
    cbs.fold(base)(cb =>
      base.withColumn("codes", Similarity.pqCodes(cb, "embedding")))
  }

  /** Train the quantizer (and, for `pqM > 0`, the per-subspace PQ
    * codebooks) and seed every corpus vector's assignment — the ONLY
    * call that runs kmeans. One commit carries the assignments AND the
    * centroid matrix / codebooks (as table properties), so the index is
    * self-contained from its first snapshot. */
  def bootstrap(emb: DataFrame): Seq[Seq[Double]] = {
    // the coarse quantizer and (for a PQ index) the codebooks train
    // CONCURRENTLY through the one shared site
    // ([[Similarity.trainCoarseAndCodebooks]]) — results identical to
    // the sequential run
    val (model, cbs) =
      Similarity.trainCoarseAndCodebooks(emb, kClusters, iters, pqM, pqK)
    val cents = model.centroids
    val rows = assignedRows(emb, cents, cbs).localCheckpoint()
    graft.meta.TableWriter.append(engine.spark, engine.tableDir(ref),
      rows, extraProperties = quantizerProps(cents, rows, cbs, iters))
    cents
  }

  /** The persisted quantizer state of one training run, assembled in ONE
    * place for [[bootstrap]] and [[rebuild]] (the encodings must never
    * diverge between the two commit paths): the coarse centroids, the
    * per-cluster occupancy of `rows` — the reference distribution the
    * drift canary ([[AnnIndex.drift]]) compares later admissions
    * against — the kmeans iteration count that produced the quantizer
    * (so a later [[rebuild]] retrains at the SAME depth instead of a
    * default-constructed handle's), and, for a PQ index, the
    * codebooks. */
  private def quantizerProps(cents: Seq[Seq[Double]], rows: DataFrame,
      cbs: Option[Seq[Seq[Seq[Double]]]], trainedIters: Int): Map[String, String] = {
    val bootCounts = rows.groupBy("cluster").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    Map(
      CentroidsProp -> renderCentroids(cents),
      AnnIndex.ItersProp -> trainedIters.toString,
      AnnIndex.BootCountsProp ->
        bootCounts.map { case (c, n) => s"$c:$n" }.mkString(",")) ++
      cbs.map(cb => AnnIndex.PqCodebooksProp ->
        cb.map(renderCentroids).mkString("|"))
  }

  /** `Double.toString` round-trips every finite double exactly, so the
    * persisted quantizer is bit-identical to the trained one. */
  private def renderCentroids(cents: Seq[Seq[Double]]): String =
    cents.map(_.map(_.toString).mkString(",")).mkString(";")

  private def parseCentroids(props: Map[String, String]): Seq[Seq[Double]] = {
    val raw = props.getOrElse(CentroidsProp,
      throw new IllegalStateException(
        s"$ref has no persisted centroids — bootstrap() the index first"))
    raw.split(';').toSeq.map(_.split(',').toSeq.map(_.toDouble))
  }

  private def parseCodebooks(
      props: Map[String, String]): Option[Seq[Seq[Seq[Double]]]] =
    props.get(AnnIndex.PqCodebooksProp)
      .map(_.split('|').toSeq.map(sub =>
        sub.split(';').toSeq.map(_.split(',').toSeq.map(_.toDouble))))

  /** The frozen quantizer, read from the table's own metadata — probes
    * and admissions never re-cluster. */
  def centroids: Seq[Seq[Double]] =
    parseCentroids(engine.load(ref).metadata.properties)

  /** The frozen PQ codebooks (`codebooks(j)(c)` = centroid `c` of
    * subspace `j`), read from the table's own metadata — None for a
    * flat (non-PQ) index. Exact `Double.toString` round-trip, like the
    * coarse quantizer. */
  def codebooks: Option[Seq[Seq[Seq[Double]]]] =
    parseCodebooks(engine.load(ref).metadata.properties)

  /** ONE metadata load pinning a whole serving/admission call: the
    * snapshot (every candidate scan), the frozen coarse quantizer, and
    * the PQ codebooks all come off the SAME load, so a [[bootstrap]]
    * commit landing mid-call cannot mix quantizer generations (probes
    * routed by old centroids but ADC-scored with new codebooks, or a
    * census taken against a different snapshot than the scan). */
  private def pinned: (graft.meta.IcebergTable, Seq[Seq[Double]],
      Option[Seq[Seq[Seq[Double]]]]) = {
    val t = engine.load(ref)
    val props = t.metadata.properties
    (t, parseCentroids(props), parseCodebooks(props))
  }

  /** The standing index (all lists). */
  def signatures: DataFrame = rowsOf(engine.load(ref))

  /** [[candidates]] against an already-pinned table — every internal
    * serving path routes here so the candidate scan shares its caller's
    * metadata load ([[pinned]]). */
  private def candidatesOf(t: graft.meta.IcebergTable,
      clusters: Seq[Int]): DataFrame =
    ScanPlanner.readTableWhereIn(engine.spark, t,
      "cluster", clusters.map(_.toString))

  /** The index restricted to `clusters`' inverted lists: file pruning
    * through the identity partition spec ([[ScanPlanner.readTableWhereIn]])
    * — a probe touching 2 of k lists reads ~2/k of the index files. */
  def candidates(clusters: Seq[Int]): DataFrame =
    candidatesOf(engine.load(ref), clusters)

  /** Route EXTERNAL `(vec_id, embedding)` probes to their `nProbe`
    * nearest frozen lists and census the routed clusters
    * (metadata-scale collect — ≤ kClusters ints). The localCheckpoint
    * feeds the census AND the downstream probe join off one
    * materialization. Shared by the external [[search]] overloads and
    * [[decontam]] — the routing contract lives in one place. */
  private def routedProbes(probeVecs: DataFrame, cents: Seq[Seq[Double]],
      nProbe: Int): (DataFrame, Seq[Int]) = {
    val probes = probeVecs
      .withColumn("q_norm", Similarity.norm("embedding"))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("q_norm"),
        explode(Similarity.probedClusters(cents, nProbe)).as("cluster"))
      .localCheckpoint()
    (probes, censusOf(probes))
  }

  private def censusOf(probes: DataFrame): Seq[Int] =
    probes.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  /** Assign an ingest batch to the frozen centroids (and, for a PQ
    * index, encode it against the frozen codebooks) and append it to
    * the lists — one map-side argmin projection + one commit, no
    * kmeans. Returns the assigned rows (what landed). */
  def admit(newVecs: DataFrame): DataFrame = {
    val (_, cents, cbs) = pinned
    val rows = assignedRows(newVecs, cents, cbs).localCheckpoint()
    engine.append(ref, rows)
    rows
  }

  /** ANN top-`k` cosine search: probes (index rows matching `probePred`)
    * route to their `nProbe` nearest lists, candidates come from the
    * PRUNED list scan joined on the cluster key, per-probe top-k by
    * (sim DESC, id). No kmeans — centroids come from table properties;
    * the only pre-query job is the probes' routed-cluster census
    * (metadata-scale: ≤ kClusters ints). On a PQ index the scan is the
    * ADC shortlist + exact rerank (`rerank` candidates per probe;
    * 0 = max(4·k, 16)) and the result carries an extra `adc_micro`
    * column. */
  def search(probePred: Column, k: Int = 3, nProbe: Int = 2,
      rerank: Int = 0): DataFrame = {
    val (t, cents, cbs) = pinned
    val probes = ScanPlanner.readTable(engine.spark, t).filter(probePred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("v_norm").as("q_norm"),
        explode(Similarity.probedClusters(cents, nProbe)).as("cluster"))
      .localCheckpoint()
    searchRouted(t, cbs, probes, censusOf(probes), k,
      excludeSelf = true, rerank)
  }

  /** ANN search for EXTERNAL query vectors — the serving path: assign
    * caller-supplied `(vec_id, embedding)` rows to the FROZEN centroids
    * map-side and probe the `nProbe` nearest lists, WITHOUT admitting
    * them (the index is never mutated, no kmeans runs). Unlike the
    * predicate overload, candidate rows sharing a probe's `vec_id` are
    * NOT excluded — external ids are a separate namespace from index
    * ids. */
  def search(probeVecs: DataFrame, k: Int, nProbe: Int): DataFrame =
    search(probeVecs, k, nProbe, 0)

  /** [[search(probeVecs*)]] with an explicit PQ rerank budget. */
  def search(probeVecs: DataFrame, k: Int, nProbe: Int, rerank: Int): DataFrame = {
    val (t, cents, cbs) = pinned
    val (probes, probed) = routedProbes(probeVecs, cents, nProbe)
    searchRouted(t, cbs, probes, probed, k, excludeSelf = false, rerank)
  }

  /** Shared search tail over ALREADY-ROUTED, already-censused probes —
    * the table and codebooks come from the caller's [[pinned]] load.
    *
    * Flat index: equi-join probes against the pruned lists on the
    * cluster key, per-probe top-k by (sim DESC, id).
    *
    * PQ index (codebooks persisted): the FAISS IVF-PQ serving shape —
    * the scoring pass reads `(cluster, vec_id, codes)` ONLY (column
    * pruning keeps the 4·dim-byte vectors out of the dominant list IO),
    * ADC-shortlists `rerank` candidates per probe by exact integer LUT
    * sums, and only the shortlist joins back to the inline vectors for
    * the exact cosine rerank. With `rerank` covering the probed lists
    * the result equals the flat scan; the extra `adc_micro` column
    * rides in the output. */
  private def searchRouted(t: graft.meta.IcebergTable,
      cbs: Option[Seq[Seq[Seq[Double]]]], probes: DataFrame,
      probed: Seq[Int], k: Int, excludeSelf: Boolean,
      rerank: Int): DataFrame = {
    cbs match {
      case Some(cb) =>
        // both passes are projections of the same pinned pruned
        // relation — the code scan and the vector scan cannot skew
        val cand = candidatesOf(t, probed)
        val candCodes = cand.select(col("cluster"),
          col("vec_id").as("c_id"), col("codes"))
        val candVecs = cand.select(col("vec_id").as("c_id"),
          col("embedding").as("c_emb"), col("v_norm").as("c_norm"))
        val r = if (rerank > 0) rerank else math.max(4 * k, 16)
        Similarity.ivfPqRouted(probes, candCodes, candVecs, cb, k, r,
          excludeSelf)
      case None =>
        val cands = candidatesOf(t, probed).select(col("cluster"),
          col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("v_norm").as("c_norm"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
        probes.join(cands, Seq("cluster"))
          .filter(if (excludeSelf) col("q_id") =!= col("c_id") else lit(true))
          .select(col("q_id"), col("cluster"), col("c_id"),
            Similarity.cosineFromNorms("c_emb", "q_emb", "c_norm", "q_norm").as("sim"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
          .select("q_id", "cluster", "c_id", "sim", "rn")
          .orderBy("q_id", "rn")
    }
  }

  /** Index-served SEMANTIC DECONTAMINATION — the persisted-index route
    * for [[Similarity.semanticDecontam]] against a 100 TB corpus: the
    * benchmark/test probe vectors (external `(vec_id, embedding)` rows,
    * never admitted) route to their `nProbe` nearest lists, and the
    * contaminated-corpus scan reads ONLY the probed lists' files. Same
    * output contract as `semanticDecontam`: one row per flagged corpus
    * vector — hit count, best similarity, lowest matching probe id —
    * ordered by vector id. The cosine gate is EXACT over the pruned
    * lists (recall tunes with nProbe, the IVF posture), and the
    * benchmark-sized probe side broadcasts. */
  def decontam(probeVecs: DataFrame, threshold: Double,
      nProbe: Int = 2): DataFrame = {
    val (t, cents, _) = pinned
    val (probes, probed) = routedProbes(probeVecs, cents, nProbe)
    val cands = candidatesOf(t, probed).select(col("cluster"),
      col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("v_norm").as("c_norm"))
    // the gate + output contract is the SHARED helper — the from-scratch
    // twin (q_semantic_decontam_ivf) and this route cannot diverge
    Similarity.routedDecontamHits(cands, probes, threshold)
  }

  /** Index-served hard-negative mining: [[Similarity.hardNegativesRouted]]
    * with the probe side from the index and the candidate side from the
    * PRUNED list scan — same results as `hardNegativesIvf` over the raw
    * corpus with this index's quantizer, no kmeans, no full-index scan. */
  def hardNegatives(probePred: Column, k: Int = 3, nProbe: Int = 2): DataFrame = {
    val (t, cents, _) = pinned
    val probes = ScanPlanner.readTable(engine.spark, t)
      .filter(probePred).localCheckpoint()
    val probed = probes
      .select(explode(Similarity.probedClusters(cents, nProbe)).as("c"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    Similarity.hardNegativesRouted(probes, candidatesOf(t, probed), cents,
      k, nProbe)
  }

  /** Index-served SemDeDup: the in-cluster cosine pair search over the
    * PERSISTED assignments — same dropped-rows contract as
    * [[Similarity.semDeDup]] with this index's quantizer, no kmeans, no
    * assignment recompute (the k-dot-products-per-row argmin, the most
    * expensive map pass of the from-scratch run, was paid once at
    * admission). */
  def semDeDup(threshold: Double): DataFrame =
    Similarity.semDeDupAssigned(signatures, threshold)

  /** SEMANTIC admission gate — the embedding twin of
    * [[NearDupIndex.admit]]: return the batch vectors that are NOT
    * cosine near-duplicates (`sim >= threshold`) of anything already in
    * the index, and append exactly those in one commit so later batches
    * (and live [[admitStream]] readers) see them. The candidate side is
    * the PRUNED list scan (only the batch's probed clusters' files);
    * `dedupWithinBatch = true` first drops intra-batch near-dups by the
    * SemDeDup min-id rule, so a batch cannot seed the index with its own
    * internal duplicates. Returns the admitted rows (index schema).
    *
    * Redelivery-safe (vec_ids stable across redelivery): a vector whose
    * own (id, cluster, norm) row is already indexed was admitted by a
    * previous delivery — it passes through as a survivor again
    * (at-least-once for the caller) and appends nothing; its own index
    * row never flags it (the `c_id != vec_id` filter), and a NEW vector
    * reusing an indexed id lands in a different cluster or norm and is
    * gated normally.
    *
    * `components`, when given, maintains the persisted dup-cluster
    * assignment alongside the gate — the SEMANTIC twin of
    * [[NearDupIndex.admitStream]]'s ledger composition: each batch's
    * COMPLETE cosine collision pair set (every `(vec, indexed
    * neighbor)` at or above the threshold — not just one flag per
    * vector, so a vector bridging two standing components merges them)
    * folds into the [[ComponentIndex]], so rejected vectors keep a
    * provenance row and transitive semantic-dup chains close ACROSS
    * batches. INTRA-batch edges fold too (same as the minhash gate's
    * stream composition): two mutual cosine near-dups arriving in the
    * SAME batch are both ADMITTED — the gate contract is "new vs
    * standing index", unchanged — but their within-cluster edge joins
    * the fold, so the ledger equals the cosine closure over everything
    * the gate saw instead of silently losing same-batch pairs. (With
    * `dedupWithinBatch = true` the intra-batch loser is dropped BEFORE
    * the gate and leaves no provenance — the caller chose to discard
    * it.) Redelivery is an idempotent no-op (absorbed pairs fold to
    * an empty delta — no commit; selfIndexed endpoints are suppressed
    * from the intra set), and collision-free batches never load the
    * ledger table. */
  def admitIfNovel(newVecs: DataFrame, threshold: Double,
      dedupWithinBatch: Boolean = false,
      components: Option[ComponentIndex] = None): DataFrame = {
    val (pinnedT, cents, cbs) = pinned
    // FUSED driver plumbing (the gate fronts micro-batch streams, where
    // fixed per-job driver overhead dominates small batches): exactly
    // THREE Spark jobs before the append — (1) the cluster census,
    // which doubles as the emptiness probe, (2) the survivor
    // checkpoint, (3) the fresh-rows emptiness probe — pinned by
    // AnnIndexSpec's job census. Batch-scale intermediates are cache()d
    // (materialized as a side effect of those jobs, no job of their
    // own) and released before return; the survivor checkpoint cuts
    // their lineage so the released caches are never recomputed.
    val assigned0 = assignedRows(newVecs, cents, cbs).cache()
    val assigned =
      if (!dedupWithinBatch) assigned0
      else assigned0.join(
          Similarity.semDeDupAssigned(assigned0, threshold).select("vec_id"),
          Seq("vec_id"), "left_anti")
    // job 1 — the PRE-dedup census: decides the probed lists (a
    // superset of the post-dedup batch's clusters — same results,
    // at most a few extra metadata-small list files) and doubles as
    // the empty-micro-batch probe
    val probed = assigned0.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (probed.isEmpty) { assigned0.unpersist(); return assigned0 }
    // the pruned index slice — feeds the collision join AND the
    // redelivery check; cached, materialized by jobs 2-3; pinned to the
    // same metadata load as the quantizers above
    val cands = candidatesOf(pinnedT, probed).select(col("cluster"),
      col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("v_norm").as("c_norm"))
      .cache()
    // redelivered iff the vector's own (id, cluster, norm) row is
    // already indexed — such a vector was ADMITTED by a previous
    // delivery and must never be flagged (not even by its co-delivered
    // near-dups' now-indexed rows: a redelivered batch of mutual
    // near-dups would otherwise flag each other and silently shrink the
    // survivor set a retrying sink depends on). New vectors still gate
    // against ALL index rows, including redelivered ones'.
    val selfIndexed = assigned
      .join(cands.select(col("c_id").as("vec_id"), col("cluster"),
          col("c_norm").as("v_norm")),
        Seq("vec_id", "cluster", "v_norm"), "left_semi")
      .select("vec_id")
    // the batch-vs-index cosine collision pairs
    val pairs = assigned.join(cands, Seq("cluster"))
      .filter(col("c_id") =!= col("vec_id"))
      .filter(Similarity.cosineFromNorms(
        "c_emb", "embedding", "c_norm", "v_norm") >= threshold)
      .select(col("vec_id").as("a_id"), col("c_id").as("b_id"))
    // job 2 — the gate's one checkpoint of the survivors and their
    // redelivery flag; with a ledger, the batch-vs-index and intra-batch
    // cosine pairs fold in first (the fold-before-append ORDER and the
    // conflict RETRY are `PersistedIndex.foldEdges`')
    val (survivors, fresh) = gate(assigned, pairs, selfIndexed, components,
      pairsOf(assigned.select(col("vec_id"), col("cluster"), col("v_norm"),
        col("embedding")), threshold))
    // job 3 — emptiness probe on the checkpointed rows (limit-1 scan)
    if (!fresh.isEmpty) { engine.append(ref, fresh); () }
    assigned0.unpersist()
    cands.unpersist()
    survivors
  }

  /** STREAMING semantic gate: every micro-batch of `vecs` runs through
    * [[admitIfNovel]] — frozen-centroid assignment, pruned-list cosine
    * probe, survivors appended in one commit and handed to
    * `onSurvivors` — so an embedding stream deduplicates semantically
    * against an index that grows with its own admissions. `components`
    * maintains the persisted dup-cluster ledger alongside the gate
    * (see [[admitIfNovel]] — the semantic twin of
    * [[NearDupIndex.admitStream]]'s composition: same redelivery
    * idempotence, same intra-micro-batch edge folding). */
  def admitStream(
      vecs: DataFrame, threshold: Double, checkpointDir: String,
      dedupWithinBatch: Boolean = false,
      components: Option[ComponentIndex] = None)(
      onSurvivors: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream(vecs, checkpointDir) { batch =>
      onSurvivors(admitIfNovel(batch, threshold, dedupWithinBatch, components))
    }

  /** REBUILD the quantizer — the action [[AnnIndex.drift]] recommends
    * when admissions have outgrown the bootstrap distribution: retrain
    * the coarse centroids (and, for a PQ index, the PQ codebooks) from
    * the index's CURRENT vectors, reassign every row to the fresh lists,
    * and replace the table's data AND quantizer/baseline properties in
    * ONE overwrite commit — a reader pinned to the old snapshot keeps a
    * consistent old-quantizer view, and the next [[pinned]] load serves
    * the new one; no mixed-generation state is ever observable. The
    * drift baseline resets to the rebuilt occupancy (a post-rebuild
    * [[drift]] reads "no admissions since bootstrap").
    *
    * Structural parameters come from the PERSISTED state, not the
    * handle — k from the stored centroid count, PQ-ness and its M/K
    * from the stored codebook dims, and the training ITERATION COUNT
    * from the stored [[AnnIndex.ItersProp]] — so a default-constructed
    * handle rebuilds an existing index faithfully (the same contract as
    * the serving paths) at the bootstrap's own training depth rather
    * than silently downgrading to the handle default. `itersOverride`
    * retrains deeper or shallower on purpose (and becomes the persisted
    * depth for the NEXT rebuild); indexes persisted before the property
    * existed fall back to the handle's `iters`. Training is
    * deterministic ([[Clustering.kmeans]]'s
    * lowest-id init), so a rebuild over unchanged rows reproduces a
    * from-scratch bootstrap of the same vectors exactly.
    *
    * CAS-guarded against concurrent admissions: the rows being written
    * were derived from the PINNED snapshot, and retraining is the
    * longest window in the engine — an [[admit]]/[[admitIfNovel]] batch
    * landing inside it would be silently erased by an unconditional
    * replace. The overwrite therefore carries the pinned snapshot id as
    * its precondition and a mid-rebuild admission surfaces as
    * [[graft.meta.CommitConflictException]] (rerun the rebuild; it picks
    * up the admitted rows). */
  def rebuild(itersOverride: Option[Int] = None): Seq[Seq[Double]] = {
    val (t, oldCents, oldCbs) = pinned
    val trainIters = itersOverride
      .orElse(t.metadata.properties.get(AnnIndex.ItersProp).map(_.toInt))
      .getOrElse(iters)
    val current = ScanPlanner.readTable(engine.spark, t)
      .select(col("vec_id"), col("label"), col("embedding"))
    val (model, cbs) = Similarity.trainCoarseAndCodebooks(current,
      oldCents.length, trainIters,
      oldCbs.map(_.length).getOrElse(0),
      oldCbs.map(_.head.length).getOrElse(pqK))
    val cents = model.centroids
    val rows = assignedRows(current, cents, cbs).localCheckpoint()
    graft.meta.TableWriter.overwrite(engine.spark, engine.tableDir(ref),
      rows, extraProperties = quantizerProps(cents, rows, cbs, trainIters),
      expectedCurrentSnapshotId = t.metadata.currentSnapshotId)
    cents
  }

  /** RETIRE vectors from the index (corpus deletion): one pure keyed
    * equality-delete commit — retired vectors stop being served by
    * every frozen-quantizer path (search, decontam, hard negatives) and
    * stop blocking re-admission of fresh copies through the semantic
    * gate. Merge-on-read (no list rewrite; [[compact]] folds the
    * tombstones later); the frozen quantizer and PQ codebooks are
    * untouched — deletion is not distribution shift, the drift canary
    * still compares ADMISSIONS against the bootstrap baseline, and a
    * mass deletion that DOES change the data distribution is what
    * [[rebuild]] is for. */
  def retire(vecIds: Seq[Long]): graft.meta.TableWriter.CommitResult =
    deleteIds(idFrame(vecIds))

  /** [[retire]] with the retired ids as a DataFrame (`vec_id` column) —
    * the corpus-scale form ([[PersistedIndex.deleteIds]]). */
  def retire(vecIds: DataFrame): graft.meta.TableWriter.CommitResult =
    deleteIds(vecIds)

  /** Residual SEMANTIC candidate pairs among `ids` — the cosine twin of
    * [[NearDupIndex.pairsAmong]] and the canonical `pairsAmong` provider
    * for a [[ComponentIndex]] ledger over an INDEXED corpus (e.g. one
    * bootstrapped from [[semDeDup]] pairs): the ids' own rows read back
    * through the point-set bounds prune
    * ([[ScanPlanner.readTableWhereInSet]] — per-admit files carry tight
    * vec_id bounds, so scattered retire ids skip the files between
    * them), self-joined within their inverted lists with the exact
    * cosine gate — the same within-cluster collision semantics as the
    * admission gate. `ids` is affected-component-bounded (the retire
    * contract). Call AFTER [[retire]]-ing the deleted vectors here.
    *
    * CONTRACT CAVEAT (the [[NearDupIndex.pairsAmong]] twin): this
    * provider only sees vectors the index HOLDS. A GATE-COMPOSED ledger
    * ([[admitIfNovel]]'s `components`) also records REJECTED vectors
    * that were never admitted; for those use [[pairsFromVecs]] over the
    * raw embedding store. */
  def pairsAmong(threshold: Double, inMaxIds: Int = Dedup.LiteralMaxIds)(
      ids: DataFrame): DataFrame =
    // the literal-vs-join read is [[PersistedIndex.rowsAmong]]
    pairsOf(rowsAmong(ids, inMaxIds), threshold)

  /** Residual-pair provider from the RAW embedding store — the
    * gate-composed-ledger form ([[graft.ops.Dedup.pairsFromDocs]]'s
    * semantic twin): the affected members' vectors (semi-joined from
    * `vecs`, batch-bounded) assign to the FROZEN quantizer and
    * self-collide within clusters at the threshold, so REJECTED
    * vectors' provenance edges survive component surgery even though
    * their rows were never admitted to the index. */
  def pairsFromVecs(vecs: DataFrame,
      threshold: Double): DataFrame => DataFrame = ids => {
    val (_, cents, _) = pinned
    val rows = assignedRows(
        vecs.join(ids.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi"), cents, None)
      .select(col("vec_id"), col("cluster"), col("v_norm"), col("embedding"))
      .localCheckpoint()
    pairsOf(rows, threshold)
  }

  /** Within-cluster exact-cosine pair join shared by the two residual
    * providers — one definition, the gate's collision semantics. */
  private def pairsOf(rows: DataFrame, threshold: Double): DataFrame = {
    val a = rows.select(col("vec_id").as("a_id"), col("cluster"),
      col("embedding").as("ea"), col("v_norm").as("na"))
    val b = rows.select(col("vec_id").as("b_id"), col("cluster"),
      col("embedding").as("eb"), col("v_norm").as("nb"))
    a.join(b, Seq("cluster"))
      .filter(col("a_id") =!= col("b_id"))
      .filter(Similarity.cosineFromNorms("ea", "eb", "na", "nb") >= threshold)
      .select("a_id", "b_id")
  }

  /** The quantizer drift canary for THIS index — [[AnnIndex.drift]]. */
  def drift: Option[AnnIndex.Drift] =
    AnnIndex.drift(engine.load(ref), Some(engine.spark))
}

object AnnIndex {
  /** Table property carrying the frozen coarse quantizer (exact
    * `Double.toString` round-trip). */
  val CentroidsProp = "graft.ann.centroids"

  /** Table property carrying the bootstrap per-cluster occupancy
    * (`cluster:count,...`) — the reference distribution the drift
    * canary compares admissions against. */
  val BootCountsProp = "graft.ann.bootCounts"

  /** Table property carrying the kmeans iteration count that trained the
    * persisted quantizer — [[AnnIndex.rebuild]] retrains at this depth
    * so a default-constructed handle (CLI `ann-rebuild`) cannot silently
    * produce a shallower quantizer than the original bootstrap. */
  val ItersProp = "graft.ann.iters"

  /** Table property carrying the frozen per-subspace PQ codebooks
    * (`sub|sub`, each `centroid;centroid`, each `comp,comp` — exact
    * `Double.toString` round-trip). Present iff the index is IVF-PQ. */
  val PqCodebooksProp = "graft.ann.pqCodebooks"

  /** Total-variation distance between the admission-share and
    * bootstrap-share distributions above which a quantizer rebuild is
    * recommended. */
  val DriftTvThreshold = 0.3

  /** Census of driver-side `t.files()` walks taken by [[drift]] — specs
    * assert the walk is skipped above the summary gate. */
  private[graft] val driftDriverWalks =
    new java.util.concurrent.atomic.AtomicLong(0L)

  final case class Drift(
      admitted: Long, tv: Double, recommended: Boolean, reason: String)

  /** QUANTIZER DRIFT canary — the trigger for the index's documented
    * rebuild-not-retrain posture: the frozen coarse quantizer was
    * learned from the bootstrap corpus, so when the stream of ADMITTED
    * vectors occupies the inverted lists very differently from the
    * bootstrap distribution, the centroids no longer describe the data
    * and the index should be REBUILT (bootstrap again), not patched.
    *
    * Current per-cluster occupancy comes from partition values × record
    * counts (the partition IS the inverted list), the bootstrap
    * occupancy from the persisted property; admissions are their
    * difference. Metadata-SMALL snapshots (summary-gated on
    * `total-data-files`, [[ScanPlanner.DriverPruneMaxFiles]]) walk
    * `t.files()` on the driver — zero Spark actions; above the gate the
    * files RELATION aggregates executor-parallel (the >2000-entry
    * contract), collecting one row per inverted list. The signal is the
    * total-variation distance between the admission share and the
    * bootstrap share. None for tables that are not a bootstrapped ANN
    * index. */
  def drift(t: graft.meta.IcebergTable,
      spark: Option[org.apache.spark.sql.SparkSession] = None,
      maxDriverFiles: Long = ScanPlanner.DriverPruneMaxFiles): Option[Drift] = {
    val props = t.metadata.properties
    if (!props.contains(CentroidsProp)) return None
    val boot: Map[Int, Long] = props.get(BootCountsProp) match {
      case Some(raw) if raw.nonEmpty =>
        raw.split(',').map { kv =>
          val Array(c, n) = kv.split(':')
          c.toInt -> n.toLong
        }.toMap
      case _ => return None // pre-canary index: no reference distribution
    }
    val totalFiles: Option[Long] = t.metadata.currentSnapshot
      .flatMap(_.summary.get("total-data-files"))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    val rawCounts: Seq[(String, Long)] = spark match {
      case Some(s) if !totalFiles.exists(_ <= maxDriverFiles) =>
        graft.rel.MetaRelations.files(s, t)
          .groupBy(element_at(col("partition"), lit("cluster")).as("c"))
          .agg(sum(col("record_count")).as("n"))
          .collect().toSeq
          .map(r => Option(r.getString(0)).getOrElse("?") -> r.getLong(1))
      case _ =>
        driftDriverWalks.incrementAndGet()
        t.files()
          .groupBy(_.partition.getOrElse("cluster", "?"))
          .toSeq.map { case (c, es) => c -> es.map(_.recordCount).sum }
    }
    // non-numeric partition values (a foreign identity(cluster) layout)
    // are skipped, never thrown on — Try, not a character-class guard,
    // so "" or "1-2" cannot crash advise
    val current: Map[Int, Long] = rawCounts
      .flatMap { case (c, n) => scala.util.Try(c.toInt).toOption.map(_ -> n) }
      .toMap
    val clusters = (boot.keySet ++ current.keySet).toSeq.sorted
    val admittedBy = clusters.map(c =>
      c -> math.max(0L, current.getOrElse(c, 0L) - boot.getOrElse(c, 0L))).toMap
    val admitted = admittedBy.values.sum
    val bootTotal = boot.values.sum.toDouble
    if (admitted == 0L)
      return Some(Drift(0L, 0.0, recommended = false,
        "no admissions since bootstrap"))
    val tv = 0.5 * clusters.map { c =>
      math.abs(admittedBy(c).toDouble / admitted -
        boot.getOrElse(c, 0L) / bootTotal)
    }.sum
    val rec = tv >= DriftTvThreshold
    Some(Drift(admitted, tv, rec,
      f"$admitted admissions, TV(admit‖bootstrap)=$tv%.3f " +
        (if (rec) f"≥ $DriftTvThreshold%.1f — admissions occupy lists unlike the " +
          "bootstrap corpus; rebuild the quantizer (AnnIndex.rebuild / CLI ann-rebuild)"
        else f"< $DriftTvThreshold%.1f — admissions match the bootstrap distribution")))
  }
}
