package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}


/** Document deduplication for training-data pipelines: exact, MinHash+LSH,
  * and SimHash near-duplicate candidate generation.
  *
  * Scale design:
  *   - Exact dedup is a hash aggregate on a digest of the normalized text
  *     (shuffle the 16-byte digest, not the document body).
  *   - MinHash/LSH: shingle → hash → k permutations → band signatures →
  *     candidates join only within (band, signature) buckets. Shuffles move
  *     (doc_id, small ints) — never the text — and the final bucket join is
  *     data-size-independent per bucket.
  *   - SimHash: 64 conditional-sum aggregates in ONE pass (map-side partial
  *     aggregation), then Hamming-distance pairing within a bounded probe
  *     set. At 100 TB, pair within LSH buckets of the simhash prefix
  *     instead of a global self-join.
  */
object Dedup {

  /** THE canonical normalized content digest — every dedup surface
    * (exact clusters, incremental ingest, streaming dedup) must key on
    * this one definition, or digest indexes built by one path silently
    * stop matching another. */
  def contentDigest(text: Column = col("text")): Column =
    md5(lower(trim(text)))

  /** Exact-duplicate clusters on normalized text: digest-based, so the
    * shuffle key is 32 hex chars regardless of document size. */
  def exactClusters(docs: DataFrame): DataFrame =
    docs.select(contentDigest().as("digest"), col("doc_id"))
      .groupBy("digest")
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_dups") > 1)
      .orderBy("digest")

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * @param numPerm      number of hash permutations (signature length);
    *                     must be a multiple of rowsPerBand (a truncated
    *                     trailing band would silently change LSH recall)
    * @param rowsPerBand  LSH rows per band; bands = numPerm / rowsPerBand
    * @param sorted       order the pairs (the declared user-facing
    *                     output). ORDER-INSENSITIVE consumers — connected
    *                     components, ledger bootstrap/fold/retire, degree
    *                     census — pass false and skip the global
    *                     range-partition sort exchange; the pair SET
    *                     (distinct included) is identical either way.
    */
  def minhashCandidates(
      spark: SparkSession,
      docs: DataFrame,
      numPerm: Int = 16,
      rowsPerBand: Int = 4,
      sorted: Boolean = true): DataFrame = {
    // materialize the signatures ONCE before the self-join: both sides
    // derive from them, and without this the tokenize+hash kernel runs
    // twice (same precedent as simhashCandidates' signature checkpoint;
    // nBands fixed-width rows per doc — never the text)
    val sigs = bandSignatures(docs, numPerm, rowsPerBand).localCheckpoint()
    val a = sigs.select(col("doc_id").as("a_id"), col("band"), col("band_sig"))
    val b = sigs.select(col("doc_id").as("b_id"), col("band"), col("band_sig"))
    val pairs = a.join(b, Seq("band", "band_sig"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    if (sorted) pairs.orderBy("a_id", "b_id") else pairs
  }

  /** MinHash LSH band signatures, `(doc_id, band, band_sig)` — the
    * bucketing half of [[minhashCandidates]], exposed so callers can
    * build a static index for stream-side matching
    * ([[rowBandSignatures]] / `EventStreams.nearDupStream`). */
  def bandSignatures(
      docs: DataFrame,
      numPerm: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    require(numPerm % rowsPerBand == 0,
      s"numPerm ($numPerm) must be a multiple of rowsPerBand ($rowsPerBand)")
    require(numPerm <= 32, "permutation family is sized for pa <= 65: pa*h must stay under 2^63")
    // Signatures are PER-DOCUMENT, so they compute as one codegen kernel
    // pass (graft.expr.MinhashKernel: Spark-tokenize → md5-prefix shingle
    // hash → all numPerm permutation minima in one sweep → sorted-member
    // polynomial band fold) — a pure projection. The corpus-wide
    // groupBy(doc_id) the old explode + min-aggregate formulation paid is
    // GONE: no shuffle exists until a consumer joins on the band keys.
    // Values are bit-identical (same hash, same fixed permutation family,
    // same fold — the DuckDB oracle replay is unchanged), and min() is
    // duplicate-insensitive so no shingle distinct is needed.
    import org.apache.spark.sql.GraftColumnBridge
    docs.select(col("doc_id"),
        explode(GraftColumnBridge.column(graft.expr.MinhashBands(
          GraftColumnBridge.expression(col("text")), numPerm, rowsPerBand))).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
  }

  /** Per-ROW minhash band signatures — since round 9, [[bandSignatures]]
    * IS a pure projection (the [[graft.expr.MinhashBands]] kernel: no
    * shuffle, no aggregation state), so the batch and streaming paths
    * share one definition and signatures match any persisted index
    * bit-for-bit by construction. Kept as an alias for the streaming
    * call sites' intent. */
  def rowBandSignatures(
      docs: DataFrame,
      numPerm: Int = 16,
      rowsPerBand: Int = 4): DataFrame =
    bandSignatures(docs, numPerm, rowsPerBand)

  /** SimHash bit width: 60 bits (15 md5 hex digits) — the widest portable
    * hash that keeps every bit-shift product inside signed-64 ANSI math. */
  val SimhashBits = 60

  /** 60-bit SimHash per document — one codegen kernel pass
    * ([[graft.expr.SimhashKernel]]: term frequency, each distinct token
    * hashed once with the portable md5-derived 60-bit integer, per-bit
    * majority as `2·S_i > T`), a pure projection. The old formulation's
    * two shuffles (per-(doc, token) count, per-doc 60-bit-sum aggregate)
    * are gone; signatures are value-identical, so the DuckDB oracle
    * replay is unchanged. Docs with null text emit no row (matching the
    * old explode's behavior). */
  def simhash(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), GraftColumnBridge.column(graft.expr.Simhash60(
        GraftColumnBridge.expression(col("text")))).as("simhash"))
  }

  /** SimHash near-duplicate candidate pairs by Hamming distance, using
    * pigeonhole blocking: the signature is split into `nBlocks` contiguous
    * blocks and candidates equi-join on (block, block_value) buckets — a
    * hash join whose shuffle key is two ints, NOT an all-pairs theta join.
    * Any pair within Hamming distance `maxHamming < nBlocks` differs in at
    * most `maxHamming` blocks, so at least one block matches exactly and
    * the pair is found in that block's bucket (complete recall); the
    * Hamming distance is then verified inside the bucket. */
  def simhashCandidates(
      docs: DataFrame,
      maxHamming: Int = 3,
      nBlocks: Int = 4): DataFrame = {
    require(maxHamming < nBlocks,
      s"pigeonhole completeness needs maxHamming ($maxHamming) < nBlocks ($nBlocks)")
    require(SimhashBits % nBlocks == 0, s"nBlocks must divide $SimhashBits")
    val width = SimhashBits / nBlocks
    val mask = (1L << width) - 1L
    // materialize the signature ONCE before the self-join: both join
    // sides derive from it, and without this the whole tokenize+hash
    // pipeline runs twice (exchange reuse is not guaranteed across the
    // two posexplode branches). One row per doc — executor-local
    // checkpoint of n_docs rows, same precedent as connectedComponents.
    val sig = simhash(docs).localCheckpoint()
    val blocks = sig.select(col("doc_id"), col("simhash"), posexplode(expr(
        s"transform(sequence(0, ${nBlocks - 1}), b -> " +
          s"shiftright(simhash, b * $width) & $mask)"))
        .as(Seq("block", "bv")))
    val a = blocks.select(col("doc_id").as("a_id"), col("simhash").as("a_sig"),
      col("block"), col("bv"))
    val b = blocks.select(col("doc_id").as("b_id"), col("simhash").as("b_sig"),
      col("block"), col("bv"))
    a.join(b, Seq("block", "bv"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
      .distinct() // a pair may collide in several blocks
      .orderBy("a_id", "b_id")
  }

  /** Connected components of the undirected candidate-pair graph — the
    * step that turns pairwise near-dup candidates into dedup GROUPS (keep
    * one doc per component). Min-label propagation to fixpoint: each node
    * starts labeled with its own id and repeatedly takes the min of its
    * neighbors' labels; converged labels equal the min id reachable from
    * each node (what a transitive-closure oracle computes). Iterations are
    * lineage-truncated with `localCheckpoint` (plans would otherwise grow
    * per round) and each materialized ROUND packs `hopsPerJob`
    * propagation steps into one job (join + min-aggregate per hop, one
    * change-flag count as the materializing action). Measured on the
    * sf0.1 corpus, hopsPerJob=2 LOST to 1 (2.54 s vs 2.01 s: the extra
    * in-plan join outweighs the saved job barrier when components are
    * shallow and converge in a couple of rounds), so 1 is the default;
    * the knob exists for high-diameter graphs on real clusters where
    * per-job scheduling overhead dominates. The standard large-graph CC
    * shape (label propagation): scales with the shuffle, not the driver.
    *
    * ADAPTIVE SMALL-GRAPH PATH: when the edge count is at or below
    * `driverThreshold` (default 100k — a few MB even with boxed tuples
    * and the HashMap union-find, safe on a default-sized driver), the
    * edges are collected and union-found on the driver in one pass,
    * exactly like a query planner broadcasting a small join side. A
    * near-dup candidate graph is usually metadata-scale even for a huge
    * corpus (edges ≈ near-duplicate pairs, not documents), so this saves
    * the multi-job fixpoint in the common case while the distributed
    * path — identical results — remains for larger graphs. The tier
    * probe and the edge collect are ONE capped `limit(threshold+1)`
    * job over the materialized edge frame (the literalIds idiom), so
    * the decision is metadata-cheap on either path. Set
    * `driverThreshold = 0` to force the distributed path.
    *
    * HUB GUARD: the per-hop join is salted adaptively when any node's
    * degree exceeds `hubDegreeThreshold` — see the inline comment at the
    * edge materialization below.
    *
    * @param pairs (a_id, b_id) candidate edges, e.g.
    *              [[minhashCandidates]] output */
  def connectedComponents(
      pairs: DataFrame, maxIters: Int = 50, hopsPerJob: Int = 1,
      driverThreshold: Long = 100000L,
      hubDegreeThreshold: Long = 100000L): DataFrame = {
    // materialize the (possibly expensive) candidate-pair plan ONCE —
    // the two-direction union would otherwise evaluate it twice. A
    // caller that already checkpointed exactly (a_id, b_id) rows (the
    // ledger paths do) skips the second materialization job.
    val p = materializedAs(pairs, Seq("a_id", "b_id")).getOrElse(
      pairs.select(col("a_id"), col("b_id")).localCheckpoint())

    // tier probe and edge collect FUSED into one job (the literalIds
    // idiom, sharing its clamp + non-exhaustion guard
    // [[Bpe.trackedTierFits]]): collect at most threshold+1 rows —
    // exactly threshold+1 back means the graph is too big and the
    // distributed path takes over
    val driverEdges: Option[Array[(Long, Long)]] =
      if (driverThreshold <= 0) None
      else {
        val lim =
          if (driverThreshold >= Int.MaxValue - 1L) Int.MaxValue - 1
          else (driverThreshold + 1).toInt
        val spark = p.sparkSession
        import spark.implicits._
        val rows = p.as[(Long, Long)].limit(lim).collect()
        if (Bpe.trackedTierFits(rows.length, lim, driverThreshold)) Some(rows)
        else None
      }
    if (driverEdges.isDefined) {
      val spark = p.sparkSession
      import spark.implicits._
      return minLabels(driverEdges.get).toSeq.sorted.toDF("doc_id", "component")
    }
    val rawEdges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(p.select(col("b_id").as("src"), col("a_id").as("dst")))
    // seed with the 1-hop minimum (own id vs direct neighbors): the first
    // propagation round comes free with the node-list aggregate (map-side
    // combinable — a hub as SRC is fine). The same aggregate also carries
    // the HUB-GUARD degree census: rawEdges is the symmetric union, so
    // per-src degree == per-dst degree, and counting here folds what was
    // a dedicated full edge-frame pass into the seed job. The max is then
    // read off the materialized node-sized frame (metadata-cheap).
    val seed = rawEdges.groupBy(col("src"))
      .agg(min(col("dst")).as("m"), count(lit(1)).as("deg"))
      .localCheckpoint()
    // HUB GUARD: a template-spam hub (one node with millions of candidate
    // edges — the heavy tail degreeHistogram detects) would land its whole
    // neighborhood in ONE reducer of the per-hop edges⋈labels(dst) join.
    // Above the threshold, salt the join — edges carry pmod(src, S) and
    // the label side replicates S ways, splitting each hub's rows across
    // S tasks for an S× fan-out of the (id, label) frame only. Same
    // precedent as ngramJaccard's maxDf: bound the worst bucket.
    val maxDeg = seed.agg(max(col("deg"))).head().getLong(0)
    val nSalt = hubSalts(maxDeg, hubDegreeThreshold)
    // pre-partition edges by the join key ONCE: localCheckpoint captures
    // the hash partitioning, so every round's edges⋈labels join is already
    // co-partitioned and the only per-round shuffle is the groupBy(src)
    val edges =
      (if (nSalt == 1) rawEdges.repartition(col("dst"))
       else rawEdges.withColumn("salt", pmod(col("src"), lit(nSalt.toLong)))
         .repartition(col("dst"), col("salt")))
        .localCheckpoint()
    // align the seed's partitioning with the label-side join key
    // (one-time cost over the node-sized frame)
    var labels = seed
      .select(col("src").as("id"), least(col("src"), col("m")).as("label"))
      .repartition(col("id"))
      .localCheckpoint()
    // one propagation hop over an (id, label, chg) frame; `chg`
    // accumulates across the hops composed into a single job
    def hop(l: DataFrame): DataFrame = {
      val lSide =
        if (nSalt == 1) l.select(col("id"), col("label"))
        else l.select(col("id"), col("label"),
          explode(expr(s"sequence(CAST(0 AS BIGINT), ${nSalt - 1}L)")).as("lsalt"))
      val joinCond =
        if (nSalt == 1) col("dst") === col("id")
        else col("dst") === col("id") && col("salt") === col("lsalt")
      val nmin = edges
        .join(lSide, joinCond)
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
        .select(col("src").as("nid"), col("nlabel"))
      l.join(nmin, l("id") === col("nid"), "left")
        .select(l("id"),
          least(l("label"), coalesce(col("nlabel"), l("label"))).as("label"),
          (l("chg") ||
            coalesce(col("nlabel"), l("label")) < l("label")).as("chg"))
    }
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // lazy checkpoint + count over the change flag: the count is the
      // materializing action, so each round is ONE job covering
      // hopsPerJob propagation steps, with lineage still truncated
      val next = (1 to hopsPerJob)
        .foldLeft(labels.withColumn("chg", lit(false)))((l, _) => hop(l))
        .localCheckpoint(false)
      converged = next.filter(col("chg")).count() == 0
      labels = next.drop("chg")
      i += hopsPerJob
    }
    // a silent cap-exit would return labels that disagree with true
    // components (graph diameter > maxIters) with no signal — refuse
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIters iterations; " +
        "raise maxIters (graph diameter exceeds the cap)")
    labels.select(col("id").as("doc_id"), col("label").as("component"))
  }

  /** Path-halving union-find over `edges`: every endpoint → the MIN id
    * of its connected set (the label-propagation fixpoint computes
    * exactly that). A self edge makes its node its own label. */
  private[graft] def minLabels(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val gp = parent.getOrElse(parent(x), parent(x))
        parent(x) = gp; x = gp
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(id => id -> find(id)).toMap
  }

  /** The default literal-vs-join bound on a batch's distinct ids — the
    * [[incrementalComponents]] `resolveInMaxIds` / retire `inMaxIds`
    * default, and where the ledger's driver tiers end. */
  private[graft] val LiteralMaxIds = 1000

  /** `(doc_id, component)`-shaped rows as a local relation. */
  private[graft] def pairFrame(spark: SparkSession, rows: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(rows.map { case (d, c) => Row(d, c) }.asJava,
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("component", LongType, nullable = false))))

  /** Two long columns of `df` collected as pairs. */
  private[graft] def longPairs(df: DataFrame, a: String, b: String): Seq[(Long, Long)] =
    df.select(col(a), col(b)).collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  /** INCREMENTAL connected components: fold a batch of NEW candidate
    * edges into a STANDING component assignment without re-running the
    * corpus-wide label propagation — the missing piece between
    * [[connectedComponents]] (global, from scratch) and the persisted
    * ingest surfaces ([[incrementalNearDup]], [[NearDupIndex]]) that
    * already produce batch-vs-corpus candidate PAIRS but until now left
    * component maintenance to a full recompute.
    *
    * `assign` is a standing `(doc_id, component)` frame with the
    * [[connectedComponents]] labeling invariant (component = MIN doc_id
    * of its members); `newEdges` is the batch's `(a_id, b_id)` candidate
    * pairs — batch↔batch and batch↔corpus alike, endpoints absent from
    * `assign` are implicitly singleton. Returns the DELTA: one row per
    * doc that is NEW or whose component CHANGED; rows of untouched
    * components never appear (and never shuffle). The caller merges
    * `assign.join(delta, "doc_id", "left_anti") ∪ delta`.
    *
    * Scale shape (assign is corpus-sized, edges are batch-sized):
    *   1. endpoints resolve to their standing components through a
    *      broadcast SEMI-join of `assign` against the batch's id set —
    *      one pass over the assignment table, no shuffle of it;
    *   2. edges CONTRACT to the component graph (old labels + new ids),
    *      and [[connectedComponents]] runs on that batch-bounded graph
    *      (its adaptive driver tier absorbs realistic batches);
    *   3. members of MERGED components relabel through a broadcast hash
    *      join on `component` — the second and last pass over `assign`,
    *      again shuffle-free; winners keep their label and do not appear.
    * The min-id invariant is preserved by construction: the contracted
    * graph's labels are minima over merged components' labels and new
    * doc ids, i.e. exactly the min member id of each merged set.
    *
    * `sparseAssign = true` switches the assignment convention to the
    * PERSISTED-index form ([[ComponentIndex]]): `assign` stores only
    * NON-TRIVIAL rows (`doc_id != component` — at typical dup rates a
    * 3-10× smaller table), so a merged-away label's own row is implicit
    * and the delta must emit it explicitly. Labels can only decrease
    * (min-id invariant), so a stored row never becomes trivial — the
    * sparse store is maintained by filtering INSERTS only.
    *
    * `relabelSource`, when given, serves step 3's member lookup from a
    * PRUNED read instead of the full `assign` frame: it receives the
    * merged-away labels (batch-bounded, collected on the driver) and
    * returns the `(doc_id, component)` rows of those components —
    * [[ComponentIndex]] passes its bucket-pruned file read, so the
    * relabel pass touches only the merged components' buckets.
    *
    * `resolveInMaxIds`: batches at or under this many distinct endpoint
    * ids resolve through a LITERAL `IN` filter instead of the broadcast
    * semi-join — the predicate pushes into the parquet scan
    * (row-group min/max skipping on doc_id-clustered files), where a
    * semi-join's build side never reaches the reader. Same
    * literal-vs-join threshold idiom as the eq-delete sequence map
    * (`ScanPlanner`).
    *
    * TIERS: a batch at or under `resolveInMaxIds` distinct endpoints
    * (the bound that already decides the literal resolution) runs on
    * the DRIVER — edges collected once, `touched` and then the
    * merged-away labels' rows read as two pushed-down collects, the
    * contraction and union-find over rows ([[minLabels]]), the delta
    * returned as a local relation. Above the bound the plans above run
    * distributed; 0 forces that tier. Both tiers emit the same rows. */
  def incrementalComponents(assign: DataFrame, newEdges: DataFrame,
      sparseAssign: Boolean = false,
      relabelSource: Option[Seq[Long] => DataFrame] = None,
      resolveInMaxIds: Int = LiteralMaxIds): DataFrame =
    incrementalDelta(assign, newEdges, sparseAssign, relabelSource,
      resolveInMaxIds, readRows(assign, relabelSource)) match {
      case Left(rows) => pairFrame(assign.sparkSession, rows)
      case Right(delta) => delta
    }

  /** A standing assignment's rows looked up on the driver: the rows of
    * given doc ids, and the rows of given components. */
  private[graft] trait AssignRows {
    def ofDocs(ids: Seq[Long]): Seq[(Long, Long)]
    def ofLabels(labels: Seq[Long]): Seq[(Long, Long)]
  }

  /** [[AssignRows]] as pushed-down collects: `assign` filtered on
    * `doc_id`, and `relabelSource`'s read (else `assign` filtered on
    * `component`). */
  private[graft] def readRows(assign: DataFrame,
      relabelSource: Option[Seq[Long] => DataFrame]): AssignRows = new AssignRows {
    def ofDocs(ids: Seq[Long]) = longPairs(
      assign.filter(col("doc_id").isin(ids: _*)), "doc_id", "component")
    def ofLabels(labels: Seq[Long]) = longPairs(relabelSource match {
      case Some(read) => read(labels)
      case None => assign.filter(col("component").isin(labels: _*))
    }, "doc_id", "component")
  }

  /** Whether `df` is rows already on the driver: its optimized plan is
    * one local relation (a `createDataFrame`, a renaming `toDF`, and
    * projections or filters of one), so collecting it runs no job. */
  private[graft] def isDriverRows(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** [[incrementalComponents]] with the tier visible: `Left` is the
    * driver tier's delta rows, `Right` the distributed tier's plan.
    * `driverRows` serves the driver tier's two lookups; `assign` is
    * only built for the distributed tier. */
  private[graft] def incrementalDelta(assign: => DataFrame, newEdges: DataFrame,
      sparseAssign: Boolean,
      relabelSource: Option[Seq[Long] => DataFrame],
      resolveInMaxIds: Int,
      driverRows: AssignRows): Either[Seq[(Long, Long)], DataFrame] = {
    // a local edge frame is driver rows already (no job to read it);
    // any other plan is batch-bounded and consumed more than once —
    // materialize once (skipped when the caller already checkpointed
    // exactly this shape, e.g. the semantic gate's edge set) and probe
    // its distinct endpoints in ONE bounded job ([[literalIds]])
    val local = if (isDriverRows(newEdges)) Some(longPairs(newEdges, "a_id", "b_id")) else None
    val e = if (local.isDefined) newEdges.select(col("a_id"), col("b_id"))
      else materializedAs(newEdges, Seq("a_id", "b_id")).getOrElse(
        newEdges.select(col("a_id"), col("b_id")).localCheckpoint())
    val idFrame = e.select(col("a_id").as("doc_id"))
      .union(e.select(col("b_id").as("doc_id"))).distinct()
    val lits = local match {
      case Some(ps) =>
        val ids = ps.flatMap { case (a, b) => Seq(a, b) }.distinct.toIndexedSeq
        if (resolveInMaxIds > 0 && ids.size <= resolveInMaxIds) Some(ids) else None
      case None => literalIds(idFrame, resolveInMaxIds)
    }
    lits match {
      case Some(ids) => Left(driverDelta(driverRows,
        local.getOrElse(longPairs(e, "a_id", "b_id")), ids, sparseAssign))
      case None => Right(distributedDelta(assign, e, idFrame.localCheckpoint(),
        sparseAssign, relabelSource))
    }
  }

  /** The driver tier of [[incrementalComponents]]: the same row sets as
    * [[distributedDelta]], over rows looked up in `assign`. */
  private def driverDelta(assign: AssignRows, edges: Seq[(Long, Long)],
      ids: IndexedSeq[Long], sparseAssign: Boolean): Seq[(Long, Long)] = {
    val touched = assign.ofDocs(ids).toMap
    def label(x: Long) = touched.getOrElse(x, x)
    val m = minLabels(edges.map { case (a, b) => (label(a), label(b)) }
      .filter { case (a, b) => a != b })
    val mergedAway = m.filter { case (node, comp) => node != comp }
    val relabeled =
      if (mergedAway.isEmpty) Seq.empty
      else assign.ofLabels(mergedAway.keys.toIndexedSeq.sorted).collect {
        case (d, c) if mergedAway.contains(c) => d -> mergedAway(c)
      }
    val newIds = ids.filterNot(touched.contains)
    val newRows = newIds.flatMap(d => m.get(d).map(d -> _))
    val ownRows =
      if (!sparseAssign) Seq.empty
      else {
        val standing = touched.values.toSet
        val fresh = newIds.toSet
        mergedAway.toSeq.sorted.collect {
          case (l, c) if standing(l) && !fresh(l) => l -> c
        }
      }
    relabeled ++ newRows ++ ownRows
  }

  /** The distributed tier of [[incrementalComponents]] over the
    * materialized edges `e` and their distinct endpoints `ids`. */
  private def distributedDelta(assign: DataFrame, e: DataFrame, ids: DataFrame,
      sparseAssign: Boolean,
      relabelSource: Option[Seq[Long] => DataFrame]): DataFrame = {
    // the batch's footprint in the standing assignment: a broadcast
    // semi-join — the corpus side is scan-only (no shuffle, no wide row)
    val touched = assign.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    // contract edges onto the component graph: endpoint → its standing
    // label, absent endpoint → itself (implicit singleton). `touched` is
    // batch-bounded, so both resolution joins broadcast it.
    val contracted = e
      .join(broadcast(touched.select(col("doc_id").as("a_id"),
        col("component").as("ca"))), Seq("a_id"), "left")
      .join(broadcast(touched.select(col("doc_id").as("b_id"),
        col("component").as("cb"))), Seq("b_id"), "left")
      .select(coalesce(col("ca"), col("a_id")).as("a_id"),
        coalesce(col("cb"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    // components of the CONTRACTED graph: nodes are old labels and new
    // ids, so each resulting label is the min doc_id of its merged set
    // no checkpoint: connectedComponents' result is already a local
    // relation (driver tier) or a projection over its own checkpointed
    // labels (distributed tier) — re-evaluating it per consumer below
    // is cheaper than one more eager materialization job per fold
    val m = connectedComponents(contracted)
      .select(col("doc_id").as("node"), col("component").as("new_comp"))
    // members of components that LOST their label relabel in one
    // broadcast join pass over the assignment; winners stay put
    val mergedAway = m.filter(col("node") =!= col("new_comp"))
      .select(col("node").as("component"), col("new_comp"))
    val relabelRows = relabelSource match {
      case None => assign
      case Some(read) =>
        // batch-bounded label collect parameterizes the pruned read;
        // nothing to relabel → nothing to read. Do NOT "optimize" the
        // label set down to touched components: a batch id that IS a
        // standing label has no stored row of its own (sparse trivial),
        // so it never appears in `touched` — yet its stored MEMBERS
        // must relabel when it merges away. Genuinely-new ids are
        // indistinguishable from that case without consulting the
        // store, which is exactly what the read does; their buckets
        // return zero rows and the waste is batch-bounded.
        val labels = mergedAway.select("component").collect()
          .map(_.getLong(0)).toIndexedSeq
        if (labels.isEmpty)
          assign.limit(0)
        else read(labels)
    }
    val relabeled = relabelRows
      .join(broadcast(mergedAway), Seq("component"))
      .select(col("doc_id"), col("new_comp").as("component"))
    // new docs: batch ids absent from the standing assignment; their
    // contracted node is their own id (labels are existing doc ids, so
    // no collision). A genuinely NEW doc always survives contraction
    // (its node can't equal an existing label), so the inner join is
    // total over new docs — ids absent from `m` are implicit winners or
    // singletons whose edges all landed inside one standing component
    // (possible only under `sparseAssign`), i.e. NOT changes: emitting
    // a trivial row for them would break fold idempotence. */
    val newIds = ids
      .join(touched.select("doc_id"), Seq("doc_id"), "left_anti")
    val newRows = newIds
      .join(broadcast(m), col("doc_id") === col("node"))
      .select(col("doc_id"), col("new_comp").as("component"))
    // sparse store: a merged-away label's own (L, L) row is implicit in
    // the assignment, so its relabel must be emitted here — but only
    // for labels that ARE standing components (batch ids absent from
    // the store are already covered by newRows)
    val ownRows =
      if (!sparseAssign) assign.limit(0).select(col("doc_id"), col("component"))
      else mergedAway
        .join(broadcast(touched.select("component").distinct()),
          Seq("component"), "left_semi")
        .join(broadcast(newIds),
          col("component") === newIds("doc_id"), "left_anti")
        .select(col("component").as("doc_id"),
          col("new_comp").as("component"))
    relabeled.unionByName(newRows).unionByName(ownRows)
  }

  /** Residual-pair provider for [[ComponentIndex.retire]] built from the
    * RAW document store — the required form for a GATE-COMPOSED ledger
    * ([[NearDupIndex.admitStream]]'s `components`), where REJECTED docs
    * hold provenance rows but their signatures were never appended to
    * the gate index, so [[NearDupIndex.pairsAmong]] cannot see their
    * edges and a retire would silently degrade them to singletons. The
    * returned provider re-derives band signatures for exactly the
    * affected remaining members (`docs` semi-joined to the requested
    * ids — batch-bounded) and self-collides them within band buckets.
    * Works for corpus ledgers too (same closure), at the cost of
    * re-hashing the affected docs' text. */
  def pairsFromDocs(docs: DataFrame, numPerm: Int = 16,
      rowsPerBand: Int = 4): DataFrame => DataFrame = ids => {
    val s = bandSignatures(docs.join(ids, Seq("doc_id"), "left_semi"),
      numPerm, rowsPerBand).localCheckpoint()
    bandCollisionPairs(s, s)
      .filter(col("doc_id") =!= col("corpus_doc_id"))
      .select(col("doc_id").as("a_id"), col("corpus_doc_id").as("b_id"))
  }

  /** The literal-vs-join threshold probe shared by the incremental-fold
    * and retire surfaces ([[incrementalComponents]]' `resolveInMaxIds`
    * idiom, extracted): collect at most `maxIds` ids from `ids` in ONE
    * job — `Some(ids)` when the whole set fits (safe to burn into a
    * pushed-down `isin` literal), `None` when it doesn't (the caller
    * must switch to a broadcast semi/anti-join; a corpus-scale id set
    * must never become a driver-side literal plan). Same clamp +
    * non-exhaustion guard as the BPE size probe
    * ([[Bpe.trackedTierFits]]). `maxIds <= 0` disables the literal path
    * outright. */
  private[graft] def literalIds(
      ids: DataFrame, maxIds: Int): Option[IndexedSeq[Long]] = {
    if (maxIds <= 0) return None
    val lim =
      if (maxIds >= Int.MaxValue - 1) Int.MaxValue - 1
      else maxIds + 1
    val probe = ids.limit(lim).collect().map(_.getLong(0))
    if (Bpe.trackedTierFits(probe.length, lim, maxIds.toLong))
      Some(probe.toIndexedSeq)
    else None
  }

  /** `Some(df)` iff `df` is ALREADY a checkpointed frame whose columns
    * are exactly `cols` — the internal "don't re-checkpoint what the
    * caller just checkpointed" probe. A bare `LogicalRDD` is NOT
    * enough: `createDataFrame(rdd, schema)` also analyzes to one, and
    * skipping the checkpoint there would drop the evaluate-once
    * snapshot this frame's multiple consumers rely on — so the wrapped
    * RDD must itself be checkpointed, or persisted at a disk-backed
    * level (what localCheckpoint sets at mark time — lazy local
    * checkpoints carry MEMORY_AND_DISK before their first action). Any
    * other shape returns None and the caller materializes as before. */
  private def materializedAs(df: DataFrame, cols: Seq[String]): Option[DataFrame] =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD
          if r.output.map(_.name) == cols &&
            (r.rdd.isCheckpointed || r.rdd.getStorageLevel.useDisk) => Some(df)
      case _ => None
    }

  /** Ceiling (rows) for the EXPLICIT `broadcast()` hints on compliance
    * id frames — ~80 MB of longs, comfortably a broadcast. Overridable
    * via the session conf (`0` disables the hint tier entirely — the
    * parity-spec switch). */
  private[graft] val BroadcastMaxIdsConf = "graft.retire.broadcastMaxIds"
  private[graft] val BroadcastMaxIdsDefault = 10000000L

  /** Size-probe for the join tier ABOVE [[literalIds]]: true iff `ids`
    * holds at most `graft.retire.broadcastMaxIds` rows, in which case
    * the caller keeps its explicit `broadcast()` hint on the semi/anti-
    * join probe side. Above the ceiling the hint must be DROPPED and
    * the join left to AQE (sort-merge / shuffled hash): an explicit
    * hint forces the frame through the driver regardless of size, so a
    * nation-scale forget set (100M+ ids) would OOM the broadcast with
    * no fallback. One `limit(max+1).count()` job — callers probe a
    * localCheckpoint()ed frame ONCE and reuse the verdict across their
    * joins, so the probe is a bounded scan of materialized blocks. */
  private[graft] def fitsBroadcast(ids: DataFrame): Boolean = {
    val max = ids.sparkSession.conf.getOption(BroadcastMaxIdsConf)
      .map(_.toLong).getOrElse(BroadcastMaxIdsDefault)
    max > 0 && {
      val lim =
        if (max >= Int.MaxValue - 1) Int.MaxValue - 1 else (max + 1).toInt
      ids.limit(lim).count() <= max
    }
  }

  /** The conditional hint paired with a [[fitsBroadcast]] verdict —
    * applied AFTER any projection so the hint sits directly under the
    * join side. */
  private[graft] def hintIf(fits: Boolean)(df: DataFrame): DataFrame =
    if (fits) org.apache.spark.sql.functions.broadcast(df) else df

  /** Salt count for [[connectedComponents]]' hub guard: 1 (no salting)
    * until the max degree crosses the threshold, then one salt per
    * threshold-worth of edges, capped at 32 (beyond that the S× label
    * fan-out costs more than the residual skew). */
  private[ops] def hubSalts(maxDeg: Long, threshold: Long): Int =
    if (threshold <= 0 || maxDeg <= threshold) 1
    else math.min(32L, (maxDeg + threshold - 1) / threshold).toInt

  /** Character n-gram sets per document (distinct), for Jaccard dedup —
    * deduplicated IN-KERNEL ([[graft.expr.CharNgramKernel]]) per
    * document, so the old corpus-wide (doc, gram) distinct shuffle is
    * gone; the gram join downstream is the only wide shuffle left. */
  def charNgrams(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    docs.select(col("doc_id"), col("lang"),
      explode(GraftColumnBridge.column(graft.expr.CharNgramSet(
        GraftColumnBridge.expression(col("text")), n))).as("gram"))
  }

  /** N-gram Jaccard similarity for same-language doc pairs (pairs with at
    * least one shared gram; gram join is the only wide shuffle).
    *
    * @param maxDf stop-shingle guard: grams appearing in more than `maxDf`
    *              documents of a language are dropped from BOTH the
    *              intersection and the set sizes (Jaccard over the pruned
    *              gram universe). Without it, a near-universal gram ("the")
    *              makes its join bucket quadratic at corpus scale; with it,
    *              every bucket is at most maxDf×maxDf. The default keeps
    *              the exact (unpruned) semantics. */
  def ngramJaccard(docs: DataFrame, n: Int, maxDf: Long = Long.MaxValue): DataFrame = {
    // deliberately NOT materialized: the gram frame is ~n× the corpus
    // bytes (one n-char string per character position), so checkpointing
    // it would pin n× the corpus in executor storage at scale — while
    // re-running the per-doc kernel for each consumer is a cheap CPU
    // pass. Recompute wins at 100 TB.
    val raw = charNgrams(docs, n)
    val grams =
      if (maxDf == Long.MaxValue) raw
      else raw.join(
        raw.groupBy("lang", "gram").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).drop("df"),
        Seq("lang", "gram"), "left_semi")
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val a = grams.select(col("doc_id").as("a_id"), col("lang"), col("gram"))
    val b = grams.select(col("doc_id").as("b_id"), col("lang").as("lang_b"), col("gram").as("gram_b"))
    val inter = a.join(b,
        col("gram") === col("gram_b") && col("lang") === col("lang_b") &&
          col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n_grams").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_grams").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** INCREMENTAL INGEST DEDUP — the daily-crawl pattern: flag each
    * document of a new increment whose normalized content digest already
    * exists in the standing corpus (typically the change feed's inserts
    * joined against the corpus digest index). The corpus side ships ONLY
    * distinct 32-hex digests — document text never leaves its scan — and
    * the increment (usually the small side) hash-joins on the digest.
    * Returns the increment with an `is_dup` flag; downstream keeps
    * `!is_dup` and appends. */
  def incrementalExact(increment: DataFrame, corpus: DataFrame): DataFrame = {
    val dig = contentDigest()
    val corpusDigests = corpus.select(dig.as("digest")).distinct()
    increment.withColumn("digest", dig)
      .join(corpusDigests.withColumn("seen", lit(true)), Seq("digest"), "left")
      .withColumn("is_dup", coalesce(col("seen"), lit(false)))
      .drop("seen")
  }

  /** INCREMENTAL NEAR-DEDUP — the minhash twin of [[incrementalExact]]
    * and the batch twin of `EventStreams.nearDupStream`: a new ingest
    * shard is checked against the standing corpus's band index without
    * re-pairing the corpus with itself. One row per FLAGGED increment
    * doc: the lowest colliding corpus id and how many of the bands
    * collided (more bands = higher estimated Jaccard); increment docs
    * absent from the output are clean to append.
    *
    * Scale shape: signatures are per-doc (no corpus-global state), so
    * the corpus side is the incrementally-maintained `(doc_id, band,
    * band_sig)` index — computed here for self-containment, persisted as
    * a table in a real pipeline and appended to as shards pass the gate.
    * The join ships only ids and 8-byte band keys; the increment side of
    * an ingest batch is small, so it broadcasts. */
  def incrementalNearDup(
      increment: DataFrame,
      corpus: DataFrame,
      numPerm: Int = 16,
      rowsPerBand: Int = 4): DataFrame =
    incrementalNearDupAgainstIndex(increment,
      bandSignatures(corpus, numPerm, rowsPerBand), numPerm, rowsPerBand)

  /** [[incrementalNearDup]] probing a PRE-BUILT `(doc_id, band, band_sig)`
    * index (a [[NearDupIndex]] table scan, or any frame with that shape) —
    * the form real pipelines use, where the index persists across ingest
    * batches and corpus text is never re-aggregated. `numPerm`/
    * `rowsPerBand` MUST match the index's build parameters. */
  def incrementalNearDupAgainstIndex(
      increment: DataFrame,
      index: DataFrame,
      numPerm: Int = 16,
      rowsPerBand: Int = 4): DataFrame =
    bandCollisions(bandSignatures(increment, numPerm, rowsPerBand), index)

  /** The collision-join half of [[incrementalNearDupAgainstIndex]], over
    * ALREADY-COMPUTED batch signatures — what [[NearDupIndex.check]] calls
    * after materializing the batch's `(doc_id, band, band_sig)` rows once
    * (they feed both the bucket-prune census and this join). */
  def bandCollisions(batchSigs: DataFrame, index: DataFrame): DataFrame = {
    val idx = index
      .select(col("doc_id").as("corpus_doc_id"), col("band"), col("band_sig"))
    batchSigs.select("doc_id", "band", "band_sig")
      .join(idx, Seq("band", "band_sig"))
      .groupBy("doc_id")
      .agg(min(col("corpus_doc_id")).as("dup_of"),
        countDistinct(col("band")).as("n_bands"))
      .orderBy("doc_id")
  }

  /** DISTINCT batch↔corpus collision PAIRS `(doc_id, corpus_doc_id)` —
    * the full edge structure [[bandCollisions]] aggregates away (it
    * keeps only the MIN colliding corpus id per doc, which is right for
    * the gate's flag-or-not decision but loses edges). The component
    * ledger folds THESE: a batch doc colliding with docs in two
    * different standing components is the observation that MERGES them,
    * and only the complete pair set makes the incremental fold agree
    * with a from-scratch closure over everything the gate saw. */
  def bandCollisionPairs(batchSigs: DataFrame, index: DataFrame): DataFrame =
    batchSigs.select(col("doc_id"), col("band"), col("band_sig"))
      .join(index.select(col("doc_id").as("corpus_doc_id"),
        col("band"), col("band_sig")), Seq("band", "band_sig"))
      .select(col("doc_id"), col("corpus_doc_id")).distinct()

  /** Degree distribution of a candidate-pair graph: how many documents
    * have 1, 2, … near-duplicate neighbors. The shape of this histogram
    * is the standard pre-dedup corpus diagnostic — a heavy tail means
    * template spam that [[connectedComponents]] will collapse into huge
    * clusters (and a candidate count worth capping before the join).
    * Two keyed aggregations over the (small) edge list; no window.
    *
    * Emits `(degree, n_docs)` ordered by degree.
    *
    * @param pairs (a_id, b_id) candidate edges, e.g.
    *              [[minhashCandidates]] output */
  def degreeHistogram(pairs: DataFrame): DataFrame =
    // explode both ends in ONE pass — a union of two selects would
    // recompute the candidate-pair lineage once per branch
    pairs.select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")

  /** PROVENANCE attribution of the near-dup graph: candidate-pair
    * counts per (source, source) — which feeds are copying which (a
    * heavy diagonal = internal template spam; a heavy off-diagonal pair
    * = mirrored feeds, deduplicate them jointly before mixing). Source
    * pairs are canonically ordered. Both mapping joins are keyed on
    * doc_id against the metadata-small (doc_id, source) projection —
    * text never enters; output is ≤ |sources|² rows. */
  def dupSourcePairs(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val srcs = docs.select(col("doc_id"), col("source"))
    pairs
      .join(srcs.select(col("doc_id").as("a_id"), col("source").as("src_a")), "a_id")
      .join(srcs.select(col("doc_id").as("b_id"), col("source").as("src_b")), "b_id")
      .select(
        least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** LINE-LEVEL BOILERPLATE REMOVAL (the C4/CCNet corpus-dedup pass):
    * a "line" (here a `sep`-delimited sentence) appearing in at least
    * `minDf` DISTINCT documents is boilerplate (navigation chrome,
    * license banners, repeated templates); every document is rebuilt
    * without those lines, preserving original line order and spelling.
    * Returns one row per AFFECTED document: line counts and the
    * rebuilt text (byte-exact, oracle-verifiable).
    *
    * Scale shape: one explode, one (line, doc) distinct-count aggregate
    * over the LINE VOCABULARY (bounded by distinct lines, not corpus
    * size), one membership join, one per-doc rebuild aggregate — lines
    * shuffle once each. At 100 TB the membership test is the same plan
    * with the line column pre-hashed (shuffles 8-byte hashes instead of
    * strings) and the boilerplate set broadcast — both drop-in column
    * swaps on this shape. */
  def dedupLines(docs: DataFrame, minDf: Long = 2, sep: String = ". "): DataFrame = {
    val sepRegex = java.util.regex.Pattern.quote(sep)
    val lines = docs.select(col("doc_id"),
        posexplode(split(col("text"), sepRegex)).as(Seq("pos", "line")))
      .withColumn("norm", trim(col("line")))
    val boiler = lines.filter(col("norm") =!= "")
      .groupBy("norm").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("norm"), lit(true).as("is_b"))
    lines.join(boiler, Seq("norm"), "left")
      .withColumn("is_b", coalesce(col("is_b"), lit(false)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("is_b"), 1L).otherwise(0L)).as("n_removed"),
        // the delimiter goes through the Scala array_join overload, not
        // the SQL text — a sep containing quotes must not break parsing
        array_join(expr("transform(array_sort(collect_list(" +
          "CASE WHEN NOT is_b THEN struct(pos, line) END)), " +
          "s -> s.line)"), sep).as("new_text"))
      .filter(col("n_removed") > 0)
      .withColumn("new_n_chars", length(col("new_text")))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS
    * algorithm) + a duplicated-span census — the span-granular
    * complement to document-level near-dedup, approximating Lee et al.
    * 2021-style substring dedup without a suffix array.
    *
    * Each word `k`-gram is hashed portably ([[graft.expr.PortableHash.md5Hash32]]);
    * in every sliding window of `window` consecutive gram hashes the
    * minimum is selected (rightmost on ties — encoded by packing
    * `hash * 2^30 + (2^30-1-pos)` so one integer `min` does both the
    * value comparison and the tie-break). The selected fingerprints are a
    * guaranteed cover: any shared span of ≥ `window + k - 1` tokens
    * yields at least one shared fingerprint. A doc shorter than
    * `window + k - 1` tokens has no full window and yields none.
    *
    * Emits `(doc_id, n_fps, dup_fps)` for docs with ≥1 fingerprint
    * shared by ≥ `minDocs` docs: `dup_fps / n_fps` estimates the copied
    * fraction of the document.
    *
    * Scale shape: one window shuffle keyed on doc_id (rows are
    * `(doc_id, pos, long)` — the text never shuffles), one
    * map-side-combinable census agg keyed on the fingerprint, and one
    * hash join of the per-doc fingerprint set against the census —
    * no self-join, no cartesian, and state per doc is its fingerprint
    * count (~tokens / window · 2), not its length. */
  def winnowedDupSpans(docs: DataFrame, k: Int = 5, window: Int = 4,
      minDocs: Int = 2): DataFrame = {
    // both the census and the membership join consume `fps`, but the
    // distinct's exchange is reused across the two branches (measured:
    // a localCheckpoint here bought nothing), so no materialization —
    // unlike winnowRemoval, whose two consumers diverge before any
    // common exchange and DO need the checkpoint
    val fps = winnowedFps(docs, k, window).select("doc_id", "fp").distinct()
    val census = fps.groupBy("fp").agg(count(lit(1)).as("n_docs"))
    fps.join(census, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("n_docs") >= minDocs, 1L).otherwise(0L)).as("dup_fps"))
      .filter(col("dup_fps") > 0)
      .orderBy("doc_id")
  }

  /** Winnowed fingerprint OCCURRENCES `(doc_id, fp, gpos)` — the selected
    * gram hash plus the gram's token position, shared by
    * [[winnowedDupSpans]] (census) and [[winnowRemoval]] (excision).
    * The tie-break packing (`hash * 2^30 + (2^30-1-pos)`) makes one
    * integer `min` pick the rightmost minimal gram per window, and the
    * position is recovered exactly from the packed value. Public: the
    * selection plan is the expensive half of both consumers, and plan
    * audits pin its shape here. */
  def winnowedFps(docs: DataFrame, k: Int = 5, window: Int = 4): DataFrame = {
    require(k >= 1 && window >= 1, "k and window must be positive")
    // the whole selection is PER-DOCUMENT — no cross-doc dependency — so
    // it runs as one codegen kernel pass (graft.expr.WinnowKernel:
    // tokenize → md5-prefix gram hash → O(n) deque sliding min →
    // distinct), replacing the old posexplode + doc-keyed window + global
    // distinct: no per-token row blowup, no sort, no exchange anywhere in
    // this plan. Fingerprints are byte-identical (same hash, same
    // `hash * 2^30 + (2^30-1-pos)` rightmost-minimum packing).
    import org.apache.spark.sql.GraftColumnBridge
    docs.select(col("doc_id"),
        explode(GraftColumnBridge.column(graft.expr.WinnowFps(
          GraftColumnBridge.expression(col("text")), k, window))).as("s"))
      .select(col("doc_id"), col("s.fp").as("fp"), col("s.gpos").as("gpos"))
  }

  /** SPAN-LEVEL DUPLICATE REMOVAL — the excision step [[winnowedDupSpans]]
    * censuses: every winnowed fingerprint shared by ≥ `minDocs` documents
    * marks its `k`-token gram span `[gpos, gpos+k-1]`; overlapping marks
    * merge naturally at the token level, and each affected document is
    * rebuilt from its unmarked tokens (Lee et al. 2021-style substring
    * dedup, anchored on the winnowing cover instead of a suffix array).
    *
    * The rebuild is exact over the NORMALIZED token stream (lower/trim,
    * single-space joined — the same normalization the fingerprints hash),
    * so an oracle can replay it byte-for-byte.
    *
    * Emits one row per AFFECTED doc: `(doc_id, n_tokens, n_removed,
    * new_text)`.
    *
    * Scale shape: the fingerprint census and the mark join move
    * `(doc_id, long)` rows only; the token stream shuffles ONCE (the
    * per-doc rebuild aggregate), which is the floor for any rebuild; the
    * mark explode fans out k rows per duplicated fingerprint — bounded by
    * dup density, not corpus size. */
  /** EXACT-substring duplicate spans (Lee et al. 2021 "ExactSubstr"): the
    * maximal regions of each document whose every `k`-token gram occurs
    * at least `minOccurs` times in the whole corpus — including
    * within-document repeats, so self-plagiarized boilerplate is caught
    * too. The single-node reference algorithm is a suffix array; the
    * distributed shape is a gram-hash census: [[winnowedFps]] with
    * `window = 1` degenerates winnowing into ALL gram hashes (the
    * sliding min over one element is the element), so the same codegen
    * kernel serves both the sampled (winnowed) and exact surfaces.
    *
    * Returns per affected doc: `n_spans` (maximal merged spans),
    * `dup_tokens` (tokens covered by a duplicated gram), `max_span`
    * (longest span, in tokens).
    *
    * Scale shape: the gram frame is corpus-token-count rows of
    * (doc_id, fp, gpos) LONGS — text never shuffles; the census
    * `groupBy(fp)` is the one wide exchange (the honest cost of
    * exactness — ~(window+1)/2 × the winnowed census). The span merge
    * windows over MARKED positions only, so its sort is dup-density-
    * bounded, not corpus-bounded. The gram kernel is recomputed for the
    * mark join rather than checkpointed: n_tokens × corpus storage loses
    * to kernel recompute at scale (same call as the Jaccard gram frame). */
  def exactDupSpans(docs: DataFrame, k: Int = 6, minOccurs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val marked = exactDupOccurrences(docs, k, minOccurs).select("doc_id", "gpos")
    // fixed-length k intervals [gpos, gpos+k-1]: a new maximal span
    // starts where the gap to the previous marked gram leaves at least
    // one uncovered token (gpos > prev + k)
    val w = Window.partitionBy("doc_id").orderBy("gpos")
    val spans = marked
      .withColumn("brk",
        when(col("gpos") > lag("gpos", 1).over(w) + lit(k), 1L).otherwise(0L))
      .withColumn("span_id", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_id")
      .agg(min("gpos").as("s"), (max("gpos") + lit(k - 1)).as("e"))
    spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"),
        max(col("e") - col("s") + 1).as("max_span"))
      .orderBy("doc_id")
  }

  def winnowRemoval(docs: DataFrame, k: Int = 5, window: Int = 4,
      minDocs: Int = 2): DataFrame = {
    // same single-evaluation contract as winnowedDupSpans: occurrences
    // feed both the dup census and the mark join — materialize the
    // (doc_id, fp, gpos) longs once, not the window pipeline twice
    val occ = winnowedFps(docs, k, window).localCheckpoint()
    val dupFps = occ.select("doc_id", "fp").distinct()
      .groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("fp")
    rebuildWithoutMarked(docs, occ.join(dupFps, "fp"), k)
  }

  /** EXACT-substring duplicate REMOVAL — the action half of
    * [[exactDupSpans]] and the full Lee et al. ExactSubstr dedup: every
    * token covered by a `k`-gram occurring ≥ `minOccurs` times in the
    * corpus (within-doc repeats included) is excised, and affected docs
    * are rebuilt byte-exact over the normalized token stream. Shares the
    * gated rebuild with [[winnowRemoval]] — only span-carrying docs
    * enter the token shuffle. */
  def exactSubstrRemoval(docs: DataFrame, k: Int = 6,
      minOccurs: Int = 2): DataFrame =
    rebuildWithoutMarked(docs, exactDupOccurrences(docs, k, minOccurs), k)

  /** Shared ExactSubstr census: every (doc_id, fp, gpos) gram occurrence
    * whose hash occurs ≥ `minOccurs` times corpus-wide — one definition
    * feeding both the span report and the removal, so the two surfaces
    * cannot desynchronize.
    *
    * Deliberately census-agg + join rather than a `count over (partition
    * by fp)` window (measured ~12% faster at sf0.1): the window has NO
    * map-side partial aggregation, so a hot fingerprint — template spam,
    * boilerplate headers — pins one reducer at corpus scale, while the
    * aggregate pre-combines hot keys on the map side. The local win
    * loses to the 100 TB skew hazard. */
  private def exactDupOccurrences(docs: DataFrame, k: Int,
      minOccurs: Int): DataFrame = {
    val grams = winnowedFps(docs, k, window = 1)
    val dupFps = grams.groupBy("fp").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minOccurs)
      .select("fp")
    grams.join(dupFps, "fp")
  }

  /** Shared excision machinery: expand duplicated gram occurrences
    * (doc_id, gpos) into marked token positions, then rebuild ONLY the
    * affected docs without them. */
  private def rebuildWithoutMarked(docs: DataFrame, dupOcc: DataFrame,
      k: Int): DataFrame = {
    // marked feeds two consumers below (the rebuild gate and the token
    // join); it is dup-density-bounded longs, so materialize once
    val marked = dupOcc
      .select(col("doc_id"),
        explode(expr(s"sequence(gpos, gpos + ${k - 1})")).as("tpos"))
      .distinct()
      .withColumn("cut", lit(true))
      .localCheckpoint()
    // REBUILD GATE: only docs that actually carry a duplicated span enter
    // the token explode + per-doc reassembly shuffle. On a mostly-clean
    // corpus (the normal case) the rebuild cost tracks the DUP density,
    // not the corpus size — without the semi-join, every clean doc's
    // tokens would shuffle into the groupBy only to be filtered out.
    val affected = docs.join(
      marked.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
    val toks = affected.select(col("doc_id"),
      posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("tpos", "tok")))
    toks.join(marked, Seq("doc_id", "tpos"), "left")
      .withColumn("cut", coalesce(col("cut"), lit(false)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("cut"), 1L).otherwise(0L)).as("n_removed"),
        array_join(expr("transform(array_sort(collect_list(" +
          "CASE WHEN NOT cut THEN struct(tpos, tok) END)), " +
          "s -> s.tok)"), " ").as("new_text"))
      .filter(col("n_removed") > 0)
      .withColumn("new_n_chars", length(col("new_text")))
      .orderBy("doc_id")
  }
}
