package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.api.Engine

object AnnIndexSpec {
  case class Vec(vec_id: Long, label: Int, embedding: Seq[Float])
}

/** The persisted IVF-Flat index: bootstrap trains once, every probe and
  * admission after that runs off the frozen table (no kmeans jobs), and
  * probes prune to the probed lists' files through the identity(cluster)
  * partition spec. */
class AnnIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("bootstrap once; searches and mining never re-cluster and prune list files") {
    val wh = java.nio.file.Files.createTempDirectory("annidx").toString
    val e = new Engine(spark, wh)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = new AnnIndex(e, "ml.ann_index", kClusters = 4, iters = 2)
    idx.create()

    val runsBefore = Clustering.kmeansRuns.get()
    val cents = idx.bootstrap(emb)
    assert(Clustering.kmeansRuns.get() == runsBefore + 1)
    assert(cents.size == 4)
    // the quantizer round-trips the table properties bit-exactly
    assert(idx.centroids == cents)
    assert(idx.signatures.count() == emb.count())

    // identity(cluster) layout: the 2-of-4-list probe reads FEWER index
    // files than the table holds (partition-spec file pruning)
    val totalFiles = idx.signatures.inputFiles.length
    val probedFiles = idx.candidates(Seq(0, 1)).inputFiles.length
    assert(totalFiles >= 4, s"expected one file per list, got $totalFiles")
    assert(probedFiles < totalFiles, s"$probedFiles vs $totalFiles")

    // SECOND-RUN contract: search + mining trigger ZERO kmeans runs
    val runsAfterBoot = Clustering.kmeansRuns.get()
    val hits = idx.search(col("vec_id") === 0L, k = 3, nProbe = 2).collect()
    assert(hits.length == 3 && hits.forall(_.getAs[Long]("c_id") != 0L))
    val mined = idx.hardNegatives(col("vec_id") < 10, k = 3, nProbe = 2)
    val minedRows = mined.collect()
    assert(Clustering.kmeansRuns.get() == runsAfterBoot,
      "a probe run re-clustered — the persisted quantizer must be frozen")

    // index-served mining == the raw-corpus IVF route with the same
    // quantizer parameters (the index only changes WHERE candidates are
    // read from, never what comes back)
    val direct = Similarity.hardNegativesIvf(emb, col("vec_id") < 10,
      k = 3, kClusters = 4, iters = 2, nProbe = 2).collect()
    assert(minedRows.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)

    // the mining CANDIDATE scan opens only the probed lists' files: a
    // single probe routes to 2 of the 4 lists, so the pruned slice —
    // derived exactly as hardNegatives derives it — must open strictly
    // fewer files than the table holds (fails if list pruning breaks;
    // the full `mined` plan can't carry this assert because its PROBE
    // side is a vec_id filter over all files by design)
    val oneProbeClusters = idx.signatures.filter(col("vec_id") === 0L)
      .select(explode(Similarity.probedClusters(cents, 2)).as("c"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    assert(oneProbeClusters.size == 2)
    val minedCandFiles = idx.candidates(oneProbeClusters).inputFiles.length
    assert(minedCandFiles < totalFiles,
      s"candidate scan opened $minedCandFiles of $totalFiles index files " +
        "— list pruning broke")

    // index-served SemDeDup == the from-scratch run with the same
    // quantizer parameters, and it too never re-clusters
    val runsBefore2 = Clustering.kmeansRuns.get()
    val viaIndex = idx.semDeDup(0.35).collect().map(_.toSeq).toSeq
    assert(Clustering.kmeansRuns.get() == runsBefore2, "semDeDup re-clustered")
    val scratch = Similarity.semDeDup(emb, k = 4, iters = 2, threshold = 0.35)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex == scratch)
  }

  test("semantic admission gate: near-dups of the index rejected, novel vectors admitted, closed loop") {
    val s2 = spark
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("annadmit").toString
    val e = new Engine(spark, wh)
    // controlled 4-dim corpus: two well-separated directions
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val corpus = Seq(
      (100L, 0, v(1, 0, 0, 0)), (101L, 0, v(0.9, 0.1, 0, 0)),
      (102L, 1, v(0, 0, 1, 0)), (103L, 1, v(0, 0, 0.9, 0.1)))
      .toDF("vec_id", "label", "embedding")
    val idx = new AnnIndex(e, "ml.gate_index", kClusters = 2, iters = 2)
    idx.create()
    idx.bootstrap(corpus)
    val runs = Clustering.kmeansRuns.get()

    // batch 1: an exact copy of an indexed vector (sim 1.0 -> rejected),
    // a genuinely novel direction (admitted), and two intra-batch
    // near-dups (min-id survives under dedupWithinBatch)
    val batch1 = Seq(
      (10L, 0, v(1, 0, 0, 0)),          // dup of 100 -> rejected
      (11L, 1, v(0, 1, 0, 0)),          // novel -> admitted
      (12L, 1, v(0, 0.99, 0.05, 0)),    // near-dup of 11 within batch -> dropped
      (13L, 0, v(0.5, 0.5, 0.5, 0.5)))  // novel -> admitted
    val surv1 = idx.admitIfNovel(
      batch1.toDF("vec_id", "label", "embedding"), 0.95, dedupWithinBatch = true)
    assert(surv1.select("vec_id").as[Long].collect().sorted.toSeq == Seq(11L, 13L))
    // admitted vectors are now part of the index
    assert(idx.signatures.count() == 6)
    // batch 2: a near-dup of batch-1 survivor 11 is now gated
    val surv2 = idx.admitIfNovel(
      Seq((20L, 1, v(0, 0.98, 0, 0))).toDF("vec_id", "label", "embedding"), 0.95)
    assert(surv2.isEmpty && idx.signatures.count() == 6)
    // redelivery of batch 1: survivors flow again, index unchanged
    val redeliver = idx.admitIfNovel(
      batch1.toDF("vec_id", "label", "embedding"), 0.95, dedupWithinBatch = true)
    assert(redeliver.select("vec_id").as[Long].collect().sorted.toSeq == Seq(11L, 13L))
    assert(idx.signatures.count() == 6)
    assert(Clustering.kmeansRuns.get() == runs, "the gate must not re-cluster")

    // redelivery of a batch of MUTUAL near-dups (admitted together under
    // the default dedupWithinBatch=false) must surface the same
    // survivors — their own now-indexed rows are redelivery evidence,
    // not duplicates of each other (round-10 review counterexample: a
    // foreachBatch retry after the index append would otherwise lose
    // the rows downstream permanently)
    val mutual = Seq(
      (40L, 0, v(0.6, 0, 0.8, 0)), (41L, 0, v(0.55, 0, 0.835, 0)))
      .toDF("vec_id", "label", "embedding")
    val first = idx.admitIfNovel(mutual, 0.95)
    assert(first.select("vec_id").as[Long].collect().sorted.toSeq == Seq(40L, 41L))
    val again = idx.admitIfNovel(mutual, 0.95)
    assert(again.select("vec_id").as[Long].collect().sorted.toSeq == Seq(40L, 41L),
      "redelivered mutual near-dups flagged each other")
    assert(idx.signatures.count() == 8) // appended once, not twice

    // streaming twin: the same gate as a closed micro-batch loop
    import AnnIndexSpec.Vec
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Vec]
    val ckpt = java.nio.file.Files.createTempDirectory("annadmitc").toString
    val admitted = scala.collection.mutable.Buffer.empty[Long]
    val q = idx.admitStream(input.toDF(), 0.95, ckpt) { surv =>
      admitted ++= surv.select("vec_id").as[Long].collect(); ()
    }
    try {
      input.addData(Vec(30L, 0, v(0, 0, 0, 1)))      // novel -> admitted
      q.processAllAvailable()
      input.addData(Vec(31L, 0, v(0, 0, 0.05, 0.99))) // near-dup of 30 -> gated
      q.processAllAvailable()
      assert(admitted.sorted.toSeq == Seq(30L), admitted.toString)
      assert(idx.signatures.count() == 9)
    } finally q.stop()

    // RETIRE (corpus deletion): one keyed equality-delete commit — the
    // vector stops being served AND stops gating fresh copies; the
    // frozen quantizer is untouched (no kmeans)
    val preRetire = Clustering.kmeansRuns.get()
    idx.retire(Seq(30L))
    assert(idx.signatures.filter(col("vec_id") === 30L).count() == 0L)
    assert(idx.signatures.count() == 8)
    val hits = idx.search(
      Seq((900L, 0, v(0, 0, 0, 1))).toDF("vec_id", "label", "embedding"),
      k = 8, nProbe = 2).collect()
    assert(hits.nonEmpty && !hits.map(_.getAs[Long]("c_id")).contains(30L),
      "retired vector still served")
    // the ghost no longer blocks re-admission of an equivalent vector
    val fresh = idx.admitIfNovel(
      Seq((50L, 0, v(0, 0, 0, 1))).toDF("vec_id", "label", "embedding"), 0.95)
    assert(fresh.select("vec_id").as[Long].collect().toSeq == Seq(50L))
    assert(Clustering.kmeansRuns.get() == preRetire, "retire must not re-cluster")
  }

  test("external-probe search: brute-force neighbors from pruned lists, no kmeans, no admission") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("annext").toString
    val e = new Engine(spark, wh)
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // two well-separated directions -> 2 clean clusters of 2
    val corpus = Seq(
      (100L, 0, v(1, 0, 0, 0)), (101L, 0, v(0.9, 0.1, 0, 0)),
      (102L, 1, v(0, 0, 1, 0)), (103L, 1, v(0, 0, 0.9, 0.1)))
      .toDF("vec_id", "label", "embedding")
    val idx = new AnnIndex(e, "ml.ext_index", kClusters = 2, iters = 2)
    idx.create()
    idx.bootstrap(corpus)
    val runs = Clustering.kmeansRuns.get()
    val countBefore = idx.signatures.count()

    // 3 EXTERNAL query vectors (ids overlap index ids on purpose — a
    // separate namespace, so none may be self-excluded)
    val probes = Seq(
      (100L, v(0.95, 0.05, 0, 0)), (7L, v(0.8, 0.2, 0, 0)),
      (8L, v(0, 0.05, 0.95, 0)))
      .toDF("vec_id", "embedding")
    val res = idx.search(probes, k = 2, nProbe = 1)
    val hits = res.collect()

    // brute-force expectation: directions are orthogonal, so each
    // probe's global top-2 lives entirely in its own cluster — the
    // 1-probed-list search must return exactly the brute-force result
    val expected = {
      val corpusV = corpus.collect().map(r =>
        (r.getLong(0), r.getSeq[Float](2).map(_.toDouble)))
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        BigDecimal(d / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      probes.collect().flatMap { p =>
        val q = p.getSeq[Float](1).map(_.toDouble)
        corpusV.map { case (cid, cv) => (p.getLong(0), cid, cos(q, cv)) }
          .sortBy { case (_, cid, s) => (-s, cid) }.take(2)
      }.map { case (qid, cid, s) => (qid, cid, s) }.toSet
    }
    assert(hits.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"),
      r.getAs[Double]("sim"))).toSet == expected)

    // serving contract: no kmeans, no mutation, pruned list reads
    assert(Clustering.kmeansRuns.get() == runs, "external search re-clustered")
    assert(idx.signatures.count() == countBefore, "external search mutated the index")
    val totalFiles = idx.signatures.inputFiles.length
    val oneProbe = idx.search(probes.limit(1), k = 2, nProbe = 1)
    assert(oneProbe.inputFiles.count(_.contains("ml/ext_index")) < totalFiles,
      "external probe did not prune to its routed list's files")
  }

  test("admitIfNovel runs exactly 3 jobs before the append (fused driver plumbing)") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("annjobs").toString
    val e = new Engine(spark, wh)
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val corpus = Seq(
      (100L, 0, v(1, 0, 0, 0)), (101L, 0, v(0.9, 0.1, 0, 0)),
      (102L, 1, v(0, 0, 1, 0)), (103L, 1, v(0, 0, 0.9, 0.1)))
      .toDF("vec_id", "label", "embedding")
    val idx = new AnnIndex(e, "ml.jobs_index", kClusters = 2, iters = 2)
    idx.create()
    idx.bootstrap(corpus)

    // count driver ACTIONS, not raw jobs: one SQL action = one distinct
    // spark.sql.execution.id across however many AQE-stage / broadcast
    // sub-jobs it spawns — the per-action plan+submit overhead is what
    // dominates small micro-batches. An all-rejected batch never
    // appends, so every action it runs is gate overhead; the fused
    // formulation pins that at 3 (census, survivor checkpoint,
    // emptiness probe).
    val (_, jobs) = graft.obs.JobCensus.during(spark) {
      val rejected = idx.admitIfNovel(
        Seq((10L, 0, v(1, 0, 0, 0))).toDF("vec_id", "label", "embedding"), 0.95)
      assert(rejected.isEmpty)
    }
    // minus the isEmpty assert's own action
    val gateActions = graft.obs.JobCensus.actions(jobs) - 1
    assert(gateActions <= 3,
      s"gate ran $gateActions driver actions — fused plumbing regressed: " +
        jobs.mkString("; "))
    assert(idx.signatures.count() == 4) // nothing appended
  }

  test("drift canary: shifted admissions flip the advisor, in-distribution do not") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("anndrift").toString
    val e = new Engine(spark, wh)
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val corpus = Seq(
      (100L, 0, v(1, 0, 0, 0)), (101L, 0, v(0.9, 0.1, 0, 0)),
      (102L, 1, v(0, 0, 1, 0)), (103L, 1, v(0, 0, 0.9, 0.1)))
      .toDF("vec_id", "label", "embedding")
    val idx = new AnnIndex(e, "ml.drift_index", kClusters = 2, iters = 2)
    idx.create()
    idx.bootstrap(corpus)

    def adviseRow(): (String, String) = {
      val r = e.advise("ml.drift_index")
        .filter(col("action") === "ann-rebuild").collect()
      assert(r.length == 1, "advise must surface the ann-rebuild canary for index tables")
      (r.head.getString(1), r.head.getString(2))
    }
    // fresh index: no admissions, nothing to flag
    val d0 = idx.drift.get
    assert(d0.admitted == 0L && !d0.recommended)
    assert(adviseRow()._1 == "OK")

    // IN-DISTRIBUTION admissions (one per direction): shares match the
    // bootstrap 50/50 split exactly -> TV = 0 -> still OK
    idx.admit(Seq((10L, 0, v(0.95, 0.05, 0, 0)), (11L, 1, v(0, 0, 0.95, 0.05)))
      .toDF("vec_id", "label", "embedding"))
    val d1 = idx.drift.get
    assert(d1.admitted == 2L && d1.tv == 0.0 && !d1.recommended, d1.toString)
    assert(adviseRow()._1 == "OK")

    // SHIFTED admissions: 4 more vectors all in one direction ->
    // admission share 5/6 vs bootstrap 1/2 -> TV ≈ 0.33 ≥ 0.3 ->
    // the advisor names the rebuild
    idx.admit((20L to 23L).map(i => (i, 0, v(1, 0.01 * i, 0, 0)))
      .toDF("vec_id", "label", "embedding"))
    val d2 = idx.drift.get
    assert(d2.admitted == 6L && d2.recommended, d2.toString)
    val (st, why) = adviseRow()
    assert(st == "RECOMMENDED" && why.contains("rebuild"), (st, why).toString)

    // a plain (non-index) table never grows the canary row
    e.createTable("ml.plain", new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType), Seq.empty)
    e.append("ml.plain", Seq(1L).toDF("id"))
    assert(e.advise("ml.plain")
      .filter(col("action") === "ann-rebuild").collect().isEmpty)

    // SCALE contract: above the summary gate the occupancy census runs
    // through the files RELATION (executor-parallel), never a driver
    // t.files() walk — and both paths agree exactly
    val t = e.load("ml.drift_index")
    val walks0 = AnnIndex.driftDriverWalks.get()
    val viaRelation = AnnIndex.drift(t, Some(spark), maxDriverFiles = 0L).get
    assert(AnnIndex.driftDriverWalks.get() == walks0,
      "drift walked t.files() on the driver above the gate")
    val viaDriver = AnnIndex.drift(t, None, maxDriverFiles = 0L).get
    assert(AnnIndex.driftDriverWalks.get() == walks0 + 1)
    assert(viaRelation == viaDriver && viaRelation == d2)
  }

  test("IVF-PQ index: persisted codebooks, code-only ADC scan, exact-rerank parity") {
    val wh = java.nio.file.Files.createTempDirectory("annpq").toString
    val e = new Engine(spark, wh)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val pq = new AnnIndex(e, "ml.pq_index", kClusters = 4, iters = 2,
      pqM = 4, pqK = 8)
    pq.create()
    val runsBefore = Clustering.kmeansRuns.get()
    pq.bootstrap(emb)
    // 1 coarse + pqM subspace kmeans runs, ALL at bootstrap
    assert(Clustering.kmeansRuns.get() == runsBefore + 5)
    // codebooks round-trip from table properties
    val cbs = pq.codebooks.get
    assert(cbs.length == 4 && cbs.forall(_.length == 8) &&
      cbs.forall(_.forall(_.length == 16)))
    // every row carries its codes, encoded by the frozen codebooks
    val storedCodes = pq.signatures.select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val expectedCodes = emb.select(col("vec_id"),
        Similarity.pqCodes(cbs, "embedding").as("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(storedCodes == expectedCodes)

    // serving: no kmeans; index-served == the from-scratch ivfPqSearch
    // with the same parameters (k=5, nProbe=2, rerank=10 — the q_ann_ivfpq
    // oracle query's shape)
    val runs = Clustering.kmeansRuns.get()
    val served = pq.search(col("vec_id") < 10, k = 5, nProbe = 2, rerank = 10)
    val servedRows = served.collect()
    assert(Clustering.kmeansRuns.get() == runs, "PQ search re-clustered")
    val scratch = Similarity.ivfPqSearch(emb, col("vec_id") < 10).collect()
    assert(servedRows.map(_.toSeq).toSeq == scratch.map(_.toSeq).toSeq)

    // the ADC scoring pass reads CODES, never the 4·dim vector payload
    // (the 16-32× list-IO cut that makes IVF-PQ the 100 TB posture) —
    // some index scan in the plan carries codes WITHOUT embedding
    val plan = served.queryExecution.executedPlan.toString
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
    assert(readSchemas.exists(s => s.contains("codes") && !s.contains("embedding")),
      s"no code-only scan in plan:\n${readSchemas.mkString("\n")}")
    // and probes still prune to the probed lists' files (a single probe
    // routes to 1 of the 4 lists — the 10-probe search above touches
    // every list by design, so it can't carry this assert)
    val totalFiles = pq.signatures.inputFiles.length
    val oneServed = pq.search(col("vec_id") === 0L, k = 2, nProbe = 1)
    assert(oneServed.inputFiles.count(_.contains("ml/pq_index")) < totalFiles,
      "PQ search did not prune to the probed lists' files")

    // with the rerank budget covering the probed lists, PQ == FLAT
    // exactly (the exact rerank sees every candidate the flat scan sees)
    val flat = new AnnIndex(e, "ml.flat_twin", kClusters = 4, iters = 2)
    flat.create()
    flat.bootstrap(emb)
    val flatRows = flat.search(col("vec_id") < 10, k = 5, nProbe = 2)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("cluster"),
        r.getAs[Long]("c_id"), r.getAs[Double]("sim"), r.getAs[Int]("rn")))
      .toSeq
    val pqFull = pq.search(col("vec_id") < 10, k = 5, nProbe = 2,
        rerank = Int.MaxValue).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("cluster"),
        r.getAs[Long]("c_id"), r.getAs[Double]("sim"), r.getAs[Int]("rn")))
      .toSeq
    assert(pqFull == flatRows)

    // recall@5 vs the flat scan climbs with the rerank budget — pinned
    // at two points of the (deterministic) curve on this fixture. The
    // synthetic near-random vectors are PQ's WORST case (pairwise
    // distances concentrate, so 8-code subspaces barely discriminate);
    // measured: rerank 20→0.48, 80→0.88, 250(full)→1.00. Real clustered
    // embeddings sit far above this floor at the same budgets.
    val flatPairs = flatRows.map(t => (t._1, t._3)).toSet
    def recallAt(rerank: Int): Double = {
      val got = pq.search(col("vec_id") < 10, k = 5, nProbe = 2, rerank = rerank)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
      got.intersect(flatPairs).size.toDouble / flatPairs.size
    }
    val r20 = recallAt(20)
    val r80 = recallAt(80)
    assert(r20 >= 0.45, f"recall@5 $r20%.2f at rerank=20")
    assert(r80 >= 0.85, f"recall@5 $r80%.2f at rerank=80")
    assert(r80 >= r20, "recall must not degrade with a larger rerank budget")
  }

  test("serving calls pin ONE metadata load — quantizers and scans share a snapshot") {
    val wh = java.nio.file.Files.createTempDirectory("annload").toString
    val e = new Engine(spark, wh)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val pq = new AnnIndex(e, "ml.pin_idx", kClusters = 4, iters = 2,
      pqM = 4, pqK = 8)
    pq.create()
    pq.bootstrap(emb)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    def loadsOf(body: => Unit): Long = {
      val before = Engine.loadCensus.get()
      body
      Engine.loadCensus.get() - before
    }
    // a bootstrap() commit landing between two metadata reads could mix
    // quantizer generations (probes routed by the OLD centroids but
    // ADC-scored with the NEW codebooks against new codes) — so every
    // serving/mining call must read table metadata exactly once, and the
    // candidate scans must be projections of that same pinned snapshot
    assert(loadsOf(
      pq.search(col("vec_id") < 5, k = 3, nProbe = 2).collect()) == 1L,
      "predicate search must pin one metadata load")
    assert(loadsOf(pq.search(probes, 3, 2).collect()) == 1L,
      "external-probe search must pin one metadata load")
    assert(loadsOf(pq.decontam(probes, 0.3).collect()) == 1L,
      "index-served decontam must pin one metadata load")
    assert(loadsOf(
      pq.hardNegatives(col("vec_id") < 5, k = 3, nProbe = 2).collect()) == 1L,
      "index-served mining must pin one metadata load")
  }

  test("PQ admission: frozen-codebook encode, gate appends schema-complete rows") {
    val wh = java.nio.file.Files.createTempDirectory("annpqadmit").toString
    val e = new Engine(spark, wh)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val pq = new AnnIndex(e, "ml.pq_admit", kClusters = 4, iters = 2,
      pqM = 4, pqK = 8)
    pq.create()
    pq.bootstrap(emb.filter(col("vec_id") >= 10))
    val cbs = pq.codebooks.get
    val runs = Clustering.kmeansRuns.get()
    val admitted = pq.admit(emb.filter(col("vec_id") < 10))
    assert(Clustering.kmeansRuns.get() == runs, "PQ admit retrained")
    assert(admitted.count() == 10)
    // admitted rows were encoded against the FROZEN codebooks
    val stored = pq.signatures.filter(col("vec_id") < 10)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val expected = emb.filter(col("vec_id") < 10).select(col("vec_id"),
        Similarity.pqCodes(cbs, "embedding").as("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(stored == expected)
    // the semantic gate: redelivered rows pass through without a second
    // append; a genuinely novel vector lands WITH its codes
    val redelivered = pq.admitIfNovel(emb.filter(col("vec_id") < 10), 0.95)
    assert(redelivered.count() == 10)
    assert(pq.signatures.count() == emb.count())
    val s2 = spark
    import s2.implicits._
    val novel = Seq((90001L, 0, Seq.tabulate(64)(i =>
      if (i % 2 == 0) 0.7f else -0.7f)))
      .toDF("vec_id", "label", "embedding")
    val surv = pq.admitIfNovel(novel, 0.95)
    assert(surv.count() == 1)
    val landed = pq.signatures.filter(col("vec_id") === 90001L)
      .select("codes").collect()
    assert(landed.length == 1 && landed.head.getSeq[Int](0).length == 4)

    // compaction rewrites the per-batch small files; the codes column
    // and the PQ serving path survive the rewrite
    val filesBefore = pq.signatures.inputFiles.length
    assert(pq.compact().nonEmpty)
    assert(pq.signatures.inputFiles.length < filesBefore)
    assert(pq.signatures.filter(col("codes").isNull).count() == 0)
    assert(pq.search(col("vec_id") === 90001L, k = 2, nProbe = 2)
      .collect().length == 2)
  }

  test("index-served decontamination: pruned reads, brute-force parity on separated fixture") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("anndecon").toString
    val e = new Engine(spark, wh)
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // two well-separated directions -> 2 clean inverted lists
    val corpus = Seq(
      (100L, 0, v(1, 0, 0, 0)), (101L, 0, v(0.9, 0.1, 0, 0)),
      (102L, 1, v(0, 0, 1, 0)), (103L, 1, v(0, 0, 0.9, 0.1)))
      .toDF("vec_id", "label", "embedding")
    val idx = new AnnIndex(e, "ml.decon_index", kClusters = 2, iters = 2)
    idx.create()
    idx.bootstrap(corpus)
    val runs = Clustering.kmeansRuns.get()
    val countBefore = idx.signatures.count()

    // benchmark probes: one contaminates direction A (hits 100 and 101),
    // one sits in direction B (hits 102 and 103 at lower sim)
    val probes = Seq(
      (7L, v(0.95, 0.05, 0, 0)), (8L, v(0, 0, 0.97, 0.03)))
      .toDF("vec_id", "embedding")
    val flagged = idx.decontam(probes, threshold = 0.97, nProbe = 1)
    val rows = flagged.collect()
      .map(r => (r.getAs[Long]("c_id"), r.getAs[Long]("n_probe_hits"),
        r.getAs[Double]("top_sim"), r.getAs[Long]("first_probe")))

    // brute-force expectation over the whole corpus (directions are
    // orthogonal, so nProbe=1 loses nothing on this fixture)
    val expected = {
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        BigDecimal(d / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val probeV = probes.collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      corpus.collect().flatMap { c =>
        val cv = c.getSeq[Float](2).map(_.toDouble)
        val hits = probeV.map { case (qid, qv) => (qid, cos(cv, qv)) }
          .filter(_._2 >= 0.97)
        if (hits.isEmpty) Nil
        else Seq((c.getLong(0), hits.length.toLong, hits.map(_._2).max,
          hits.map(_._1).min))
      }.sortBy(_._1).toSeq
    }
    assert(rows.toSeq == expected)

    // serving contract: no kmeans, no mutation, pruned list reads
    assert(Clustering.kmeansRuns.get() == runs, "decontam re-clustered")
    assert(idx.signatures.count() == countBefore, "decontam mutated the index")
    val totalFiles = idx.signatures.inputFiles.length
    val onePruned = idx.decontam(probes.filter(col("vec_id") === 7L),
      threshold = 0.97, nProbe = 1)
    assert(onePruned.inputFiles.count(_.contains("ml/decon_index")) < totalFiles,
      "decontam did not prune to the probed lists' files")

    // index-served decontamination == the from-scratch IVF route with
    // the same quantizer parameters (the q_semantic_decontam_ivf shape:
    // quantizer trained on the CORPUS, probes external) — the index
    // only changes WHERE candidates are read from, never what comes back
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val probePred = col("vec_id") % 40 === 0
    val big = new AnnIndex(e, "ml.decon_big", kClusters = 4, iters = 2)
    big.create()
    big.bootstrap(emb.filter(!probePred))
    val runs2 = Clustering.kmeansRuns.get()
    val viaIndex = big.decontam(
        emb.filter(probePred).select("vec_id", "embedding"), 0.35, nProbe = 2)
      .collect().map(_.toSeq).toSeq
    assert(Clustering.kmeansRuns.get() == runs2, "index decontam re-clustered")
    val scratch = Similarity.semanticDecontamIvf(emb, probePred, 0.35)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex == scratch)
    assert(viaIndex.nonEmpty, "vacuous parity: fixture produced no hits")
  }

  test("admit assigns new vectors to the frozen centroids; they become searchable") {
    val wh = java.nio.file.Files.createTempDirectory("annidx2").toString
    val e = new Engine(spark, wh)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = new AnnIndex(e, "ml.ann_index", kClusters = 4, iters = 2)
    idx.create()
    idx.bootstrap(emb.filter(col("vec_id") >= 10))

    val runs = Clustering.kmeansRuns.get()
    val admitted = idx.admit(emb.filter(col("vec_id") < 10))
    assert(Clustering.kmeansRuns.get() == runs, "admit must not retrain")
    assert(admitted.count() == 10)
    // admitted vectors land in the SAME lists the frozen quantizer names
    val expected = Clustering.assign(
        emb.filter(col("vec_id") < 10), idx.centroids)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val stored = idx.signatures.filter(col("vec_id") < 10)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored == expected)
    // and they are immediately searchable
    val hits = idx.search(col("vec_id") === 0L, k = 2, nProbe = 2).collect()
    assert(hits.length == 2)

    // maintenance: the per-batch small files fold; the bucketed layout
    // (and pruning) survives compaction
    val filesBefore = idx.signatures.inputFiles.length
    assert(idx.compact().nonEmpty)
    val filesAfter = idx.signatures.inputFiles.length
    assert(filesAfter < filesBefore)
    assert(idx.candidates(Seq(0)).inputFiles.length < filesAfter ||
      filesAfter == 1)
  }

  test("rebuild retrains from current rows in one commit and resets the drift baseline") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("annrebuild").toString
    val e = new Engine(spark, wh)
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val corpus = Seq(
      (100L, 0, v(1, 0, 0, 0)), (101L, 0, v(0.9, 0.1, 0, 0)),
      (102L, 1, v(0, 0, 1, 0)), (103L, 1, v(0, 0, 0.9, 0.1)))
      .toDF("vec_id", "label", "embedding")
    // iters = 3 ≠ the handle default (2): the rebuild below must retrain
    // at the PERSISTED depth, not silently downgrade to the default
    val idx = new AnnIndex(e, "ml.rb_index", kClusters = 2, iters = 3,
      pqM = 2, pqK = 2)
    idx.create()
    idx.bootstrap(corpus)
    assert(e.load("ml.rb_index").metadata.properties
      .get(AnnIndex.ItersProp).contains("3"))
    // shifted admissions push the canary over the rebuild threshold
    idx.admit((20L to 25L).map(i => (i, 0, v(1, 0.01 * i, 0, 0)))
      .toDF("vec_id", "label", "embedding"))
    assert(idx.drift.get.recommended)

    // the rebuild runs on a DEFAULT-constructed handle: k and PQ-ness
    // must come from the persisted state, not the handle's defaults
    val handle = new AnnIndex(e, "ml.rb_index")
    val runs = Clustering.kmeansRuns.get()
    val snapsBefore = e.load("ml.rb_index").metadata.snapshots.size
    val cents = handle.rebuild()
    val afterRebuild = Clustering.kmeansRuns.get()
    assert(afterRebuild > runs, "rebuild must retrain")
    assert(cents.length == 2, "k must come from the persisted centroids")
    assert(handle.codebooks.exists(_.length == 2),
      "PQ-ness and M must come from the persisted codebooks")
    assert(Clustering.lastKmeansIters.get() == 3,
      "training depth must come from the persisted bootstrap iters, " +
        "not the handle default")
    assert(e.load("ml.rb_index").metadata.properties
      .get(AnnIndex.ItersProp).contains("3"),
      "the rebuilt quantizer re-persists its training depth")

    // ONE overwrite commit carries data + quantizer + baseline together
    val t = e.load("ml.rb_index")
    assert(t.metadata.snapshots.size == snapsBefore + 1)
    assert(t.metadata.currentSnapshot.get.operation == "overwrite")

    // the baseline reset: all 10 rows are the new bootstrap population
    val d = handle.drift.get
    assert(d.admitted == 0L && !d.recommended, d.toString)
    assert(handle.signatures.count() == 10)

    // deterministic training: the rebuilt index IS a fresh bootstrap of
    // the same vectors — quantizer, codebooks, and served results all
    // reproduce a from-scratch twin exactly
    val e2 = new Engine(spark, java.nio.file.Files.createTempDirectory("annrb2").toString)
    val twin = new AnnIndex(e2, "ml.rb_twin", kClusters = 2, iters = 3,
      pqM = 2, pqK = 2)
    twin.create()
    twin.bootstrap(corpus.union(
      (20L to 25L).map(i => (i, 0, v(1, 0.01 * i, 0, 0)))
        .toDF("vec_id", "label", "embedding")))
    val afterTwin = Clustering.kmeansRuns.get()
    // a rebuild IS a bootstrap: same training job census
    assert(afterTwin - afterRebuild == afterRebuild - runs)
    assert(handle.centroids == twin.centroids)
    assert(handle.codebooks == twin.codebooks)
    val probes = Seq((900L, 0, v(0.95, 0.05, 0, 0)), (901L, 1, v(0, 0, 1, 0.05)))
      .toDF("vec_id", "label", "embedding")
    assert(
      handle.search(probes, 3, 2).collect().map(_.toSeq).toSeq ==
        twin.search(probes, 3, 2).collect().map(_.toSeq).toSeq)

    // serving after the rebuild stays frozen (no kmeans)
    assert(Clustering.kmeansRuns.get() == afterTwin)

    // an explicit override retrains at ITS depth and persists it for
    // the next rebuild
    handle.rebuild(Some(4))
    assert(Clustering.lastKmeansIters.get() == 4)
    assert(e.load("ml.rb_index").metadata.properties
      .get(AnnIndex.ItersProp).contains("4"))
  }

  test("semantic dup ledger: the gate folds cosine collision pairs into " +
      "the component index — stream == batch, redelivery idempotent") {
    val s2 = spark
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("annsem").toString
    val e = new graft.api.Engine(spark, wh)
    def vec(id: Long, x: Float, y: Float, label: Int = 0) =
      AnnIndexSpec.Vec(id, label, Seq(x, y))
    val corpus = Seq(vec(1L, 1f, 0f), vec(2L, 0f, 1f, 1)).toDF()
    // batch 1: a near-copy of corpus vec 1 (rejected -> edge 10-1) and a
    // genuinely novel direction (admitted); batch 2: a near-copy of the
    // batch-1 SURVIVOR (edge 12-11 — provenance of a dup of a doc the
    // index only just learned) and another copy of vec 1 (edge 13-1)
    val batch1 = Seq(vec(10L, 0.99f, 0.01f), vec(11L, 0.72f, 0.69f))
    val batch2 = Seq(vec(12L, 0.73f, 0.70f), vec(13L, 0.98f, 0.02f))
    def ledger(c: ComponentIndex) = c.assignments.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // ---- batch path ----
    val idxB = new AnnIndex(e, "ml.sem_idx_b", kClusters = 2, iters = 2)
    idxB.create(); idxB.bootstrap(corpus)
    val compsB = new ComponentIndex(e, "ml.sem_comps_b")
    compsB.create()
    val s1 = idxB.admitIfNovel(batch1.toDF(), 0.9,
      components = Some(compsB))
    assert(s1.select("vec_id").as[Long].collect().toSet == Set(11L))
    assert(ledger(compsB) == Map(10L -> 1L))
    val s2out = idxB.admitIfNovel(batch2.toDF(), 0.9,
      components = Some(compsB))
    assert(s2out.count() == 0L)
    // transitive semantic-dup chains close ACROSS batches: 12 joins the
    // survivor 11's cluster, 13 joins {1, 10}
    assert(ledger(compsB) == Map(10L -> 1L, 13L -> 1L, 12L -> 11L))

    // REDELIVERY of batch 2: both vectors were rejected, their pairs
    // re-derive and fold to an EMPTY delta — no ledger commit, index
    // unchanged
    val snaps = e.load("ml.sem_comps_b").metadata.snapshots.size
    val rows = idxB.signatures.count()
    idxB.admitIfNovel(batch2.toDF(), 0.9, components = Some(compsB))
    assert(e.load("ml.sem_comps_b").metadata.snapshots.size == snaps)
    assert(idxB.signatures.count() == rows)
    assert(ledger(compsB) == Map(10L -> 1L, 13L -> 1L, 12L -> 11L))

    // INTRA-batch mutual cosine dups: both admitted (the gate contract
    // is vs the standing index), but their edge still folds
    val batch3 = Seq(vec(30L, 0.6f, 0.8f), vec(31L, 0.61f, 0.79f))
    val s3 = idxB.admitIfNovel(batch3.toDF(), 0.9,
      components = Some(compsB))
    assert(s3.select("vec_id").as[Long].collect().toSet == Set(30L, 31L))
    assert(ledger(compsB) ==
      Map(10L -> 1L, 13L -> 1L, 12L -> 11L, 31L -> 30L))
    // redelivery of batch3: both endpoints selfIndexed — the intra set
    // is suppressed, nothing folds, no ledger commit
    val snaps3 = e.load("ml.sem_comps_b").metadata.snapshots.size
    idxB.admitIfNovel(batch3.toDF(), 0.9, components = Some(compsB))
    assert(e.load("ml.sem_comps_b").metadata.snapshots.size == snaps3)
    assert(ledger(compsB) ==
      Map(10L -> 1L, 13L -> 1L, 12L -> 11L, 31L -> 30L))

    // ---- stream twin: same micro-batches through admitStream ----
    val idxS = new AnnIndex(e, "ml.sem_idx_s", kClusters = 2, iters = 2)
    idxS.create(); idxS.bootstrap(corpus)
    val compsS = new ComponentIndex(e, "ml.sem_comps_s")
    compsS.create()
    val admitted = scala.collection.mutable.Buffer.empty[Long]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[AnnIndexSpec.Vec]
    val ckpt = java.nio.file.Files.createTempDirectory("annsemc").toString
    val q = idxS.admitStream(input.toDF(), 0.9, ckpt,
      components = Some(compsS)) { surv =>
      admitted ++= surv.select("vec_id").as[Long].collect(); ()
    }
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      input.addData(batch3: _*); q.processAllAvailable()
    } finally q.stop()
    assert(admitted.sorted == Seq(11L, 30L, 31L))
    // LEDGER PARITY: the streamed folds land the identical assignment
    assert(ledger(compsS) == ledger(compsB))
    assert(idxS.signatures.select("vec_id").as[Long].collect().toSet ==
      idxB.signatures.select("vec_id").as[Long].collect().toSet)
  }

  test("semantic residual-pair providers: pairsAmong serves indexed-" +
      "corpus retires, pairsFromVecs keeps rejected vectors' provenance") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("annpairs").toString
    val e = new graft.api.Engine(spark, wh)
    def vec(id: Long, x: Float, y: Float, label: Int = 0) =
      AnnIndexSpec.Vec(id, label, Seq(x, y))
    // {1, 2, 3} mutual cosine-dups in one list; 4 alone in the other
    val corpus = Seq(vec(1L, 1f, 0f), vec(2L, 0.99f, 0.01f),
      vec(3L, 0.98f, 0.02f), vec(4L, 0f, 1f, 1))
    val idx = new AnnIndex(e, "ml.pr_ann", kClusters = 2, iters = 2)
    idx.create(); idx.bootstrap(corpus.toDF())
    val comps = new ComponentIndex(e, "ml.pr_comps")
    comps.create()
    // corpus ledger seeded from the index's own cosine pairs
    comps.bootstrap(idx.pairsAmong(0.9)(
      Seq(1L, 2L, 3L, 4L).toDF("doc_id")))
    def ledger = comps.assignments.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ledger == Map(2L -> 1L, 3L -> 1L))
    // join-fallback parity (threshold 0 — the mass-deletion form):
    // identical pairs without a driver point set
    def pSet(p: org.apache.spark.sql.DataFrame) = p.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(
      pSet(idx.pairsAmong(0.9, inMaxIds = 0)(
        Seq(1L, 2L, 3L, 4L).toDF("doc_id"))) ==
      pSet(idx.pairsAmong(0.9)(Seq(1L, 2L, 3L, 4L).toDF("doc_id"))))

    // forget bystander 2 with the index-served provider: {1, 3} stay
    // connected (their own cosine edge survives), 2 stops being served
    e.forget(Seq(2L), corpusRef = None, gate = None,
      ledger = Some(comps), annIndex = Some(idx),
      ledgerPairs = Some(idx.pairsAmong(0.9)), idColumn = "doc_id")
    assert(ledger == Map(3L -> 1L))
    assert(idx.signatures.filter(col("vec_id") === 2L).count() == 0L)

    // gate-composed: a REJECTED near-copy of vec 1 holds a provenance
    // row but no index row — a later bystander retire must use the
    // raw-store provider or the rejected vec degrades to a singleton
    val rawAll = (corpus :+ vec(10L, 0.995f, 0.005f)).toDF()
      .localCheckpoint()
    val s = idx.admitIfNovel(Seq(vec(10L, 0.995f, 0.005f)).toDF(), 0.9,
      components = Some(comps))
    assert(s.count() == 0L) // rejected
    assert(ledger == Map(3L -> 1L, 10L -> 1L))
    e.forget(Seq(3L), corpusRef = None, gate = None,
      ledger = Some(comps), annIndex = Some(idx),
      ledgerPairs = Some(idx.pairsFromVecs(rawAll, 0.9)),
      idColumn = "doc_id")
    // 10's dup-of-1 provenance SURVIVES the retire of bystander 3
    assert(ledger == Map(10L -> 1L))
  }
}
