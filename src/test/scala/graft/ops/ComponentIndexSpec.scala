package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.api.Engine

class ComponentIndexSpec extends SparkSpec {

  private def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("persisted components: bootstrap, fold batches, stay equal to a " +
      "from-scratch recompute; store stays sparse; folds are MoR upserts") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("compidx").toString
    val e = new Engine(spark, wh)
    val idx = new ComponentIndex(e, "ns.comp_index", nBuckets = 8)
    idx.create()

    // standing corpus: {1,2,3}, {10,11}, {20,21}, singleton 40 (implicit)
    val corpusPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    idx.bootstrap(corpusPairs.toDF("a_id", "b_id"))
    // SPARSE: only non-trivial memberships stored (no (L, L) rows)
    assert(asMap(idx.assignments) ==
      Map(2L -> 1L, 3L -> 1L, 11L -> 10L, 21L -> 20L))
    val snapsAfterBoot = e.load("ns.comp_index").metadata.snapshots.size

    // batch 1: a new doc joins comp 10; a batch edge bridges comps 1|20
    val batch1 = Seq((11L, 30L), (3L, 20L))
    val d1 = asMap(idx.fold(batch1.toDF("a_id", "b_id")))
    // delta: the new member, and comp 20's members (incl. the implicit
    // (20, 20) own-row) relabeled to 1; comp 10's standing members and
    // the untouched winner rows never appear
    assert(d1 == Map(30L -> 10L, 20L -> 1L, 21L -> 1L))
    // merged view == from-scratch over all edges so far
    val all1 = corpusPairs ++ batch1
    assert(asMap(idx.assignments) ++ Map(1L -> 1L, 10L -> 10L) ==
      asMap(Dedup.connectedComponents(all1.toDF("a_id", "b_id"))))
    // ONE merge-on-read commit: equality-delete + delta rows, no rewrite
    val t1 = e.load("ns.comp_index")
    assert(t1.metadata.snapshots.size == snapsAfterBoot + 1)
    assert(t1.metadata.currentSnapshot.get.operation == "overwrite")

    // batch 2: a NEW min-id doc takes over comp 10 (label decreases,
    // rows move buckets) — the min-id invariant holds across commits
    val batch2 = Seq((5L, 30L))
    val d2 = asMap(idx.fold(batch2.toDF("a_id", "b_id")))
    assert(d2 == Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 30L -> 5L))
    val all2 = all1 ++ batch2
    assert(asMap(idx.assignments) ++ Map(1L -> 1L, 5L -> 5L) ==
      asMap(Dedup.connectedComponents(all2.toDF("a_id", "b_id"))))
    // the store NEVER holds trivial rows
    assert(idx.assignments.filter(col("doc_id") === col("component")).count() == 0L)

    // idempotence: re-folding absorbed edges is a no-op AND no commit
    val snapsBefore = e.load("ns.comp_index").metadata.snapshots.size
    assert(idx.fold((batch1 ++ batch2).toDF("a_id", "b_id")).count() == 0L)
    assert(e.load("ns.comp_index").metadata.snapshots.size == snapsBefore)

    // compaction folds the per-batch upsert files; assignments survive
    val before = asMap(idx.assignments)
    idx.compact()
    assert(asMap(idx.assignments) == before)

    // the sparse store IS the keep-min drop list: every stored doc is a
    // non-survivor, every survivor (min id / singleton) is absent
    assert(idx.dropList.collect().map(_.getLong(0)).toSet == before.keySet)
    assert(!before.keySet.exists(before.values.toSet.contains),
      "a component label (survivor) leaked into the drop list")
  }

  test("relabel read prunes to the merged labels' buckets") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("compidxprune").toString
    val e = new Engine(spark, wh)
    val idx = new ComponentIndex(e, "ns.comp_prune", nBuckets = 8)
    idx.create()
    // enough distinct components that their bucket values differ
    val pairs = (0L until 40L by 2L).map(i => (i, i + 1L))
    idx.bootstrap(pairs.toDF("a_id", "b_id"))
    val allFiles = idx.assignments.inputFiles.length
    assert(allFiles > 1, s"fixture must span buckets, got $allFiles file(s)")
    // a single label's relabel reads a strict subset of the files
    val pruned = idx.relabelPaths(Seq(10L))
    assert(pruned.nonEmpty && pruned.length < allFiles,
      s"expected a pruned read, got ${pruned.length}/$allFiles")
    // a fold that merges ONE pair of components commits correctly off
    // the pruned read (parity is the point; the prune must not lose rows)
    val d = asMap(idx.fold(Seq((11L, 13L)).toDF("a_id", "b_id")))
    assert(d == Map(12L -> 10L, 13L -> 10L))
    assert(asMap(idx.assignments) ==
      asMap(Dedup.connectedComponents(
        (pairs :+ (11L, 13L)).toDF("a_id", "b_id")))
        .filter { case (k, v) => k != v })
  }

  test("relabelPaths at or below DriverPruneMaxFiles runs no Spark job") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("compidxjobs").toString
    val e = new Engine(spark, wh)
    val idx = new ComponentIndex(e, "ns.comp_jobs", nBuckets = 8)
    idx.create()
    idx.bootstrap((0L until 40L by 2L).map(i => (i, i + 1L)).toDF("a_id", "b_id"))
    val files = e.load("ns.comp_jobs").files().size
    assert(files > 1 && files <= ScanPlanner.DriverPruneMaxFiles)
    var paths = Seq.empty[String]
    assert(jobsDuring { paths = idx.relabelPaths(Seq(10L, 12L, 14L, 16L, 18L)) } == 0)
    assert(paths.nonEmpty && paths.size < files)
  }

  test("re-bucketed ledger (bucket[8] -> bucket[16]): folds and both " +
      "retire paths stay equal to the from-scratch closure") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("compidxrebucket").toString
    val e = new Engine(spark, wh)
    val idx = new ComponentIndex(e, "ns.rebucket_comps", nBuckets = 8)
    idx.create()
    val boot = (0L until 40L by 2L).map(i => (i, i + 1L))
    idx.bootstrap(boot.toDF("a_id", "b_id"))
    e.setPartitionSpec("ns.rebucket_comps", Seq("bucket[16](component)"))
    def closure(ps: Seq[(Long, Long)]) =
      asMap(Dedup.connectedComponents(ps.toDF("a_id", "b_id")))
        .filter { case (k, v) => k != v }
    // a fold under the new spec: relabels rows written under bucket[8]
    // and writes them back under bucket[16]
    val batch1 = Seq((1L, 3L), (5L, 7L), (100L, 9L))
    idx.fold(batch1.toDF("a_id", "b_id"))
    val specs = e.load("ns.rebucket_comps").manifests()
      .filter(_.content == 0).map(_.partitionSpecId).distinct
    assert(specs.size == 2, s"expected files under both specs, got $specs")
    assert(asMap(idx.assignments) == closure(boot ++ batch1))
    // a second fold merges components stored under both layouts
    val batch2 = Seq((3L, 11L), (7L, 13L), (200L, 0L))
    idx.fold(batch2.toDF("a_id", "b_id"))
    val edges = boot ++ batch1 ++ batch2
    assert(asMap(idx.assignments) == closure(edges))
    // the re-declared transform has its own field name, so a relabel
    // read prunes under both layouts
    assert(idx.relabelPaths(Seq(1L)).size <
      e.load("ns.rebucket_comps").files().size)

    // retire: the literal path, then the frame-keyed (threshold 0) path
    var retired = Set.empty[Long]
    def provider(ids: org.apache.spark.sql.DataFrame) = {
      val s = ids.collect().map(_.getLong(0)).toSet
      edges.filter(p => s(p._1) && s(p._2) && !retired(p._1) && !retired(p._2))
        .toDF("a_id", "b_id")
    }
    retired ++= Seq(3L, 12L)
    idx.retire(Seq(3L, 12L), provider)
    def live = edges.filter(p => !retired(p._1) && !retired(p._2))
    assert(asMap(idx.assignments) == closure(live))
    retired ++= Seq(0L, 7L)
    idx.retire(Seq(0L, 7L).toDF("doc_id"), provider, inMaxIds = 0)
    assert(asMap(idx.assignments) == closure(live))
  }

  test("retire re-clusters only affected components: bridge removal " +
      "splits, label removal relabels, singletons are a no-op") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("compidxret").toString
    val e = new Engine(spark, wh)
    val idx = new ComponentIndex(e, "ns.ret_comps", nBuckets = 8)
    idx.create()
    // {1,2,3,4} chained through 2 and 3 (plus a 1-3 shortcut), {10,11},
    // {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L),
      (10L, 11L), (20L, 21L))
    idx.bootstrap(pairs.toDF("a_id", "b_id"))
    // residual-pair provider: the surviving candidate pairs among the
    // requested ids (what a band index would return post-retire)
    var retiredSoFar = Set.empty[Long]
    def among(ids: org.apache.spark.sql.DataFrame) = {
      val s = ids.collect().map(_.getLong(0)).toSet
      pairs.filter(p => s(p._1) && s(p._2) &&
        !retiredSoFar(p._1) && !retiredSoFar(p._2))
        .toDF("a_id", "b_id")
    }
    def doRetire(ids: Long*) = {
      retiredSoFar ++= ids
      idx.retire(ids, among).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    // retiring doc 2 keeps {1,3,4} connected through the 1-3 shortcut:
    // the re-insert path relabels survivors in one commit
    val o1 = doRetire(2L)
    assert(o1 == Map(1L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(asMap(idx.assignments) ==
      Map(3L -> 1L, 4L -> 1L, 11L -> 10L, 21L -> 20L))

    // retiring doc 3 now BREAKS the chain: {1} and {4} split apart
    val o2 = doRetire(3L)
    assert(o2 == Map(1L -> 1L, 4L -> 4L))
    assert(asMap(idx.assignments) == Map(11L -> 10L, 21L -> 20L))

    // retiring a LABEL: the member relabels (here to a singleton)
    val o3 = doRetire(10L)
    assert(o3 == Map(11L -> 11L))
    assert(asMap(idx.assignments) == Map(21L -> 20L))

    // parity: the ledger equals the from-scratch closure over the
    // surviving corpus' pairs at every step (checked at the end)
    val survivors = pairs.filter(p =>
      !retiredSoFar(p._1) && !retiredSoFar(p._2))
    assert(asMap(idx.assignments) ==
      asMap(Dedup.connectedComponents(survivors.toDF("a_id", "b_id")))
        .filter { case (k, v) => k != v })

    // retiring docs with no stored rows is a NO-OP — no commit
    val snaps = e.load("ns.ret_comps").metadata.snapshots.size
    assert(doRetire(40L, 1L).isEmpty) // 1 is a singleton-by-now, 40 unknown
    assert(e.load("ns.ret_comps").metadata.snapshots.size == snaps)
  }

  test("randomized stress: multi-batch folds then a randomized retire " +
      "stay equal to from-scratch closures (seeded)") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("compidxrand").toString
    val e = new Engine(spark, wh)
    val idx = new ComponentIndex(e, "ns.rand_comps", nBuckets = 8)
    idx.create()
    val rnd = new scala.util.Random(20260815L)
    val edges = Seq.fill(150)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).distinct
    // three arrival batches fold incrementally into the persisted table
    val batches = edges.grouped((edges.size + 2) / 3).toSeq
    idx.bootstrap(batches.head.toDF("a_id", "b_id"))
    batches.tail.foreach(b => idx.fold(b.toDF("a_id", "b_id")))
    def fromScratch(ps: Seq[(Long, Long)]) =
      asMap(Dedup.connectedComponents(ps.toDF("a_id", "b_id")))
        .filter { case (k, v) => k != v }
    assert(asMap(idx.assignments) == fromScratch(edges))

    // retire a random id slice; residual pairs from the surviving edges
    val retired = rnd.shuffle(edges.flatMap(p => Seq(p._1, p._2)).distinct)
      .take(8).toSet
    val survivors = edges.filter(p => !retired(p._1) && !retired(p._2))
    def provider(ids: org.apache.spark.sql.DataFrame) = {
      val s = ids.collect().map(_.getLong(0)).toSet
      survivors.filter(p => s(p._1) && s(p._2)).toDF("a_id", "b_id")
    }
    idx.retire(retired.toSeq, provider)
    assert(asMap(idx.assignments) == fromScratch(survivors))
    assert(idx.assignments.filter(col("doc_id") === col("component")).count() == 0L)

    // the JOIN retire path (threshold 0) under the same randomized load
    // lands the identical state
    val idxJ = new ComponentIndex(e, "ns.rand_comps_j", nBuckets = 8)
    idxJ.create()
    idxJ.bootstrap(batches.head.toDF("a_id", "b_id"))
    batches.tail.foreach(b => idxJ.fold(b.toDF("a_id", "b_id")))
    idxJ.retire(retired.toSeq.toDF("doc_id"), provider, inMaxIds = 0)
    assert(asMap(idxJ.assignments) == fromScratch(survivors))
  }

  test("retire join path (threshold 0) lands the identical table state " +
      "as the literal path") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("compidxthr").toString
    val e = new Engine(spark, wh)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L),
      (10L, 11L), (20L, 21L), (2L, 20L))
    val retired = Seq(2L, 10L)
    val survivors = pairs.filter(p =>
      !retired.contains(p._1) && !retired.contains(p._2))
    def provider(ids: org.apache.spark.sql.DataFrame) = {
      val s = ids.collect().map(_.getLong(0)).toSet
      survivors.filter(p => s(p._1) && s(p._2)).toDF("a_id", "b_id")
    }
    def build(ref: String) = {
      val idx = new ComponentIndex(e, ref, nBuckets = 8)
      idx.create(); idx.bootstrap(pairs.toDF("a_id", "b_id")); idx
    }
    val lit = build("ns.thr_lit")
    val jn = build("ns.thr_join")
    // literal path (defaults: 2 ids << threshold) vs FORCED join path
    val outLit = asMap(lit.retire(retired, provider))
    val outJoin = asMap(jn.retire(retired.toDF("doc_id"), provider,
      inMaxIds = 0))
    assert(outLit == outJoin, s"literal $outLit vs join $outJoin")
    assert(asMap(lit.assignments) == asMap(jn.assignments))
    // both equal the from-scratch closure over the surviving pairs
    assert(asMap(jn.assignments) ==
      asMap(Dedup.connectedComponents(survivors.toDF("a_id", "b_id")))
        .filter { case (k, v) => k != v })

    // ---- broadcast ceiling: the join path with the explicit hint tier
    // FORCED OFF (ceiling 0 — every retired-id probe falls to AQE's
    // shuffle join) lands the identical table state again. The 100 TB
    // argument: above the ceiling a hint would force a nation-scale id
    // frame through the driver as a broadcast with no fallback.
    val shuffle = build("ns.thr_shuffle")
    spark.conf.set(Dedup.BroadcastMaxIdsConf, "0")
    try {
      val outShuffle = asMap(shuffle.retire(retired.toDF("doc_id"),
        provider, inMaxIds = 0))
      assert(outShuffle == outJoin, s"shuffle $outShuffle vs hint $outJoin")
      assert(asMap(shuffle.assignments) == asMap(jn.assignments))
    } finally spark.conf.unset(Dedup.BroadcastMaxIdsConf)
  }

  test("foldWithRetry: two concurrent folds both land — the loser's CAS " +
      "conflict reruns off the winner's snapshot") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("compidxcas").toString
    val e = new Engine(spark, wh)
    val idx = new ComponentIndex(e, "ns.cas_comps", nBuckets = 8)
    idx.create()
    val base = Seq((1L, 2L), (10L, 11L), (20L, 21L))
    idx.bootstrap(base.toDF("a_id", "b_id"))
    // both folds touch standing components, so whichever lands second
    // off the shared pinned snapshot MUST re-derive (an unconditional
    // rebase would erase the winner's relabels)
    val e1 = Seq((2L, 10L))
    val e2 = Seq((11L, 20L))
    val df1 = e1.toDF("a_id", "b_id")
    val df2 = e2.toDF("a_id", "b_id")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    def submit(df: org.apache.spark.sql.DataFrame) =
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { gate.await(); idx.foldWithRetry(df); () }
      })
    val f1 = submit(df1)
    val f2 = submit(df2)
    f1.get(); f2.get(); pool.shutdown()
    // final ledger = the from-scratch closure over BOTH edge sets
    assert(asMap(idx.assignments) ==
      asMap(Dedup.connectedComponents((base ++ e1 ++ e2).toDF("a_id", "b_id")))
        .filter { case (k, v) => k != v })
  }

  test("gate-ledger retire needs a DOCS-based pair provider: rejected " +
      "docs' provenance survives component surgery") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("compidxprov").toString
    val e = new Engine(spark, wh)
    val gate = new NearDupIndex(e, "ns.prov_gate")
    val comps = new ComponentIndex(e, "ns.prov_comps")
    gate.create(); comps.create()
    val textX = "the quick brown fox jumps over the lazy dog"
    // docs 1 and 2 admitted together (same batch, no intra dedup, no
    // pair folded); doc 3 arrives later, collides with BOTH, rejected
    val docs = Seq((1L, textX), (2L, textX), (3L, textX))
      .toDF("doc_id", "text").localCheckpoint()
    gate.bootstrap(docs.filter(col("doc_id") <= 2L))
    val sigs3 = Dedup.bandSignatures(
      docs.filter(col("doc_id") === 3L), gate.numPerm, gate.rowsPerBand)
    comps.fold(Dedup.bandCollisionPairs(sigs3, gate.signatures)
      .select(col("doc_id").as("a_id"), col("corpus_doc_id").as("b_id")))
    assert(asMap(comps.assignments) == Map(2L -> 1L, 3L -> 1L))

    // corpus deletes doc 2. The gate's own pairsAmong cannot see
    // REJECTED doc 3 (its signatures were never appended) — the
    // documented caveat — so a gate ledger must derive residual pairs
    // from the raw document store:
    def docPairs(ids: org.apache.spark.sql.DataFrame) = {
      val s = Dedup.bandSignatures(
        docs.join(ids, Seq("doc_id"), "left_semi"),
        gate.numPerm, gate.rowsPerBand).localCheckpoint()
      Dedup.bandCollisionPairs(s, s)
        .filter(col("doc_id") =!= col("corpus_doc_id"))
        .select(col("doc_id").as("a_id"), col("corpus_doc_id").as("b_id"))
    }
    gate.retire(Seq(2L))
    comps.retire(Seq(2L), docPairs)
    // doc 3's dup-of-1 provenance SURVIVES the retire of bystander 2
    assert(asMap(comps.assignments) == Map(3L -> 1L))
  }

  test("composes with the near-dup gate: admit survivors, fold the " +
      "collision pairs, assignments match the batch's dup structure") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("compidxgate").toString
    val e = new Engine(spark, wh)
    val gate = new NearDupIndex(e, "ns.gate_idx")
    val comps = new ComponentIndex(e, "ns.gate_comps")
    gate.create(); comps.create()
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    gate.bootstrap(corpus)
    comps.bootstrap(spark.emptyDataFrame
      .select(lit(0L).as("a_id"), lit(0L).as("b_id")).limit(0))

    // a batch with one dup of corpus doc 1: the gate flags it, and the
    // flagged (doc, dup_of) pairs are exactly the edges the component
    // index folds — doc 10 lands in doc 1's component
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "sphinx of black quartz judge my vow tonight"))
      .toDF("doc_id", "text")
    val edges = gate.check(batch)
      .select(col("doc_id").as("a_id"), col("dup_of").as("b_id"))
    val d = asMap(comps.fold(edges))
    assert(d == Map(10L -> 1L, 1L -> 1L)) // 1's trivial row is delta-only
    assert(asMap(comps.assignments) == Map(10L -> 1L))

    // corpus deletion closes the loop the other way: retire the doc's
    // signatures from the gate FIRST (ghost-free probes), then
    // re-cluster the ledger over the gate's residual pairs
    gate.retire(Seq(1L))
    val out = comps.retire(Seq(1L), gate.pairsAmong)
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(10L -> 10L)) // the survivor is a singleton again
    assert(comps.assignments.count() == 0L)
    // the gate no longer collides with the retired doc's ghost
    assert(gate.check(batch.filter(col("doc_id") === 10L)).count() == 0L)
  }
}
