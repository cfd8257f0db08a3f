package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.api.Engine

object NearDupIndexSpec {
  case class StreamDoc(doc_id: Long, text: String)
}

class NearDupIndexSpec extends SparkSpec {
  import NearDupIndexSpec.StreamDoc

  test("persistent band index: bootstrap once, gate batches, index grows by survivors only") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ndidx").toString
    val e = new Engine(spark, wh)
    val idx = new NearDupIndex(e, "ns.nd_index")
    idx.create()

    // standing corpus on disk, so the plan assertion below can prove the
    // gate never touches it again after bootstrap
    val corpusDir = s"$wh/_corpus_parquet"
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text").write.parquet(corpusDir)
    idx.bootstrap(spark.read.parquet(corpusDir))
    val baseRows = idx.signatures.count()
    assert(baseRows == 2L * 4L) // 16 perms / 4 rows-per-band = 4 bands/doc

    // batch 1: one exact dup of corpus doc 1, one genuinely new doc
    val batch1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "sphinx of black quartz judge my vow tonight"))
      .toDF("doc_id", "text")
    val flagged1 = idx.check(batch1).collect()
    assert(flagged1.map(_.getLong(0)).toSeq == Seq(10L))
    assert(flagged1.head.getAs[Long]("dup_of") == 1L)
    val surv1 = idx.admit(batch1)
    assert(surv1.select("doc_id").as[Long].collect().toSeq == Seq(11L))
    // index grew by exactly the survivor's signatures
    assert(idx.signatures.count() == baseRows + 4L)

    // batch 2: a dup of the batch-1 SURVIVOR is caught — the index
    // remembered it across batches
    val batch2 = Seq((20L, "sphinx of black quartz judge my vow tonight"))
      .toDF("doc_id", "text")
    val flagged2 = idx.check(batch2).collect()
    assert(flagged2.length == 1 && flagged2.head.getAs[Long]("dup_of") == 11L)

    // THE POINT of persistence: the gate's plan scans the index table's
    // files, and the corpus parquet appears nowhere — no corpus text is
    // re-aggregated on any batch after bootstrap
    val plan = idx.check(batch2).queryExecution.executedPlan.toString
    assert(plan.contains("nd_index"), plan.take(2000))
    assert(!plan.contains("_corpus_parquet"), plan.take(2000))

    // the persisted index is byte-compatible with the in-memory one: a
    // fresh computation over corpus+survivor matches the table contents
    val expect = Dedup.bandSignatures(
        spark.read.parquet(corpusDir).unionByName(surv1))
      .select("doc_id", "band", "band_sig")
      .collect().map(_.toSeq).toSet
    assert(idx.signatures.select("doc_id", "band", "band_sig")
      .collect().map(_.toSeq).toSet == expect)
  }

  test("bucketed index: a small-batch probe reads strictly fewer files than the table holds") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ndidxb").toString
    val e = new Engine(spark, wh)
    val idx = new NearDupIndex(e, "ns.bucketed_index", nBuckets = 8)
    idx.create()
    // corpus wide enough that signatures land in (essentially) every
    // bucket — the bootstrap append then writes one file per bucket value
    val corpus = (1L to 40L).map(i =>
      (i, s"corpus document number $i carrying its own distinctive payload " +
        s"token${i}a token${i}b token${i}c token${i}d"))
      .toDF("doc_id", "text")
    idx.bootstrap(corpus)
    val totalFiles = e.files("ns.bucketed_index").count()
    assert(totalFiles >= 4, s"expected a multi-file bucketed layout, got $totalFiles")

    // a 1-doc batch has 4 band signatures → at most 4 colliding buckets:
    // the probe must prune to a strict subset of the index's files
    val batch = Seq(
      (1000L, "corpus document number 7 carrying its own distinctive payload " +
        "token7a token7b token7c token7d")).toDF("doc_id", "text")
    val probed = idx.probePaths(Dedup.bandSignatures(batch))
    assert(probed.nonEmpty && probed.size < totalFiles,
      s"probe read ${probed.size} of $totalFiles files — expected a pruned strict subset")

    // and the pruned probe still CATCHES the duplicate (pruning is sound:
    // a colliding band's bucket is by construction in the probed set)
    // (the templated corpus makes several docs near-dups of the probe;
    // dup_of is the LOWEST colliding corpus id, not necessarily 7)
    val flagged = idx.check(batch).collect()
    assert(flagged.length == 1 && flagged.head.getAs[Long]("dup_of") <= 40L)

    // a genuinely new doc through the same pruned path stays clean
    val fresh = Seq((2000L, "completely novel sentence about unrelated topics " +
      "with zero shared shingles whatsoever here")).toDF("doc_id", "text")
    assert(idx.check(fresh).count() == 0L)
    assert(idx.admit(fresh).count() == 1L)
    // ...and is remembered: the same text re-probed now collides
    val again = Seq((2001L, "completely novel sentence about unrelated topics " +
      "with zero shared shingles whatsoever here")).toDF("doc_id", "text")
    val hit = idx.check(again).collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("dup_of") == 2000L)

    // MAINTENANCE: per-batch appends accrete small files; compaction
    // folds them per bucket, the layout (and probe pruning) survives
    val preCompact = e.files("ns.bucketed_index").count()
    assert(idx.compact().isDefined)
    val postCompact = e.files("ns.bucketed_index").count()
    assert(postCompact < preCompact, s"$preCompact -> $postCompact")
    val hit2 = idx.check(again).collect()
    assert(hit2.length == 1 && hit2.head.getAs[Long]("dup_of") == 2000L)
    val probedAfter = idx.probePaths(Dedup.bandSignatures(batch))
    assert(probedAfter.nonEmpty && probedAfter.size < postCompact)

    // RETIRE (corpus deletion): doc 2000's signatures drop in one keyed
    // equality-delete commit, and the gate stops colliding with the
    // ghost — the same text is clean again and re-admittable
    val preRetire = idx.signatures.count()
    idx.retire(Seq(2000L))
    assert(idx.signatures.filter(col("doc_id") === 2000L).count() == 0L)
    assert(idx.signatures.count() == preRetire - 4L) // 4 bands dropped
    assert(idx.check(again).count() == 0L, "ghost collision after retire")
    assert(idx.admit(again).count() == 1L) // fresh copy re-enters
  }

  /** 40 templated corpus docs: wide enough that band signatures land in
    * (essentially) every bucket, and several docs are near-dups of each
    * other. */
  private def templatedCorpus(ids: Seq[Long]) = {
    val s2 = spark
    import s2.implicits._
    ids.map(i =>
      (i, s"corpus document number $i carrying its own distinctive payload " +
        s"token${i}a token${i}b token${i}c token${i}d"))
      .toDF("doc_id", "text")
  }

  test("probePaths at or below DriverPruneMaxFiles runs only its bucket-census jobs") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ndjobs").toString
    val e = new Engine(spark, wh)
    val idx = new NearDupIndex(e, "ns.jobs_index", nBuckets = 8)
    idx.create()
    idx.bootstrap(templatedCorpus(1L to 40L))
    val t = e.load("ns.jobs_index")
    assert(t.files().size <= ScanPlanner.DriverPruneMaxFiles)
    val batchSigs = Dedup.bandSignatures(Seq((1000L,
      "corpus document number 7 carrying its own distinctive payload " +
        "token7a token7b token7c token7d")).toDF("doc_id", "text"))
      .localCheckpoint()
    val warm = idx.probePaths(batchSigs)
    assert(warm.nonEmpty && warm.size < t.files().size)
    // the census alone: distinct bucket values of the batch's band keys
    val census = jobsDuring(batchSigs
      .select(graft.meta.Transforms.column("bucket[8]", col("band_sig"), "long")
        .cast(org.apache.spark.sql.types.StringType))
      .distinct().collect())
    assert(census > 0)
    // the file prune itself runs on the driver: no job beyond the census
    assert(jobsDuring(idx.probePaths(batchSigs)) == census)
  }

  test("re-bucketed index (bucket[8] -> bucket[16]): the gate flags exactly " +
      "what an unpruned band join over the signatures flags") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ndrebucket").toString
    val e = new Engine(spark, wh)
    val idx = new NearDupIndex(e, "ns.rebucket_index", nBuckets = 8)
    idx.create()
    idx.bootstrap(templatedCorpus(1L to 40L))
    e.setPartitionSpec("ns.rebucket_index", Seq("bucket[16](band_sig)"))
    // one batch admitted under the new spec: the index now holds files
    // of both layouts
    val fresh = Seq(
      (500L, "an unrelated sentence about sailing boats across the northern sea"),
      (501L, "quarterly revenue tables for a small bakery in the old town"))
      .toDF("doc_id", "text")
    assert(idx.admit(fresh).count() == 2L)
    val specs = e.load("ns.rebucket_index").manifests()
      .filter(_.content == 0).map(_.partitionSpecId).distinct
    assert(specs.size == 2, s"expected files under both specs, got $specs")
    // the re-declared transform has its own field name, so a probe
    // prunes under both layouts
    val oneDoc = Dedup.bandSignatures(fresh.filter(col("doc_id") === 500L))
    assert(idx.probePaths(oneDoc).size <
      e.load("ns.rebucket_index").files().size)

    // a batch colliding with both layouts, plus a clean doc
    val batch = Seq(
      (1000L, "corpus document number 7 carrying its own distinctive payload " +
        "token7a token7b token7c token7d"),
      (1001L, "an unrelated sentence about sailing boats across the northern sea"),
      (1002L, "a genuinely novel line that shares no shingle with anything"))
      .toDF("doc_id", "text")
    val sigs = Dedup.bandSignatures(batch).localCheckpoint()
    val expected = Dedup.bandCollisions(sigs, idx.signatures)
      .collect().map(_.toSeq).toSet
    assert(expected.map(_.head) == Set(1000L, 1001L), expected.toString)
    assert(idx.check(batch).collect().map(_.toSeq).toSet == expected)
    assert(idx.admit(batch).select("doc_id").as[Long].collect().toSeq ==
      Seq(1002L))
  }

  test("admit with dedupWithinBatch keeps one doc per intra-batch dup group") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ndintra").toString
    val e = new Engine(spark, wh)
    val idx = new NearDupIndex(e, "ns.intra_index")
    idx.create()
    idx.bootstrap(Seq(
      (100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"))

    // batch carries an intra-batch dup PAIR (10, 11), a corpus dup (12),
    // and a clean doc (13). Default admit keeps both 10 and 11; with the
    // batch-local pass only the min id of the pair survives.
    val batch = Seq(
      (10L, "sphinx of black quartz judge my vow tonight"),
      (11L, "sphinx of black quartz judge my vow tonight"),
      (12L, "the quick brown fox jumps over the lazy dog"),
      (13L, "entirely fresh material resembling nothing else at all"))
      .toDF("doc_id", "text")
    val surv = idx.admit(batch, dedupWithinBatch = true)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(surv == Seq(10L, 13L), surv.toString)
    // the index holds corpus + exactly the two survivors — the dropped
    // twin's signatures never entered it
    assert(idx.signatures.select("doc_id").distinct().as[Long]
      .collect().sorted.toSeq == Seq(10L, 13L, 100L))
    // and a later batch still collides against the kept twin
    val again = Seq((20L, "sphinx of black quartz judge my vow tonight"))
      .toDF("doc_id", "text")
    val hit = idx.check(again).collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("dup_of") == 10L)
  }

  test("admitStream: closed-loop micro-batch gate — pruned probe, index grows, dups rejected") {
    val s2 = spark
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("ndadmit").toString
    val e = new Engine(spark, wh)
    val idx = new NearDupIndex(e, "ns.admit_index", nBuckets = 8)
    idx.create()
    idx.bootstrap(Seq(
      (100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"))
    // the dup-cluster ledger rides along: every micro-batch's collision
    // pairs fold into the persisted component assignment
    val comps = new ComponentIndex(e, "ns.admit_comps")
    comps.create()
    def compMap = comps.assignments.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val admitted = scala.collection.mutable.Buffer.empty[Long]
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamDoc]
    val ckpt = java.nio.file.Files.createTempDirectory("ndadmitc").toString
    val q = idx.admitStream(input.toDF(), ckpt, Some(comps)) { surv =>
      admitted ++= surv.select("doc_id").as[Long].collect(); ()
    }
    try {
      // batch 1: a corpus dup (rejected) + a new doc (admitted + indexed)
      input.addData(
        StreamDoc(1, "the quick brown fox jumps over the lazy dog"),
        StreamDoc(2, "sphinx of black quartz judge my vow tonight"))
      q.processAllAvailable()
      assert(admitted.sorted == Seq(2L), admitted.toString)
      // the rejected doc joined its dup target's cluster; the min id
      // (here the NEW doc's) is the label, per the CC invariant
      assert(compMap == Map(100L -> 1L), compMap.toString)
      // batch 2: a dup of the batch-1 SURVIVOR is rejected — the gate
      // remembered it across micro-batches via the index append
      input.addData(
        StreamDoc(3, "sphinx of black quartz judge my vow tonight"),
        StreamDoc(4, "completely new material unlike anything indexed before"))
      q.processAllAvailable()
      assert(admitted.sorted == Seq(2L, 4L), admitted.toString)
      // index holds exactly corpus + the two survivors (4 bands each)
      assert(idx.signatures.select("doc_id").distinct().as[Long]
        .collect().sorted.toSeq == Seq(100L, 2L, 4L).sorted)
      // doc 3's rejection opened a second cluster (dup of survivor 2)
      assert(compMap == Map(100L -> 1L, 3L -> 2L), compMap.toString)
      // batch 3: id REUSE — doc_id 2 is already indexed, but this text
      // is a corpus dup. The already-indexed check matches SIGNATURES,
      // not id presence, so the reused id gets gated like any doc and
      // the dup is rejected (id-presence matching would admit it)
      input.addData(
        StreamDoc(2, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      assert(admitted.sorted == Seq(2L, 4L), admitted.toString)
      // ...and the reused id BRIDGES the two clusters in the ledger:
      // (2, dup_of=100) merges {1,100} with {2,3} under min id 1 — the
      // transitive dup chain closes ACROSS micro-batches
      assert(compMap == Map(100L -> 1L, 2L -> 1L, 3L -> 1L), compMap.toString)
      // batch 4: REDELIVERY — same (id, text) as an admitted survivor
      // passes through again (at-least-once sink contract) but appends
      // no second copy of its signatures
      val preRows = idx.signatures.count()
      val compSnaps = e.load("ns.admit_comps").metadata.snapshots.size
      input.addData(
        StreamDoc(4, "completely new material unlike anything indexed before"))
      q.processAllAvailable()
      assert(admitted.sorted == Seq(2L, 4L, 4L), admitted.toString)
      assert(idx.signatures.count() == preRows)
      // a collision-free batch never commits to (or loads) the ledger
      assert(e.load("ns.admit_comps").metadata.snapshots.size == compSnaps)
      assert(compMap == Map(100L -> 1L, 2L -> 1L, 3L -> 1L), compMap.toString)
    } finally q.stop()
  }

  test("admitStream folds INTRA-micro-batch edges: same-batch mutual " +
      "near-dups are both admitted but their edge still lands in the ledger") {
    val s2 = spark
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("ndintra").toString
    val e = new Engine(spark, wh)
    val idx = new NearDupIndex(e, "ns.intra_index", nBuckets = 8)
    idx.create()
    val textZ = "the quick brown fox jumps over the lazy dog"
    val textT = "an intra batch twin sentence appearing twice in one batch"
    idx.bootstrap(Seq((100L, textZ)).toDF("doc_id", "text"))
    val comps = new ComponentIndex(e, "ns.intra_comps")
    comps.create()
    def compMap = comps.assignments.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val admitted = scala.collection.mutable.Buffer.empty[Long]
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamDoc]
    val ckpt = java.nio.file.Files.createTempDirectory("ndintrac").toString
    val q = idx.admitStream(input.toDF(), ckpt, Some(comps)) { surv =>
      admitted ++= surv.select("doc_id").as[Long].collect(); ()
    }
    try {
      // two mutual near-dups in ONE micro-batch: the gate contract is
      // unchanged (both novel vs the standing index -> both admitted),
      // but the intra-batch edge folds so the ledger cannot permanently
      // diverge from the signature-level from-scratch closure
      input.addData(StreamDoc(5, textT), StreamDoc(6, textT))
      q.processAllAvailable()
      assert(admitted.sorted == Seq(5L, 6L), admitted.toString)
      assert(compMap == Map(6L -> 5L), compMap.toString)

      // REDELIVERY of the same batch: both docs are selfIndexed now —
      // the intra pairs are suppressed on both endpoints, nothing folds,
      // no ledger commit, no duplicate signatures
      val snaps = e.load("ns.intra_comps").metadata.snapshots.size
      val rows = idx.signatures.count()
      input.addData(StreamDoc(5, textT), StreamDoc(6, textT))
      q.processAllAvailable()
      assert(admitted.sorted == Seq(5L, 5L, 6L, 6L), admitted.toString)
      assert(idx.signatures.count() == rows)
      assert(e.load("ns.intra_comps").metadata.snapshots.size == snaps)
    } finally q.stop()

    // the ledger == the from-scratch closure over the signatures of
    // everything the gate saw
    val all = Seq((100L, textZ), (5L, textT), (6L, textT))
      .toDF("doc_id", "text")
    val sigs = Dedup.bandSignatures(all, idx.numPerm, idx.rowsPerBand)
      .localCheckpoint()
    val closure = Dedup.connectedComponents(
      Dedup.bandCollisionPairs(sigs, sigs)
        .filter(org.apache.spark.sql.functions.col("doc_id") =!=
          org.apache.spark.sql.functions.col("corpus_doc_id"))
        .select(org.apache.spark.sql.functions.col("doc_id").as("a_id"),
          org.apache.spark.sql.functions.col("corpus_doc_id").as("b_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      .filter { case (k, v) => k != v }
    assert(compMap == closure, s"ledger $compMap vs closure $closure")
  }

  test("streaming near-dup gate probes the PERSISTED index as its static side") {
    val s2 = spark
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("ndidxs").toString
    val e = new Engine(spark, wh)
    val idx = new NearDupIndex(e, "ns.stream_index")
    idx.create()
    idx.bootstrap(Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "totally different reference material about databases"))
      .toDF("doc_id", "text"))

    // the stream's static join side IS the index table scan — no corpus
    // text anywhere in the streaming query
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamDoc]
    val q = graft.streaming.EventStreams.nearDupStream(input.toDF(), idx.signatures)
      .writeStream.format("memory").queryName("idx_near_dups")
      .outputMode("append").start()
    try {
      input.addData(
        StreamDoc(1, "the quick brown fox jumps over the lazy dog"), // dup of 100
        StreamDoc(2, "fresh unseen content nothing like the corpus"))
      q.processAllAvailable()
      val hits = spark.sql(
        "SELECT DISTINCT doc_id, corpus_doc_id FROM idx_near_dups ORDER BY doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(hits == Seq((1L, 100L)))
    } finally q.stop()
  }

  test("pairsAmong point-prunes to the ids' own files — far-apart ids " +
      "skip the admits between them, pairs unchanged") {
    val s2 = spark
    import s2.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ndidxpa").toString
    val e = new Engine(spark, wh)
    val idx = new NearDupIndex(e, "ns.pa_idx")
    idx.create()
    val textA = "the quick brown fox jumps over the lazy dog"
    val textB = "pack my box with five dozen liquor jugs today"
    val textC = "sphinx of black quartz judge my vow tonight folks"
    // three commits at far-apart id ranges: per-commit files carry tight
    // doc_id bounds — 1-2, then 500, then 1000-1001
    idx.bootstrap(Seq((1L, textA), (2L, textA)).toDF("doc_id", "text"))
    idx.admit(Seq((500L, textB)).toDF("doc_id", "text"))
    idx.admit(Seq((1000L, textC), (1001L, textC)).toDF("doc_id", "text"))

    // a retire-shaped scattered id set: {1, 2, 1000, 1001} — the SPAN
    // [1, 1001] covers doc 500's file, the point set must not read it
    val ids = Seq(1L, 2L, 1000L, 1001L)
    val t = e.load("ns.pa_idx")
    val pts = ScanPlanner.readTableWhereInSet(spark, t, "doc_id", ids)
    val span = ScanPlanner.readTableWhere(spark, t, "doc_id",
      Some(1.0), Some(1001.0))
    assert(pts.inputFiles.length < span.inputFiles.length,
      s"points ${pts.inputFiles.length} vs span ${span.inputFiles.length}")
    assert(pts.select("doc_id").distinct().as[Long].collect().toSet ==
      ids.toSet)

    // the provider's RESULT is unchanged by the prune: exactly the two
    // dup pairs among the requested ids, nothing touching doc 500
    val pairs = idx.pairsAmong(ids.toDF("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) } ==
      Set((1L, 2L), (1000L, 1001L)), pairs)

    // the JOIN fallback (threshold 0 — the mass-deletion form that
    // never collects the member set) serves the identical pairs
    val pairsJ = idx.pairsAmong(ids.toDF("doc_id"), inMaxIds = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsJ == pairs, s"join $pairsJ vs literal $pairs")
  }
}
