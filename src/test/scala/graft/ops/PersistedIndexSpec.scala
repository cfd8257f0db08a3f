package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.api.Engine

/** The lifecycle [[PersistedIndex]] gives all three persisted indexes,
  * checked where the per-class copies used to differ: a created-but-empty
  * table. Every read is empty, every retire succeeds, the residual
  * providers return no pairs on both the literal and the join path, and
  * [[Engine.forget]] runs over empty indexes. */
class PersistedIndexSpec extends SparkSpec {

  private def engine(name: String): Engine =
    new Engine(spark, java.nio.file.Files.createTempDirectory(name).toString)

  test("empty NearDupIndex: signatures, retire, pairsAmong") {
    val s2 = spark
    import s2.implicits._
    val idx = new NearDupIndex(engine("pi-nd"), "lake.gate", nBuckets = 4)
    idx.create()
    assert(idx.signatures.count() == 0L)
    assert(idx.signatures.columns.toSeq == Seq("doc_id", "band", "band_sig"))
    val ids = Seq(1L, 2L).toDF("doc_id")
    assert(idx.pairsAmong(ids).isEmpty)
    assert(idx.pairsAmong(ids, inMaxIds = 0).isEmpty)
    idx.retire(Seq(1L, 2L))
    assert(idx.engine.load(idx.ref).deleteFiles().nonEmpty, "retire did not commit")
    assert(idx.signatures.count() == 0L)
    assert(idx.pairsAmong(ids, inMaxIds = 0).isEmpty)
  }

  test("compact of an index retired while empty (delete files, no data " +
      "files) folds nothing") {
    val idx = new NearDupIndex(engine("pi-compact"), "lake.gate", nBuckets = 4)
    idx.create()
    idx.retire(Seq(1L, 2L))
    val t = idx.engine.load(idx.ref)
    assert(t.files().isEmpty && t.deleteFiles().nonEmpty)
    assert(idx.compact().isEmpty)
    assert(idx.compact().isEmpty)
  }

  test("empty AnnIndex: signatures, retire, pairsAmong") {
    val s2 = spark
    import s2.implicits._
    val idx = new AnnIndex(engine("pi-ann"), "ml.ann", kClusters = 2)
    idx.create()
    assert(idx.signatures.count() == 0L)
    val ids = Seq(1L, 2L).toDF("doc_id")
    assert(idx.pairsAmong(0.9)(ids).isEmpty)
    assert(idx.pairsAmong(0.9, inMaxIds = 0)(ids).isEmpty)
    idx.retire(Seq(1L, 2L))
    assert(idx.engine.load(idx.ref).deleteFiles().nonEmpty, "retire did not commit")
    assert(idx.signatures.count() == 0L)
    assert(idx.compact().isEmpty)
  }

  test("empty ComponentIndex: assignments, retire on both tiers") {
    val s2 = spark
    import s2.implicits._
    val idx = new ComponentIndex(engine("pi-comp"), "lake.comps", nBuckets = 4)
    idx.create()
    assert(idx.assignments.count() == 0L)
    val none = (_: org.apache.spark.sql.DataFrame) =>
      Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(idx.retire(Seq(1L, 2L), none).isEmpty)
    assert(idx.retire(Seq(1L, 2L).toDF("doc_id"), none, inMaxIds = 0).isEmpty)
    assert(idx.assignments.count() == 0L)
  }

  test("forget over an empty gate and an empty ANN index") {
    val s2 = spark
    import s2.implicits._
    val e = engine("pi-forget")
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today")).toDF("doc_id", "text")
    e.createTable("lake.corpus", docs.schema)
    e.append("lake.corpus", docs)
    val gate = new NearDupIndex(e, "lake.gate", nBuckets = 4)
    gate.create()
    val ann = new AnnIndex(e, "lake.ann", kClusters = 2)
    ann.create()
    val r = e.forget(Seq(2L).toDF("doc_id"), corpusRef = Some("lake.corpus"),
      gate = Some(gate), annIndex = Some(ann))
    assert(r.corpusDeleted.contains("lake.corpus") && r.gateRetired && r.annRetired)
    assert(e.readTable("lake.corpus").select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("a default-constructed handle retires from an IVF-PQ index") {
    val s2 = spark
    import s2.implicits._
    val e = engine("pi-pq")
    val vecs = (0 until 16).map { i =>
      AnnIndexSpec.Vec(i.toLong, i % 2,
        Seq(1f + i % 4, (i % 3).toFloat, (i % 5).toFloat, 1f))
    }.toDF()
    val pq = new AnnIndex(e, "ml.pq", kClusters = 2, iters = 2, pqM = 2, pqK = 4)
    pq.create()
    pq.bootstrap(vecs)
    // the handle's schema has no `codes`; the retire's empty insert must
    // come from the table's
    val handle = new AnnIndex(e, "ml.pq")
    assert(!handle.schema.fieldNames.contains("codes"))
    handle.retire(Seq(3L, 4L))
    val left = pq.signatures
    assert(left.columns.contains("codes"))
    assert(left.count() == 14L)
    assert(left.filter(col("vec_id").isin(3L, 4L)).isEmpty)
  }
}
