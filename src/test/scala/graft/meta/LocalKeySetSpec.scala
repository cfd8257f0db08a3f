package graft.meta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec
import graft.api.Engine

/** An upsert or row delta whose key source is driver rows writes its
  * equality-delete file from the distinct keys deduplicated on the
  * driver: one file, exactly the distinct keys, no read-back job. */
class LocalKeySetSpec extends SparkSpec {
  import spark.implicits._

  private def table(name: String): (Engine, String) = {
    val e = new Engine(spark, java.nio.file.Files.createTempDirectory("localkeys").toString)
    val ref = s"ns.$name"
    e.createTable(ref, StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", LongType, nullable = false))),
      Seq("bucket[4](k)"))
    e.append(ref, (0L until 40L).map(i => (i, i)).toDF("k", "v"))
    (e, ref)
  }

  /** The keys of the one equality-delete file `body`'s commit adds, and
    * the jobs `body` ran. */
  private def deleteKeys(e: Engine, ref: String)(body: => Unit)
      : (Seq[Long], Long, Vector[graft.obs.JobCensus.Job]) = {
    val before = e.load(ref).deleteFiles().map(_.filePath).toSet
    val jobs = graft.obs.JobCensus.during(spark)(body)._2
    val t = e.load(ref)
    val added = t.deleteFiles().filterNot(f => before(f.filePath))
    assert(added.size == 1, s"expected one delete file, got $added")
    val keys = spark.read.parquet(t.resolvePath(added.head.filePath))
      .collect().map(_.getLong(0)).toSeq.sorted
    (keys, added.head.recordCount, jobs)
  }

  private def local(rows: Seq[(Long, Long)]): DataFrame = rows.toDF("k", "v")

  test("a local upsert with duplicate keys deletes exactly the distinct keys, no read-back") {
    val (e, ref) = table("upsert")
    val (keys, count, jobs) = deleteKeys(e, ref) {
      e.upsert(ref, local(Seq((3L, 30L), (3L, 31L), (7L, 70L), (9L, 90L), (7L, 71L), (41L, 1L))),
        Seq("k"))
    }
    assert(keys == Seq(3L, 7L, 9L, 41L) && count == 4)
    // the staging write (a shuffle and the write) and the delete-file
    // write; a read-back of the staged files and a distinct shuffle ran 4
    assert(jobs.size <= 3, jobs.mkString("\n"))
    val got = e.readTable(ref).as[(Long, Long)].collect().toSeq
    assert(got.count(_._1 == 3L) == 2 && got.count(_._1 == 7L) == 2 && got.size == 40 - 3 + 6)
  }

  test("a local row delta's delete-only keys, duplicates included, land once each") {
    val (e, ref) = table("delta")
    val (keys, count, jobs) = deleteKeys(e, ref) {
      e.rowDelta(ref, local(Seq((5L, 50L))), Seq("k"), Seq(1L, 1L, 2L, 5L, 2L).toDF("k"))
    }
    assert(keys == Seq(1L, 2L, 5L) && count == 3)
    assert(jobs.size <= 3, jobs.mkString("\n"))
    val got = e.readTable(ref).as[(Long, Long)].collect().toMap
    assert(got.size == 38 && got(5L) == 50L && !got.contains(1L) && !got.contains(2L))
  }
}
