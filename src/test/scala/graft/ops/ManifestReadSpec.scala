package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.api.Engine

/** Reads are planned from the manifest entries: the file index of every
  * engine read is the entry list (path, `file_size_in_bytes`), so no
  * read lists a directory or runs Spark's parallel listing job. */
class ManifestReadSpec extends SparkSpec {
  import spark.implicits._

  /** Descriptions of the Spark jobs started while `body` runs. */
  private def jobDescriptions(body: => Unit): Seq[String] =
    graft.obs.JobCensus.during(spark)(body)._2.map(_.description)

  private def listing(ds: Seq[String]) = ds.filter(_.startsWith("Listing leaf files"))

  private def wideTable(ref: String): (Engine, graft.meta.IcebergTable) = {
    val e = new Engine(spark, Files.createTempDirectory("mread").toString)
    val df = (0L until 1200L).map(i => (i, s"v$i")).toDF("id", "name")
    e.createTable(ref, df.schema)
    e.append(ref, df.repartition(120))
    val t = e.load(ref)
    assert(t.files().size >= 100, s"only ${t.files().size} files")
    (e, t)
  }

  test("planning a read of a 100+-file table runs no job, and its collect " +
      "runs no listing job") {
    val (_, t) = wideTable("ns.wide")
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { df = ScanPlanner.readTable(spark, t) } == 0)
    val collected = jobDescriptions {
      assert(df.agg(sum("id")).head().getLong(0) == (0L until 1200L).sum)
    }
    assert(listing(collected).isEmpty, collected.toString)
    // the same paths handed to the listing reader do run one
    val paths = t.files().map(e => t.resolvePath(e.filePath))
    assert(listing(jobDescriptions(spark.read.parquet(paths: _*))).nonEmpty)
  }

  test("a deleted data file fails the read loudly, FileNotFoundException " +
      "in the cause chain") {
    val (_, t) = wideTable("ns.gone")
    Files.delete(java.nio.file.Paths.get(t.resolvePath(t.files().head.filePath)))
    val ex = intercept[Exception](ScanPlanner.readTable(spark, t).collect())
    val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[java.io.FileNotFoundException]),
      chain.map(_.getClass.getName).mkString(" <- "))
  }

  test("a legacy id-less adopted table reads byte-equal to spark.read.parquet " +
      "over the same paths, with and without a read schema") {
    val src = Files.createTempDirectory("mread-src").toString
    (1L to 300L).map(i => (i, s"n$i", i * 0.5)).toDF("id", "name", "score")
      .repartition(3).write.mode("overwrite").parquet(src)
    val e = new Engine(spark, Files.createTempDirectory("mread-wh").toString)
    e.registerParquet("ns.legacy", src)
    val t = e.load("ns.legacy")
    assert(!graft.meta.FieldIds.tableHasIds(t.metadata))
    val paths = t.files().map(x => t.resolvePath(x.filePath))
    val want = spark.read.parquet(paths: _*)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "name", "score").as[(Long, String, Double)].collect().sorted.toSeq
    assert(rows(ScanPlanner.readTable(spark, t)) == rows(want))
    // no read schema: the footer schema of the first file in path order,
    // as parquet inference picks it
    val inferred = ScanPlanner.readEntries(spark, t, t.files(), None)
    assert(inferred.schema == want.schema)
    assert(inferred.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq ==
      want.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq)
  }

  test("position and equality deletes apply on the manifest-planned relation") {
    val (e, _) = wideTable("ns.mor")
    // merge-on-read DELETE → position deletes keyed on _metadata.file_path /
    // row_index; upsert → an equality delete on id
    e.deleteWhere("ns.mor", col("id") % 7 === 0)
    e.upsert("ns.mor", (0L until 1200L by 5L).map(i => (i, s"u$i")).toDF("id", "name"),
      Seq("id"))
    val t = e.load("ns.mor")
    assert(t.deleteFiles().map(_.content).toSet == Set(1, 2))
    val want = (0L until 1200L).flatMap { i =>
      if (i % 5 == 0) Some(i -> s"u$i")
      else if (i % 7 == 0) None
      else Some(i -> s"v$i")
    }
    assert(ScanPlanner.readTable(spark, t).as[(Long, String)].collect().sorted.toSeq == want)
    // lineage survives too: every row names its file and position
    val lin = ScanPlanner.readTableLineage(spark, t)
      .select("__gr_path", "__gr_pos").distinct().count()
    assert(lin == want.size.toLong)
  }
}
