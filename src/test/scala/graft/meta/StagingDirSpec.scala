package graft.meta

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** [[TableWriter]]'s staging directories (`graft-commit`, `graft-delete`,
  * `graft-upsert` under the JVM temp dir) are gone once a commit returns
  * or throws. */
class StagingDirSpec extends SparkSpec {

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  /** `createTempDirectory(prefix)` names: the prefix, then digits only
    * (so a spec's `graft-delete-wh…` warehouse does not count). */
  private def stageDirs(prefixes: Seq[String]): Set[Path] = {
    val list = Files.list(tmp)
    try list.iterator().asScala.filter { p =>
      val name = p.getFileName.toString
      prefixes.exists(pre => name.startsWith(pre) && name.drop(pre.length).forall(_.isDigit))
    }.toSet
    finally list.close()
  }

  /** The `prefixes` directories that appeared while `body` ran and are still
    * there a while later. Other test JVMs share the temp dir and stage
    * their own commits concurrently; theirs go once their writes finish,
    * so only a directory nobody deletes is reported. */
  private def leftBehind(prefixes: String*)(body: => Unit): Set[Path] = {
    val before = stageDirs(prefixes)
    body
    var left = stageDirs(prefixes) -- before
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(200)
      left = left.filter(Files.exists(_))
    }
    left
  }

  private lazy val tableDir: String = {
    val dir = Files.createTempDirectory("graft-stage-wh").toString + "/t"
    TableCreator.create(dir, StructType(Seq(
      StructField("k", LongType), StructField("p", StringType), StructField("v", LongType))),
      partitionDecls = Seq("p"))
    dir
  }

  private def rows(from: Long, to: Long) = spark.range(from, to).select(
    col("id").as("k"), (col("id") % 3).cast("string").as("p"), (col("id") * 10).as("v"))

  private def snapshots: Int = IcebergTable.load(tableDir).metadata.snapshots.size

  test("a partitioned append leaves no graft-commit directory") {
    assert(leftBehind("graft-commit")(TableWriter.append(spark, tableDir, rows(0, 30))).isEmpty)
    assert(snapshots == 1)
  }

  test("a position delete leaves no graft-delete directory") {
    assert(leftBehind("graft-delete")(
      assert(TableWriter.deleteWhere(spark, tableDir, col("k") < 5).nonEmpty)).isEmpty)
    // a predicate nothing matches stages an empty file and commits nothing
    assert(leftBehind("graft-delete")(
      assert(TableWriter.deleteWhere(spark, tableDir, col("k") < 0).isEmpty)).isEmpty)
  }

  test("an upsert leaves neither its data nor its key stage") {
    val before = snapshots
    assert(leftBehind("graft-commit", "graft-upsert")(
      TableWriter.upsert(spark, tableDir, rows(20, 40), Seq("k"))).isEmpty)
    assert(snapshots == before + 1)
  }

  test("a commit whose staging write throws leaves no directory and no snapshot") {
    val before = snapshots
    val failing = rows(100, 130).withColumn("v",
      when(col("k") === 117, raise_error(lit("boom"))).otherwise(col("v")))
    assert(leftBehind("graft-commit")(
      intercept[Exception](TableWriter.append(spark, tableDir, failing))).isEmpty)
    assert(snapshots == before)
  }
}
