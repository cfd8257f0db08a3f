package graft.ops

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.api.Engine
import graft.expr.IcebergDecode
import graft.fixtures.FixtureWriter
import graft.meta._
import graft.rel.MetaRelations

/** The health report's section plans as they were before the one-pass
  * fold: seven declarative DataFrame transforms over the `files`
  * relation. Kept as the reference tier [[MetaHealthFoldSpec]] checks the
  * fold against. */
object MetaHealthReference {

  def fileStats(files: DataFrame): DataFrame =
    files.agg(
        count(lit(1)).as("file_count"),
        min(col("file_size_in_bytes")).as("min_bytes"),
        max(col("file_size_in_bytes")).as("max_bytes"),
        round(median(col("file_size_in_bytes")), 2).as("med_bytes"),
        sum(col("file_size_in_bytes")).as("total_bytes"),
        sum(when(col("file_size_in_bytes") < MetaHealth.SmallFileBytes, 1L).otherwise(0L))
          .as("small_files"))
      .withColumn("avg_bytes",
        round(col("total_bytes").cast("double") / col("file_count"), 2))
      .withColumn("small_file_warning", col("small_files") > col("file_count") / 2)

  def manifestCensus(manifests: DataFrame): DataFrame =
    manifests.agg(
        sum(when(col("content") === 0, 1L).otherwise(0L)).as("data_manifests"),
        sum(when(col("content") =!= 0, 1L).otherwise(0L)).as("delete_manifests"),
        count(lit(1)).as("total_manifests"))
      .withColumn("compaction_recommended", col("delete_manifests") > 0)

  def partitionStats(files: DataFrame): DataFrame =
    Health.skewFlags(
      MetaRelations.partitions(files).withColumnRenamed("file_count", "cnt"),
      "cnt")

  def nullRates(files: DataFrame, nameById: Column): DataFrame =
    files
      .select(explode(expr(
        "map_zip_with(null_value_counts, value_counts, " +
          "(k, n, v) -> named_struct('nulls', n, 'vals', v))"))
        .as(Seq("field_id", "nv")))
      .groupBy("field_id")
      .agg(sum(col("nv.nulls")).as("null_count"), sum(col("nv.vals")).as("value_count"))
      .filter(col("null_count").isNotNull && col("value_count").isNotNull)
      .withColumn("field_name", element_at(nameById, col("field_id")))
      .withColumn("null_pct",
        round(lit(100.0) * col("null_count") / col("value_count"), 4))
      .orderBy("field_id")

  def columnShare(files: DataFrame, nameById: Column): DataFrame = {
    val sizes = files
      .select(explode(col("column_sizes")).as(Seq("field_id", "bytes")))
      .groupBy("field_id").agg(sum(col("bytes")).as("total_bytes"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    sizes
      .withColumn("pct_of_total",
        round(lit(100.0) * col("total_bytes") / sum(col("total_bytes")).over(w), 4))
      .withColumn("field_name", element_at(nameById, col("field_id")))
      .orderBy(col("total_bytes").desc, col("field_id"))
  }

  def columnBounds(files: DataFrame, typeById: Column, nameById: Column): DataFrame =
    files
      .select(explode(expr(
        "map_zip_with(lower_bounds, upper_bounds, " +
          "(k, lo, hi) -> named_struct('lo', lo, 'hi', hi))"))
        .as(Seq("field_id", "b")))
      .select(col("field_id"),
        IcebergDecode.decodeNum(element_at(typeById, col("field_id")), col("b.lo")).as("lo"),
        IcebergDecode.decodeNum(element_at(typeById, col("field_id")), col("b.hi")).as("hi"))
      .groupBy("field_id")
      .agg(min(col("lo")).as("min_value"), max(col("hi")).as("max_value"))
      .filter(col("min_value").isNotNull)
      .withColumn("field_name", element_at(nameById, col("field_id")))
      .orderBy("field_id")

  def overlap(spark: SparkSession, t: IcebergTable, files: DataFrame): DataFrame =
    if (t.metadata.currentSpec.fields.isEmpty) spark.emptyDataFrame
    else MetaHealth.overlapPlan(t, files)

  def report(spark: SparkSession, t: IcebergTable): HealthReport = {
    val files = MetaRelations.files(spark, t)
    val fields = t.metadata.currentSchema.fields
    val nameById = typedLit(fields.map(f => f.id -> f.name).toMap)
    val typeById = typedLit(fields.map(f => f.id -> f.fieldType).toMap)
    HealthReport(
      fileStats = fileStats(files),
      manifestCensus = manifestCensus(MetaRelations.manifests(spark, t)),
      partitionStats = partitionStats(files),
      nullRates = nullRates(files, nameById),
      columnShare = columnShare(files, nameById),
      columnBounds = columnBounds(files, typeById, nameById),
      overlap = overlap(spark, t, files))
  }
}

/** The one-pass health fold ([[MetaHealth.report]]) equals the reference
  * section plans ([[MetaHealthReference]]) — same schema, same collected
  * rows — on adversarial tables, folded both on the driver and on
  * executors; and it runs at most one Spark job and caches nothing. */
class MetaHealthFoldSpec extends SparkSpec {

  private def enc(t: String, v: Any): Array[Byte] = IcebergDecode.encode(t, v)

  // field 9 exists only in schema 0: the current schema (1) dropped it
  private val schema0 = Seq(
    SchemaField(1, "id", true, "long", "id"), SchemaField(2, "score", false, "double", "score"),
    SchemaField(9, "legacy", false, "long", "legacy"))
  private val schema1 = Seq(
    SchemaField(1, "id", true, "long", "id"), SchemaField(2, "score", false, "double", "score"),
    SchemaField(3, "name", false, "string", "name"), SchemaField(4, "day", false, "date", "day"),
    SchemaField(5, "ratio", false, "float", "ratio"))
  private val byId = Seq(SpecField("id_b", "identity", 1, 1000))

  private def entry(path: String, lo: Array[Byte], hi: Array[Byte], srcId: Int = 1,
      size: Long = 1000L, part: Map[String, String] = Map("id_b" -> "0"),
      status: Int = 1): DataFileEntry =
    DataFileEntry(status, 1L, 0, path, "PARQUET", part, 10L, size,
      Map(1 -> 80L), Map(1 -> 10L), Map(1 -> 0L),
      Map(srcId -> lo), Map(srcId -> hi))

  /** Entries with every stat map ragged: keys missing per file, sizes
    * tied and above the small-file cut, inverted bounds, a non-numeric
    * field, the dropped field 9, deleted and existing statuses. */
  private def mixed(n: Int, seed: Long, prefix: String = "data/f"): Seq[DataFileEntry] = {
    val r = new Random(seed)
    def some[A](kv: (Int, A)*): Map[Int, A] = kv.filter(_ => r.nextInt(5) > 0).toMap
    (0 until n).map { i =>
      val lo = r.nextInt(2000).toLong - 500
      val hi = lo + r.nextInt(60) - 10
      DataFileEntry(
        status = Seq(1, 1, 0, 2)(r.nextInt(4)), snapshotId = 1L, content = 0,
        filePath = f"$prefix-$i%05d.parquet", fileFormat = "PARQUET",
        partition = Map("id_b" -> (math.abs(lo) % 13).toString),
        recordCount = 1L + r.nextInt(100),
        fileSizeInBytes = if (i % 9 == 0) (33L << 20) + r.nextInt(3) else r.nextInt(5000).toLong,
        columnSizes = some(1 -> r.nextInt(999).toLong, 2 -> r.nextInt(99).toLong,
          3 -> 7L, 9 -> r.nextInt(50).toLong),
        valueCounts = some(1 -> 10L, 2 -> 10L, 3 -> 10L, 9 -> 10L),
        nullValueCounts = some(1 -> 0L, 2 -> r.nextInt(10).toLong, 3 -> 1L, 9 -> 3L),
        lowerBounds = some(1 -> enc("long", lo), 2 -> enc("double", lo / 3.0),
          3 -> enc("string", s"a$i"), 4 -> enc("int", lo.toInt), 5 -> enc("float", lo / 7f),
          9 -> enc("long", lo)),
        upperBounds = some(1 -> enc("long", hi), 2 -> enc("double", hi / 3.0),
          3 -> enc("string", s"z$i"), 4 -> enc("int", hi.toInt), 5 -> enc("float", hi / 7f),
          9 -> enc("long", hi)))
    }
  }

  /** A metadata-only table: one data manifest per element of `data`, one
    * delete manifest per element of `deletes`; no snapshot at all when
    * `snapshot` is false. */
  private def table(data: Seq[Seq[DataFileEntry]], deletes: Seq[Seq[DataFileEntry]] = Nil,
      spec: Seq[SpecField] = byId, snapshot: Boolean = true): IcebergTable = {
    val dir = Files.createTempDirectory("graft-health-fold")
    Files.createDirectories(dir.resolve("metadata"))
    val manifests = (data.map(0 -> _) ++ deletes.map(1 -> _)).zipWithIndex.map {
      case ((content, es), i) =>
        val p = s"metadata/m-$i.avro"
        AvroManifests.writeManifest(dir.resolve(p).toString, es)
        ManifestFile(p, Files.size(dir.resolve(p)), 0, content, 1L,
          es.count(_.status == 1), es.count(_.status == 0), es.count(_.status == 2),
          0L, 0L, 0L)
    }
    AvroManifests.writeManifestList(dir.resolve("metadata/snap-1.avro").toString, manifests)
    val snaps =
      if (snapshot) Seq(Snapshot(1L, None, 0L, "append", Map("operation" -> "append"),
        "metadata/snap-1.avro", sequenceNumber = 1L))
      else Nil
    val md = TableMetadata(2, java.util.UUID.randomUUID().toString, dir.toString, 0L, 1,
      Seq(IceSchema(0, schema0), IceSchema(1, schema1)), 0, Seq(PartitionSpec(0, spec)),
      Map.empty, snaps.headOption.map(_.snapshotId), snaps)
    Files.writeString(dir.resolve("metadata/v1.metadata.json"), IcebergMeta.render(md))
    IcebergTable.load(dir.toString)
  }

  private def sections(h: HealthReport): Seq[(String, DataFrame)] = Seq(
    "fileStats" -> h.fileStats, "manifestCensus" -> h.manifestCensus,
    "partitionStats" -> h.partitionStats, "nullRates" -> h.nullRates,
    "columnShare" -> h.columnShare, "columnBounds" -> h.columnBounds,
    "overlap" -> h.overlap)

  /** Fold on the driver and on executors; both equal the reference. */
  private def assertFoldEqualsReference(t: IcebergTable): Unit = {
    val want = sections(MetaHealthReference.report(spark, t))
      .map { case (n, df) => (n, df.schema, df.collect().toSeq) }
    Seq(MetaRelations.DistributeEntriesThreshold, 0).foreach { threshold =>
      val got = sections(MetaHealth.report(spark, t, threshold))
      got.zip(want).foreach { case ((name, df), (_, schema, rows)) =>
        val where = s"$name (distributeThreshold=$threshold)"
        assert(df.schema == schema, where)
        val collected = df.collect().toSeq
        if (name == "partitionStats")
          assert(collected.sortBy(_.getString(0)) == rows.sortBy(_.getString(0)), where)
        else assert(collected == rows, where)
      }
    }
  }

  private def overlapColumn(t: IcebergTable): String =
    MetaHealth.report(spark, t).overlap.columns.mkString(",")

  test("median follows Spark's exact percentile interpolation") {
    import spark.implicits._
    Seq(Seq(7L), Seq(1L, 2L), Seq(3L, 3L, 4L, 10L), Seq(5L, 1L, 9L),
      Seq((1L << 53) + 1, (1L << 53) + 2), Seq(Long.MaxValue - 1, Long.MaxValue - 4))
      .foreach { xs =>
        val want = xs.toDF("x").agg(median(col("x"))).collect().head.getDouble(0)
        assert(MetaHealth.median(xs.sorted.toArray) == want, xs)
      }
  }

  test("empty table: a partitioned table with no snapshot") {
    assertFoldEqualsReference(table(Nil, snapshot = false))
  }

  test("unpartitioned table: the overlap section is an empty frame") {
    val t = table(Seq(mixed(300, 1L)), spec = Nil)
    assert(MetaHealth.report(spark, t).overlap.columns.isEmpty)
    assertFoldEqualsReference(t)
  }

  test("ragged stat maps and dropped fields across manifests and statuses") {
    assertFoldEqualsReference(table(Seq(mixed(400, 2L), mixed(350, 3L, "data/g"))))
  }

  /** `n` live files with random, partly inverted `id` intervals. */
  private def intervals(n: Int, seed: Long, prefix: String = "data/i"): Seq[DataFileEntry] = {
    val r = new Random(seed)
    (0 until n).map { i =>
      val lo = r.nextInt(20000).toLong
      entry(f"$prefix-$i%05d", enc("long", lo), enc("long", lo + r.nextInt(40) - 8),
        status = i % 2)
    }
  }

  test("exactly 1000 intervals count pairs; 1001 switch to the sweep") {
    val at = table(Seq(intervals(1000, 4L)))
    assert(overlapColumn(at) == "pairs_cnt")
    assertFoldEqualsReference(at)
    val above = table(Seq(intervals(600, 4L), intervals(401, 5L, "data/h")))
    assert(overlapColumn(above) == "overlapping_cnt")
    assertFoldEqualsReference(above)
  }

  test("tied lo with inverted bounds: the file_path byte order breaks the tie") {
    // "Ａ" sorts AFTER the surrogate pair "😀" as UTF-16 but BEFORE it as
    // UTF-8 bytes, the order Spark compares strings in. Swept first, the
    // inverted interval leaves the running max below the tied lo (no
    // hit); swept second, it starts inside its twin (a hit).
    def tied(n: Int): Seq[DataFileEntry] = (0 until n).flatMap { i =>
      val lo = 10L * i
      Seq(entry(s"data/Ａ-$i", enc("long", lo), enc("long", lo - 5)),
        entry(s"data/😀-$i", enc("long", lo), enc("long", lo + 3)))
    }
    assertFoldEqualsReference(table(Seq(tied(150))))
    val swept = table(Seq(tied(600)))
    assert(MetaHealth.report(spark, swept).overlap.collect().head.getLong(0) == 0L)
    assertFoldEqualsReference(swept)
  }

  test("NaN and signed-zero double bounds follow Spark's double ordering") {
    val odd = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      -1.5, 2.5)
    def doubles(n: Int, seed: Long): Seq[DataFileEntry] = {
      val r = new Random(seed)
      (0 until n).map { i =>
        val (lo, hi) = (odd(r.nextInt(odd.size)), odd(r.nextInt(odd.size)))
        entry(f"data/d-$i%05d", enc("double", lo), enc("double", hi), srcId = 2)
      }
    }
    val byScore = Seq(SpecField("score_b", "identity", 2, 1000))
    assertFoldEqualsReference(table(Seq(doubles(500, 6L)), spec = byScore))
    assertFoldEqualsReference(table(Seq(doubles(1200, 7L)), spec = byScore))
  }

  test("partition keys group by their rendered string, as the reference does") {
    val parts = Seq(Map("a" -> "x}, {b, y"), Map("a" -> "x", "b" -> "y"),
      (1 to 6).map(k => s"k$k" -> s"v$k").toMap, Map.empty[String, String])
    val es = (0 until 40).map(i => entry(s"data/p-$i", enc("long", i.toLong),
      enc("long", i + 2L), part = parts(i % parts.size), size = 100L + i))
    val t = table(Seq(es))
    assert(MetaHealth.report(spark, t).partitionStats.count() == parts.size - 1)
    assertFoldEqualsReference(t)
  }

  test("delete manifests count in the census and stay out of the fold") {
    val deletes = (0 until 5).map(i => entry(s"data/del-$i", enc("long", 0L), enc("long", 9L))
      .copy(content = 1, fileSizeInBytes = 1L << 40))
    val t = table(Seq(mixed(200, 8L)), deletes = Seq(deletes, deletes.take(2)))
    val census = MetaHealth.report(spark, t).manifestCensus.collect().head
    assert(census.getAs[Long]("delete_manifests") == 2L)
    assertFoldEqualsReference(t)
  }

  test("above the distribution threshold the fold runs on executors") {
    val t = table((0 until 4).map(m => mixed(700, 10L + m, s"data/e$m")))
    assert(t.manifests().map(m => m.addedFilesCount + m.existingFilesCount).sum >
      MetaRelations.DistributeEntriesThreshold)
    assertFoldEqualsReference(t)
  }

  test("past distributedSweepRows the overlap section keeps the distributed plan") {
    val t = table(Seq(intervals(1100, 11L)))
    val key = "spark.graft.overlap.distributedSweepRows"
    spark.conf.set(key, "100")
    try assertFoldEqualsReference(t) finally spark.conf.unset(key)
  }

  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    // the listener bus is async: settle before and after, so events still
    // queued from earlier work are not counted
    def settled(): Int = {
      var last = -1
      while (last != jobs.get()) { last = jobs.get(); Thread.sleep(300) }
      last
    }
    spark.sparkContext.addSparkListener(listener)
    try { val before = settled(); body; settled() - before }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the report runs no job below the threshold and one above it") {
    val t = table(Seq(mixed(900, 12L), mixed(900, 13L, "data/j")))
    def collectAll(threshold: Int): Unit =
      sections(MetaHealth.report(spark, t, threshold)).foreach(_._2.collect())
    collectAll(0) // warm the executor path outside the count
    assert(jobsDuring(collectAll(MetaRelations.DistributeEntriesThreshold)) == 0)
    assert(jobsDuring(collectAll(0)) == 1)
  }

  test("Engine.health caches nothing across commits") {
    val wh = Files.createTempDirectory("graft-health-cache").toString
    FixtureWriter.writeDemo(spark, wh)
    val e = new Engine(spark, wh)
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    def health(): Unit = sections(e.health("sales.orders")).foreach(_._2.collect())
    health()
    assert(cache.isEmpty)
    import spark.implicits._
    e.append("sales.orders", Seq((100L, "Zed Quill", "us-east", 12.5,
        java.sql.Date.valueOf("2024-03-01"), java.sql.Timestamp.valueOf("2024-03-01 10:00:00")))
      .toDF("order_id", "customer_name", "region", "amount", "order_date", "created_at"))
    assert(cache.isEmpty)
    health()
    assert(cache.isEmpty)
  }
}
