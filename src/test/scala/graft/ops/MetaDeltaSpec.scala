package graft.ops

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.meta._
import graft.rel.MetaRelations

/** The snapshot diff, changelog, summary and tree as they were before the
  * manifest-delta and projected-fold verbs: DataFrame plans over full
  * `files` listings. Kept as the reference tier [[MetaDeltaSpec]] checks
  * the verbs against. */
object MetaDeltaReference {

  def diff(spark: SparkSession, t: IcebergTable, snap1: Long, snap2: Long): DiffReport = {
    Seq(snap1, snap2).foreach { id =>
      if (t.metadata.snapshot(id).isEmpty)
        throw new NoSuchElementException(s"Snapshot $id not found")
    }
    val f1 = MetaRelations.files(spark, t, Some(snap1))
    val f2 = MetaRelations.files(spark, t, Some(snap2))
    val added = f2.join(broadcast(f1.select("file_path")), Seq("file_path"), "left_anti")
      .select("file_path", "partition", "record_count", "file_size_in_bytes")
      .orderBy("file_path")
    val deleted = f1.join(broadcast(f2.select("file_path")), Seq("file_path"), "left_anti")
      .select("file_path", "partition", "record_count", "file_size_in_bytes")
      .orderBy("file_path")
    def side(df: DataFrame, label: String): DataFrame =
      df.agg(
        lit(label).as("side"),
        count(lit(1)).as("files"),
        coalesce(sum(col("file_size_in_bytes")), lit(0L)).as("bytes"),
        coalesce(sum(col("record_count")), lit(0L)).as("records"))
    val a = side(added, "added")
    val d = side(deleted, "deleted")
    val totals = a.unionByName(d).unionByName(
      a.crossJoin(d.select(
          col("files").as("d_files"), col("bytes").as("d_bytes"),
          col("records").as("d_records")))
        .select(
          lit("net").as("side"),
          (col("files") - col("d_files")).as("files"),
          (col("bytes") - col("d_bytes")).as("bytes"),
          (col("records") - col("d_records")).as("records")))
    DiffReport(added, deleted, totals,
      t.metadata.snapshot(snap2).map(_.operation).getOrElse("unknown"))
  }

  def changes(spark: SparkSession, t: IcebergTable, fromSnap: Long, toSnap: Long): DataFrame = {
    var chain = List.empty[Snapshot]
    var cur: Option[Snapshot] = Some(t.metadata.snapshot(toSnap)
      .getOrElse(throw new NoSuchElementException(s"Snapshot $toSnap not found")))
    while (cur.exists(_.snapshotId != fromSnap)) {
      val s = cur.get
      chain = s :: chain
      cur = s.parentSnapshotId.map(pid => t.metadata.snapshot(pid).getOrElse(
        throw new NoSuchElementException(s"Parent snapshot $pid not found")))
      if (cur.isEmpty)
        throw new IllegalArgumentException(
          s"Snapshot $fromSnap is not an ancestor of $toSnap")
    }
    require(chain.nonEmpty, s"empty snapshot range ($fromSnap, $toSnap]")
    val perSnapshot = chain.map { s =>
      val curFiles = MetaRelations.files(spark, t, Some(s.snapshotId))
      val prevFiles = s.parentSnapshotId match {
        case Some(pid) => MetaRelations.files(spark, t, Some(pid))
        case None => spark.createDataFrame(
          java.util.Collections.emptyList[Row](), MetaRelations.filesSchema)
      }
      def side(a: DataFrame, b: DataFrame, label: String): DataFrame =
        a.join(broadcast(b.select("file_path")), Seq("file_path"), "left_anti")
          .select(
            lit(s.snapshotId).as("snapshot_id"),
            lit(s.timestampMs).as("timestamp_ms"),
            lit(s.operation).as("operation"),
            lit(label).as("change"),
            col("file_path"), col("partition"),
            col("record_count"), col("file_size_in_bytes"))
      side(curFiles, prevFiles, "added")
        .unionByName(side(prevFiles, curFiles, "deleted"))
    }
    perSnapshot.reduce(_ unionByName _)
      .orderBy("timestamp_ms", "snapshot_id", "change", "file_path")
  }

  def summary(spark: SparkSession, t: IcebergTable, ref: String): DataFrame = {
    val md = t.metadata
    MetaRelations.files(spark, t).agg(
        count(lit(1)).as("file_count"),
        coalesce(sum(col("record_count")), lit(0L)).as("total_records"),
        coalesce(sum(col("file_size_in_bytes")), lit(0L)).as("total_bytes"),
        countDistinct(col("partition")).as("partition_count"))
      .withColumn("table_name", lit(ref))
      .withColumn("format_version", lit(md.formatVersion))
      .withColumn("snapshot_count", lit(md.snapshots.size))
      .withColumn("field_count", lit(md.currentSchema.fields.size))
      .withColumn("last_updated_ms", lit(md.lastUpdatedMs))
  }

  def tree(spark: SparkSession, t: IcebergTable, snapshotId: Option[Long]): DataFrame = {
    val rows = t.manifests(snapshotId).map { m =>
      val entries = t.manifestEntries(m.manifestPath).filter(_.status != 2)
      (m.manifestPath, m.content, entries.size.toLong,
        entries.map(_.recordCount).sum, entries.map(_.fileSizeInBytes).sum)
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    spark.createDataFrame(rows)
      .toDF("manifest_path", "content", "file_count", "row_count", "total_bytes")
      .withColumn("pct_of_rows",
        round(lit(100.0) * col("row_count") / sum(col("row_count")).over(w), 2))
      .withColumn("avg_bytes",
        sum(col("total_bytes")).over(w) / sum(col("file_count")).over(w))
      .withColumn("size_color",
        when(col("file_count") === 0, "green")
          .when(col("total_bytes") / col("file_count") <= col("avg_bytes") * 0.5, "green")
          .when(col("total_bytes") / col("file_count") <= col("avg_bytes") * 1.5, "yellow")
          .otherwise(lit("red")))
      .drop("avg_bytes")
      .orderBy("manifest_path")
  }
}

/** The manifest-delta `diff` / `changes` and the projected-fold `summary` /
  * `tree` equal their full-listing reference plans ([[MetaDeltaReference]])
  * — same schema with nullability, same rows in the same key order — with
  * the driver tier and with the threshold forced to 0, on tables built to
  * break the shared-manifest argument; and they run the job counts they
  * promise. */
class MetaDeltaSpec extends SparkSpec {

  private val schema = Seq(SchemaField(1, "id", true, "long", "id"))

  private def e(path: String, status: Int = 1, part: Map[String, String] = Map("p" -> "0"),
      records: Long = 10L, size: Long = 100L): DataFileEntry =
    DataFileEntry(status, 1L, 0, path, "PARQUET", part, records, size,
      Map.empty, Map.empty, Map.empty, Map.empty, Map.empty)

  /** Write a manifest whose `partition` arrays keep the given entry order
    * (the engine's writer sorts them by name; a foreign writer need not). */
  private def writeRaw(path: String, es: Seq[(DataFileEntry, Seq[(String, String)])]): Unit = {
    val s = AvroManifests.ManifestSchema
    val dfs = s.getField("data_file").schema()
    def sub(f: String) = dfs.getField(f).schema().getElementType
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](s))
    w.create(s, new File(path))
    es.foreach { case (x, part) =>
      val df = new GenericData.Record(dfs)
      df.put("content", x.content); df.put("file_path", x.filePath)
      df.put("file_format", x.fileFormat)
      df.put("partition", part.map { case (k, v) =>
        val p = new GenericData.Record(sub("partition")); p.put("name", k); p.put("value", v); p
      }.asJava)
      df.put("record_count", x.recordCount); df.put("file_size_in_bytes", x.fileSizeInBytes)
      Seq("column_sizes", "value_counts", "null_value_counts", "lower_bounds", "upper_bounds",
        "equality_ids").foreach(f => df.put(f, java.util.Collections.emptyList()))
      val r = new GenericData.Record(s)
      r.put("status", x.status); r.put("snapshot_id", x.snapshotId)
      r.put("sequence_number", -1L); r.put("data_file", df)
      w.append(r)
    }
    w.close()
  }

  /** A metadata-only table. `manifests` maps a name to its entries (a
    * name starting with "del" is a delete manifest); each snapshot is
    * (id, parent, manifest names) and gets its own manifest list; the
    * last one is current unless `current` says otherwise. */
  private def table(manifests: Map[String, Seq[DataFileEntry]],
      snaps: Seq[(Long, Option[Long], Seq[String])],
      current: Option[Option[Long]] = None,
      raw: Map[String, Seq[(DataFileEntry, Seq[(String, String)])]] = Map.empty): IcebergTable = {
    val dir = Files.createTempDirectory("graft-meta-delta")
    Files.createDirectories(dir.resolve("metadata"))
    val mfs = (manifests ++ raw.map { case (k, v) => k -> v.map(_._1) }).map { case (name, es) =>
      val p = s"metadata/$name.avro"
      raw.get(name) match {
        case Some(r) => writeRaw(dir.resolve(p).toString, r)
        case None => AvroManifests.writeManifest(dir.resolve(p).toString, es)
      }
      name -> ManifestFile(p, Files.size(dir.resolve(p)), 0,
        if (name.startsWith("del")) 1 else 0, 1L,
        es.count(_.status == 1), es.count(_.status == 0), es.count(_.status == 2),
        es.map(_.recordCount).sum, 0L, 0L)
    }
    val snapshots = snaps.zipWithIndex.map { case ((id, parent, names), i) =>
      val list = s"metadata/snap-$id.avro"
      AvroManifests.writeManifestList(dir.resolve(list).toString, names.map(mfs))
      Snapshot(id, parent, 1000L * (i + 1), if (i % 2 == 0) "append" else "overwrite",
        Map.empty, list, sequenceNumber = i + 1L)
    }
    val md = TableMetadata(2, java.util.UUID.randomUUID().toString, dir.toString, 0L, 0,
      Seq(IceSchema(0, schema)), 0, Seq(PartitionSpec(0, Nil)), Map.empty,
      current.getOrElse(snapshots.lastOption.map(_.snapshotId)), snapshots)
    Files.writeString(dir.resolve("metadata/v1.metadata.json"), IcebergMeta.render(md))
    IcebergTable.load(dir.toString)
  }

  private val tiers = Seq(MetaRelations.DistributeEntriesThreshold, 0)

  private def canon(r: Row): String = r.toSeq.map {
    case m: scala.collection.Map[_, _] => m.toSeq.map(_.toString).sorted.mkString("{", ",", "}")
    case x => String.valueOf(x)
  }.mkString("|")

  /** Same schema; rows in the same order of `key`; same rows as a multiset
    * (rows tied on the key may come in any order, as after an `orderBy`). */
  private def assertSame(got: DataFrame, want: DataFrame, where: String,
      key: Row => Any = canon): Unit = {
    assert(got.schema == want.schema, where)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.map(key) == w.map(key), where)
    assert(g.map(canon).sorted == w.map(canon).sorted, where)
  }

  private def assertDiff(t: IcebergTable, s1: Long, s2: Long): Unit = {
    val want = MetaDeltaReference.diff(spark, t, s1, s2)
    tiers.foreach { threshold =>
      val got = MetaDiff.diff(spark, t, s1, s2, threshold)
      val where = s"diff($s1, $s2) threshold=$threshold"
      assertSame(got.added, want.added, s"$where added", _.getString(0))
      assertSame(got.deleted, want.deleted, s"$where deleted", _.getString(0))
      assertSame(got.totals, want.totals, s"$where totals")
      assert(got.operation == want.operation, where)
    }
  }

  private def assertChanges(t: IcebergTable, from: Long, to: Long): Unit = {
    val want = MetaDeltaReference.changes(spark, t, from, to)
    tiers.foreach { threshold =>
      assertSame(MetaDiff.changes(spark, t, from, to, threshold), want,
        s"changes($from, $to) threshold=$threshold",
        r => (r.getLong(1), r.getLong(0), r.getString(3), r.getString(4)))
    }
  }

  private def assertFolds(t: IcebergTable): Unit = tiers.foreach { threshold =>
    assertSame(MetaRelations.summary(spark, t, "ns.t", threshold),
      MetaDeltaReference.summary(spark, t, "ns.t"), s"summary threshold=$threshold")
    (None +: t.metadata.snapshots.map(s => Some(s.snapshotId))).foreach { id =>
      assertSame(MetaRelations.tree(spark, t, id, threshold),
        MetaDeltaReference.tree(spark, t, id), s"tree($id) threshold=$threshold",
        _.getString(0))
    }
  }

  private def allPairs(t: IcebergTable): Unit = {
    val ids = t.metadata.snapshots.map(_.snapshotId)
    for (a <- ids; b <- ids) assertDiff(t, a, b)
  }

  /** m1(f1..f3) + m2(f4) → rewrite into m3 (same files, status existing)
    * → m3 + m4(f5, f1 again) → delete f2 by tombstone in m5 (rewrites m3)
    * → re-add f2 in m6. A branch off snapshot 2 adds f9; one off snapshot
    * 3 adds f9 and m8(f1 a third time, f10), so its delta from snapshot 2
    * spans several manifests and still needs the shared-path guard. */
  private lazy val evolving: IcebergTable = {
    val f = (1 to 9).map(i => e(s"data/f$i", part = Map("p" -> (i % 3).toString),
      records = i * 10L, size = i * 1000L))
    table(
      Map(
        "m1" -> f.take(3), "m2" -> Seq(f(3)),
        "m3" -> f.take(4).map(_.copy(status = 0)),
        "m4" -> Seq(f(4), f(0).copy(recordCount = 7L, fileSizeInBytes = 77L)),
        "m5" -> f.take(4).zipWithIndex.map { case (x, i) => x.copy(status = if (i == 1) 2 else 0) },
        "m6" -> Seq(f(1).copy(recordCount = 99L)),
        "m7" -> Seq(f(8)),
        "m8" -> Seq(f(0).copy(recordCount = 5L), e("data/f10")),
        "del1" -> Seq(e("data/pos-del-1", size = 5L).copy(content = 1))),
      Seq(
        (1L, None, Seq("m1", "m2")),
        (2L, Some(1L), Seq("m3")),
        (3L, Some(2L), Seq("m3", "m4", "del1")),
        (4L, Some(3L), Seq("m5", "m4", "del1")),
        (5L, Some(4L), Seq("m5", "m4", "m6")),
        (6L, Some(2L), Seq("m3", "m7")),
        (7L, Some(3L), Seq("m3", "m4", "m7", "m8"))),
      current = Some(Some(5L)))
  }

  test("rewritten manifests, a path live in shared and unshared manifests, delete " +
      "then re-add, tombstones, identical, non-consecutive and non-ancestor pairs") {
    allPairs(evolving)
    // the shape the guard exists for: f1 stays live through shared m3
    val d = MetaDiff.diff(spark, evolving, 2L, 3L)
    assert(d.added.collect().map(_.getString(0)).toSeq == Seq("data/f5"))
  }

  test("changes over every ancestor range, on both tiers") {
    Seq((1L, 5L), (1L, 2L), (2L, 5L), (3L, 4L), (1L, 6L), (2L, 7L)).foreach { case (a, b) =>
      assertChanges(evolving, a, b)
    }
  }

  test("summary and tree equal the reference plans on every snapshot") {
    assertFolds(evolving)
  }

  test("an expired parent: diffs still answer, changes fail the same way") {
    // snapshot 10's parent 9 was expired out of the metadata
    val t = table(Map("a" -> Seq(e("data/a")), "b" -> Seq(e("data/b"))),
      Seq((10L, Some(9L), Seq("a")), (11L, Some(10L), Seq("a", "b"))))
    allPairs(t)
    assertChanges(t, 10L, 11L)
    def failure(f: => Any): (Class[_], String) =
      scala.util.Try(f).failed.map(x => (x.getClass, x.getMessage)).get
    assert(failure(MetaDiff.changes(spark, t, 8L, 11L)) ==
      failure(MetaDeltaReference.changes(spark, t, 8L, 11L)))
    assert(failure(MetaDiff.diff(spark, t, 9L, 11L)) ==
      failure(MetaDeltaReference.diff(spark, t, 9L, 11L)))
  }

  test("empty tables: no snapshot, and an empty root snapshot") {
    assertFolds(table(Map.empty, Nil))
    val t = table(Map("a" -> Seq(e("data/a"), e("data/b"))),
      Seq((1L, None, Nil), (2L, Some(1L), Seq("a")), (3L, Some(2L), Nil)))
    allPairs(t)
    assertChanges(t, 1L, 3L)
    assertFolds(t)
  }

  test("partition maps that differ only in entry order count as Spark counts them") {
    val ab = Seq("a" -> "1", "b" -> "2")
    val raw = Map("r" -> Seq(
      (e("data/x", part = ab.toMap), ab), (e("data/y", part = ab.toMap), ab.reverse),
      (e("data/z", part = Map("a" -> "2", "b" -> "1")), Seq("b" -> "1", "a" -> "2"))))
    val t = table(Map("s" -> Seq(e("data/w", part = ab.toMap))),
      Seq((1L, None, Seq("s")), (2L, Some(1L), Seq("s", "r"))), raw = raw)
    assertFolds(t)
    allPairs(t)
    assert(MetaRelations.summary(spark, t, "ns.t").head().getAs[Long]("partition_count") == 3L)
  }

  test("a projected decode reads only the named fields and caches nothing") {
    val p = evolving.resolvePath("metadata/m4.avro")
    val full = AvroManifests.readManifest(p)
    val paths = AvroManifests.readManifest(p, Seq("file_path"))
    assert(paths.map(x => (x.status, x.filePath)) == full.map(x => (x.status, x.filePath)))
    assert(paths.forall(x => x.recordCount == 0L && x.partition.isEmpty && x.fileFormat == ""))
    // projected folds leave the table's entry memos to full decodes
    val t = IcebergTable.load(evolving.tableDir)
    MetaRelations.tree(spark, t).collect()
    MetaRelations.summary(spark, t, "ns.t").collect()
    MetaDiff.diff(spark, t, 2L, 3L).totals.collect()
    def shape(es: Seq[DataFileEntry]) = es.map(x => (x.filePath, x.fileFormat, x.partition,
      x.recordCount, x.fileSizeInBytes))
    assert(shape(t.manifestEntries("metadata/m4.avro")) == shape(full))
    assert(shape(t.files()) == shape(IcebergTable.load(evolving.tableDir).files()))
  }

  test("job counts: diff totals and tree run none below the threshold, " +
      "summary and tree at most one above it") {
    val big = (0 until 3).map(m => s"m$m" -> (0 until 900).map(i => e(f"data/$m-$i%04d"))).toMap
    val t = table(big + ("n" -> Seq(e("data/new"))),
      Seq((1L, None, Seq("m0", "m1")), (2L, Some(1L), Seq("m0", "m1", "n")),
        (3L, Some(2L), Seq("m0", "m1", "n", "m2"))))
    MetaRelations.tree(spark, t, None, 0).collect() // warm the executor path
    assert(jobsDuring(MetaDiff.diff(spark, t, 1L, 2L).totals.collect()) == 0)
    assert(jobsDuring(MetaRelations.tree(spark, t, Some(2L)).collect()) == 0)
    assert(jobsDuring(MetaRelations.summary(spark, t, "ns.t").collect()) <= 1)
    assert(jobsDuring(MetaRelations.tree(spark, t).collect()) <= 1)
    assert(jobsDuring(MetaDiff.diff(spark, t, 2L, 3L).totals.collect()) <= 1)
  }
}
