package graft.ops

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.expr.IcebergDecode
import graft.meta.{DataFileEntry, IcebergTable}
import graft.rel.MetaRelations

/** The multi-section table-health report (ref `collect_table_health`,
  * `formatters.py:375-660`). Like the reference's single pass over
  * `inspect.files()`, the report is computed eagerly by one fold
  * ([[HealthAcc]]); each section is a driver-side `LocalRelation`, so
  * collecting it runs no Spark job.
  */
final case class HealthReport(
    fileStats: DataFrame,
    manifestCensus: DataFrame,
    partitionStats: DataFrame,
    nullRates: DataFrame,
    columnShare: DataFrame,
    columnBounds: DataFrame,
    overlap: DataFrame)

/** The health report's one mergeable aggregate over live data-file entries:
  * file sizes, per-partition (records, files, bytes), per-field stat-map sums
  * (absent key = no file carries it), decoded min/max bounds, and the
  * `(lo, hi, file_path)` intervals of the partition source `overlapSrc`
  * (field id, type; None skips them). `types` maps field id → type. */
private[ops] final class HealthAcc(types: Map[Int, String], overlapSrc: Option[(Int, String)])
    extends Serializable {
  import HealthAcc._
  val sizes = new mutable.ArrayBuilder.ofLong
  val partitions = mutable.LinkedHashMap.empty[Seq[(String, String)], Array[Long]]
  val nulls, vals, bytes = mutable.HashMap.empty[Int, Long]
  val lo, hi = mutable.HashMap.empty[Int, Double]
  val ivLo, ivHi = new mutable.ArrayBuilder.ofDouble
  val ivPath = mutable.ArrayBuffer.empty[String]

  private def decode(tpe: Option[String], b: Option[Array[Byte]]): Option[Double] =
    for (t <- tpe; v <- b; d <- Option(IcebergDecode.decodeNumericBoxed(t, v))) yield d

  def add(e: DataFileEntry): this.type = {
    sizes += e.fileSizeInBytes
    sum3(partitions, e.partition.toSeq, Array(e.recordCount, 1L, e.fileSizeInBytes))
    sumInto(nulls, e.nullValueCounts); sumInto(vals, e.valueCounts); sumInto(bytes, e.columnSizes)
    (e.lowerBounds.keySet ++ e.upperBounds.keySet).foreach { id =>
      decode(types.get(id), e.lowerBounds.get(id)).foreach(keep(lo, id, _, _ > 0))
      decode(types.get(id), e.upperBounds.get(id)).foreach(keep(hi, id, _, _ < 0))
    }
    for ((id, t) <- overlapSrc; l <- decode(Some(t), e.lowerBounds.get(id));
         h <- decode(Some(t), e.upperBounds.get(id))) { ivLo += l; ivHi += h; ivPath += e.filePath }
    this
  }

  def merge(o: HealthAcc): this.type = {
    sizes.addAll(o.sizes.result())
    o.partitions.foreach { case (k, v) => sum3(partitions, k, v) }
    sumInto(nulls, o.nulls); sumInto(vals, o.vals); sumInto(bytes, o.bytes)
    o.lo.foreach { case (id, v) => keep(lo, id, v, _ > 0) }
    o.hi.foreach { case (id, v) => keep(hi, id, v, _ < 0) }
    ivLo.addAll(o.ivLo.result()); ivHi.addAll(o.ivHi.result()); ivPath ++= o.ivPath
    this
  }
}

private[ops] object HealthAcc {
  /** Sums overflow loudly, as Spark's ANSI `sum` does. */
  def sumInto(m: mutable.Map[Int, Long], o: collection.Map[Int, Long]): Unit =
    o.foreach { case (k, v) => m(k) = Math.addExact(m.getOrElse(k, 0L), v) }

  def sum3[K](m: mutable.Map[K, Array[Long]], k: K, v: Array[Long]): Unit =
    m.get(k) match {
      case Some(a) => (0 until 3).foreach(i => a(i) = Math.addExact(a(i), v(i)))
      case None => m(k) = v.clone()
    }

  /** Replace the held value when `swap(compare(held, v))`, in Spark's
    * min/max order (NaN above all, ±0.0 equal; a tie keeps the held one). */
  def keep(m: mutable.Map[Int, Double], k: Int, v: Double, swap: Int => Boolean): Unit =
    if (m.get(k).forall(held => swap(compareDoubles(held, v)))) m(k) = v
}

object MetaHealth {
  val SmallFileBytes: Long = 32L * 1024 * 1024 // ref formatters.py:340
  val OverlapExactLimit: Long = 1000L // exact pairs up to here, ref formatters.py:341

  /** Spark's exact `percentile(x, 0.5)` over sorted values: position
    * 0.5·(n−1), linear between the floor and ceil neighbours. */
  private[ops] def median(sorted: Array[Long]): Double = {
    val pos = (sorted.length - 1L) * 0.5
    val (lo, hi) = (sorted(pos.floor.toInt), sorted(pos.ceil.toInt))
    if (lo == hi) lo.toDouble else (pos.ceil - pos) * lo + (pos - pos.floor) * hi
  }

  /** Exact overlapping-pair count (the reference's O(N²) loop). */
  private def pairCount(lo: Array[Double], hi: Array[Double], k: Array[String]): Long =
    lo.indices.map(a => lo.indices.count(b => compareDoubles(lo(a), hi(b)) <= 0 &&
      compareDoubles(lo(b), hi(a)) <= 0 &&
      MetaRelations.sparkStringOrder.lt(k(a), k(b))).toLong).sum

  /** Sweep line in `(lo, file_path)` order: intervals that start at or
    * before the running max of the ones ahead of them. */
  private def sweepCount(lo: Array[Double], hi: Array[Double], k: Array[String]): Long = {
    val order = lo.indices.sortWith { (a, b) =>
      val c = compareDoubles(lo(a), lo(b))
      if (c != 0) c < 0 else MetaRelations.sparkStringOrder.lt(k(a), k(b))
    }
    var runMax = Option.empty[Double]
    order.count { i =>
      val hit = runMax.exists(compareDoubles(lo(i), _) <= 0)
      if (runMax.forall(compareDoubles(_, hi(i)) < 0)) runMax = Some(hi(i))
      hit
    }.toLong
  }

  /** The overlap section as a distributed plan, for tables past
    * `spark.graft.overlap.distributedSweepRows` live entries. */
  private[ops] def overlapPlan(t: IcebergTable, files: DataFrame): DataFrame = {
    val srcId = t.metadata.currentSpec.fields.head.sourceId
    val srcType = typeOf(t, srcId).getOrElse("long")
    Overlap.adaptive(files.select(
        col("file_path").as("k"),
        IcebergDecode.decodeNum(lit(srcType), col("lower_bounds")(srcId)).as("lo"),
        IcebergDecode.decodeNum(lit(srcType), col("upper_bounds")(srcId)).as("hi"))
      .filter(col("lo").isNotNull && col("hi").isNotNull), OverlapExactLimit)
  }

  private def typeOf(t: IcebergTable, id: Int): Option[String] =
    t.metadata.currentSchema.fields.find(_.id == id).map(_.fieldType)

  /** A driver-side relation of `rows` under a DDL schema. */
  private def local(spark: SparkSession, ddl: String, rows: Iterable[Row]): DataFrame =
    spark.createDataFrame(rows.toSeq.asJava, StructType.fromDDL(ddl))

  /** Full health report, from one fold over the live entries. Rows are
    * pre-sorted where a section has an order; the derived columns are
    * Spark expressions over the local rows, folded on the driver. Schema
    * lookups are literal maps (driver-known metadata). */
  def report(spark: SparkSession, t: IcebergTable,
      distributeThreshold: Int = MetaRelations.DistributeEntriesThreshold): HealthReport = {
    val nameById = typedLit(t.metadata.currentSchema.fields.map(f => f.id -> f.name).toMap)
    val manifests = t.manifests()
    val data = manifests.filter(_.content == 0)
    val live = data.map(m => m.addedFilesCount.toLong + m.existingFilesCount).sum
    val distRows = spark.conf.get("spark.graft.overlap.distributedSweepRows", "4000000").toLong
    val src = t.metadata.currentSpec.fields.headOption.map(_.sourceId)
    val types = t.metadata.currentSchema.fields.map(f => f.id -> f.fieldType).toMap
    val overlapSrc =
      src.filter(_ => live <= distRows).map(id => id -> typeOf(t, id).getOrElse("long"))
    val acc = MetaRelations.fold(spark, t, data, None, distributeThreshold,
      () => new HealthAcc(types, overlapSrc))((a, _, e) => a.add(e), _ merge _)

    // A1/A2 — file-size stats + small-file count
    val sizes = acc.sizes.result().sorted
    val fileStats = local(spark, "file_count BIGINT NOT NULL, min_bytes BIGINT, " +
        "max_bytes BIGINT, med_bytes DOUBLE, total_bytes BIGINT, small_files BIGINT",
      Seq(if (sizes.isEmpty) Row(0L, null, null, null, null, null)
        else Row(sizes.length.toLong, sizes.head, sizes.last, median(sizes),
          sizes.foldLeft(0L)(Math.addExact), sizes.count(_ < SmallFileBytes).toLong)))
      .select(col("file_count"), col("min_bytes"), col("max_bytes"),
        round(col("med_bytes"), 2).as("med_bytes"), col("total_bytes"), col("small_files"),
        round(col("total_bytes").cast("double") / col("file_count"), 2).as("avg_bytes"),
        (col("small_files") > col("file_count") / 2).as("small_file_warning"))

    // A3 — manifest content census + compaction flag (ref `formatters.py:446-462`)
    val manifestCensus = local(spark,
      "data_manifests BIGINT, delete_manifests BIGINT, total_manifests BIGINT NOT NULL",
      Seq(if (manifests.isEmpty) Row(null, null, 0L)
        else Row(data.size.toLong, (manifests.size - data.size).toLong, manifests.size.toLong)))
      .withColumn("compaction_recommended", col("delete_manifests") > 0)

    // A4/J6 — per-partition stats with skew flags (ref `formatters.py:485-514`),
    // grouped by the rendered key like the reference: distinct entry lists
    // can render alike (a value holding "}, {")
    val rendered = local(spark, "p MAP<STRING, STRING> NOT NULL",
        acc.partitions.keys.map(kv => Row(ListMap(kv: _*))))
      .select(map_entries(col("p")).cast("string")).collect().map(_.getString(0))
    val parts = mutable.LinkedHashMap.empty[String, Array[Long]]
    rendered.zip(acc.partitions.values).foreach { case (k, v) => HealthAcc.sum3(parts, k, v) }
    val avgCnt = parts.values.map(_(1)).sum.toDouble / parts.size
    val partitionStats = local(spark, "partition STRING NOT NULL, record_count BIGINT, " +
        "cnt BIGINT NOT NULL, total_data_file_size_in_bytes BIGINT, avg_raw DOUBLE",
      parts.map { case (k, v) => Row(k, v(0), v(1), v(2), avgCnt) })
      .select(col("partition"), col("record_count"), col("cnt"),
        col("total_data_file_size_in_bytes"), (col("cnt") > lit(2) * col("avg_raw")).as("skewed"),
        round(col("avg_raw"), 4).as("avg_cnt"))

    // A5 — per-column null rates from the stat maps (ref `formatters.py:522-559`)
    val nullRates = local(spark, "field_id INT NOT NULL, null_count BIGINT, value_count BIGINT",
      acc.nulls.keys.filter(acc.vals.contains).toSeq.sorted
        .map(id => Row(id, acc.nulls(id), acc.vals(id))))
      .select(col("*"), element_at(nameById, col("field_id")).as("field_name"),
        round(lit(100.0) * col("null_count") / col("value_count"), 4).as("null_pct"))

    // A6 — per-column storage share, sorted desc (ref `formatters.py:561-573`)
    val shares = acc.bytes.toSeq.sortBy { case (id, b) => (-b, id) }
    val columnShare = local(spark, "field_id INT NOT NULL, total_bytes BIGINT",
        shares.map { case (id, b) => Row(id, b) })
      .select(col("*"), round(lit(100.0) * col("total_bytes") /
          lit(shares.map(_._2).foldLeft(0L)(Math.addExact)), 4).as("pct_of_total"),
        element_at(nameById, col("field_id")).as("field_name"))

    // A7 — per-column decoded min/max bounds, primitive numeric types only
    // (ref `formatters.py:576-604`)
    val columnBounds = local(spark, "field_id INT NOT NULL, min_value DOUBLE, max_value DOUBLE",
        acc.lo.toSeq.sortBy(_._1).map { case (id, l) => Row(id, l, acc.hi.get(id).orNull) })
      .withColumn("field_name", element_at(nameById, col("field_id")))

    // J4/W6 — interval overlap on the first partition-source column, with
    // the reference's adaptive exact-vs-sweep switch (ref `formatters.py:606-658`)
    val (lo, hi, path) = (acc.ivLo.result(), acc.ivHi.result(), acc.ivPath.toArray)
    val overlap =
      if (src.isEmpty) spark.emptyDataFrame
      else if (live > distRows) overlapPlan(t, MetaRelations.files(spark, t))
      else if (lo.length <= OverlapExactLimit)
        local(spark, "pairs_cnt BIGINT NOT NULL", Seq(Row(pairCount(lo, hi, path))))
      else local(spark, "overlapping_cnt BIGINT", Seq(Row(sweepCount(lo, hi, path))))

    HealthReport(fileStats, manifestCensus, partitionStats, nullRates,
      columnShare, columnBounds, overlap)
  }
}
