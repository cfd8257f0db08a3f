package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.api.Engine

/** Footer-derived commit stats (`spark.graft.commitStats.source=footer`,
  * the default) must produce MANIFEST ENTRIES BYTE-IDENTICAL to the
  * legacy full distributed aggregation (`agg`) on every statable type —
  * including the shapes that force the per-column fallback (NaN
  * float/double stats are dropped by parquet-mr; >4 KB string edges drop
  * the whole chunk's stats) — while never re-reading committed data. */
class FooterStatsSpec extends SparkSpec {
  import spark.implicits._

  private def wh(): String = Files.createTempDirectory("graft-fstats-wh").toString

  /** Entries stripped to comparable form (paths carry random commit
    * tokens; bound bytes compare as seqs). */
  private def comparable(t: IcebergTable) =
    t.files().sortBy(_.filePath).map(e => (
      e.recordCount, e.fileSizeInBytes, e.partition,
      e.columnSizes.toSeq.sortBy(_._1),
      e.valueCounts.toSeq.sortBy(_._1),
      e.nullValueCounts.toSeq.sortBy(_._1),
      e.lowerBounds.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toSeq },
      e.upperBounds.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toSeq }))

  private def withSource[A](v: String)(body: => A): A = {
    spark.conf.set(graft.meta.TableWriter.StatsSourceKey, v)
    try body finally spark.conf.unset(graft.meta.TableWriter.StatsSourceKey)
  }

  /** The type zoo: every statable type, NaN/-0.0 floats, unicode and
    * >16-code-point strings, a >4 KB string edge, pre-epoch dates,
    * micro-precision timestamps, lists with null elements / empty / null
    * arrays, a binary column, an all-null column. */
  private def zoo = {
    val huge = "zz" + ("x" * 5000)
    val uni = "é中😀-" + ("λ" * 20)
    Seq(
      (1, 10L, 1.5f, -0.0d, "alpha", huge, true,
        java.sql.Date.valueOf("2024-01-05"),
        java.sql.Timestamp.valueOf("2024-01-05 01:02:03.123456"),
        Seq[java.lang.Long](1L, 2L, null), Seq("a", "b"),
        Array[Byte](1, 2), Option.empty[String], 0.5d),
      (2, -3L, Float.NaN, 4.25d, uni, "mid", false,
        java.sql.Date.valueOf("1969-12-31"),
        java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"),
        Seq.empty[java.lang.Long], null,
        Array[Byte](3), Option.empty[String], Double.NaN),
      (3, 7L, -0.0f, 0.0d, "z" * 40, "aa", true,
        null, null, null, Seq("c"),
        null, Option.empty[String], -1.25d))
      .toDF("i", "l", "f", "d", "s", "s2", "b", "dt", "ts", "al", "as2",
        "bin", "s3", "d2")
      .unionByName(
        Seq(Tuple1(4)).toDF("i")
          .withColumn("l", lit(5L))
          .withColumn("f", lit(null).cast("float"))
          .withColumn("d", lit(null).cast("double"))
          .withColumn("s", lit(null).cast("string"))
          .withColumn("s2", lit(null).cast("string"))
          .withColumn("b", lit(null).cast("boolean"))
          .withColumn("dt", lit(null).cast("date"))
          .withColumn("ts", lit(null).cast("timestamp"))
          .withColumn("al", lit(null).cast("array<long>"))
          .withColumn("as2", lit(null).cast("array<string>"))
          .withColumn("bin", lit(null).cast("binary"))
          .withColumn("s3", lit(null).cast("string"))
          .withColumn("d2", lit(1.0d)))
  }

  test("staged commits: footer-derived entries equal the agg's verbatim " +
      "across the type zoo (NaN and >4KB-string columns ride the fallback)") {
    val df = zoo
    val eF = new Engine(spark, wh()); val eA = new Engine(spark, wh())
    withSource("footer") { eF.createTable("z.t", df.schema); eF.append("z.t", df); () }
    withSource("agg") { eA.createTable("z.t", df.schema); eA.append("z.t", df); () }
    val (got, want) = (comparable(eF.load("z.t")), comparable(eA.load("z.t")))
    assert(got.nonEmpty && got == want)
  }

  test("adoption: footer-derived entries equal the agg's verbatim, and " +
      "the footer path spends strictly fewer Spark jobs (no stats read)") {
    val src = Files.createTempDirectory("graft-fstats-src").toString
    zoo.coalesce(2).write.mode("overwrite").parquet(src)
    val jobCounts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    def counted[A](label: String)(body: => A): A = {
      val (r, jobs) = graft.obs.JobCensus.during(spark)(body)
      jobCounts.put(label, jobs.size); r
    }
    val eF = new Engine(spark, wh()); val eA = new Engine(spark, wh())
    withSource("footer") { counted("footer") { eF.registerParquet("z.a", src) } }
    withSource("agg") { counted("agg") { eA.registerParquet("z.a", src) } }
    val (got, want) = (comparable(eF.load("z.a")), comparable(eA.load("z.a")))
    assert(got.size == 2 && got == want)
    // footer mode still pays the per-column fallback for the NaN float,
    // NaN double and >4KB string columns, but not the full-width agg —
    // and a CLEAN drop (next assert) pays no stats job at all
    assert(jobCounts.get("footer") <= jobCounts.get("agg"),
      s"footer-mode adoption ran ${jobCounts.get("footer")} jobs vs " +
        s"agg's ${jobCounts.get("agg")}")

    val cleanSrc = Files.createTempDirectory("graft-fstats-clean").toString
    (1L to 100L).map(i => (i, s"v$i", i * 2.0)).toDF("id", "name", "score")
      .coalesce(2).write.mode("overwrite").parquet(cleanSrc)
    val eC = new Engine(spark, wh())
    counted("clean-footer") { eC.registerParquet("z.c", cleanSrc) }
    val eCA = new Engine(spark, wh())
    withSource("agg") { counted("clean-agg") { eCA.registerParquet("z.c", cleanSrc) } }
    assert(comparable(eC.load("z.c")) == comparable(eCA.load("z.c")))
    assert(jobCounts.get("clean-footer") < jobCounts.get("clean-agg"),
      s"a clean drop must skip the stats read entirely " +
        s"(footer=${jobCounts.get("clean-footer")}, agg=${jobCounts.get("clean-agg")})")
  }

  test("clean unpartitioned staged commits skip the stats job entirely " +
      "and still stamp agg-identical entries") {
    val df = (1L to 200L).map(i => (i, s"name-$i", i * 0.5, Seq(i, i + 1)))
      .toDF("id", "name", "score", "tags")
    val eF = new Engine(spark, wh()); val eA = new Engine(spark, wh())
    val jF = jobsDuring {
      withSource("footer") { eF.createTable("z.u", df.schema); eF.append("z.u", df) } }
    val jA = jobsDuring {
      withSource("agg") { eA.createTable("z.u", df.schema); eA.append("z.u", df) } }
    assert(comparable(eF.load("z.u")) == comparable(eA.load("z.u")))
    // footer mode: the staging write is the ONLY job; agg mode adds the
    // stats aggregation
    assert(jF < jA, s"footer-mode append ran $jF jobs vs agg's $jA")
  }

  test("clean PARTITIONED staged commits skip the read-back job and stamp " +
      "the same canonical partition values the directory read-back would") {
    // partition values chosen to exercise the inference-as-canonical-
    // rendering trap: "0123" (string source) reads back as int 123 and
    // must be stored "123"; a null lands in __HIVE_DEFAULT_PARTITION__
    // and must be stored as the null sentinel; "-7" stays numeric;
    // "abc x" needs unescaping; "2024-01-05" infers as a DATE and must
    // render back identically
    val df = Seq(
      (1L, "0123", 1.0), (2L, "0123", 2.0), (3L, "abc x", 3.0),
      (4L, null: String, 4.0), (5L, "-7", 5.0))
      .toDF("id", "k", "score")
    val dfDate = Seq((1L, "2024-01-05", 1.0), (2L, "2024-01-07", 2.0))
      .toDF("id", "k", "score")
    def commit(e: Engine, d: org.apache.spark.sql.DataFrame): Unit = {
      e.createTable("z.p", d.schema, partitionDecls = Seq("k"))
      e.append("z.p", d); ()
    }
    val eF = new Engine(spark, wh()); val eA = new Engine(spark, wh())
    val jF = jobsDuring { withSource("footer") { commit(eF, df) } }
    val jA = jobsDuring { withSource("agg") { commit(eA, df) } }
    val (got, want) = (comparable(eF.load("z.p")), comparable(eA.load("z.p")))
    assert(got.nonEmpty && got == want)
    // inference is GLOBAL per column: "abc x" forces k to string, so the
    // raw "0123" spelling survives on BOTH paths
    assert(got.exists(_._3.values.toSeq.contains("0123")),
      s"under a string-typed column the raw spelling survives, got ${got.map(_._3)}")
    assert(jF < jA,
      s"footer-mode partitioned append must skip the read-back job ($jF vs $jA)")
    // the canonicalization trap fires when EVERY dir value infers numeric:
    // the column resolves to int and "0123" reads back (and must be
    // stored) as "123" — on both paths
    val dfNum = Seq((1L, "0123", 1.0), (2L, "-7", 2.0)).toDF("id", "k", "score")
    val eFn = new Engine(spark, wh()); val eAn = new Engine(spark, wh())
    withSource("footer") { commit(eFn, dfNum) }
    withSource("agg") { commit(eAn, dfNum) }
    val gotN = comparable(eFn.load("z.p"))
    assert(gotN == comparable(eAn.load("z.p")))
    assert(gotN.exists(_._3.values.toSeq.contains("123")),
      s"an all-numeric dir column must canonicalize 0123 to 123, got ${gotN.map(_._3)}")
    // date-typed inference renders through Cast identically on both paths
    val eFd = new Engine(spark, wh()); val eAd = new Engine(spark, wh())
    withSource("footer") { commit(eFd, dfDate) }
    withSource("agg") { commit(eAd, dfDate) }
    assert(comparable(eFd.load("z.p")) == comparable(eAd.load("z.p")))
    // the BUCKETED ledger shape (ComponentIndex) — int staging values
    val eFb = new Engine(spark, wh()); val eAb = new Engine(spark, wh())
    def commitB(e: Engine): Unit = {
      e.createTable("z.b", df.schema, partitionDecls = Seq("bucket[4](id)"))
      e.append("z.b", df); ()
    }
    withSource("footer") { commitB(eFb) }
    withSource("agg") { commitB(eAb) }
    assert(comparable(eFb.load("z.b")) == comparable(eAb.load("z.b")))
  }

  test("pre-widen adoption (int32 under long, float under double): footer " +
      "bounds widen to the declared type and equal the agg's") {
    val src = Files.createTempDirectory("graft-fstats-widen").toString
    Seq((1, 1.5f), (2, -2.5f), (3, 0.25f)).toDF("id", "score")
      .coalesce(1).write.mode("overwrite").parquet(src)
    def adopt(e: Engine): Unit = {
      // plain (id-less) vendor files: the table must not demand footer ids
      e.createTable("z.w", StructType(Seq(
        StructField("id", LongType), StructField("score", DoubleType))),
        properties = Map(graft.meta.FieldIds.PropKey -> "false"))
      e.adoptFiles("z.w", src); ()
    }
    val eF = new Engine(spark, wh()); val eA = new Engine(spark, wh())
    withSource("footer") { adopt(eF) }
    withSource("agg") { adopt(eA) }
    val (got, want) = (comparable(eF.load("z.w")), comparable(eA.load("z.w")))
    assert(got.nonEmpty && got == want)
    // and the widened bounds are 8-byte (declared width), not 4
    val e = eF.load("z.w").files().head
    assert(e.lowerBounds.values.forall(_.length == 8))
  }

  test("multi-row-group files: a NaN confined to ONE row group must not " +
      "let the surviving groups' merged bounds pass as authoritative") {
    val src = Files.createTempDirectory("graft-fstats-rg").toString
    // tiny block size → several row groups; the NaN (and the column's
    // true max, 9999.0) hide in the LAST group — a merge that silently
    // skips the NaN-suppressed chunk would stamp the earlier groups'
    // max as the file's
    val df = spark.range(0, 30000).select(
      col("id"),
      when(col("id") === 29999L, lit(Double.NaN))
        .when(col("id") === 29998L, lit(9999.0d))
        .otherwise(col("id").cast("double") / 7.0).as("score"),
      concat(lit("pad-"), col("id")).as("pad"))
    df.coalesce(1).write.option("parquet.block.size", "16384")
      .mode("overwrite").parquet(src)
    // precondition: several row groups, and the NaN dropped min/max in
    // SOME but not all of the score chunks
    locally {
      import scala.jdk.CollectionConverters._
      val conf = new org.apache.hadoop.conf.Configuration()
      val f = Files.list(java.nio.file.Paths.get(src)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.toString), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in,
        org.apache.parquet.HadoopReadOptions.builder(conf, in.getPath).build())
      try {
        val scoreChunks = r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == "score")
        assert(scoreChunks.size > 1, s"fixture needs several row groups, " +
          s"got ${scoreChunks.size}")
        val withMM = scoreChunks.count(_.getStatistics.hasNonNullValue)
        assert(withMM > 0 && withMM < scoreChunks.size,
          s"fixture needs a MIX of valued and NaN-suppressed chunks " +
            s"(got $withMM/${scoreChunks.size} valued)")
      } finally r.close()
    }
    val eF = new Engine(spark, wh()); val eA = new Engine(spark, wh())
    withSource("footer") { eF.registerParquet("z.rg", src) }
    withSource("agg") { eA.registerParquet("z.rg", src) }
    // byte-equal entries: the footer path must FALL BACK for score (the
    // agg stamps hi = NaN) instead of trusting the partial merge
    assert(comparable(eF.load("z.rg")) == comparable(eA.load("z.rg")))
    // and the probe that would be wrong under a partial merge stays exact
    assert(eF.readTableWhere("z.rg", "score", Some(5000.0), None).count() ==
      spark.read.parquet(src).filter(col("score") >= 5000.0).count())
  }

  test("the stats-source conf refuses unknown values naming the key") {
    val e = new Engine(spark, wh())
    e.createTable("z.bad", StructType(Seq(StructField("x", LongType))))
    val ex = intercept[IllegalArgumentException] {
      withSource("footers") { e.append("z.bad", Seq(1L).toDF("x")) }
    }
    assert(ex.getMessage.contains(graft.meta.TableWriter.StatsSourceKey))
  }
}
