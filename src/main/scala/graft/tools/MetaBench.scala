package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.Sessions
import graft.fixtures.FixtureWriter
import graft.meta.IcebergTable
import graft.ops.{MetaDiff, MetaHealth}
import graft.rel.MetaRelations

/** BASELINE-comparable metadata benchmark: the reference's published
  * scenario (BASELINE.md — 5,000 data files / 50,000 rows, tasks =
  * `summary` ~1.5 s, `health` ~1.5 s, `files` ~2.1 s on a local machine;
  * table shape from `scripts/generate_monster_table.py`).
  *
  * Generates the monster metadata tree once (cached in /tmp), then times
  * the same three tasks through this engine. Prints one JSON line.
  * Usage: runMain graft.tools.MetaBench [tableDir]
  */
object MetaBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      // Metadata-scale frames are small; fewer shuffle partitions cut
      // task overhead. AQE is OFF: its per-stage re-planning is pure
      // overhead on KB-scale frames.
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
    Sessions.required.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = if (args.nonEmpty) args(0) else "/tmp/graft-monster"
    if (!Files.exists(Paths.get(s"$dir/metadata/v1.metadata.json")))
      FixtureWriter.writeMonster(dir) // 5 commits x 1000 files, 10 rows/file

    spark.range(1000).count() // session warm-up, untimed

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // summary: load latest snapshot + schema + current-state totals
    val (_, tSummary) = time {
      val t = IcebergTable.load(dir)
      MetaRelations.files(spark, t)
        .agg(count(lit(1)), sum(col("record_count")), sum(col("file_size_in_bytes"))).collect()
    }

    // health: the seven sections from one fold over the live entries
    def runHealth(): Unit = {
      val h = MetaHealth.report(spark, IcebergTable.load(dir))
      Seq(h.fileStats, h.manifestCensus, h.partitionStats, h.nullRates,
        h.columnShare, h.columnBounds, h.overlap).foreach(_.collect())
    }
    val (_, tHealth) = time(runHealth())      // cold: first run, JIT included
    val (_, tHealthWarm) = time(runHealth())  // steady state

    // files: list all file paths + stats
    val (nFiles, tFiles) = time {
      val t = IcebergTable.load(dir)
      MetaRelations.files(spark, t)
        .select("file_path", "record_count", "file_size_in_bytes", "partition")
        .collect().length
    }

    // diff: last two snapshots (extra vs reference, for the record)
    val (_, tDiff) = time {
      val t = IcebergTable.load(dir)
      val snaps = t.metadata.snapshots.map(_.snapshotId)
      val d = MetaDiff.diff(spark, t, snaps(snaps.size - 2), snaps.last)
      d.totals.collect()
    }

    val total = tSummary + tHealth + tFiles + tDiff
    println(
      f"""{"metric":"meta_total","value":$total%.3f,"unit":"sec","queries":{"summary":$tSummary%.3f,"health":$tHealth%.3f,"health_warm":$tHealthWarm%.3f,"files":$tFiles%.3f,"diff":$tDiff%.3f},"n_files":$nFiles,"baseline":{"summary":1.5,"health":1.5,"files":2.1}}""")
    spark.stop()
  }
}
