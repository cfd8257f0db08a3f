package graft.tools

import java.nio.file.{Files, Paths}

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
    val cpus = Sessions.cpus()
    // Metadata-scale frames are small; fewer shuffle partitions cut task
    // overhead. AQE is OFF: its per-stage re-planning is pure overhead on
    // KB-scale frames.
    val spark = Sessions.create(s"local[$cpus]", "4", aqe = false)

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
    val (_, tSummary) =
      time(MetaRelations.summary(spark, IcebergTable.load(dir), "monster").collect())

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
