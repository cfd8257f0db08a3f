package graft.tools

import java.nio.file.Files

import graft.Sessions
import graft.api.Engine
import graft.fixtures.FixtureWriter

/** Demo/driver for the metadata engine: seeds the deterministic demo
  * warehouse (ref `demo.py`) into a temp dir (or $1) and runs every CLI
  * verb through the [[Engine]] facade. Usage: runMain graft.tools.EngineDemo
  * [warehouseDir]
  */
object EngineDemo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("8")

    val wh = if (args.nonEmpty) args(0)
      else Files.createTempDirectory("graft-demo-wh").toString
    FixtureWriter.writeDemo(spark, wh)
    val engine = new Engine(spark, wh)

    println("== list-tables ==");        engine.listTables().show(false)
    println("== summary sales.orders =="); engine.summary("sales.orders").show(false)
    println("== recent ops ==");          engine.recentOps("sales.orders").show(false)
    println("== snapshots ==");           engine.snapshots("sales.orders").show(false)
    println("== partitions ==");          engine.partitions("sales.orders").show(false)

    val h = engine.health("sales.orders")
    println("== health: file stats ==");      h.fileStats.show(false)
    println("== health: manifest census =="); h.manifestCensus.show(false)
    println("== health: partition skew ==");  h.partitionStats.show(false)
    println("== health: null rates ==");      h.nullRates.show(false)
    println("== health: column share ==");    h.columnShare.show(false)
    println("== health: column bounds ==");   h.columnBounds.show(false)
    println("== health: overlap ==");         h.overlap.show(false)

    val snaps = engine.load("sales.orders").metadata.snapshots.map(_.snapshotId)
    val d = engine.diff("sales.orders", snaps(2), snaps.last)
    println(s"== diff ${snaps(2)} -> ${snaps.last} (op=${d.operation}) ==")
    d.totals.show(false); d.added.show(5, truncate = false); d.deleted.show(5, truncate = false)

    println("== metadata tree (per-manifest shares) ==")
    engine.tree("sales.orders").show(false)

    println("== schema diff customers v0 -> v1 ==")
    engine.schemaDiff("sales.customers", 0, 1).show(false)
    println("== namespace overview ==");  engine.namespaceOverview().show(false)
    println("== warehouse overview ==");  engine.warehouseOverview().show(false)

    println("== format-version census (mixed v1/v2 warehouse) ==")
    engine.formatVersionCensus().show(false)
    println("== rendered schema tree (v1 table, nested types) ==")
    println(engine.renderSchema("legacy.inventory"))
    println("== rendered metadata tree ==")
    println(engine.renderTree("analytics.events"))

    val p1 = engine.watchPoll("analytics.events", Set.empty)
    val p2 = engine.watchPoll("analytics.events", p1.seenIds - p1.seenIds.max)
    println("== watch: fresh snapshot after dropping newest from seen ==")
    p2.newSnapshots.show(false)

    spark.stop()
  }
}
