package graft.tools

import java.io.{InputStream, PrintStream}

import org.apache.spark.sql.DataFrame

import graft.Sessions
import graft.api.Engine

/** Interactive terminal UI mirroring the reference TUI's shape (ref
  * `tui/app.py`: sidebar table browser + tabbed detail panes with the
  * same key bindings — `q` quit, `r` reload, `1`-`7` for
  * Summary/Snapshots/Schema/Files/Manifests/Health/Tree, `j`/`k`/arrows
  * + Enter in the browser, and the reference's modal screens: `d`
  * snapshot diff, `s` snapshot detail, `?` help — rendered as overlay
  * frames the next key dismisses). Plain ANSI — no curses dependency: each
  * keypress re-renders the full frame (alternate screen buffer, cursor
  * home), which is exactly how the reference's framework repaints too.
  *
  * Everything below the event loop is PURE: `renderFrame` maps (engine
  * state, selection, active tab) to a string frame, and the loop reads
  * keys from an injectable `InputStream` and writes frames to an
  * injectable `PrintStream` — so specs drive scripted sessions and
  * assert on captured frames without a terminal. Presentation only; all
  * analytics come from the [[Engine]] verbs.
  *
  * Usage: `runMain graft.tools.Tui <warehouseDir>` (a real terminal
  * should be in raw/cbreak mode: `stty -icanon -echo`; the main below
  * attempts that and restores on exit).
  */
object Tui {

  val Tabs: Vector[String] = Vector(
    "Summary", "Snapshots", "Schema", "Files", "Manifests", "Health", "Tree")

  // ---- pure text-layout helpers ----

  private def clip(s: String, w: Int): String =
    if (s.length <= w) s else s.take(math.max(0, w - 1)) + "…"

  /** Box with a title row, fixed outer width `w`. */
  def box(title: String, lines: Seq[String], w: Int): Seq[String] = {
    val inner = w - 2
    val top = "┌" + clip(s"─ $title ", inner).padTo(inner, '─') + "┐"
    val body = lines.map(l => "│" + clip(l, inner).padTo(inner, ' ') + "│")
    val bottom = "└" + "─" * inner + "┘"
    top +: body :+ bottom
  }

  /** Two column blocks side by side, padded to equal height. */
  def sideBySide(left: Seq[String], right: Seq[String]): Seq[String] = {
    val h = math.max(left.size, right.size)
    val lw = left.map(_.length).maxOption.getOrElse(0)
    val l = left.padTo(h, "").map(_.padTo(lw, ' '))
    val r = right.padTo(h, "")
    l.zip(r).map { case (a, b) => a + " " + b }
  }

  /** Column-aligned text table of a DataFrame's first `maxRows` rows. */
  def renderDf(df: DataFrame, maxRows: Int = 12): Seq[String] = {
    val cols = df.columns.toSeq
    val rows = df.limit(maxRows).collect().toSeq
      .map(_.toSeq.map(v => if (v == null) "∅" else clip(v.toString, 40)))
    val widths = cols.indices.map { i =>
      (cols(i).length +: rows.map(_(i).length)).max
    }
    def line(vs: Seq[String]) =
      vs.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString("  ")
    if (rows.isEmpty) Seq(line(cols), "(no rows)")
    else line(cols) +: rows.map(line)
  }

  // ---- screen state + frame rendering ----

  /** Sidebar tree node — the reference's `TableBrowser` hierarchy
    * (ref `tui/widgets.py:30-75`): catalog root > namespace > table.
    * Selecting the root or a namespace shows the warehouse / namespace
    * OVERVIEW pane (ref `app.py` CatalogRootSelected /
    * NamespaceSelected); selecting a table shows the tabbed detail. */
  sealed trait Node { def key: String; def sidebarLine: String }
  case object RootNode extends Node {
    val key = ""; val sidebarLine = "Catalog"
  }
  final case class NsNode(ns: String) extends Node {
    def key: String = s"ns:$ns"; def sidebarLine: String = s" $ns"
  }
  final case class TableNode(ref: String) extends Node {
    def key: String = ref
    def sidebarLine: String = "   " + ref.split("\\.", 2).last
  }

  // width default fits the full 7-label tab bar (~90 chars) in the
  // detail box beside the 28-char sidebar. `overlay` = an open modal
  // (title, lines) covering the body, like the reference's pushed
  // ModalScreens (HelpScreen / DiffScreen / SnapshotDetailScreen,
  // ref `tui/screens.py`); the next key closes it.
  final case class State(
      nodes: Vector[Node], selected: Int, tab: Int, width: Int = 128,
      overlay: Option[(String, Seq[String])] = None) {
    /** Table refs in sidebar order (spec + navigation convenience). */
    def refs: Vector[String] = nodes.collect { case TableNode(r) => r }
    def selectedNode: Option[Node] = nodes.lift(selected)
    /** The selected TABLE ref, if a table node is selected. */
    def selectedTable: Option[String] = selectedNode.collect {
      case TableNode(r) => r
    }
  }

  def initial(engine: Engine): State = {
    val byNs = engine.catalog.listTables().toVector
      .groupBy(_._1).toVector.sortBy(_._1)
    val nodes: Vector[Node] = RootNode +: byNs.flatMap { case (ns, ts) =>
      NsNode(ns) +: ts.sortBy(_._2).map { case (n, t) => TableNode(s"$n.$t") }
    }
    State(nodes, selected = 0, tab = 0)
  }

  /** Per-(ref, tab) pane memo — the analog of the reference's per-widget
    * worker caching (ref `tui/widgets.py:112-119`): revisiting a tab
    * repaints from the cached lines instead of re-running the engine
    * verb. Owned by the event loop; `r` (reload) clears it. Failed
    * computations are NOT cached (the next visit retries). The compute
    * counter is the spec's observable. */
  final class PaneCache {
    private val cache =
      scala.collection.mutable.HashMap.empty[(String, Int), Seq[String]]
    private var computes = 0
    def computeCount: Int = computes
    def get(ref: String, tab: Int)(compute: => Seq[String]): Seq[String] =
      cache.getOrElseUpdate((ref, tab), { computes += 1; compute })
    def clear(): Unit = cache.clear()
  }

  /** One full frame: title bar, sidebar + active tab pane, key footer.
    * Pure given the cache contents; pass a shared `cache` to memoize
    * pane renders across frames. */
  def renderFrame(engine: Engine, st: State,
      cache: PaneCache = new PaneCache): String = {
    st.overlay.foreach { case (title, lines) =>
      // modal covers the app (reference ModalScreen): title bar + the
      // overlay box + a close hint, nothing else
      return (s"iceberg-meta — Iceberg Metadata Explorer" +:
        box(title, lines, st.width) :+ "any key: close")
        .mkString("\n")
    }
    val sidebar = box("Catalog",
      st.nodes.zipWithIndex.map { case (n, i) =>
        (if (i == st.selected) "▶ " else "  ") + n.sidebarLine
      }, 28)
    val tabBar = Tabs.zipWithIndex.map { case (t, i) =>
      if (i == st.tab) s"[${i + 1}:$t]" else s" ${i + 1}:$t "
    }.mkString(" ")
    // overview panes (root/namespace) carry no tab bar, mirroring the
    // reference's _show_detail_view("overview") swap
    val (title, lines): (String, Seq[String]) = st.selectedNode match {
      case None => ("detail", Seq("(empty warehouse)"))
      case Some(node) =>
        val pane =
          try cache.get(node.key,
            if (node.isInstanceOf[TableNode]) st.tab else -1)(
            paneLines(engine, node, st.tab))
          catch { case e: Exception => Seq(s"error: ${e.getMessage}") }
        node match {
          case RootNode => ("Warehouse", pane)
          case NsNode(ns) => (s"Namespace: $ns", pane)
          case TableNode(r) => (r, tabBar +: "" +: pane)
        }
    }
    val detail = box(title, lines, st.width - 30)
    val body = sideBySide(sidebar, detail)
    val footer =
      "j/k:move  Enter:open  1-7:tab  d:diff  s:detail  ?:help  r:reload  q:quit"
    (s"iceberg-meta — Iceberg Metadata Explorer" +: body :+ footer)
      .mkString("\n")
  }

  /** The active pane's content — each one is the corresponding Engine
    * verb (the same frames the CLI/JSON sinks serve). Root and
    * namespace nodes render the warehouse / namespace overview
    * (ref `widgets.py` show_warehouse / show_namespace). */
  private def paneLines(engine: Engine, node: Node, tab: Int): Seq[String] =
    node match {
      case RootNode =>
        box("warehouse rollup", renderDf(engine.warehouseOverview(), 10), 72) ++
          box("format versions", renderDf(engine.formatVersionCensus(), 4), 72)
      case NsNode(ns) =>
        renderDf(engine.namespaceOverview()
          .filter(org.apache.spark.sql.functions.col("namespace") === ns), 10)
      case TableNode(ref) => tablePane(engine, ref, tab)
    }

  private def tablePane(engine: Engine, ref: String, tab: Int): Seq[String] =
    Tabs(tab) match {
      case "Summary"   => renderDf(engine.summary(ref))
      case "Snapshots" => renderDf(engine.recentOps(ref))
      case "Schema"    => engine.renderSchema(ref).linesIterator.toSeq
      case "Files"     => renderDf(engine.files(ref)
        .select("file_path", "record_count", "file_size_in_bytes"))
      case "Manifests" => renderDf(engine.manifests(ref)
        .select("manifest_path", "added_files_count", "existing_files_count"))
      case "Health"    =>
        val h = engine.health(ref)
        box("file stats", renderDf(h.fileStats, 4), 64) ++
          box("partition skew", renderDf(h.partitionStats, 6), 64) ++
          box("null rates", renderDf(h.nullRates, 6), 64)
      case "Tree"      => engine.renderTree(ref).linesIterator.toSeq.take(30)
      case other       => Seq(s"unknown tab $other")
    }

  // ---- modal overlays (the reference's pushed screens) ----

  private val helpLines: Seq[String] = Seq(
    "q            quit",
    "r            reload (drops cached panes)",
    "j/k, arrows  move selection (catalog root / namespace / table)",
    "Enter        open selection (root=warehouse, ns=namespace overview)",
    "1-7          Summary/Snapshots/Schema/Files/Manifests/Health/Tree",
    "d            diff the two most recent snapshots",
    "s            manifest detail of the most recent snapshot",
    "?            this help")

  /** `d` — diff of the two most recent snapshots of `ref` (the
    * reference's no-cursor default in `action_diff`), lower id first
    * like the reference's swap. Warning lines stand in for `notify()`. */
  private def diffOverlay(engine: Engine, ref: String): (String, Seq[String]) = {
    val snaps = engine.load(ref).metadata.snapshots.sortBy(-_.timestampMs)
    if (snaps.size < 2) ("Diff", Seq("Need at least 2 snapshots to diff"))
    else {
      val ids = snaps.take(2).map(_.snapshotId).sorted
      val d = engine.diff(ref, ids(0), ids(1))
      (s"Diff ${ids(0)} -> ${ids(1)} (${d.operation})",
        box("totals", renderDf(d.totals, 4), 72) ++
          box("added", renderDf(
            d.added.select("file_path", "record_count"), 6), 72) ++
          box("deleted", renderDf(
            d.deleted.select("file_path", "record_count"), 6), 72))
    }
  }

  /** `s` — manifest deep dive of the most recent snapshot (the
    * reference's no-cursor default in `action_snapshot_detail`). */
  private def detailOverlay(engine: Engine, ref: String): (String, Seq[String]) = {
    val snaps = engine.load(ref).metadata.snapshots.sortBy(-_.timestampMs)
    snaps.headOption match {
      case None => ("Snapshot detail", Seq("No snapshots available"))
      case Some(s) =>
        (s"Snapshot ${s.snapshotId} (${s.operation})",
          renderDf(engine.snapshotDetail(ref, s.snapshotId), 12))
    }
  }

  /** Build the overlay for a modal key, catching engine errors into the
    * overlay body (the frame must render whatever happens). */
  private def openOverlay(engine: Engine, st: State, key: Int): State = {
    val ov: (String, Seq[String]) = key match {
      case '?' => ("Help", helpLines)
      case _ =>
        st.selectedTable match {
          case None => ("Warning", Seq("Select a table first"))
          case Some(r) =>
            try if (key == 'd') diffOverlay(engine, r) else detailOverlay(engine, r)
            catch { case e: Exception =>
              (if (key == 'd') "Diff" else "Snapshot detail",
                Seq(s"error: ${e.getMessage}")) }
        }
    }
    st.copy(overlay = Some(ov))
  }

  // ---- event loop (injectable IO) ----

  /** Read one key; arrow keys (ESC [ A/B) normalize to 'k'/'j'. Returns
    * -1 on EOF. */
  private def readKey(in: InputStream): Int = in.read() match {
    case 0x1b =>
      if (in.read() == '[') in.read() match {
        case 'A' => 'k'
        case 'B' => 'j'
        case _ => 0
      } else 0
    case c => c
  }

  /** Run the UI until 'q' or EOF. Each accepted key repaints the frame
    * (clear + home on ANSI terminals; specs just capture the frames).
    * Pane renders memoize in `cache` — only `r` (reload) re-runs engine
    * verbs for already-visited (table, tab) pairs. */
  def loop(engine: Engine, in: InputStream, out: PrintStream,
      ansi: Boolean = true, cache: PaneCache = new PaneCache): State = {
    var st = initial(engine)
    def paint(): Unit = {
      if (ansi) out.print("[2J[H")
      out.println(renderFrame(engine, st, cache))
      out.flush()
    }
    paint()
    var done = false
    while (!done) {
      val key = readKey(in)
      if (st.overlay.isDefined && key != -1) {
        // an open modal swallows the next key and closes (the
        // reference's modals dismiss back to the app the same way)
        st = st.copy(overlay = None); paint()
      } else key match {
        case -1 | 'q' => done = true
        case 'j' if st.nodes.nonEmpty =>
          st = st.copy(selected = (st.selected + 1) % st.nodes.size); paint()
        case 'k' if st.nodes.nonEmpty =>
          st = st.copy(selected =
            (st.selected - 1 + st.nodes.size) % st.nodes.size); paint()
        case c if c >= '1' && c <= '7' =>
          st = st.copy(tab = c - '1'); paint()
        case '\r' | '\n' => paint() // open = repaint detail of selection
        case 'd' | 's' | '?' =>
          st = openOverlay(engine, st, key); paint()
        case 'r' =>
          cache.clear() // reload = drop every memoized pane
          val fresh = initial(engine)
          st = fresh.copy(
            selected = st.selected.min(math.max(0, fresh.nodes.size - 1)),
            tab = st.tab); paint()
        case _ => () // ignore unbound keys
      }
    }
    st
  }

  /** Drive the UI on the process terminal over an already-resolved
    * engine — the `tui` CLI verb's entry (ref `cli.py` `tui` command),
    * so the TUI runs against ANY catalog backend the config path
    * resolves. Best-effort cbreak mode, restored on exit (no-op
    * without a tty); EOF on stdin exits cleanly. */
  def runInteractive(engine: Engine): Unit = {
    def stty(mode: String): Unit =
      try { new ProcessBuilder("sh", "-c", s"stty $mode < /dev/tty")
        .inheritIO().start().waitFor(); () }
      catch { case _: Exception => () }
    stty("-icanon -echo")
    try { loop(engine, System.in, System.out); () }
    finally stty("icanon echo")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Tui <warehouseDir>")
    val spark = Sessions.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    try runInteractive(new Engine(spark, args(0)))
    finally spark.stop()
  }
}
