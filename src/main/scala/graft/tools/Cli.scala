package graft.tools

import org.apache.spark.sql.DataFrame

import graft.Sessions
import graft.api.{Engine, Errors}

/** Command-line front-end mirroring the reference CLI verbs (ref `cli.py`):
  *
  * {{{
  * runMain graft.tools.Cli <warehouse> <verb> [args...] [--json DIR | --csv DIR]
  *                                            [--catalog NAME] [--config PATH]
  *
  * <warehouse>: a warehouse DIRECTORY (filesystem catalog), a catalog
  * URI routed through the config layer (`http(s)://` REST, `jdbc:` sql,
  * `thrift://` hive), or `-` to resolve everything from the config file
  * (`--catalog` names the entry; `--config` overrides the default
  * ~/.iceberg-meta.json — the same file/env/dotenv chain the library
  * resolves, so glue credentials etc. flow end-to-end).
  *
  * verbs: list-tables | summary T | health T | files T [snapshotId]
  *      | snapshots T | manifests T | partitions T | schema T
  *      | schema-diff T oldId newId | diff T s1 s2 | recent T
  *      | namespace | warehouse | tree T [snapshotId] | test-connection
  *      | watch T rounds | read T [snapshotId] | changes T s1 s2
  *      | delete-files T [snapshotId] | append-parquet T parquetDir
  *      | compact T | expire T olderThanMs [retainLast]
  *      | rewrite-manifests T [targetEntries] | analyze T [k]
  *      | row-changes T s1 s2 | set-sort-order T col[ desc]...
  *      | rollback T snapshotId | orphans T [--remove]
  *      | bpe docsParquet [nMerges] | winnow-removal docsParquet [minDocs]
  *      | dedup-gate T shardParquet [--admit [--intra]]
  *      | comp-fold T edgesParquet [--bootstrap]
  *      | comp-retire T G ids [--docs docsParquet]
  *      | forget T ids [--gate G] [--ledger L] [--ann A] [--docs P] [--sim thr] [--advise]
  * }}}
  * where T = `<namespace>.<table>`. Errors map through the friendly
  * taxonomy (ref `cli.py:54-179`) and exit 1.
  */
object Cli {

  def main(args: Array[String]): Unit = sys.exit(run(args))

  /** `--flag value` anywhere in the argument list → (value, rest).
    * A following token that is itself a flag (`--config --json`) is a
    * forgotten value, not a value — surface it as a usage error instead
    * of silently swallowing the next flag. */
  private def extractFlag(
      args: Array[String], flag: String): (Option[String], Array[String]) = {
    val i = args.indexOf(flag)
    if (i >= 0 && i + 1 < args.length && !args(i + 1).startsWith("--"))
      (Some(args(i + 1)), args.patch(i, Nil, 2))
    else if (i >= 0) throw new UsageException(s"$flag requires a value")
    else (None, args)
  }

  /** Bad invocation shape — caught in [[run]] → usage + exit 2. */
  private final class UsageException(msg: String) extends RuntimeException(msg)

  private def isCatalogUri(s: String): Boolean =
    s.matches("^(https?|thrift)://.*") || s.startsWith("jdbc:")

  def run(args: Array[String]): Int = {
    // a trailing flag with no value must be a usage error, not a flag
    // token silently consumed as the warehouse or a verb argument
    if (args.nonEmpty && (args.last == "--config" || args.last == "--catalog")) {
      usage(); return 2
    }
    val (cfgPath, catName, args2) =
      try {
        val (c, a1) = extractFlag(args, "--config")
        val (n, a2) = extractFlag(a1, "--catalog")
        (c, n, a2)
      } catch {
        case e: UsageException =>
          System.err.println(s"error: ${e.getMessage}")
          usage(); return 2
      }
    if (args2.length < 2) { usage(); return 2 }
    val (sinkOpt, rest) = args2.span(a => a != "--json" && a != "--csv") match {
      case (head, Array(flag, dir)) => (Some((flag, dir)), head)
      case (head, Array())          => (None, head)
      case _                        => (None, args2)
    }
    val warehouse = rest(0)
    val verb = rest(1)
    val vargs = rest.drop(2)

    // init runs BEFORE any engine/session exists — it CREATES the config
    // the other verbs resolve (usage: `Cli - init [--config PATH]`)
    if (verb == "init")
      return graft.tools.Init.run(
        new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
        System.out,
        cfgPath.map(java.nio.file.Paths.get(_))
          .getOrElse(graft.meta.CatalogConfig.defaultPath))

    val spark = Sessions.create(sys.env.getOrElse("SPARK_MASTER", "local[8]"), "8")
    // a catalog URI, `-`, or an explicit --catalog routes through the
    // FULL config resolution chain (file entry + env + dotenv + uri arg)
    // into Engine.forConfig — the same path library users take; a plain
    // directory stays the filesystem engine
    val engine =
      if (isCatalogUri(warehouse) || warehouse == "-" || catName.isDefined) {
        val path = cfgPath.map(java.nio.file.Paths.get(_))
          .getOrElse(graft.meta.CatalogConfig.defaultPath)
        // no --catalog → the file's default_catalog (written by init),
        // falling back to the anonymous "cli" entry name
        val cfg = graft.meta.CatalogConfig.resolveFromFile(
          catName.orElse(graft.meta.CatalogConfig.defaultCatalogName(path))
            .getOrElse("cli"),
          uriArg = Some(warehouse).filter(isCatalogUri),
          path = path)
        Engine.forConfig(spark, cfg)
      } else new Engine(spark, warehouse)

    def emit(df: DataFrame): Unit = sinkOpt match {
      case Some(("--json", dir)) => engine.toJson(df, dir); println(s"wrote JSON to $dir")
      case Some(("--csv", dir))  => engine.toCsv(df, dir); println(s"wrote CSV to $dir")
      case _                     => df.show(100, truncate = false)
    }

    Errors.friendly {
      verb match {
        case "list-tables" => emit(engine.listTables())
        case "summary"     => emit(engine.summary(vargs(0)))
        case "health" =>
          val h = engine.health(vargs(0))
          println("== file stats ==");      emit(h.fileStats)
          println("== manifest census =="); emit(h.manifestCensus)
          println("== partition skew =="); emit(h.partitionStats)
          println("== null rates ==");      emit(h.nullRates)
          println("== column share ==");    emit(h.columnShare)
          println("== column bounds ==");   emit(h.columnBounds)
          println("== interval overlap =="); emit(h.overlap)
        case "files"       => emit(engine.files(vargs(0), vargs.lift(1).map(_.toLong)))
        case "snapshots"   => emit(engine.snapshots(vargs(0)))
        case "manifests"   => emit(engine.manifests(vargs(0)))
        case "partitions"  => emit(engine.partitions(vargs(0)))
        case "table-info"  => emit(engine.tableInfo(vargs(0)))
        case "snapshot-detail" =>
          emit(engine.snapshotDetail(vargs(0), vargs(1).toLong))
        case "doctor"      => emit(engine.doctor())
        case "demo" =>
          graft.fixtures.FixtureWriter.writeDemo(spark, warehouse)
          println(s"demo warehouse seeded at $warehouse")
        case "entries"     => emit(engine.entries(vargs(0), vargs.lift(1).map(_.toLong)))
        case "all-files"   => emit(engine.allFiles(vargs(0)))
        case "all-manifests" => emit(engine.allManifests(vargs(0)))
        case "schema"      => emit(engine.schemaHistory(vargs(0)))
        case "schema-diff" => emit(engine.schemaDiff(vargs(0), vargs(1).toInt, vargs(2).toInt))
        case "recent"      => emit(engine.recentOps(vargs(0)))
        case "diff" =>
          val d = engine.diff(vargs(0), vargs(1).toLong, vargs(2).toLong)
          println(s"== operation: ${d.operation} ==")
          emit(d.totals); println("== added ==");  emit(d.added)
          println("== deleted =="); emit(d.deleted)
        case "namespace"   => emit(engine.namespaceOverview())
        case "warehouse"   => emit(engine.warehouseOverview())
        case "tree"        => emit(engine.tree(vargs(0), vargs.lift(1).map(_.toLong)))
        // ref catalog.py:222-232 test_connection: prove the warehouse is
        // reachable by counting namespaces/tables
        case "test-connection" =>
          import org.apache.spark.sql.functions.{countDistinct, count, lit}
          emit(engine.listTables().agg(
            countDistinct("namespace").as("namespace_count"),
            count(lit(1)).as("table_count")))
        case "watch" =>
          graft.ops.Watch.watch(spark, engine.tableDir(vargs(0)),
            vargs.lift(1).map(_.toInt).getOrElse(3),
            df => df.show(50, truncate = false))
        // ---- round-5 write/maintenance verbs (engine-native; the
        // reference only recommends these operationally) ----
        case "read" =>
          emit(engine.readTable(vargs(0), vargs.lift(1).map(_.toLong)))
        case "changes" =>
          emit(engine.changes(vargs(0), vargs(1).toLong, vargs(2).toLong))
        case "delete-files" =>
          emit(engine.deleteFiles(vargs(0), vargs.lift(1).map(_.toLong)))
        case "append-parquet" =>
          val r = engine.append(vargs(0), spark.read.parquet(vargs(1)))
          println(s"committed snapshot ${r.snapshotId}: ${r.addedFiles} files, " +
            s"${r.addedRecords} records (metadata v${r.metadataVersion})")
        case "compact" =>
          engine.rewriteSmallFiles(vargs(0)) match {
            case Some(r) => println(s"compacted into snapshot ${r.snapshotId}: " +
              s"${r.addedFiles} files written")
            case None => println("nothing to compact")
          }
        case "compact-incremental" =>
          engine.rewriteSmallFilesIncremental(vargs(0)) match {
            case Some(r) => println(s"compacted into snapshot ${r.snapshotId}: " +
              s"${r.addedFiles} files written (deletes carried)")
            case None => println("nothing to compact")
          }
        case "prune-deletes" =>
          engine.pruneDanglingDeletes(vargs(0)) match {
            case Some(n) => println(s"pruned $n dangling delete files")
            case None => println("no dangling delete files")
          }
        case "expire" =>
          val r = engine.expireSnapshots(vargs(0), vargs(1).toLong,
            vargs.lift(2).map(_.toInt).getOrElse(1))
          println(s"expired ${r.expiredSnapshots.size} snapshots; deleted " +
            s"${r.deletedManifests} manifests, ${r.deletedDataFiles} data files")
        case "rewrite-manifests" =>
          engine.rewriteManifests(vargs(0),
            vargs.lift(1).map(_.toInt).getOrElse(5000)) match {
            case Some(r) => println(s"packed ${r.manifestsBefore} manifests " +
              s"into ${r.manifestsAfter} (${r.entries} entries, metadata v${r.metadataVersion})")
            case None => println("manifests already packed")
          }
        case "rollback" =>
          val v = engine.rollback(vargs(0), vargs(1).toLong)
          println(s"rolled back to snapshot ${vargs(1)} (metadata v$v)")
        case "row-changes" =>
          // row-changes ns.t <from> <to> [net]
          emit(engine.rowChanges(vargs(0), vargs(1).toLong, vargs(2).toLong,
            net = vargs.lift(3).contains("net")))
        case "widen-column" =>
          val v = engine.widenColumn(vargs(0), vargs(1), vargs(2))
          println(s"widened ${vargs(1)} to ${vargs(2)} (schema v$v)")
        case "add-column" =>
          val v = engine.addColumn(vargs(0), vargs(1), vargs(2))
          println(s"added ${vargs(1)} ${vargs(2)} (schema v$v)")
        case "rename-column" =>
          val v = engine.renameColumn(vargs(0), vargs(1), vargs(2))
          println(s"renamed ${vargs(1)} to ${vargs(2)} (schema v$v)")
        case "drop-column" =>
          val v = engine.dropColumn(vargs(0), vargs(1))
          println(s"dropped ${vargs(1)} (schema v$v)")
        case "migrate-field-ids" =>
          engine.migrateToFieldIds(vargs(0)) match {
            case Some(snap) => println(
              s"rewrote ${vargs(0)} with parquet field ids (snapshot $snap); " +
                "renames are now read-safe")
            case None => println(
              s"${vargs(0)} held no data files; stamped the field-id guarantee")
          }
        case "register" =>
          val r = engine.registerParquet(vargs(0), vargs(1))
          println(s"registered ${vargs(1)} as ${vargs(0)}: ${r.addedFiles} " +
            s"files / ${r.addedRecords} rows adopted in place (snapshot " +
            s"${r.snapshotId}); run migrate-field-ids for rename-safe reads")
        case "add-files" =>
          val r = engine.adoptFiles(vargs(0), vargs(1))
          println(s"adopted ${r.addedFiles} files / ${r.addedRecords} rows " +
            s"from ${vargs(1)} into ${vargs(0)} (snapshot ${r.snapshotId})")
        case "set-property" =>
          val v = engine.setProperties(vargs(0), Map(vargs(1) -> vargs(2)))
          println(s"set ${vargs(1)}=${vargs(2)} (metadata v$v)")
        case "unset-property" =>
          val v = engine.setProperties(vargs(0), Map.empty, Set(vargs(1)))
          println(s"unset ${vargs(1)} (metadata v$v)")
        case "analyze" =>
          val r = graft.ops.Stats.analyzeTable(spark, engine.tableDir(vargs(0)),
            vargs.lift(1).map(_.toInt).getOrElse(1024))
          println(s"analyzed ${r.ndv.size} columns at snapshot ${r.snapshotId} " +
            s"(metadata v${r.metadataVersion})")
        case "set-sort-order" =>
          val oid = engine.setSortOrder(vargs(0), vargs.drop(1).toSeq)
          println(s"sort order $oid set on ${vargs(0)}")
        case "orphans" =>
          val o = engine.orphanFiles(vargs(0))
          if (vargs.lift(1).contains("--remove"))
            println(s"removed ${engine.removeOrphans(vargs(0))} orphan files")
          else { o.foreach(println); println(s"${o.size} orphan files") }
        case "create-table" =>
          // create-table ns.t "id:long,name:string" [partitionDecl ...]
          val schema = org.apache.spark.sql.types.StructType(
            vargs(1).split(",").toIndexedSeq.map { s =>
              val Array(n, ty) = s.trim.split(":")
              org.apache.spark.sql.types.StructField(n,
                org.apache.spark.sql.types.DataType.fromDDL(ty))
            })
          engine.createTable(vargs(0), schema, vargs.drop(2).toSeq)
          println(s"created table ${vargs(0)}")
        case "zorder" =>
          // zorder ns.t col[,col...] [bits]
          engine.rewriteClustered(vargs(0), vargs(1).split(",").toSeq,
            vargs.lift(2).map(_.toInt).getOrElse(8)) match {
            case Some(r) => println(s"clustered into snapshot ${r.snapshotId}: " +
              s"${r.addedFiles} files written")
            case None => println("table is empty; nothing to cluster")
          }
        case "delete-where" =>
          // delete-where ns.t <sql-predicate> [--copy-on-write]
          val pred = org.apache.spark.sql.functions.expr(vargs(1))
          val res = if (vargs.lift(2).contains("--copy-on-write"))
            engine.deleteWhereCopyOnWrite(vargs(0), pred)
          else engine.deleteWhere(vargs(0), pred)
          res match {
            case Some(r) => println(s"delete committed as snapshot ${r.snapshotId}")
            case None => println("no rows matched; nothing committed")
          }
        case "update-where" =>
          // update-where ns.t <sql-predicate> col=expr[,col=expr...]
          val assigns = vargs(2).split(",").toIndexedSeq.map { a =>
            val Array(k, v) = a.split("=", 2)
            k.trim -> org.apache.spark.sql.functions.expr(v)
          }.toMap
          engine.updateWhere(vargs(0),
            org.apache.spark.sql.functions.expr(vargs(1)), assigns) match {
            case Some(r) => println(s"update committed as snapshot ${r.snapshotId}")
            case None => println("no rows matched; nothing committed")
          }
        case "bpe" =>
          // bpe <docs.parquet> [nMerges] — learn BPE merges from a corpus
          emit(graft.ops.Bpe.trainMerges(spark.read.parquet(vargs(0)),
            vargs.lift(1).map(_.toInt).getOrElse(6)))
        case "winnow-removal" =>
          // winnow-removal <docs.parquet> [minDocs] — excise duplicated spans
          emit(graft.ops.Dedup.winnowRemoval(spark.read.parquet(vargs(0)),
            minDocs = vargs.lift(1).map(_.toInt).getOrElse(2)))
        case "quality-score" =>
          // quality-score <docs.parquet> [targetLang] — train the batch
          // perceptron on the corpus (target = lang) and score every doc
          emit(graft.ops.Selection.scoreQuality(spark.read.parquet(vargs(0)),
            org.apache.spark.sql.functions.col("lang") ===
              vargs.lift(1).getOrElse("en")))
        case "tui" =>
          // interactive UI over the resolved engine (any catalog backend
          // the config path produced); EOF on stdin exits cleanly
          Tui.runInteractive(engine)
        case "advise" =>
          // advise <ns.t> — which maintenance verbs the table needs now
          emit(engine.advise(vargs(0)))
        case "stage-parquet" =>
          // stage-parquet <ns.t> <data.parquet> <wapId> — write-audit-
          // publish: commit an INVISIBLE staged snapshot for auditing
          val r = engine.appendStaged(vargs(0),
            spark.read.parquet(vargs(1)), vargs(2))
          println(s"staged snapshot ${r.snapshotId} (wap.id ${vargs(2)}): " +
            s"${r.addedFiles} files, ${r.addedRecords} records — " +
            "invisible until `publish`")
        case "publish" =>
          // publish <ns.t> <wapId> — cherry-pick the staged snapshot
          val r = engine.publishWap(vargs(0), vargs(1))
          if (r.fastForward)
            println(s"fast-forwarded to staged snapshot ${r.publishedSnapshotId}")
          else println(s"re-applied snapshot ${r.sourceSnapshotId} " +
            s"as ${r.publishedSnapshotId}")
        case "dedup-gate" =>
          // dedup-gate <ns.index_table> <shard.parquet> [--admit [--intra]]
          // probe (and with --admit, grow) the persistent near-dup index;
          // --intra also collapses the shard's internal dup groups first
          val idx = new graft.ops.NearDupIndex(engine, vargs(0))
          val shard = spark.read.parquet(vargs(1))
          val flags = vargs.drop(2).toSet
          if (flags.contains("--admit")) {
            val kept = idx.admit(shard,
              dedupWithinBatch = flags.contains("--intra"))
            println(s"admitted ${kept.count()} docs; " +
              s"signatures appended to ${vargs(0)}")
          } else emit(idx.check(shard))
        case "comp-fold" =>
          // comp-fold <ns.comps> <edges.parquet> [--bootstrap] —
          // maintain the persisted dup-cluster assignment: --bootstrap
          // creates the table and seeds it with one global
          // connected-components run over the edges; without it the
          // edges fold INCREMENTALLY (only affected components relabel,
          // one merge-on-read upsert) and the delta rows are printed
          val idx = new graft.ops.ComponentIndex(engine, vargs(0))
          val edges = spark.read.parquet(vargs(1))
          if (vargs.drop(2).contains("--bootstrap")) {
            idx.create(); idx.bootstrap(edges)
            println(s"bootstrapped ${vargs(0)}: " +
              s"${idx.assignments.count()} non-trivial memberships")
          } else emit(idx.fold(edges))
        case "comp-retire" =>
          // comp-retire <ns.comps> <ns.nd_index> <id,id,...>
          //             [--docs docs.parquet] — corpus deletion: drop
          // the docs' band signatures from the gate index (ghost-free
          // future probes), then re-cluster exactly the affected ledger
          // components over the residual pairs. Without --docs the
          // residual pairs come from the gate's surviving signatures —
          // VALID ONLY for a corpus ledger (every ledger doc admitted).
          // A GATE-COMPOSED ledger (admitStream components=...) also
          // holds REJECTED docs whose signatures were never appended;
          // for those pass --docs with the raw document store so their
          // provenance edges survive the surgery.
          val comps = new graft.ops.ComponentIndex(engine, vargs(0))
          val gate = new graft.ops.NearDupIndex(engine, vargs(1))
          val ids = vargs(2).split(",").map(_.trim.toLong).toSeq
          // STRICT: a malformed/value-less --docs must error, never
          // silently fall back to the gate provider (wrong residual
          // pairs for a gate-composed ledger — unrecoverable once the
          // commit lands)
          val pairs = vargs.drop(3) match {
            case Array() =>
              (ids: org.apache.spark.sql.DataFrame) => gate.pairsAmong(ids)
            case Array("--docs", p) =>
              graft.ops.Dedup.pairsFromDocs(spark.read.parquet(p)
                .filter(!org.apache.spark.sql.functions.col("doc_id")
                  .isin(ids: _*)),
                gate.numPerm, gate.rowsPerBand)
            case other => throw new IllegalArgumentException(
              s"comp-retire: bad trailing tokens '${other.mkString(" ")}'" +
                " — the only flag is --docs <docs.parquet>")
          }
          gate.retire(ids)
          val out = comps.retire(ids, pairs)
          println(s"retired ${ids.length} docs from ${vargs(1)} and " +
            s"${vargs(0)}; ${out.count()} remaining members re-clustered")
        case "forget" =>
          // forget <ns.corpus|-> <id,...|ids.parquet> [--gate T]
          //        [--ledger T] [--ann T] [--docs docs.parquet]
          //        [--id-col c] [--advise] — right-to-be-forgotten in ONE verb:
          // corpus rows, gate signatures, ledger components (re-
          // clustered), ANN vectors — in the required order. `-` skips
          // the corpus table; --docs selects the docs-based residual
          // pair provider a GATE-COMPOSED ledger needs.
          val s2 = spark
          import s2.implicits._
          // STRICT flag parse: every flag takes a value; a missing
          // value or stray token is an error, never a silent drop (a
          // dropped --docs would silently select the WRONG residual-
          // pair provider — the exact silent provenance degradation
          // Engine.forget's refusal exists to prevent)
          val known = Set("--gate", "--ledger", "--ann", "--docs",
            "--sim", "--id-col")
          // --advise is the one VALUELESS flag: strip it before the
          // pairwise parse (it would otherwise swallow its neighbor)
          val (adviseFlag, valueFlags) =
            vargs.drop(2).partition(_ == "--advise")
          val flagged = valueFlags.grouped(2).map {
            case Array(f, v) if known(f) && !v.startsWith("--") => f -> v
            case other => throw new IllegalArgumentException(
              s"forget: bad flag tokens '${other.mkString(" ")}' — " +
                "flags are --gate T --ledger T --ann A --docs P " +
                "--sim THR --id-col C, each with a value")
          }.toMap
          val arg = vargs(1)
          val ids: DataFrame =
            if (arg.exists(c => c == '/' || c == '.') && !arg.matches("[0-9,]+"))
              spark.read.parquet(arg)
            else scala.util.Try(arg.split(",").map(_.trim.toLong).toSeq)
              .getOrElse(throw new IllegalArgumentException(
                s"forget: '$arg' is neither a comma-separated id list " +
                  "nor a parquet path (prefix a bare directory with ./)"))
              .toDF(flagged.getOrElse("--id-col", "doc_id"))
          val gate = flagged.get("--gate")
            .map(new graft.ops.NearDupIndex(engine, _))
          val ann = flagged.get("--ann")
            .map(new graft.ops.AnnIndex(engine, _))
          if (flagged.contains("--sim") && ann.isEmpty)
            throw new IllegalArgumentException(
              "forget: --sim needs --ann (the index serving the cosine pairs)")
          if (flagged.contains("--docs") && flagged.contains("--sim"))
            throw new IllegalArgumentException(
              "forget: --docs and --sim are mutually exclusive " +
                "residual-pair providers — pick the one matching the " +
                "ledger's edge semantics (minhash vs cosine)")
          // ledger residual pairs: --docs (minhash over the raw doc
          // store at the GATE's signature parameters — gate-composed
          // minhash ledgers), or --sim <thr> (the ANN index's within-
          // cluster cosine pairs — semantic ledgers over an indexed
          // corpus); default = the gate's signatures
          if (flagged.contains("--docs") && gate.isEmpty)
            throw new IllegalArgumentException(
              "forget: --docs needs --gate — the docs-based residual " +
                "pairs must be minhashed at the LEDGER's signature " +
                "parameters, which only the gate that built it carries " +
                "(a defaulted numPerm/rowsPerBand would silently " +
                "produce a different collision set)")
          val pairs = flagged.get("--docs").map(p =>
            graft.ops.Dedup.pairsFromDocs(spark.read.parquet(p),
              gate.get.numPerm, gate.get.rowsPerBand))
            .orElse(flagged.get("--sim").flatMap(thr =>
              ann.map(a => a.pairsAmong(thr.toDouble) _)))
          val r = engine.forget(ids,
            corpusRef = Some(vargs(0)).filter(_ != "-"),
            gate = gate,
            ledger = flagged.get("--ledger")
              .map(new graft.ops.ComponentIndex(engine, _)),
            annIndex = ann,
            ledgerPairs = pairs,
            idColumn = flagged.getOrElse("--id-col", "doc_id"))
          println("forgot: corpus=" + r.corpusDeleted.getOrElse("(skipped)") +
            s" gate=${r.gateRetired}" +
            s" ledger=${r.ledgerRemaining.map(_.count()).getOrElse(-1L)}" +
            s" ann=${r.annRetired}")
          // --advise: surface the delete-debt upkeep the retires just
          // created on the touched index tables (compact-incremental +
          // prune-deletes), so a compliance loop doesn't quietly push
          // every index read onto the merge-on-read fallback path
          if (adviseFlag.nonEmpty && r.indexRefs.nonEmpty)
            engine.adviseIndexes(r).collect().foreach(row =>
              println(s"  upkeep ${row.getString(0)}: ${row.getString(1)} " +
                s"${row.getString(2)} — ${row.getString(3)}"))
        case "ann-index" =>
          // ann-index <ns.idx> <embeddings.parquet> [k] [pqM] [pqK] —
          // create and bootstrap the persisted ANN index from a corpus:
          // IVF-Flat by default, IVF-PQ when pqM > 0 (pqM per-subspace
          // codebooks of pqK codes, codes stored per row, probes
          // ADC-scan + exact-rerank)
          val idx = new graft.ops.AnnIndex(engine, vargs(0),
            kClusters = vargs.lift(2).map(_.toInt).getOrElse(4),
            pqM = vargs.lift(3).map(_.toInt).getOrElse(0),
            pqK = vargs.lift(4).map(_.toInt).getOrElse(16))
          idx.create()
          idx.bootstrap(spark.read.parquet(vargs(1)))
          println(s"indexed ${idx.signatures.count()} vectors " +
            s"in ${idx.kClusters} lists at ${vargs(0)}" +
            (if (idx.pqM > 0) s" (ivf-pq m=${idx.pqM} k=${idx.pqK})" else ""))
        case "ann-rebuild" =>
          // ann-rebuild <ns.idx> [iters] — act on the advisor's
          // ann-rebuild row: retrain the quantizer (and PQ codebooks)
          // from the index's current vectors and swap data + quantizer
          // in one commit; the drift baseline resets. Training depth
          // defaults to the index's PERSISTED bootstrap iteration count
          // (never the handle default); [iters] overrides it
          val idx = new graft.ops.AnnIndex(engine, vargs(0))
          val cents = idx.rebuild(vargs.lift(1).map(_.toInt))
          println(s"rebuilt ${vargs(0)}: ${cents.length} lists, " +
            s"drift baseline reset" +
            (if (idx.codebooks.isDefined) " (ivf-pq codes re-encoded)" else ""))
        case "ann-retire" =>
          // ann-retire <ns.idx> <id,id,...> — corpus deletion: drop the
          // vectors in one keyed equality-delete commit; serving paths
          // stop returning them and the gate stops rejecting fresh
          // copies against their ghosts
          val idx = new graft.ops.AnnIndex(engine, vargs(0))
          val ids = vargs(1).split(",").map(_.trim.toLong).toSeq
          idx.retire(ids)
          println(s"retired ${ids.length} vectors from ${vargs(0)}")
        case "ann-gate" =>
          // ann-gate <ns.idx> <batch.parquet> <threshold> [--intra]
          //          [--ledger T] — semantic admission: keep batch
          // vectors that are not cosine near-dups of the index, append
          // them to it; --ledger folds the batch's collision pairs into
          // the persisted dup-cluster assignment (semantic provenance)
          val idx = new graft.ops.AnnIndex(engine, vargs(0))
          // STRICT flag walk: a value-less --ledger must error, never
          // silently skip the fold (lost semantic dup provenance with
          // exit 0), and "--ledger --intra" must not consume "--intra"
          // as a table name
          var intra = false
          var ledger: Option[graft.ops.ComponentIndex] = None
          var fi = 3
          while (fi < vargs.length) vargs(fi) match {
            case "--intra" => intra = true; fi += 1
            case "--ledger" if fi + 1 < vargs.length &&
                !vargs(fi + 1).startsWith("--") =>
              ledger = Some(new graft.ops.ComponentIndex(engine, vargs(fi + 1)))
              fi += 2
            case other => throw new IllegalArgumentException(
              s"ann-gate: bad token '$other' — flags are --intra and " +
                "--ledger <ns.comps>")
          }
          val kept = idx.admitIfNovel(spark.read.parquet(vargs(1)),
            vargs(2).toDouble,
            dedupWithinBatch = intra,
            components = ledger)
          println(s"admitted ${kept.count()} vectors into ${vargs(0)}" +
            ledger.map(l => s"; collision pairs folded into ${l.ref}")
              .getOrElse(""))
        case "ann-decontam" =>
          // ann-decontam <ns.idx> <probes.parquet> <threshold> [nProbe] —
          // index-served decontamination: flag indexed corpus vectors
          // whose cosine to any probe reaches the threshold, reading
          // only the probed lists' files; probes are never admitted
          val idx = new graft.ops.AnnIndex(engine, vargs(0))
          emit(idx.decontam(spark.read.parquet(vargs(1)),
            vargs(2).toDouble,
            nProbe = vargs.lift(3).map(_.toInt).getOrElse(2)))
        case "ann-search" =>
          // ann-search <ns.idx> <vecId|probes.parquet> [k] [nProbe] —
          // ANN top-k neighbors off the frozen quantizer (no
          // re-clustering): a numeric argument probes by an INDEXED
          // vector's id; a parquet path serves EXTERNAL query vectors
          // ((vec_id, embedding) rows) without admitting them — the
          // index is never mutated
          val idx = new graft.ops.AnnIndex(engine, vargs(0))
          val k = vargs.lift(2).map(_.toInt).getOrElse(3)
          val nProbe = vargs.lift(3).map(_.toInt).getOrElse(2)
          // disambiguation is purely SYNTACTIC — an integer argument is
          // a vec_id, an argument with path syntax (separator or
          // extension) is a parquet path, anything else fails fast with
          // a clear message — so the same command means the same thing
          // in every cwd (a filesystem probe would silently flip "7" to
          // a path query wherever a local file named "7" happens to
          // exist) and a mistyped id ("12a3") never reaches the parquet
          // reader's confusing missing-path error. An all-digit probe
          // dir is addressed the standard unix way: `./7`
          val arg = vargs(1)
          emit(scala.util.Try(arg.toLong).toOption match {
            case Some(id) => idx.search(
              org.apache.spark.sql.functions.col("vec_id") === id, k, nProbe)
            case None if arg.exists(c => c == '/' || c == '.') =>
              idx.search(spark.read.parquet(arg), k, nProbe)
            case None => throw new IllegalArgumentException(
              s"ann-search: '$arg' is neither an integer vec_id nor a " +
                "parquet path (prefix a bare directory name with ./)")
          })
        case other =>
          usage(); throw new IllegalArgumentException(s"unknown verb: $other")
      }
    } match {
      case Right(_) => 0
      case Left(msg) => System.err.println(s"error: $msg"); 1
    }
  }

  private def usage(): Unit = System.err.println(
    "usage: Cli <warehouseDir|catalogUri|-> <verb> [args...]\n" +
      "       [--json DIR | --csv DIR] [--catalog NAME] [--config PATH]\n" +
      "verbs: list-tables summary health files snapshots manifests partitions\n" +
      "       entries all-files all-manifests table-info snapshot-detail doctor demo\n" +
      "       schema schema-diff diff recent namespace warehouse tree\n" +
      "       test-connection watch read changes delete-files append-parquet\n" +
      "       compact compact-incremental prune-deletes expire rollback orphans\n" +
      "       rewrite-manifests analyze row-changes set-sort-order\n" +
      "       create-table zorder delete-where update-where widen-column\n" +
      "       add-column rename-column drop-column migrate-field-ids register add-files\n" +
      "       set-property unset-property bpe winnow-removal quality-score\n" +
      "       dedup-gate comp-fold comp-retire ann-index ann-gate ann-search ann-decontam\n" +
      "       ann-rebuild ann-retire forget\n" +
      "       stage-parquet publish advise tui init")
}
