package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftParquetBridge, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.meta.{FsCatalog, IcebergTable, SchemaEvolution, TableCreator, TableWriter}
import graft.ops.ScanPlanner

/** DSv2 CATALOG plugin: the whole graft warehouse addressable from plain
  * `spark.sql` — reads (`SELECT * FROM graft.sales.orders`, time travel)
  * AND the full DDL+DML life cycle: `CREATE/DROP NAMESPACE`,
  * `CREATE TABLE` (incl. `PARTITIONED BY (region, bucket(16, id),
  * truncate(4, code))` and CTAS), `INSERT INTO` / `INSERT OVERWRITE`
  * (snapshot commits through [[graft.meta.TableWriter]]), `ALTER TABLE`
  * column evolution and `DROP/RENAME TABLE`. Registration:
  * {{{
  * spark.sql.catalog.graft           = graft.sql.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  *
  * Scale shape: `loadTable` reads only the table's metadata json (driver,
  * metadata-scale); each scan prunes the snapshot's file list with the
  * PUSHED filters (partition transforms + column bounds — the Iceberg
  * planning step, [[FilePrune]]) and then delegates to Spark's own
  * vectorized `ParquetScan` over the survivors
  * ([[org.apache.spark.sql.GraftParquetBridge]]), so whole-stage codegen,
  * row-group pruning and scan statistics (broadcast planning) are native.
  * All pushed filters are ALSO returned as residuals, so Spark
  * re-evaluates them row-level — pruning only has to be conservative,
  * never exact. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _
  private def fs = new FsCatalog(warehouse)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs option 'warehouse' (spark.sql.catalog.$name.warehouse)"))
  }

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = namespace.mkString(".")
    fs.listTables().filter(_._1 == ns)
      .map { case (n, t) => Identifier.of(Array(n), t) }.toArray
  }

  /** `<table>$<kind>` identifiers resolve to METADATA TABLES (the
    * Spark-Iceberg `SELECT * FROM t.files` inspection surface):
    * {{{ SELECT * FROM graft.sales.`orders$snapshots` }}} */
  private val MetaIdent =
    """(.+)\$(files|delete_files|snapshots|manifests|schemas|partitions|history|metadata_log|refs|entries|all_files|all_manifests)""".r

  override def loadTable(ident: Identifier): Table = ident.name() match {
    case MetaIdent(base, kind) =>
      val dir = s"$warehouse/${ident.namespace().mkString("/")}/$base"
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "metadata")))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
          ident.namespace().toSeq :+ ident.name())
      new GraftMetaTable(dir, kind)
    case _ =>
      val dir = s"$warehouse/${ident.namespace().mkString("/")}/${ident.name()}"
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "metadata")))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
          ident.namespace().toSeq :+ ident.name())
      new GraftTable(dir)
  }

  private def loadDataTable(ident: Identifier): GraftTable =
    loadTable(ident) match {
      case t: GraftTable => t
      case _ => throw new UnsupportedOperationException(
        s"time travel is not supported on metadata tables (${ident.name()})")
    }

  /** SQL time travel `VERSION AS OF v`: `v` is a snapshot id or a ref
    * (tag/branch) name from the table's `refs` metadata. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val base = loadDataTable(ident)
    val md = base.t.metadata
    val snapId = md.refs.get(version).map(_.snapshotId)
      .orElse(version.toLongOption)
      .filter(id => md.snapshots.exists(_.snapshotId == id))
      .getOrElse(throw new IllegalArgumentException(
        s"VERSION AS OF '$version': no snapshot id or ref with that name"))
    new GraftTable(base.tableDir, Some(snapId))
  }

  /** SQL time travel `TIMESTAMP AS OF t` (micros since epoch): the
    * latest snapshot committed at or before `t`. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val base = loadDataTable(ident)
    val atOrBefore = base.t.metadata.snapshots
      .filter(_.timestampMs <= timestamp / 1000L)
    if (atOrBefore.isEmpty)
      throw new IllegalArgumentException(
        s"TIMESTAMP AS OF ${timestamp}us predates every snapshot")
    new GraftTable(base.tableDir, Some(atOrBefore.maxBy(_.timestampMs).snapshotId))
  }

  private def tableDir(ident: Identifier): String = {
    require(ident.namespace().length == 1,
      s"graft warehouse namespaces are single-level (got ${ident.namespace().mkString(".")})")
    s"$warehouse/${ident.namespace()(0)}/${ident.name()}"
  }

  /** DSv2 partition Transform → the engine's spec declaration syntax
    * ([[graft.meta.Transforms.parseDecl]]). Identity, `bucket(N, col)`
    * and `truncate(W, col)` — the transforms the write path lays files
    * out by and the scan planner prunes through. */
  private def declOf(t: Transform): String = {
    val refs = t.references()
    require(refs.length == 1 && refs(0).fieldNames().length == 1,
      s"partition transform ${t.describe()} must reference one top-level column")
    val col = refs(0).fieldNames()(0)
    def intArg: Int = t.arguments().collectFirst {
      case l: Literal[_] => l.value().toString.toInt
    }.getOrElse(throw new IllegalArgumentException(
      s"transform ${t.describe()} needs an integer argument"))
    t.name() match {
      case "identity" => col
      case "bucket" => s"bucket[$intArg]($col)"
      case "truncate" => s"truncate[$intArg]($col)"
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform $other " +
          "(supported: identity, bucket(N, col), truncate(W, col))")
    }
  }

  /** `CREATE TABLE` / the create half of CTAS: bootstrap an empty
    * format-v2 table (metadata-only; the first INSERT runs the
    * distributed write). Catalog-reserved properties (provider,
    * location, owner, ...) are not table properties and are dropped. */
  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "metadata")))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        ident.namespace().toSeq :+ ident.name())
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL)
    TableCreator.create(dir, schema, partitions.toSeq.map(declOf),
      properties.asScala.toMap -- reserved)
    new GraftTable(dir)
  }

  /** `ALTER TABLE` → id-based schema evolution commits
    * ([[graft.meta.SchemaEvolution]]): add (optional) / rename / drop
    * column. Each change is its own metadata commit, like Iceberg's
    * updateSchema chain. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    def single(fieldNames: Array[String]): String = {
      require(fieldNames.length == 1,
        s"nested column changes unsupported (${fieldNames.mkString(".")})")
      fieldNames(0)
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        SchemaEvolution.addColumn(dir, single(add.fieldNames()),
          TableCreator.iceType(add.dataType()), required = !add.isNullable)
      case rn: TableChange.RenameColumn =>
        SchemaEvolution.renameColumn(dir, single(rn.fieldNames()), rn.newName())
      case del: TableChange.DeleteColumn =>
        SchemaEvolution.dropColumn(dir, single(del.fieldNames()))
      case up: TableChange.UpdateColumnType =>
        SchemaEvolution.widenColumn(dir, single(up.fieldNames()),
          TableCreator.iceType(up.newDataType()))
      case setp: TableChange.SetProperty =>
        SchemaEvolution.setProperties(dir,
          Map(setp.property() -> setp.value()), Set.empty)
      case remp: TableChange.RemoveProperty =>
        SchemaEvolution.setProperties(dir, Map.empty, Set(remp.property()))
      case other => throw new UnsupportedOperationException(
        s"unsupported table change $other " +
          "(supported: ADD/RENAME/DROP COLUMN, ALTER COLUMN TYPE, " +
          "SET/UNSET TBLPROPERTIES)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = java.nio.file.Paths.get(tableDir(ident))
    if (!java.nio.file.Files.isDirectory(dir.resolve("metadata"))) false
    else {
      scala.util.Using.resource(java.nio.file.Files.walk(dir)) { s =>
        s.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = java.nio.file.Paths.get(tableDir(oldIdent))
    val to = java.nio.file.Paths.get(tableDir(newIdent))
    if (!java.nio.file.Files.isDirectory(from.resolve("metadata")))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        oldIdent.namespace().toSeq :+ oldIdent.name())
    if (java.nio.file.Files.exists(to))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        newIdent.namespace().toSeq :+ newIdent.name())
    java.nio.file.Files.createDirectories(to.getParent)
    java.nio.file.Files.move(from, to)
  }

  // ---- procedures: `CALL graft.system.<proc>(...)` — the Iceberg
  // maintenance-procedure surface ([[GraftProcedures]])

  override def loadProcedure(ident: Identifier)
    : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live in the `system` namespace (got ${ident.namespace().mkString(".")})")
    GraftProcedures.load(ident.name(), warehouse)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // ---- functions: the `bucket` V2 function backs bucket-transform
  // storage-partitioned-join compatibility checks and is SQL-callable

  override def loadFunction(ident: Identifier)
    : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if ((ident.namespace().isEmpty ||
        ident.namespace().sameElements(Array("system"))) &&
        ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(Array("system"), "bucket"))
    else Array.empty

  // ---- namespaces

  override def listNamespaces(): Array[Array[String]] =
    fs.listNamespaces().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && fs.listNamespaces().contains(namespace(0))

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1,
      s"graft warehouse namespaces are single-level (got ${namespace.mkString(".")})")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(warehouse, namespace(0)))
  }

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace(0)} is not empty (use CASCADE)")
    val dir = java.nio.file.Paths.get(warehouse, namespace(0))
    scala.util.Using.resource(java.nio.file.Files.walk(dir)) { s =>
      s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    true
  }
}

/** One graft/Iceberg table surfaced to Catalyst. Reports its partition
  * transforms (identity / bucket / truncate) so EXPLAIN and future
  * storage-partitioned-join planning see the layout. Tables carrying
  * row-level DELETE files scan through the merge-on-read
  * [[GraftMorV1Scan]] fallback (a bare file scan would resurrect
  * deleted rows); delete-free tables use the vectorized parquet path. */
final class GraftTable(val tableDir: String, snapshotId: Option[Long] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations {

  private[sql] val t: IcebergTable = IcebergTable.load(tableDir)

  override def name(): String =
    tableDir + snapshotId.map(id => s"@$id").getOrElse("")

  /** Table properties (incl. ANALYZE statistics) surface in
    * `DESCRIBE TABLE EXTENDED`. */
  override def properties(): util.Map[String, String] =
    t.metadata.properties.asJava

  override def schema(): StructType =
    // time-travel instances expose the SNAPSHOT's schema (Iceberg
    // VERSION AS OF semantics); current instances the current one
    ScanPlanner.sparkSchemaAt(t, snapshotId).getOrElse(
      throw new UnsupportedOperationException(
        s"table $tableDir has a nested/non-primitive schema; read it via " +
          "ScanPlanner.readTable (parquet inference) instead of the SQL catalog"))

  override def partitioning(): Array[Transform] =
    t.metadata.currentSpec.fields.flatMap { sf =>
      val src = t.metadata.currentSchema.fields.find(_.id == sf.sourceId)
      src.flatMap { f =>
        val BucketRe = """bucket\[(\d+)\]""".r
        val TruncRe = """truncate\[(\d+)\]""".r
        sf.transform match {
          case "identity" => Some(Expressions.identity(f.name))
          case BucketRe(n) => Some(Expressions.bucket(n.toInt, f.name))
          case TruncRe(_) => Some(Expressions.identity(sf.name))
          case _ => None
        }
      }
    }.toArray

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  /** `INSERT INTO` / `INSERT OVERWRITE` / the write half of CTAS.
    * Bridged to the engine's commit path ([[graft.meta.TableWriter]])
    * via the V1 write interface: the incoming DataFrame IS the
    * distributed write — TableWriter stages it with one hash-distributed
    * partitionBy job, computes per-file stats with one distributed
    * aggregation, then commits manifest + manifest-list + snapshot +
    * next metadata version driver-side (metadata-scale). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(snapshotId.isEmpty,
      s"cannot write to a time-travel (VERSION/TIMESTAMP AS OF) scan of $tableDir")
    new GraftWriteBuilder(tableDir)
  }

  /** SQL `DELETE FROM` in COPY-ON-WRITE mode ([[graft.ops.Delete]]):
    * matching files are rewritten without the matching rows, so the
    * table stays delete-free and the catalog's vectorized scan stays
    * valid. Merge-on-read deletes remain available through the engine
    * API (`Engine.deleteWhere`). */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    snapshotId.isEmpty && FilterColumns.conjunction(filters.toSeq).nonEmpty

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    val predicate = FilterColumns.conjunction(filters.toSeq).getOrElse(
      throw new UnsupportedOperationException(
        s"cannot translate delete condition ${filters.mkString(" AND ")}"))
    graft.ops.Delete.copyOnWrite(SparkSession.active, tableDir, predicate)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(t, schema(), snapshotId)

  /** SQL `UPDATE` / `MERGE INTO` (and `DELETE` with an untranslatable
    * condition) via group-based copy-on-write row-level operations
    * ([[GraftRowLevelOperation]]). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(snapshotId.isEmpty,
      s"cannot modify a time-travel (VERSION/TIMESTAMP AS OF) scan of $tableDir")
    () => new GraftRowLevelOperation(this, info.command())
  }
}

/** Write builder: plain insert appends a snapshot; `truncate()` (how
  * Catalyst expresses `INSERT OVERWRITE` over a whole table) turns the
  * commit into an overwrite — prior snapshots stay readable (time
  * travel). Appends onto delete-carrying tables are safe: merge-on-read
  * readers scope deletes by commit sequence, so newly appended rows are
  * exempt from older equality deletes. */
final class GraftWriteBuilder(tableDir: String)
  extends WriteBuilder with SupportsTruncate {

  private var overwriteAll = false

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val spark = data.sparkSession
          if (overwriteAll || overwrite) TableWriter.overwrite(spark, tableDir, data)
          else TableWriter.append(spark, tableDir, data)
        }
      }
  }
}

/** Pushdown-aware scan builder: remembers pushed filters for metadata
  * FILE pruning, hands them to the parquet scan for ROW-GROUP pruning,
  * and returns them all as residuals (Spark re-evaluates row-level). */
class GraftScanBuilder(
    t: IcebergTable, dataSchema: StructType, snapshotId: Option[Long] = None,
    runtimeFilterCols: Option[Seq[String]] = None)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[sources.Filter] = Array.empty
  private var required: StructType = dataSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters.filter(FilePrune.translatable)
    filters // everything stays a residual — pruning is conservative
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    // SCOPED fill gate: the wrapped engine plan is needed for the
    // path-partition fill only when (a) some file SURVIVING this scan's
    // pushed-filter pruning is an un-rewritten adopted file AND (b) the
    // scan actually OUTPUTS a fillable column (Spark's required schema
    // includes residual-filter columns, so a filter on the path column
    // requires it too). A probe pruned to native files — or a
    // projection of file-carried columns — keeps the vectorized scan
    // even while adopted files are live elsewhere in the table.
    // manifest-level skip first (partition summaries), then per-entry;
    // ONE listing shared by the fill gate, the MoR plan and statistics
    val pruned = new FilePrune.PrunedListing(t, snapshotId, pushed.toSeq)
    lazy val keptAdopted = pruned.entries
    def fillNeeded: Boolean =
      graft.meta.Transforms.needsPathFill(t.metadata, keptAdopted) &&
        graft.meta.Transforms.pathPartitionCols(t.metadata)
          .exists(required.fieldNames.contains)
    if (t.deleteFiles(snapshotId).nonEmpty || fillNeeded)
      // merge-on-read fallback — itself FILE-SCOPED: inside the wrapped
      // plan, delete-untouched files scan bare (vectorized parquet, no
      // anti-joins) and only delete-hit files pay the MoR machinery
      // (ScanPlanner.readSplit)
      new GraftMorV1Scan(t, snapshotId, required, pushed.toSeq, pruned)
    else {
      val kept = keptAdopted
      // id-stamped tables: the vectorized scan resolves parquet columns
      // by field id (rename-safe, same contract as ScanPlanner.readSchema)
      def attr(st: StructType): StructType =
        if (!graft.meta.FieldIds.idsAtSnapshot(t.metadata, snapshotId)) st
        else {
          graft.meta.FieldIds.ensureReadEnabled(SparkSession.active)
          graft.meta.FieldIds.attribute(st, ScanPlanner.schemaAt(t, snapshotId))
        }
      new GraftFileScan(t, attr(dataSchema), attr(required), pushed.toSeq,
        kept, runtimeFilterCols)
    }
  }
}

/** A METADATA TABLE (`t$files`, `t$snapshots`, …) surfaced to SQL — the
  * reference's whole inspection domain (ref `formatters.py:263-320`,
  * `156-220`, `143-150`) queryable with plain SELECT, like Spark-Iceberg
  * metadata tables. Metadata relations are driver-parsed and
  * metadata-scale ([[graft.rel.MetaRelations]]); the scan wraps the
  * relation's DataFrame plan with column pruning. */
final class GraftMetaTable(tableDir: String, kind: String)
  extends Table with SupportsRead {

  private def relation(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    val t = IcebergTable.load(tableDir)
    kind match {
      case "files" => graft.rel.MetaRelations.files(spark, t)
      case "delete_files" => graft.rel.MetaRelations.deleteFiles(spark, t)
      case "snapshots" => graft.rel.MetaRelations.snapshots(spark, t)
      case "manifests" => graft.rel.MetaRelations.manifests(spark, t)
      case "schemas" => graft.rel.MetaRelations.schemas(spark, t)
      case "partitions" =>
        graft.rel.MetaRelations.partitions(graft.rel.MetaRelations.files(spark, t))
      case "history" => graft.rel.MetaRelations.history(spark, t)
      case "metadata_log" => graft.rel.MetaRelations.metadataLog(spark, tableDir)
      case "refs" => graft.rel.MetaRelations.refs(spark, t)
      case "entries" => graft.rel.MetaRelations.entries(spark, t)
      case "all_files" => graft.rel.MetaRelations.allFiles(spark, t)
      case "all_manifests" => graft.rel.MetaRelations.allManifests(spark, t)
    }
  }

  override def name(): String = s"$tableDir$$$kind"
  override def schema(): StructType = relation(SparkSession.active).schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = schema()
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new GraftDataFrameScan(required, relation)
    }
}

/** Generic DSv2 `V1Scan` over an engine DataFrame plan: the scan's RDD
  * IS the wrapped plan's RDD, column-pruned to `required`. Used where a
  * file-list Scan can't express the semantics — merge-on-read reads
  * ([[GraftMorV1Scan]]) and the metadata tables
  * ([[GraftMetaTable]]). */
class GraftDataFrameScan(
    required: StructType,
    planFor: SparkSession => org.apache.spark.sql.DataFrame)
  extends org.apache.spark.sql.connector.read.V1Scan {

  override def readSchema(): StructType = required

  override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan](
      context: org.apache.spark.sql.SQLContext): T =
    new org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: org.apache.spark.sql.SQLContext = context
      override def schema: StructType = required
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        planFor(context.sparkSession)
          .select(required.fieldNames.toIndexedSeq.map(
            org.apache.spark.sql.functions.col): _*).rdd
    }.asInstanceOf[T]
}

/** MERGE-ON-READ fallback scan for delete-carrying tables: wraps the
  * engine's [[graft.ops.ScanPlanner.readTable]] plan (position deletes
  * anti-joined on `_metadata` lineage, equality deletes value-anti-joined
  * with sequence scoping) as a DSv2 `V1Scan`, so `SELECT` over SQL is
  * CORRECT on every table instead of refusing. Delete-free tables keep
  * the fully vectorized parquet path ([[GraftScanBuilder.build]]); a
  * compaction ([[graft.ops.Compact]]) that folds the deletes moves a
  * table back onto it. Pushed filters are re-applied inside the wrapped
  * plan so Catalyst still prunes row groups within the MoR subplan. */
final class GraftMorV1Scan(
    t: IcebergTable, snapshotId: Option[Long],
    required: StructType, pushed: Seq[sources.Filter],
    pruned: FilePrune.PrunedListing)
  extends GraftDataFrameScan(required, spark => {
    // FILE pruning applies to the MoR fallback too: deletes only REMOVE
    // rows, so restricting the data files to the pushed filters'
    // conservative survivors (manifest tier + per-entry stats) changes
    // nothing about the filtered result — readFiles applies the same
    // position/equality delete machinery to the subset. A partition
    // probe on a delete-carrying table no longer scans the whole table,
    // and the shared listing means no tier re-parses what another
    // already listed.
    val df0 =
      if (pruned.entries.isEmpty)
        // all files excluded: EMPTY with the table's schema, scan nothing
        ScanPlanner.readTable(spark, t, snapshotId)
          .filter(org.apache.spark.sql.functions.lit(false))
      else
        ScanPlanner.readFiles(spark, t, pruned.entries, snapshotId)
    FilterColumns.conjunction(pushed).map(df0.filter).getOrElse(df0)
  }) with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Upper-bound estimate from the manifests (live data rows of the
    * PRUNED file set, before the delete anti-joins subtract theirs):
    * conservative for broadcast planning — never under the true size —
    * while letting a filter-pruned dim scan qualify as a broadcast. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(pruned.entries.map(_.fileSizeInBytes).sum)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(pruned.entries.map(_.recordCount).sum)
    }
}
