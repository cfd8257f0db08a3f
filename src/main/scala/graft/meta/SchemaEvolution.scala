package graft.meta

import java.nio.file.Paths

/** Schema evolution as metadata commits — add / rename / drop a column,
  * producing a NEW schema version with a new schema-id and bumping
  * `current-schema-id` in the next metadata version (the id-based
  * evolution the reference's schema-history and diff views consume,
  * ref `formatters.py:143-150`, `tui/widgets.py:310-350`):
  *
  *  - add: new field gets `max(field id over ALL schema versions) + 1`
  *    (ids are never reused — that is what makes rename/drop safe);
  *  - rename: the field keeps its id, so diffs classify it "changed",
  *    not dropped+added;
  *  - drop: the field simply leaves the new version; its id stays
  *    retired forever.
  *
  * Data files are untouched (Iceberg evolution is metadata-only):
  * readers project existing files through the current schema — a column
  * added later reads as null from older files. */
object SchemaEvolution {

  def addColumn(
      tableDir: String,
      name: String,
      iceType: String,
      required: Boolean = false): Int = {
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    val cur = md.currentSchema
    require(!cur.fields.exists(_.name == name),
      s"column $name already exists in schema ${cur.schemaId}")
    require(!required,
      "a column added to existing data must be optional (old files have no values for it)")
    val nextFieldId = md.schemas.flatMap(_.fields.map(_.id)).max + 1
    commitSchema(tableDir, baseV, md, cur.fields :+
      SchemaField(nextFieldId, name, required, iceType, name))
  }

  def renameColumn(tableDir: String, oldName: String, newName: String): Int = {
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    val cur = md.currentSchema
    require(cur.fields.exists(_.name == oldName), s"no column $oldName")
    require(!cur.fields.exists(_.name == newName), s"column $newName already exists")
    commitSchema(tableDir, baseV, md, cur.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName, path = newName) else f))
  }

  /** TYPE PROMOTION (Iceberg schema evolution): widen a column's type
    * in place — the field KEEPS its id, so schema-history diffs render a
    * "changed" field (type change per field_id, ref
    * `tui/widgets.py:310-350`), and existing data files are untouched:
    * readers project old (narrow) files through the widened read schema
    * (Spark 4's vectorized parquet reader up-casts int32→int64 and
    * float→double natively), and manifest bounds decode length-aware
    * ([[graft.expr.IcebergDecode.decode]]). Allowed promotions are the
    * spec's safe set: int→long, float→double. */
  def widenColumn(tableDir: String, name: String, toType: String): Int = {
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    val cur = md.currentSchema
    val field = cur.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    val allowed = (field.fieldType, toType) match {
      case ("int", "long") | ("float", "double") => true
      case _ => false
    }
    require(allowed,
      s"cannot widen $name: ${field.fieldType} → $toType is not a safe " +
        "promotion (allowed: int → long, float → double)")
    commitSchema(tableDir, baseV, md, cur.fields.map(f =>
      if (f.id == field.id) f.copy(fieldType = toType) else f))
  }

  def dropColumn(tableDir: String, name: String): Int = {
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    val cur = md.currentSchema
    val field = cur.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    require(!md.currentSpec.fields.exists(_.sourceId == field.id),
      s"column $name is a partition source; drop the spec reference first")
    commitSchema(tableDir, baseV, md, cur.fields.filterNot(_.name == name))
  }

  /** Evolve the PARTITION SPEC: a new spec version (next spec-id) with
    * identity partitioning on `sourceCols`, becoming the default for
    * future writes (Iceberg spec evolution is metadata-only: existing
    * files keep their old partition tuples; readers see both layouts).
    * Partition field ids continue Iceberg's 1000+ range across versions.
    * Empty `sourceCols` evolves to unpartitioned. */
  def setPartitionSpec(tableDir: String, sourceCols: Seq[String]): Int = {
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    val cur = md.currentSchema
    // each entry is a declaration: bare `col` (identity), `bucket[N](col)`
    // or `truncate[W](col)` — the Iceberg transform surface the write
    // path supports (see meta.Transforms)
    val parsed = sourceCols.map(Transforms.parseDecl)
    val fields = parsed.map { case (name, transform) =>
      val f = cur.fields.find(f => f.name == name && !f.path.contains('.')).getOrElse(
        throw new IllegalArgumentException(
          s"partition source $name not a top-level column of schema ${cur.schemaId}"))
      (f, transform)
    }
    val newSpecId = md.partitionSpecs.map(_.specId).max + 1
    val nextFieldId = (999 +: md.partitionSpecs.flatMap(_.fields.map(_.fieldId))).max + 1
    // a re-declared transform of an already-partitioned column (bucket[8]
    // → bucket[16]) gets its own field name, as Iceberg's spec update
    // names it: name-keyed pruning must never see two transforms under
    // one name (it could prune neither)
    val earlier = md.partitionSpecs.flatMap(_.fields)
    def nameOf(src: String, transform: String): String = {
      val plain = Transforms.fieldName(src, transform)
      if (earlier.exists(sf => sf.name == plain && sf.transform != transform))
        Transforms.argFieldName(src, transform)
      else plain
    }
    val spec = PartitionSpec(newSpecId, fields.zipWithIndex.map { case ((f, transform), i) =>
      SpecField(nameOf(f.name, transform), transform, f.id, nextFieldId + i)
    })
    val newMd = md.copy(
      lastUpdatedMs = System.currentTimeMillis(),
      defaultSpecId = newSpecId,
      partitionSpecs = md.partitionSpecs :+ spec)
    writeNext(tableDir, baseV, newMd)
    newSpecId
  }

  /** Declare the table's WRITE SORT ORDER (Iceberg `sort-orders` +
    * `default-sort-order-id`, metadata-only): future writes sort rows by
    * these columns WITHIN each file ([[TableWriter]] sorts inside the
    * staging pass — no extra shuffle), which tightens per-file min/max
    * bounds on the sort keys so range predicates prune far more files.
    * `cols` entries are `"name"` (asc) or `"name desc"`; Iceberg default
    * null placement (asc → nulls-first, desc → nulls-last). Empty `cols`
    * resets to unsorted. Returns the new order id. */
  def setSortOrder(tableDir: String, cols: Seq[String]): Int = {
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    val cur = md.currentSchema
    val fields = cols.map { decl =>
      val (name, dir) = decl.trim.split("\\s+") match {
        case Array(n) => (n, "asc")
        case Array(n, d) if d.equalsIgnoreCase("asc") || d.equalsIgnoreCase("desc") =>
          (n, d.toLowerCase)
        case _ => throw new IllegalArgumentException(
          s"unparseable sort declaration '$decl' (expected `col` or `col desc`)")
      }
      val f = cur.fields.find(f => f.name == name && !f.path.contains('.')).getOrElse(
        throw new IllegalArgumentException(
          s"sort column $name not a top-level column of schema ${cur.schemaId}"))
      SortField(f.id, "identity", dir,
        if (dir == "asc") "nulls-first" else "nulls-last")
    }
    val newOrderId =
      if (fields.isEmpty) 0
      else (0 +: md.sortOrders.map(_.orderId)).max + 1
    val orders =
      if (fields.isEmpty) md.sortOrders
      else md.sortOrders :+ IceSortOrder(newOrderId, fields)
    writeNext(tableDir, baseV, md.copy(
      lastUpdatedMs = System.currentTimeMillis(),
      sortOrders = orders,
      defaultSortOrderId = newOrderId))
    newOrderId
  }

  /** Set / unset TABLE PROPERTIES as a metadata-only commit (Iceberg
    * `ALTER TABLE ... SET/UNSET TBLPROPERTIES`) — the knobs the write
    * path reads live here (`write.distribution-mode`, ...). Returns the
    * new metadata version.
    *
    * `expectedCurrentSnapshotId` makes the property commit CONDITIONAL
    * on the table still sitting at that snapshot — the CAS a property
    * stamp DERIVED from a specific snapshot's state needs (field-id
    * migration stamps its `since-seq` from its own rewrite commit; a
    * writer landing in between would sit past the boundary with
    * id-less files). The check rides inside the load→publish cycle, and
    * [[IcebergMeta.publish]]'s version CAS catches a racer landing
    * after the load — either way the race is LOUD. */
  def setProperties(
      tableDir: String,
      set: Map[String, String],
      unset: Set[String],
      expectedCurrentSnapshotId: Option[Long] = None,
      expectNoCurrentSnapshot: Boolean = false): Int = {
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    IcebergMeta.requireSnapshotPin(md,
      expectedCurrentSnapshotId, expectNoCurrentSnapshot)
    writeNext(tableDir, baseV, md.copy(
      lastUpdatedMs = System.currentTimeMillis(),
      properties = md.properties ++ set -- unset))
  }

  /** Append the new field list as the next schema version and point
    * `current-schema-id` at it. Returns the new schema id. */
  private def commitSchema(
      tableDir: String, baseV: Int, md: TableMetadata,
      fields: Seq[SchemaField]): Int = {
    require(fields.nonEmpty, "schema cannot become empty")
    val newSchemaId = md.schemas.map(_.schemaId).max + 1
    writeNext(tableDir, baseV, md.copy(
      lastUpdatedMs = System.currentTimeMillis(),
      currentSchemaId = newSchemaId,
      schemas = md.schemas :+ IceSchema(newSchemaId, fields)))
    newSchemaId
  }

  /** CAS-publish `md` as version `baseV + 1`, where `baseV` is the
    * version the caller LOADED (loadVersioned) — re-listing the
    * directory here would let a concurrent commit slip between load and
    * publish unnoticed. Returns the new version. */
  private def writeNext(tableDir: String, baseV: Int, md: TableMetadata): Int = {
    val target = Paths.get(tableDir, "metadata", s"v${baseV + 1}.metadata.json")
    IcebergMeta.publish(target, IcebergMeta.render(md))
    baseV + 1
  }
}
