package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.IcebergTable
import graft.ops._
import graft.rel.MetaRelations

/** Command facade mirroring the reference CLI verbs (ref `cli.py`):
  * `list-tables`, `summary`, `health`, `files`, `snapshots`, `manifests`,
  * `partitions`, `schema`, `diff`, `namespace`/`warehouse` overviews,
  * `watch` — each returning lazy DataFrames; sinks at the edge
  * (ref `output.py:49-60` JSON/CSV).
  *
  * Tables are addressed as `<namespace>.<table>` under a warehouse
  * directory (`<warehouse>/<ns>/<table>/metadata/v*.metadata.json`).
  */
object Engine {
  /** Census of [[Engine.load]] calls (metadata loads) — specs pin the
    * one-load-per-serving-call contract of hot paths like
    * [[graft.ops.AnnIndex]]'s search/decontam (a second load mid-call
    * could mix quantizer generations across passes). */
  private[graft] val loadCensus =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** One adoptable directory, parsed: the parquet files (recursive,
    * hidden / marker files skipped, sorted for determinism), plus the
    * hive-layout partition keys and each file's `key=value` path values
    * when the drop is partitioned (`partitionKeys` empty = flat drop).
    * Values are keyed by ABSOLUTE file path. */
  private[graft] final case class AdoptSource(
      files: Seq[java.nio.file.Path],
      partitionKeys: Seq[String],
      partitionsByPath: Map[String, Map[String, String]]) {
    def isHive: Boolean = partitionKeys.nonEmpty
  }

  /** Decode hive path escapes (`%xx`) in a `key=value` segment — hive's
    * `escapePathName` percent-encodes reserved characters; unlike URL
    * forms, '+' is a literal plus. Delegates to the SAME decoder Spark's
    * partition discovery uses, so [[adoptableSource]]'s values and the
    * types `registerParquet` discovers can never disagree on a
    * spelling. */
  private[graft] def unescapeHive(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** Walk `sourceDir` into an [[AdoptSource]]. Hive-layout `key=value`
    * DIRECTORY components carry partition values (a '=' in a file's own
    * NAME is just a name); every file must sit under the same key
    * sequence — ragged layouts are refused naming two divergent files. */
  private[graft] def adoptableSource(sourceDir: String): AdoptSource = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import scala.jdk.CollectionConverters._
    val src = JPaths.get(sourceDir)
    require(JFiles.isDirectory(src), s"$sourceDir is not a directory")
    val walk = JFiles.walk(src)
    val parquets =
      try walk.iterator().asScala
        .filter(p => JFiles.isRegularFile(p))
        .filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
        }.toVector.sortBy(_.toString)
      finally walk.close()
    require(parquets.nonEmpty, s"no parquet files under $sourceDir")
    def kvs(p: java.nio.file.Path): Seq[(String, String)] =
      Option(src.relativize(p).getParent).toSeq
        .flatMap(_.iterator().asScala)
        .map(_.toString).filter(_.contains('='))
        .map { seg =>
          val i = seg.indexOf('=')
          unescapeHive(seg.take(i)) -> unescapeHive(seg.drop(i + 1))
        }
    val byPath = parquets.map(p => p -> kvs(p))
    val keySeqs = byPath.map(_._2.map(_._1)).distinct
    if (keySeqs.size > 1) {
      val examples = keySeqs.take(2).flatMap(ks =>
        byPath.find(_._2.map(_._1) == ks).map(x => src.relativize(x._1)))
      throw new IllegalArgumentException(
        s"$sourceDir mixes partition-path layouts " +
        s"(e.g. ${examples.mkString(" vs ")}) — every adopted file must " +
        "sit under the same key=value directory sequence")
    }
    val keys = keySeqs.head
    require(keys.distinct.size == keys.size,
      s"$sourceDir repeats a partition key in its paths (${keys.mkString("/")})")
    AdoptSource(parquets, keys,
      byPath.map { case (p, kv) => p.toString -> kv.toMap }.toMap)
  }

  /** Hard-link (copy across filesystems) `parquets` into `dir`/data
    * under collision-free adopted names; returns the (relative path,
    * partition values) pairs [[graft.meta.TableWriter.commitFiles]]
    * expects. No data bytes move through Spark, and the link pass runs
    * BOUNDED-PARALLEL (hard links are microsecond syscalls, but a
    * million-file adoption serialized on one thread is minutes). ANY
    * failure unlinks every link already created before rethrowing — a
    * drop that fails mid-link leaves no orphans, honoring the same
    * residue-free contract as a refused drop. */
  private[graft] def linkInto(
      dir: java.nio.file.Path,
      parquets: Seq[java.nio.file.Path],
      partitions: Map[String, Map[String, String]] = Map.empty)
      : Seq[(String, Map[String, String])] = {
    import java.nio.file.{Files => JFiles}
    val tok = java.lang.Long.toHexString(System.nanoTime())
    JFiles.createDirectories(dir.resolve("data"))
    val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val rels = new Array[(String, Map[String, String])](parquets.size)
    java.util.stream.IntStream.range(0, parquets.size).parallel().forEach { i =>
      if (failure.get() == null) try {
        val p = parquets(i)
        val rel =
          f"${graft.meta.Transforms.AdoptedFilePrefix}$tok-$i%05d-${p.getFileName.toString}"
        val target = dir.resolve(rel)
        created.add(target)
        // cross-filesystem links throw IOException; filesystems WITHOUT
        // link support throw UnsupportedOperationException — both fall
        // back to the documented copy
        try JFiles.createLink(target, p)
        catch {
          case _: java.io.IOException | _: UnsupportedOperationException =>
            JFiles.copy(p, target)
        }
        rels(i) = rel -> partitions.getOrElse(p.toString, Map.empty)
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
    }
    if (failure.get() != null) {
      created.forEach(t =>
        try { JFiles.deleteIfExists(t); () }
        catch { case _: java.io.IOException => () })
      throw failure.get()
    }
    rels.toIndexedSeq
  }

  private[graft] type FooterInfo = graft.api.FooterFacts.FooterInfo
  private[graft] val FooterInfo = graft.api.FooterFacts.FooterInfo

  /** Refuse any file whose footer diverges from the drop's shared
    * schema — top-level NAME set against `want` (loud, names both
    * sides), and the FULL canonical tree against the other files
    * (nested members too: a drop where one file's struct lacks a member
    * would otherwise pass top-level checks and silently null that
    * member's rows). Single-footer inference (mergeSchema off) would
    * miss both; this visits every footer, already read for the id gate
    * / corruption probe. */
  private[graft] def requireUniformColumns(
      byFile: Map[String, FooterInfo],
      want: Set[String],
      context: String): Unit = {
    byFile.toSeq.sortBy(_._1).foreach { case (p, info) =>
      require(info.ids.keySet == want,
        s"$context: $p's columns (${info.ids.keySet.toSeq.sorted.mkString(", ")}) " +
        s"differ from the drop's schema (${want.toSeq.sorted.mkString(", ")}) — " +
        "every adopted file must carry the same columns")
    }
    val byCanon = byFile.groupBy(_._2.canon)
    require(byCanon.size <= 1, {
      val two = byCanon.values.take(2).map(_.keys.min).toSeq.sorted
      s"$context: files disagree in NESTED schema structure (e.g. " +
      s"${two.mkString(" vs ")}) — a silent union would null the " +
      "divergent members; every adopted file must share one schema"
    })
  }

  /** Validate AND canonicalize a hive drop's path partition values in
    * ONE pass over the per-file maps: a value that doesn't parse as its
    * column's declared type refuses loudly (stamping it would poison
    * partition pruning and the synthesized per-file bounds; the null
    * sentinel is always valid), and parseable values return in the
    * engine's CANONICAL rendering (the form staged writes stamp —
    * `cast(v as string)`), so "0123" under an int key stores as "123"
    * and one logical partition keys one way across adopted and
    * engine-written files. Canonicalization is memoized per distinct
    * (key, spelling) — drops carry few distinct values next to their
    * file count, so a monster drop pays O(distinct) string work, not
    * O(files × keys). Flat drops pass through. */
  private[graft] def canonicalTypedPartitions(
      schema: org.apache.spark.sql.types.StructType,
      src: AdoptSource,
      context: String): Map[String, Map[String, String]] =
    if (!src.isHive) src.partitionsByPath
    else {
      val iceByKey = src.partitionKeys.map { k =>
        val dt = schema.fields.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(
            s"$context: partition-path key $k is not a column of the schema")).dataType
        k -> graft.meta.TableCreator.iceType(dt)
      }.toMap
      val memo = scala.collection.mutable.HashMap.empty[(String, String), String]
      src.partitionsByPath.map { case (p, kv) =>
        p -> kv.map { case (k, v) =>
          k -> memo.getOrElseUpdate((k, v), {
            val ice = iceByKey.getOrElse(k, throw new IllegalArgumentException(
              s"$context: partition-path key $k is not a column of the schema"))
            try graft.meta.TableWriter.canonicalPartitionValue(ice, v)
            catch {
              case e: Exception => throw new IllegalArgumentException(
                s"$context: partition value $k=$v does not parse as $ice", e)
            }
          })
        }
      }
    }

  /** Stage timer for the adoption verbs, active only under
    * GRAFT_ADOPT_DEBUG=1 — prints per-stage wall seconds to stderr so a
    * slow monster drop can be attributed (footer gate vs link vs stats
    * vs commit) without a profiler. */
  private[graft] def adoptTimed[A](label: String)(body: => A): A =
    if (!sys.env.get("GRAFT_ADOPT_DEBUG").contains("1")) body
    else {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(
        f"[adopt] $label%-16s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

  /** Best-effort recursive delete (registration failure cleanup). */
  private[graft] def deleteRecursively(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(dir)) return
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Per-file top-level (column name → footer field id) maps, read
    * EXECUTOR-PARALLEL from the parquet footers (ranged metadata reads,
    * never data pages) — the gate [[Engine.adoptFiles]] runs before
    * letting foreign files into an id-resolved table, and the
    * corruption probe / per-file schema material for both adoption
    * verbs. */
  private[graft] def footerTopLevelIds(
      spark: SparkSession,
      paths: Seq[String]): Map[String, FooterInfo] = {
    import scala.jdk.CollectionConverters._
    if (paths.isEmpty) return Map.empty
    // scale-adaptive task count (a fixed 32-task cap would serialize a
    // million-footer gate on a big cluster)
    val nParts = FooterFacts.footerTaskCount(
      paths.size, spark.sparkContext.defaultParallelism)
    spark.sparkContext
      .parallelize(paths, nParts)
      .mapPartitions(FooterFacts.read)
      .collect().toMap
  }

  /** Build from resolved catalog config via the catalog SPI
    * ([[graft.meta.Catalogs.forConfig]]): filesystem warehouses,
    * REST catalogs and JDBC ("sql") catalogs all produce a working
    * read/analytics engine; the remaining network backends raise
    * through the friendly error taxonomy. DDL/write verbs work for
    * tables whose metadata location is a reachable path, and on
    * POINTER catalogs — JDBC (guarded-UPDATE CAS), REST (the spec's
    * commit endpoint), Glue (VersionId-guarded UpdateTable) and Hive
    * (metastore exclusive lock + alter_table + unlock) — every commit
    * MIRRORS the new metadata version into the catalog's pointer with
    * CAS semantics ([[graft.meta.PointerSync]]), so a fresh client of
    * the same catalog sees each commit. */
  def forConfig(spark: SparkSession, cfg: graft.meta.CatalogConfig): Engine = {
    val cat = graft.meta.Catalogs.forConfig(cfg)
    new Engine(spark, cfg.warehouse.getOrElse(""), cat)
  }

  /** What [[Engine.forget]] touched: the corpus table it deleted from
    * (when given), whether the gate / ANN index were retired, and the
    * ledger's re-clustered surviving members (lazy, affected-bounded).
    * `ledgersRemaining` carries the per-ledger outcomes (ref →
    * remaining) when several ledgers share the corpus — the single
    * `ledger` argument's outcome rides in both. `indexRefs` lists every
    * INDEX table the call landed equality-deletes on (gate, ledgers,
    * ANN — the corpus table is the user's own upkeep concern), in
    * retire order — [[Engine.adviseIndexes]]'s input. */
  final case class ForgetResult(
      corpusDeleted: Option[String],
      gateRetired: Boolean,
      ledgerRemaining: Option[DataFrame],
      annRetired: Boolean,
      ledgersRemaining: Seq[(String, DataFrame)] = Seq.empty,
      indexRefs: Seq[String] = Seq.empty)
}

/** Executor-side parquet FOOTER reader for the adoption gates — a
  * standalone serializable object so the `mapPartitions` closure
  * captures nothing but this module (the enclosing [[Engine]] object is
  * not serializable). */
private[graft] object FooterFacts extends Serializable {

  /** One adoptable file's footer facts: top-level (name → footer field
    * id), a CANONICAL rendering of the full footer schema — name-sorted
    * at every level, LIST/MAP wrapper groups normalized to `list<...>` /
    * `map<...>` (per parquet-mr's backward-compat element rules) so
    * physical encoding variants don't read as schema drift — the
    * NESTED (dotted path → footer id) map for struct members at any
    * depth, the id gate's input for foreign nested tables, plus the
    * per-column compressed byte sizes (dot-path keyed) — the same block
    * metadata [[graft.meta.TableWriter]]'s columnSizes pass reads —
    * the file's record count, and the decoded per-column STATISTICS
    * ([[ColStat]], dot-path keyed): commits derive manifest-entry
    * metrics from these instead of re-reading the data they just
    * wrote/adopted (the same footer-metrics derivation Iceberg's own
    * writers and `add_files` use), so the whole FooterInfo is carried
    * once per file and no footer is ever opened a second time. */
  final case class FooterInfo(
      ids: Map[String, Option[Int]], canon: String,
      nestedIds: Map[String, Option[Int]],
      columnBytes: Map[String, Long] = Map.empty,
      rowCount: Long = 0L,
      colStats: Map[String, ColStat] = Map.empty)

  /** One column chunk-set's footer statistics, merged across row groups
    * and decoded to the JVM value the column's LOGICAL type reads as
    * (Int / Long epoch-micros / Float / Double / Boolean / String — the
    * FILE-width value; the entry builder widens promoted types).
    *
    *  - `nullCount` is None when any chunk left num_nulls unset (ancient
    *    writers) — the caller must aggregate counts for that column.
    *  - `boundsKnown = true` means lo/hi are AUTHORITATIVE: either both
    *    present, or both None because every value is null. `false` means
    *    the footer cannot serve bounds — stats dropped (NaN floats,
    *    >4 KB binary edges, PARQUET-251 corrupt legacy stats), an
    *    undecodable type (INT96, unsigned ints, NANOS/NTZ timestamps),
    *    or a legacy-rebase Spark file — and the caller must aggregate
    *    bounds for that column. A `false` NEVER produces wrong bounds,
    *    only a fallback. */
  final case class ColStat(
      valueCount: Long,
      nullCount: Option[Long],
      lo: Option[Any],
      hi: Option[Any],
      boundsKnown: Boolean)

  import org.apache.parquet.schema.{GroupType, PrimitiveType, Type}
  import org.apache.parquet.schema.LogicalTypeAnnotation.{ListLogicalTypeAnnotation, MapLogicalTypeAnnotation}
  import scala.jdk.CollectionConverters._

  private def isList(g: GroupType): Boolean =
    g.getLogicalTypeAnnotation.isInstanceOf[ListLogicalTypeAnnotation]
  private def isMap(g: GroupType): Boolean =
    g.getLogicalTypeAnnotation.isInstanceOf[MapLogicalTypeAnnotation]

  /** The LIST element per parquet-mr's backward-compat rules: the
    * repeated node IS the element when it is a primitive (2-level), a
    * multi-field group, or a single-field group named `array` /
    * `<list>_tuple` (legacy writers); only the conventional single-field
    * wrapper unwraps one more level (3-level). */
  private def listElement(g: GroupType): Type = {
    val rep = g.getFields.asScala.head
    rep match {
      case rg: GroupType if rg.getFieldCount != 1 => rg
      case rg: GroupType if rg.getName == "array" ||
          rg.getName == s"${g.getName}_tuple" => rg
      case rg: GroupType => rg.getFields.get(0)
      case prim => prim
    }
  }

  /** Primitive rendering keeps the LOGICAL annotation (a BINARY string
    * and a raw binary must not compare equal — the uniformity gate is
    * the only same-name-type-conflict check now that the drop's schema
    * comes from one footer, not a mergeSchema pass). */
  private def prim(t: Type): String = {
    val p = t.asPrimitiveType()
    val len =
      if (p.getPrimitiveTypeName ==
          PrimitiveType.PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY)
        s"[${p.getTypeLength}]"
      else ""
    val ann = Option(p.getLogicalTypeAnnotation)
      .map(a => s" ($a)").getOrElse("")
    s"${p.getPrimitiveTypeName}$len$ann"
  }

  /** Canonical schema rendering: name-sorted members at every level;
    * LIST/MAP wrappers collapse to their element/entry types so 2-level
    * vs 3-level list encodings compare equal. */
  private def canon(t: Type): String = t match {
    case g: GroupType if isList(g) => s"list<${canon(listElement(g))}>"
    case g: GroupType if isMap(g) =>
      val kv = g.getFields.asScala.head.asGroupType()
      s"map<${canon(kv.getFields.get(0))}, ${canon(kv.getFields.get(1))}>"
    case g: GroupType =>
      g.getFields.asScala.map(f => s"${f.getName}: ${canon(f)}")
        .toSeq.sorted.mkString("struct<", ", ", ">")
    case p => prim(p)
  }

  /** Nested (dotted Iceberg path → footer id) for STRUCT MEMBERS at any
    * depth — list elements / map entries carry no ids in Spark-written
    * files (no StructField to hold metadata) and the reader matches
    * them structurally, so only named members record. */
  private def walk(t: Type, path: String,
      out: scala.collection.mutable.Map[String, Option[Int]]): Unit = t match {
    case g: GroupType if isList(g) =>
      walk(listElement(g), s"$path.element", out)
    case g: GroupType if isMap(g) =>
      val kv = g.getFields.asScala.head.asGroupType()
      walk(kv.getFields.get(0), s"$path.key", out)
      walk(kv.getFields.get(1), s"$path.value", out)
    case g: GroupType =>
      g.getFields.asScala.foreach { f =>
        out(s"$path.${f.getName}") = Option(f.getId).map(_.intValue())
        walk(f, s"$path.${f.getName}", out)
      }
    case _ => ()
  }

  /** Per-column compressed byte totals of one parsed footer (dot-path
    * keyed) — THE column_sizes fold, shared by the gate pass here and
    * [[graft.meta.TableWriter]]'s direct footer pass so the two can
    * never report different sizes for identical files. */
  def columnBytesOf(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Map[String, Long] =
    footer.getBlocks.asScala
      .flatMap(_.getColumns.asScala)
      .groupBy(_.getPath.toDotString)
      .map { case (c, chunks) => c -> chunks.map(_.getTotalSize).sum }
      .toMap

  /** Task count for a footer pass over `n` files: one wave across the
    * cluster minimum, ~512 footers per task for monster drops. Shared by
    * the gate pass and TableWriter's columnSizes pass. */
  def footerTaskCount(n: Int, defaultParallelism: Int): Int =
    math.max(1, math.min(n, math.max(defaultParallelism, n / 512)))

  /** Decoded per-column statistics of one parsed footer (dot-path
    * keyed), merged across row groups — the commit stats source. Every
    * undecodable shape degrades to `boundsKnown = false` / `nullCount =
    * None` (an agg fallback for that column), never to a wrong bound. */
  def colStatsOf(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Map[String, ColStat] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.column.statistics.Statistics
    // Spark stamps this key only when it wrote under the LEGACY (julian)
    // datetime rebase: stored day/micros values then differ from what a
    // modern reader returns, so date/timestamp footer bounds are not the
    // values rows read as — fall back for those columns
    val legacyRebase = footer.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.legacyDateTime")
    def decodeBound(pt: org.apache.parquet.schema.PrimitiveType, v: Any): Option[Any] = {
      val ann = pt.getLogicalTypeAnnotation
      pt.getPrimitiveTypeName match {
        case PrimitiveTypeName.INT32 => ann match {
          case null => Some(v)
          case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
            if (legacyRebase) None else Some(v)
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
              if i.isSigned && i.getBitWidth <= 32 => Some(v)
          case _ => None // unsigned ints compare UNSIGNED in footers
        }
        case PrimitiveTypeName.INT64 => ann match {
          case null => Some(v)
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
              if i.isSigned && i.getBitWidth == 64 => Some(v)
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.isAdjustedToUTC && !legacyRebase =>
            // to MICROS (the engine's timestamp width; millis→micros is
            // exact). NANOS would need a lossy floor — fall back.
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(v)
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                Some(v.asInstanceOf[java.lang.Long] * 1000L)
              case _ => None
            }
          case _ => None
        }
        // NaN cannot reach here: parquet-mr drops float/double min/max
        // when it saw a NaN (hasNonNullValue=false → fallback below)
        case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE |
             PrimitiveTypeName.BOOLEAN => Some(v)
        case PrimitiveTypeName.BINARY => ann match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation |
               _: LogicalTypeAnnotation.EnumLogicalTypeAnnotation =>
            Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
          case _ => None // raw binary: never bound-encoded anyway
        }
        case _ => None // INT96 (deprecated stats), FIXED
      }
    }
    footer.getBlocks.asScala
      .flatMap(_.getColumns.asScala)
      .groupBy(_.getPath.toDotString)
      .map { case (path, chunks) =>
        val valueCount = chunks.map(_.getValueCount).sum
        // trust is gated PER CHUNK, never on a merged result:
        // mergeStatistics silently SKIPS chunks whose min/max were
        // dropped (NaN floats, >4 KB binary edges, legacy corruption),
        // so a merge across row groups can look authoritative while
        // covering only the surviving chunks. A chunk is count-trusted
        // when its num_nulls is set; bound-trusted when it carries real
        // min/max OR is provably ALL-NULL (num_nulls == its own value
        // count — such a chunk legitimately contributes no bounds).
        val perChunk: Seq[Option[(Statistics[_], Long)]] = chunks.map { c =>
          Option(c.getStatistics: Statistics[_])
            .filter(s => s.isNumNullsSet && s.getNumNulls >= 0)
            .map(s => (s, c.getValueCount))
        }.toSeq
        val nullCount: Option[Long] =
          if (perChunk.forall(_.isDefined))
            Some(perChunk.flatten.map(_._1.getNumNulls).sum)
          else None
        val boundsEligible = perChunk.forall(_.exists { case (s, vc) =>
          s.hasNonNullValue || s.getNumNulls == vc })
        val valued = perChunk.flatten.map(_._1).filter(_.hasNonNullValue)
        val merged: Option[Statistics[_]] =
          if (!boundsEligible || valued.isEmpty) None
          else Some(valued.reduceLeft[Statistics[_]] { (a, b) =>
            a.copy() match {
              case m: Statistics[t] =>
                m.mergeStatistics(b.asInstanceOf[Statistics[t]])
                m
            }
          })
        // parquet writers ADJUST float/double zero bounds (PARQUET-1222:
        // min +0.0 → -0.0, max -0.0 → +0.0) — sound but not the exact
        // edge value, so a bound AT the signed-zero boundary cannot be
        // trusted verbatim; fall back for that column
        def zeroAdjusted(lo: Any, hi: Any): Boolean = {
          def isNegZero(v: Any) = v match {
            case f: java.lang.Float =>
              java.lang.Float.floatToRawIntBits(f) == Int.MinValue
            case d: java.lang.Double =>
              java.lang.Double.doubleToRawLongBits(d) == Long.MinValue
            case _ => false
          }
          def isPosZero(v: Any) = v match {
            case f: java.lang.Float => java.lang.Float.floatToRawIntBits(f) == 0
            case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d) == 0L
            case _ => false
          }
          isNegZero(lo) || isPosZero(hi)
        }
        // string bounds truncate EXECUTOR-SIDE to the manifest's own
        // 16-code-point discipline (idempotent with the entry encoder's
        // truncation), so a monster text drop's collected facts stay
        // metadata-scale instead of carrying up-to-4KB edge values
        def truncSide(v: Any, upper: Boolean): Any = v match {
          case s: String =>
            if (upper) graft.meta.TableWriter.truncateUpper(s)
            else graft.meta.TableWriter.truncateLower(s)
          case other => other
        }
        val (lo, hi, known) = merged match {
          case Some(m) =>
            val pt = chunks.head.getPrimitiveType
            (decodeBound(pt, m.genericGetMin), decodeBound(pt, m.genericGetMax)) match {
              case (Some(a), Some(b)) if zeroAdjusted(a, b) => (None, None, false)
              case (Some(a), Some(b)) =>
                (Some(truncSide(a, upper = false)), Some(truncSide(b, upper = true)), true)
              case _ => (None, None, false)
            }
          // authoritative no-bounds: every chunk is count-trusted and
          // provably all-null, so there are no values to bound
          case None if boundsEligible && nullCount.contains(valueCount) =>
            (None, None, true)
          // some chunk's stats were dropped (NaN floats, >4 KB binary
          // edges, legacy corruption) — the agg must serve this column
          case None => (None, None, false)
        }
        path -> ColStat(valueCount, nullCount, lo, hi, known)
      }
      .toMap
  }

  /** The full footer-facts fold of one parsed footer — schema gate
    * material, per-column sizes, record count and decoded statistics in
    * ONE visit; [[read]] (the executor gate pass) and TableWriter's
    * driver-side footer path both ride it so a file's facts can never
    * differ by code path. */
  def infoOf(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): FooterInfo = {
    val schema = footer.getFileMetaData.getSchema
    val fields = schema.getFields.asScala
    val nested = scala.collection.mutable.Map.empty[String, Option[Int]]
    fields.foreach(f => walk(f, f.getName, nested))
    FooterInfo(
      fields.map(f => f.getName -> Option(f.getId).map(_.intValue())).toMap,
      fields.map(f => s"${f.getName}: ${canon(f)}")
        .toSeq.sorted.mkString(", "),
      nested.toMap,
      columnBytesOf(footer),
      footer.getBlocks.asScala.map(_.getRowCount).sum,
      colStatsOf(footer))
  }

  /** The executor-side partition function: ranged footer metadata reads,
    * never data pages. The Hadoop `Configuration` is built ONCE per
    * partition (its XML-resource parse, ~7 ms, dominated a 10k-footer
    * gate pass ~60× over the footer reads themselves — the cost hidden
    * inside the argless `ParquetFileReader.open(file)`); read OPTIONS
    * still build per file from that shared conf (microseconds), so
    * path-dependent options (per-file decryption properties) resolve
    * against each file's own path. */
  def read(it: Iterator[String]): Iterator[(String, FooterInfo)] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    it.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(p), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in,
        org.apache.parquet.HadoopReadOptions.builder(conf, in.getPath).build())
      try p -> infoOf(r.getFooter)
      finally r.close()
    }
  }
}

/** Open to extension so callers (and the race specs) can interpose on
  * individual reads — every mutation still funnels through the
  * version-CAS'd commit path, which subclassing cannot bypass. */
class Engine(val spark: SparkSession, warehouseDir: String,
    val catalog: graft.meta.MetaCatalog) {

  /** Filesystem-warehouse engine (the common case, and the reference's
    * default layout). */
  def this(spark: SparkSession, warehouseDir: String) =
    this(spark, warehouseDir, new graft.meta.FsCatalog(warehouseDir))

  def tableDir(ref: String): String = catalog.tableLocation(ref)

  /** Run a COMMIT-PRODUCING verb body against `ref`'s table directory,
    * then MIRROR the committed metadata version into the catalog's
    * pointer ([[graft.meta.PointerSync.sync]] — a no-op for the
    * filesystem catalog, whose version listing IS the pointer). Without
    * the mirror, a table written through a JDBC/REST-cataloged engine
    * serves stale metadata to every other client of that catalog. The
    * mirror is monotonic and self-healing: a verb that committed
    * nothing (or a pointer left behind by an earlier crash) simply
    * advances the pointer to the path-latest version. */
  private def committing[A](ref: String)(body: String => A): A = {
    val dir = tableDir(ref)
    val out = body(dir)
    graft.meta.PointerSync.sync(catalog, ref, dir)
    out
  }

  def load(ref: String): IcebergTable = {
    Engine.loadCensus.incrementAndGet()
    catalog.loadTable(ref)
  }

  /** S2 — namespace walk (through the catalog SPI, so REST/JDBC-backed
    * engines list what their catalog serves). */
  def listTables(): DataFrame = {
    import spark.implicits._
    catalog.listTables().toDF("namespace", "table_name")
      .orderBy("namespace", "table_name")
  }

  /** Per-table metadata facts through the catalog: the filesystem
    * catalog keeps the one-walk fast path; other catalogs load each
    * table's metadata concurrently (driver Futures, order-preserving). */
  private def tableFactsDf: org.apache.spark.sql.DataFrame =
    if (warehouseDir.nonEmpty) Overview.tableFacts(spark, warehouseDir)
    else Overview.tableFactsFromCatalog(spark, catalog)

  /** A8 — one-row table summary (ref `formatters.py:940-979`). */
  def summary(ref: String): DataFrame = {
    val t = load(ref)
    val files = MetaRelations.files(spark, t)
    val md = t.metadata
    files.agg(
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

  /** W1 — recent operations: newest 5 snapshots (ref `formatters.py:952-965`). */
  def recentOps(ref: String): DataFrame =
    Rollups.topK(
      snapshots(ref).select("snapshot_id", "timestamp_ms", "operation"),
      5, col("timestamp_ms").desc, col("snapshot_id"))

  def files(ref: String, snapshotId: Option[Long] = None): DataFrame =
    MetaRelations.files(spark, load(ref), snapshotId)

  /** Live v2 delete-file entries (position/equality deletes) — the census
    * counterpart of [[files]]; non-empty means compaction is recommended
    * (ref `formatters.py:452-462`). */
  def deleteFiles(ref: String, snapshotId: Option[Long] = None): DataFrame =
    MetaRelations.deleteFiles(spark, load(ref), snapshotId)

  def snapshots(ref: String): DataFrame =
    MetaRelations.snapshots(spark, load(ref))

  /** Spark-Iceberg `t.history` analog: snapshots + current-ancestor flag. */
  def history(ref: String): DataFrame =
    MetaRelations.history(spark, load(ref)).orderBy("made_current_at_ms")

  /** Spark-Iceberg `t.metadata_log_entries` analog. */
  def metadataLog(ref: String): DataFrame =
    MetaRelations.metadataLog(spark, tableDir(ref))

  /** Spark-Iceberg `t.refs` analog: named branches/tags. */
  def refs(ref: String): DataFrame =
    MetaRelations.refs(spark, load(ref))

  def manifests(ref: String, snapshotId: Option[Long] = None): DataFrame =
    MetaRelations.manifests(spark, load(ref), snapshotId)

  def partitions(ref: String): DataFrame =
    MetaRelations.partitions(files(ref))

  /** Spark-Iceberg `t.entries` analog: every manifest entry incl.
    * deleted tombstones, with the owning manifest path. */
  def entries(ref: String, snapshotId: Option[Long] = None): DataFrame =
    MetaRelations.entries(spark, load(ref), snapshotId)

  /** Spark-Iceberg `t.all_data_files` analog: live data files referenced
    * by ANY snapshot still in the metadata. */
  def allFiles(ref: String): DataFrame =
    MetaRelations.allFiles(spark, load(ref))

  /** Spark-Iceberg `t.all_manifests` analog: (snapshot, manifest) pairs
    * across the whole snapshot log. */
  def allManifests(ref: String): DataFrame =
    MetaRelations.allManifests(spark, load(ref))

  /** Flattened table overview — format version, location, UUID, current
    * schema, partition spec, sort order, and properties as (section,
    * name, value) rows (the reference's `table-info` command,
    * `cli.py` `table_info`: same flattened render shape as its
    * JSON/CSV output). Pure metadata — no file scan. */
  def tableInfo(ref: String): DataFrame = {
    import spark.implicits._
    val md = load(ref).metadata
    val overview = Seq(
      ("overview", "table_name", ref),
      ("overview", "location", md.location),
      ("overview", "table_uuid", md.tableUuid),
      ("overview", "format_version", md.formatVersion.toString),
      ("overview", "current_snapshot_id",
        md.currentSnapshotId.map(_.toString).getOrElse("")),
      ("overview", "snapshot_count", md.snapshots.size.toString),
      ("overview", "last_updated_ms", md.lastUpdatedMs.toString))
    val schema = md.currentSchema.fields.map(f =>
      ("schema", f.name, s"${f.fieldType}${if (f.required) "" else " (optional)"}"))
    val spec = md.currentSpec.fields.map(f =>
      ("partition_spec", f.name, f.transform))
    val sort = md.defaultSortOrder.toSeq.flatMap(_.fields.map(f =>
      ("sort_order", s"field_${f.sourceId}", s"${f.transform} ${f.direction} ${f.nullOrder}")))
    val props = md.properties.toSeq.sortBy(_._1).map { case (k, v) =>
      ("properties", k, v)
    }
    (overview ++ schema ++ spec ++ sort ++ props)
      .toDF("section", "name", "value")
  }

  /** Deep dive into one snapshot: its manifest-list entries with live
    * entry counts (the reference's `snapshot <table> <id>` detail view). */
  def snapshotDetail(ref: String, snapshotId: Long): DataFrame = {
    val t = load(ref)
    require(t.metadata.snapshot(snapshotId).isDefined,
      s"snapshot $snapshotId not found in $ref")
    MetaRelations.manifests(spark, t, Some(snapshotId))
  }

  /** Environment / configuration diagnosis as (check, status, detail)
    * rows — the reference's `doctor` command: warehouse reachability,
    * table census, engine session facts, and which catalog settings are
    * present in the environment (network backends surface as typed
    * errors when used; doctor only REPORTS their configuration). */
  def doctor(): DataFrame = {
    import spark.implicits._
    val census =
      if (warehouseDir.isEmpty) {
        // network-catalog-backed engine (REST/Glue/Hive/JDBC): there is
        // no warehouse directory to stat — the meaningful health check is
        // whether the catalog answers a listing
        try {
          val n = catalog.listTables().size
          ("catalog", if (n > 0) "OK" else "WARN",
            s"${catalog.name} (${n} tables)")
        } catch {
          case e: Exception =>
            ("catalog", "FAIL", s"${catalog.name} unreachable: ${e.getMessage}")
        }
      } else if (!java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(warehouseDir)))
        ("warehouse", "FAIL", s"$warehouseDir is not a directory")
      else {
        val n = listTables().count()
        ("warehouse", if (n > 0) "OK" else "WARN",
          s"$warehouseDir (${n} tables)")
      }
    val session = Seq(
      ("spark", "OK", s"version ${spark.version}, master ${spark.sparkContext.master}"),
      ("shuffle_partitions", "OK",
        spark.conf.get("spark.sql.shuffle.partitions")),
      ("ansi_mode", "OK", spark.conf.get("spark.sql.ansi.enabled", "true")))
    val catalogEnv = Seq("ICEBERG_META_URI", "ICEBERG_META_WAREHOUSE").map { k =>
      sys.env.get(k) match {
        case Some(_) => (k.toLowerCase, "OK", "set (value hidden)")
        case None    => (k.toLowerCase, "INFO", "not set — filesystem catalog")
      }
    }
    val cfgFile = graft.meta.CatalogConfig.defaultPath
    val cfg =
      if (java.nio.file.Files.exists(cfgFile))
        Seq(("config_file", "OK", cfgFile.toString))
      else Seq(("config_file", "INFO", s"$cfgFile absent — defaults in use"))
    val dotenvKeys = graft.meta.CatalogConfig.loadDotEnv().keySet
    val dotenv =
      if (dotenvKeys.nonEmpty)
        Seq((".env", "OK", s"${dotenvKeys.size} variables (values hidden)"))
      else Seq((".env", "INFO", "no .env in working directory"))
    (Seq(census) ++ session ++ catalogEnv ++ cfg ++ dotenv)
      .toDF("check", "status", "detail")
  }

  /** Maintenance ADVISOR: one row per upkeep action with whether the
    * table's current metadata recommends running it and why — the
    * actionable extension of the reference's advisory flags
    * (`compaction_recommended`, stale/hog warnings): the reference can
    * only tell the user to run maintenance elsewhere; this engine names
    * the verb that fixes it. Driver-side over metadata-scale state —
    * no Spark job. */
  def advise(ref: String): DataFrame = {
    import spark.implicits._
    val t = load(ref)
    val files = t.files()
    val dels = t.deleteFiles()
    val manifests = t.manifests().filter(_.content == 0)
    val smallByPartition = files
      .filter(_.fileSizeInBytes < graft.ops.MetaHealth.SmallFileBytes)
      .groupBy(_.partition).map(_._2.size)
    val smallGroups = smallByPartition.count(_ >= 2)
    val nSnapshots = t.metadata.snapshots.size
    val orphans = Maintenance.orphanFiles(tableDir(ref)).size
    val hasNdv = graft.ops.Stats.storedNdv(t).nonEmpty
    val te = Maintenance.DefaultTargetEntries
    val targetManifests = math.max(1, (files.size + te - 1) / te)
    def row(action: String, hit: Boolean, why: String) =
      (action, if (hit) "RECOMMENDED" else "OK", why)
    Seq(
      row("compact", smallGroups > 0,
        if (smallGroups > 0) s"$smallGroups partition(s) hold ≥2 sub-32MB files"
        else "no partition holds 2+ small files"),
      // MoR deletes are folded into rewritten files by INCREMENTAL
      // compaction (prune-deletes only drops the then-dangling entries) —
      // name the verb that actually clears the state
      row("compact-incremental", dels.nonEmpty,
        if (dels.nonEmpty) s"${dels.size} delete file(s) pending merge-on-read " +
          "— fold via incremental compaction, then prune-deletes"
        else "no delete files"),
      {
        // legacy (sequence = -1) entries resolve delete scoping through
        // the snapshot log, so their snapshots are PINNED against
        // expiration until rewrite-manifests materializes the sequences
        // onto the entries (the WR20 upgrade note)
        val legacy = (files ++ dels).count(_.sequenceNumber < 0)
        // round 18: summary-less data manifests on a summarizable spec
        // can't be SKIPPED by manifest-level pruning — rewrite packs
        // them partition-sorted and stamps the field summaries (where
        // the entries carry the keys)
        // same convergence guard as Maintenance.rewriteManifests: only
        // flag when a rewrite would actually stamp summaries
        val unsummarized =
          if (manifests.exists(_.partitions.isEmpty) &&
              graft.meta.ManifestSummaries.of(
                t.metadata, t.metadata.currentSpec.specId, files).nonEmpty)
            manifests.count(_.partitions.isEmpty)
          else 0
        row("rewrite-manifests",
          manifests.size > targetManifests || legacy > 0 || unsummarized > 0,
          if (legacy > 0)
            s"$legacy legacy entr${if (legacy == 1) "y" else "ies"} without a " +
              "stamped data_sequence_number — legacy entries pin snapshots " +
              "against expiration until rewrite materializes sequences"
          else if (unsummarized > 0)
            s"$unsummarized data manifest(s) without partition field " +
              "summaries — scan planning cannot skip them until rewrite " +
              "stamps summary ranges"
          else s"${manifests.size} data manifest(s) for ${files.size} files " +
            s"(target ≤ $targetManifests)")
      },
      row("expire", nSnapshots >= 50,
        s"$nSnapshots snapshot(s) in the log" +
          (if (nSnapshots >= 50) " — snapshot hog (reference threshold 50)" else "")),
      row("orphans --remove", orphans > 0,
        if (orphans > 0) s"$orphans unreferenced file(s) under data/"
        else "no orphan files"),
      row("analyze", !hasNdv,
        if (hasNdv) "NDV statistics present"
        else "no stored NDV statistics — ANALYZE enables better planning"),
      // legacy (pre-field-id) tables read columns by NAME: a rename
      // would surface pre-rename files' data as null. Migration must
      // run BEFORE any rename (it rewrites under the current names).
      row("migrate-field-ids",
        !graft.meta.FieldIds.tableHasIds(t.metadata),
        if (graft.meta.FieldIds.tableHasIds(t.metadata))
          "files carry parquet field ids (rename-safe reads)"
        else "table files lack parquet field ids — run migrateToFieldIds " +
          "BEFORE any column rename (a rename on a name-resolved table " +
          "reads null from pre-rename files)"))
      .++(
        // ANN-index tables carry a frozen coarse quantizer: the drift
        // canary compares admission occupancy against the bootstrap
        // distribution and names the rebuild when they diverge
        graft.ops.AnnIndex.drift(t, Some(spark)).map(d =>
          row("ann-rebuild", d.recommended, d.reason)))
      .toDF("action", "status", "reason")
  }

  def schemaHistory(ref: String): DataFrame =
    MetaRelations.schemas(spark, load(ref))

  /** J2 — diff two schema versions by field id (ref `tui/widgets.py:310-350`). */
  def schemaDiff(ref: String, oldId: Int, newId: Int): DataFrame = {
    val all = schemaHistory(ref)
    SchemaDiff.diff(
        all.filter(col("schema_id") === oldId)
          .select(col("field_id"),
            concat_ws(":", col("field_name"), col("field_type"), col("required"))
              .as("attr")),
        all.filter(col("schema_id") === newId)
          .select(col("field_id"),
            concat_ws(":", col("field_name"), col("field_type"), col("required"))
              .as("attr")),
        "field_id", "attr")
      .orderBy("field_id")
  }

  /** The flagship health report, computed eagerly by one fold over the
    * live entries ([[MetaHealth.report]]); nothing is cached. */
  def health(ref: String): HealthReport = MetaHealth.report(spark, load(ref))

  def diff(ref: String, snap1: Long, snap2: Long): DiffReport =
    MetaDiff.diff(spark, load(ref), snap1, snap2)

  /** Incremental changelog scan: per-snapshot added/deleted file rows
    * across the parent-pointer chain `(fromSnap, toSnap]` (ref snapshot
    * walk `formatters.py:156-173`) — [[MetaDiff]] composed over each
    * consecutive parent→child pair, one unioned relation out. */
  def changes(ref: String, fromSnap: Long, toSnap: Long): DataFrame =
    MetaDiff.changes(spark, load(ref), fromSnap, toSnap)

  /** Row-level change data feed over `(fromSnap, toSnap]`
    * ([[ChangeFeed.rowChanges]]): every committed row change as
    * `_change_type` insert/delete rows, reading ONLY the files each
    * commit touched. */
  def rowChanges(ref: String, fromSnap: Long, toSnap: Long,
      net: Boolean = false): DataFrame =
    ChangeFeed.rowChanges(spark, load(ref), fromSnap, toSnap, net)

  /** The TUI metadata-tree data (ref `formatters.py:1195-1307`): one row
    * per manifest with entry stats, share of total rows (A13 "45% of
    * rows") and the size-color class vs the average file size (W8). */
  def tree(ref: String, snapshotId: Option[Long] = None): DataFrame = {
    val t = load(ref)
    val perManifest = {
      val rows = t.manifests(snapshotId).map { m =>
        val entries = t.manifestEntries(m.manifestPath).filter(_.status != 2)
        (m.manifestPath, m.content, entries.size.toLong,
          entries.map(_.recordCount).sum, entries.map(_.fileSizeInBytes).sum)
      }
      spark.createDataFrame(rows)
        .toDF("manifest_path", "content", "file_count", "row_count", "total_bytes")
    }
    // GLOBAL-WINDOW BOUND: perManifest is a DRIVER-BUILT local relation
    // with one row per manifest (metadata-scale); the empty-partition
    // window never sees data rows.
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    perManifest
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

  /** Namespace health fan-out (ref `cli.py:1131-1163` `health --namespace`):
    * one report per table in the namespace. Reports build concurrently —
    * Spark job submission is thread-safe, and each table's health is an
    * independent metadata-scale query, so the fan-out is latency-bound,
    * not compute-bound. */
  def healthNamespace(namespace: String): Map[String, HealthReport] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val refs = listTables()
      .filter(col("namespace") === namespace)
      .collect()
      .map(r => s"${r.getString(0)}.${r.getString(1)}")
      .toList
    Await.result(
      Future.traverse(refs)(ref => Future(ref -> health(ref))),
      scala.concurrent.duration.Duration.Inf).toMap
  }

  def namespaceOverview(): DataFrame =
    Overview.namespaceRollup(tableFactsDf)

  /** P7/A11 — format-version census over the warehouse: v1 and v2 tables
    * both parse, so mixed warehouses count correctly
    * (ref `tui/widgets.py:996-1001`, `formatters.py:1438-1494`). */
  def formatVersionCensus(): DataFrame =
    Overview.formatVersionCensus(tableFactsDf)

  def warehouseOverview(): DataFrame =
    Overview.warehouseRollup(tableFactsDf)

  def watchPoll(ref: String, seen: Set[Long]): Watch.Poll =
    Watch.poll(spark, tableDir(ref), seen)

  // ---- write/commit path (the engine-native analog of the reference's
  // pyiceberg writes, demo.py:34-181; see graft.meta.TableWriter) ----

  /** Append `df` as a new snapshot of `ref`; `branch = Some(name)`
    * commits onto that branch ref, leaving the main line untouched. */
  def append(ref: String, df: DataFrame,
      branch: Option[String] = None): graft.meta.TableWriter.CommitResult =
    committing(ref)(d => graft.meta.TableWriter.append(spark, d, df, branch))

  /** STAGE an append without publishing it (write-audit-publish): the
    * snapshot lands in the log tagged `wap.id = wapId` but no pointer
    * moves — readers see nothing. Audit it via the snapshot-pinned reads
    * (`readTable(ref, Some(id))`, `files(ref, Some(id))`), then
    * [[publishWap]]/[[cherrypick]] to publish, or leave it for snapshot
    * expiration to reclaim. */
  def appendStaged(ref: String, df: DataFrame,
      wapId: String): graft.meta.TableWriter.CommitResult =
    committing(ref)(d => graft.meta.TableWriter.append(spark, d, df,
      wapId = Some(wapId)))

  /** Publish a staged snapshot onto the main line (metadata-only;
    * fast-forward when the base hasn't moved, re-apply otherwise). */
  def cherrypick(ref: String, snapshotId: Long): Maintenance.CherrypickResult =
    committing(ref)(d => Maintenance.cherrypick(d, snapshotId))

  /** Publish the staged snapshot carrying `wap.id = wapId`. */
  def publishWap(ref: String, wapId: String): Maintenance.CherrypickResult = {
    val matches = load(ref).metadata.snapshots
      .filter(_.summary.get("wap.id").contains(wapId))
    require(matches.nonEmpty, s"no staged snapshot with wap.id '$wapId' on $ref")
    cherrypick(ref, matches.map(_.snapshotId).max)
  }

  /** Replace `ref`'s live data with `df` (prior snapshots stay readable). */
  def overwrite(ref: String, df: DataFrame): graft.meta.TableWriter.CommitResult =
    committing(ref)(d => graft.meta.TableWriter.overwrite(spark, d, df))

  /** Row-level DELETE FROM, merge-on-read: matching rows are recorded as
    * a position-delete file in a new `delete` snapshot — no data files
    * rewritten. None when nothing matches. */
  def deleteWhere(ref: String, predicate: org.apache.spark.sql.Column): Option[graft.meta.TableWriter.CommitResult] =
    committing(ref)(d => graft.meta.TableWriter.deleteWhere(spark, d, predicate))

  /** Row-level DELETE, COPY-ON-WRITE mode: matching files are rewritten
    * without the matching rows (one replace snapshot, table stays
    * delete-free — the mode behind SQL `DELETE FROM`). */
  def deleteWhereCopyOnWrite(ref: String, predicate: org.apache.spark.sql.Column): Option[graft.meta.TableWriter.CommitResult] =
    committing(ref)(d => Delete.copyOnWrite(spark, d, predicate))

  /** Row-level UPDATE, copy-on-write: matching files rewritten with
    * `assignments` applied to matching rows (all right-hand sides see
    * the original row values). */
  def updateWhere(ref: String, predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Option[graft.meta.TableWriter.CommitResult] =
    committing(ref)(d => Delete.updateWhere(spark, d, predicate, assignments))

  /** MERGE-style upsert keyed on `keyCols`: one commit appends `df` and
    * equality-deletes earlier rows with matching keys (merge-on-read).
    * `expectedCurrentSnapshotId` makes it CAS-conditional for rows
    * derived from a pinned snapshot read ([[graft.meta.TableWriter.upsert]]). */
  def upsert(ref: String, df: DataFrame, keyCols: Seq[String],
      expectedCurrentSnapshotId: Option[Long] = None): graft.meta.TableWriter.CommitResult =
    committing(ref)(d => graft.meta.TableWriter.upsert(spark, d, df, keyCols,
      expectedCurrentSnapshotId))

  /** ROW DELTA — upsert whose delete-key set is independent of the
    * inserted rows (deletion-only keys vanish; empty `df` = pure keyed
    * delete); one merge-on-read commit
    * ([[graft.meta.TableWriter.rowDelta]]). */
  def rowDelta(ref: String, df: DataFrame, keyCols: Seq[String],
      deleteKeys: DataFrame,
      expectedCurrentSnapshotId: Option[Long] = None): graft.meta.TableWriter.CommitResult =
    committing(ref)(d => graft.meta.TableWriter.rowDelta(spark, d, df, keyCols,
      deleteKeys, expectedCurrentSnapshotId))

  /** FORGET documents — ONE verb for corpus deletion /
    * right-to-be-forgotten across every piece of standing state, in the
    * REQUIRED order (previously only a doc-comment contract scattered
    * over the retire methods; a caller sequencing them by hand and
    * retiring the ledger before the gate gets residual pairs polluted
    * by the deleted docs' ghost signatures):
    *
    *   1. `corpusRef` rows drop — one keyed equality-delete commit
    *      (merge-on-read, scale-safe for id frames of any size; the
    *      delete keys distribute like any other frame);
    *   2. the near-dup GATE's band signatures drop
    *      ([[graft.ops.NearDupIndex.retire]]) — future probes stop
    *      colliding with ghosts, and the gate's `pairsAmong` stops
    *      seeing retired docs' edges, which step 3 depends on;
    *   3. the component LEDGER's affected components re-cluster over
    *      residual pairs ([[graft.ops.ComponentIndex.retireWithRetry]] —
    *      splits fall out, equal to the from-scratch closure over the
    *      survivors); the provider defaults to the retired gate's
    *      `pairsAmong` (valid for CORPUS ledgers; above its literal
    *      threshold the provider switches to a broadcast-join read, so
    *      a mass deletion hitting a giant dup component stays off the
    *      driver). For a GATE-COMPOSED ledger (rejected docs hold
    *      provenance rows but no gate signatures) pass `ledgerPairs =
    *      Some(Dedup.pairsFromDocs(docs, gate.numPerm,
    *      gate.rowsPerBand))` — the gate's own provider would silently
    *      degrade rejected docs to singletons, and mismatched signature
    *      parameters would silently change the collision set;
    *   4. the ANN index stops serving the vectors
    *      ([[graft.ops.AnnIndex.retire]]; quantizer untouched).
    *
    * Every step is one commit on its own table; steps for absent state
    * are skipped. `ids` is a one-column frame named `idColumn`. Returns
    * what happened per surface; `ledgerRemaining` is the re-clustered
    * post-retire assignment of the affected components' surviving
    * members (lazy, affected-bounded).
    *
    * MULTIPLE ledgers over one corpus (e.g. a minhash ledger AND a
    * semantic ledger): pass `ledgers` — each `(ledger, provider)` pair
    * re-clusters in order, after the gate retire and before the ANN
    * retire, so every provider sees a ghost-free gate; the providers
    * are explicit per ledger because the two edge semantics (band
    * collisions vs within-cluster cosine) are never interchangeable.
    * Per-ledger outcomes land in `ledgersRemaining`.
    *
    * UPKEEP: every step here lands equality-delete files, pushing the
    * touched tables' reads onto the merge-on-read fallback path until
    * compaction folds them — a deployment running daily compliance
    * batches should follow up with [[adviseIndexes]] on the result
    * (it names `compact-incremental` + prune-deletes per touched index
    * table) or schedule `compact`/[[pruneDanglingDeletes]] directly.
    *
    * STREAMING gates and forget-consistency: the persisted-index
    * streams ([[graft.ops.NearDupIndex.admitStream]],
    * [[graft.ops.AnnIndex.admitStream]]) re-read their table every
    * micro-batch, so the first batch after this call stops colliding
    * with forgotten state — no restart needed; `dedupStream`'s digest
    * state self-expires with its watermark. The one stale shape is
    * [[graft.streaming.EventStreams.nearDupStream]], which gates
    * against a STATIC snapshot of the band index captured at stream
    * start: it keeps serving the forgotten docs' ghost signatures
    * (over-flagging, never under-) until the stream restarts. */
  def forget(
      ids: DataFrame,
      corpusRef: Option[String] = None,
      gate: Option[graft.ops.NearDupIndex] = None,
      ledger: Option[graft.ops.ComponentIndex] = None,
      annIndex: Option[graft.ops.AnnIndex] = None,
      ledgerPairs: Option[DataFrame => DataFrame] = None,
      ledgers: Seq[(graft.ops.ComponentIndex, DataFrame => DataFrame)] = Seq.empty,
      idColumn: String = "doc_id"): Engine.ForgetResult = {
    require(ledger.isEmpty || ledgerPairs.nonEmpty || gate.nonEmpty,
      "forget: a component ledger needs residual pairs — pass a gate " +
        "(corpus ledger) or ledgerPairs = Dedup.pairsFromDocs(docs) " +
        "(gate-composed ledger)")
    val rids = ids.select(col(idColumn).as("doc_id")).distinct()
      .localCheckpoint()
    val corpusDeleted = corpusRef.map { ref =>
      rowDelta(ref, readTable(ref).limit(0), Seq(idColumn),
        rids.select(col("doc_id").as(idColumn)))
      ref
    }
    gate.foreach(_.retire(rids))
    val ledgerJobs = ledger.map { l =>
      l -> ledgerPairs
        .getOrElse((members: DataFrame) => gate.get.pairsAmong(members))
    }.toSeq ++ ledgers
    val ledgersRemaining = ledgerJobs.map { case (l, provider) =>
      l.ref -> l.retireWithRetry(rids, provider)
    }
    annIndex.foreach(_.retire(rids.select(col("doc_id").as("vec_id"))))
    val result = Engine.ForgetResult(corpusDeleted, gate.nonEmpty,
      ledger.flatMap(l => ledgersRemaining.find(_._1 == l.ref).map(_._2)),
      annIndex.nonEmpty,
      ledgersRemaining,
      gate.map(_.ref).toSeq ++ ledgerJobs.map(_._1.ref) ++
        annIndex.map(_.ref).toSeq)
    // every index table this call committed to mirrors its new version
    // into a pointer catalog (the corpus delete synced through rowDelta)
    result.indexRefs.distinct.foreach(r =>
      graft.meta.PointerSync.sync(catalog, r, tableDir(r)))
    result
  }

  /** [[forget]] with driver-known ids. */
  def forget(ids: Seq[Long], corpusRef: Option[String],
      gate: Option[graft.ops.NearDupIndex],
      ledger: Option[graft.ops.ComponentIndex],
      annIndex: Option[graft.ops.AnnIndex],
      ledgerPairs: Option[DataFrame => DataFrame],
      idColumn: String): Engine.ForgetResult = {
    val s2 = spark
    import s2.implicits._
    forget(ids.toDF("doc_id").select(col("doc_id").as(idColumn)),
      corpusRef, gate, ledger, annIndex, ledgerPairs,
      idColumn = idColumn)
  }

  /** Index UPKEEP advice for the tables a [[forget]] (or any retire
    * loop) touched: one [[advise]] row-set per touched index table,
    * prefixed with the table ref. The connection forget itself cannot
    * make in-line: retires land equality-delete files on the gate /
    * ledger / ANN tables, and until `compact-incremental` folds them
    * (then prune-deletes drops the dangling entries) every read of
    * those indexes pays the merge-on-read anti-join path — a daily
    * compliance batch quietly degrades all three indexes' scan paths
    * without this check. Driver-side metadata work, no Spark job. */
  def adviseIndexes(r: Engine.ForgetResult): DataFrame = {
    require(r.indexRefs.nonEmpty,
      "adviseIndexes: the forget touched no index tables")
    r.indexRefs.distinct.map(ref =>
        advise(ref).withColumn("table", lit(ref))
          .select("table", "action", "status", "reason"))
      .reduce(_.unionAll(_))
  }

  /** Bootstrap an empty table (engine-native `CREATE TABLE`;
    * [[graft.meta.TableCreator]]). `partitionDecls` use the transform
    * declaration syntax: `col`, `bucket[N](col)`, `truncate[W](col)`. */
  def createTable(
      ref: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionDecls: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty): Unit = {
    // a pointer catalog cannot resolve an UNREGISTERED ref to a path —
    // new tables land under its warehouse convention and register
    // through the same pointer CAS every commit mirrors through
    val dir = catalog match {
      case pc: graft.meta.PointerCatalog =>
        if (pc.metadataPointer(ref).isDefined) tableDir(ref)
        else pc.createLocation(ref)
      case _ => tableDir(ref)
    }
    graft.meta.TableCreator.create(dir, schema, partitionDecls, properties)
    graft.meta.PointerSync.sync(catalog, ref, dir)
  }

  /** STREAMING INGEST: commit each micro-batch of `stream` as an append
    * snapshot of `ref` — the continuous-write half of the streaming
    * loop whose read half is the changelog source
    * ([[graft.streaming.ChangelogProvider]]). Restart-idempotent: every
    * commit records its micro-batch id in the snapshot summary
    * (`streaming-batch-id`), and a re-delivered batch (foreachBatch is
    * at-least-once across restarts) is skipped, so each batch lands
    * exactly once. Scale shape: per batch, exactly the
    * [[graft.meta.TableWriter.append]] distributed commit.
    *
    * The returned query runs until stopped; pass a durable
    * `checkpointDir` to survive restarts. */
  def appendStream(
      ref: String,
      stream: DataFrame,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the STABLE streaming query id (persisted in the checkpoint, so
        // restarts keep it) — set as a local property by StreamExecution
        // on the micro-batch thread foreachBatch runs on
        val queryId = Option(batch.sparkSession.sparkContext
          .getLocalProperty("sql.streaming.queryId")).getOrElse(checkpointDir)
        commitStreamBatch(ref, batch, batchId, queryId); ()
      }
      .start()

  /** One micro-batch commit: append with (query id, batch id) stamped
    * into the snapshot summary; skip ids at or below the last one THIS
    * query committed. Two queries writing the same table have disjoint
    * id spaces (Iceberg stamps both too), so one query's progress never
    * suppresses the other's commits. The high-water mark is ALSO
    * persisted as a table property in the same atomic commit —
    * snapshot expiration can remove every streaming snapshot, and
    * without the property a re-delivered batch would double-commit.
    * Returns None for skipped or empty batches. */
  private[graft] def commitStreamBatch(
      ref: String, batch: DataFrame, batchId: Long,
      queryId: String = "default"): Option[graft.meta.TableWriter.CommitResult] = {
    val dir = tableDir(ref)
    val watermarkKey = s"streaming.$queryId.last-batch-id"
    val md = graft.meta.IcebergMeta.load(dir)
    val lastCommitted = (
      md.properties.get(watermarkKey).map(_.toLong) ++
      md.snapshots.filter(_.summary.get("streaming-query-id").contains(queryId))
        .flatMap(_.summary.get("streaming-batch-id")).map(_.toLong) ++
      // legacy snapshots (batch id stamped, no query id — written before
      // per-query keying existed) belonged to the then-only query: count
      // them toward every query's watermark, or a post-upgrade restart
      // re-commits its re-delivered batch as duplicates
      md.snapshots.filterNot(_.summary.contains("streaming-query-id"))
        .flatMap(_.summary.get("streaming-batch-id")).map(_.toLong)
    ).maxOption
    if (lastCommitted.exists(batchId <= _) || batch.isEmpty) None
    else {
      val res = graft.meta.TableWriter.append(spark, dir, batch,
        extraSummary = Map(
          "streaming-batch-id" -> batchId.toString,
          "streaming-query-id" -> queryId),
        extraProperties = Map(watermarkKey -> batchId.toString))
      graft.meta.PointerSync.sync(catalog, ref, dir)
      Some(res)
    }
  }

  /** Z-order clustering rewrite of `ref`'s live data on `cols`
    * ([[Compact.rewriteClustered]]): every rewritten file gets tight
    * bounds on all clustered columns, so multi-dimensional range
    * predicates prune files. */
  def rewriteClustered(
      ref: String,
      cols: Seq[String],
      bits: Int = 8,
      targetFiles: Option[Int] = None): Option[graft.meta.TableWriter.CommitResult] =
    committing(ref)(d => Compact.rewriteClustered(spark, d, cols, bits, targetFiles))

  /** Bin-pack small data files into larger ones and commit a replace
    * snapshot (the action behind the health report's
    * `compaction_recommended`, ref `formatters.py:461,775`). */
  def rewriteSmallFiles(
      ref: String,
      smallBytes: Long = Compact.DefaultSmallBytes,
      targetBytes: Long = Compact.DefaultTargetBytes): Option[graft.meta.TableWriter.CommitResult] =
    committing(ref)(d => Compact.rewriteSmallFiles(spark, d, smallBytes, targetBytes))

  /** Incremental compaction: rewrite only the small-file partitions,
    * merge-on-read, carrying delete manifests for untouched files —
    * the partial-rewrite path for delete-carrying tables too big to
    * fold whole ([[Compact.rewriteSmallFilesIncremental]]). */
  def rewriteSmallFilesIncremental(
      ref: String,
      smallBytes: Long = Compact.DefaultSmallBytes,
      targetBytes: Long = Compact.DefaultTargetBytes): Option[graft.meta.TableWriter.CommitResult] =
    committing(ref)(d =>
      Compact.rewriteSmallFilesIncremental(spark, d, smallBytes, targetBytes))

  /** Drop delete files that no longer reference any live data (targets
    * rewritten / sequence out of scope) as a metadata-only commit. */
  def pruneDanglingDeletes(ref: String): Option[Int] =
    committing(ref)(d => Maintenance.pruneDanglingDeletes(spark, d))

  /** Expire snapshots older than `olderThanMs` (keeps current + the
    * `retainLast` newest); deletes unreferenced manifests + data files. */
  def expireSnapshots(ref: String, olderThanMs: Long, retainLast: Int = 1): Maintenance.ExpireResult =
    committing(ref)(d => Maintenance.expireSnapshots(d, olderThanMs, retainLast))

  /** Bin-pack data manifests (Iceberg `rewrite_manifests`): metadata-only
    * replace commit; None when already packed. */
  def rewriteManifests(ref: String, targetEntries: Int = 5000)
    : Option[Maintenance.RewriteManifestsResult] =
    committing(ref)(d => Maintenance.rewriteManifests(d, targetEntries))

  /** VACUUM composite: prune dangling delete files, expire old
    * snapshots, then remove orphan files — the standard upkeep pass in
    * one call. Returns (pruned deletes, expire result, removed orphans). */
  def vacuum(ref: String, olderThanMs: Long, retainLast: Int = 1)
    : (Int, Maintenance.ExpireResult, Int) = {
    val pruned = pruneDanglingDeletes(ref).getOrElse(0)
    val expired = expireSnapshots(ref, olderThanMs, retainLast)
    val orphans = removeOrphans(ref)
    (pruned, expired, orphans)
  }

  /** Metadata-only rollback of the current-snapshot pointer. */
  def rollback(ref: String, snapshotId: Long): Int =
    committing(ref)(d => Maintenance.rollback(d, snapshotId))

  /** Tag a snapshot (default current) — protected from expiration. */
  def createTag(ref: String, name: String, snapshotId: Option[Long] = None): Int =
    committing(ref)(d => Maintenance.createTag(d, name, snapshotId))

  /** Remove a named ref (tag or branch); the snapshot stays. */
  def dropRef(ref: String, name: String): Int =
    committing(ref)(d => Maintenance.dropRef(d, name))

  /** Snapshot id a named ref points at (for `files(ref, Some(id))` /
    * `readTable(ref, Some(id))` time travel by name). */
  def resolveRef(ref: String, name: String): Long =
    load(ref).metadata.refs.getOrElse(name,
      throw new NoSuchElementException(s"ref '$name' not found on $ref")).snapshotId

  /** Data files referenced by no snapshot (write leftovers). */
  def orphanFiles(ref: String): Seq[String] =
    Maintenance.orphanFiles(tableDir(ref))

  /** Delete detected orphan files; returns the number removed. */
  def removeOrphans(ref: String): Int =
    Maintenance.removeOrphans(tableDir(ref))

  // ---- schema evolution (metadata-only; id-based, so schemaDiff
  // classifies renames as "changed" — ref tui/widgets.py:310-350) ----

  /** Add an optional column as a new schema version; returns its id. */
  def addColumn(ref: String, name: String, iceType: String): Int =
    committing(ref)(d => graft.meta.SchemaEvolution.addColumn(d, name, iceType))

  /** Rename a column (field id preserved); returns the new schema id. */
  def renameColumn(ref: String, oldName: String, newName: String): Int =
    committing(ref)(d => graft.meta.SchemaEvolution.renameColumn(d, oldName, newName))

  /** Drop a column (id retired); refuses partition sources. */
  def dropColumn(ref: String, name: String): Int =
    committing(ref)(d => graft.meta.SchemaEvolution.dropColumn(d, name))

  /** Widen a column's type in place (int→long, float→double); the field
    * keeps its id and old files read through the widened schema. */
  def widenColumn(ref: String, name: String, toType: String): Int =
    committing(ref)(d => graft.meta.SchemaEvolution.widenColumn(d, name, toType))

  /** Set / unset table properties (metadata-only commit). */
  def setProperties(ref: String, set: Map[String, String],
      unset: Set[String] = Set.empty,
      expectedCurrentSnapshotId: Option[Long] = None,
      expectNoCurrentSnapshot: Boolean = false): Int =
    committing(ref)(d => graft.meta.SchemaEvolution.setProperties(d, set, unset,
      expectedCurrentSnapshotId, expectNoCurrentSnapshot))

  /** Migrate a LEGACY table (files without parquet field ids — anything
    * not created by this engine's [[createTable]]) onto the
    * rename-safe id-resolved read path: one full rewrite of the CURRENT
    * rows through the attributed writer, then the [[graft.meta.FieldIds]]
    * property pair. Correct precisely while parquet column names still
    * match the current schema — i.e. run BEFORE any column rename (a
    * rename first would already have nulled the column on read, and the
    * rewrite would persist the nulls).
    *
    * The stamped `since-seq` boundary keeps HISTORY readable: snapshots
    * before the migration commit hold id-less files and keep the
    * historical name-resolved read (time travel, change feeds and
    * `VERSION AS OF` into them still work); snapshots at/after it read
    * by field id, so renames from now on are read-safe. The rewrite
    * surfaces in the change feed as a full overwrite (it is one).
    * One streaming caveat: a TABLE micro-batch stream
    * ([[graft.streaming.TableStreamSource]]) whose unprocessed backlog
    * still spans pre-boundary commits reads those commits' id-less
    * files through the current (attributed) schema and fails loudly —
    * drain or restart such streams past the boundary after migrating.
    *
    * RACING WRITERS LOSE LOUDLY, not silently: the rewrite is CAS-pinned
    * on the pre-migration snapshot id and the property stamp on the
    * rewrite commit itself, so a writer landing anywhere in the sequence
    * surfaces as [[graft.meta.CommitConflictException]] (the migration
    * made no lasting change — re-run it). Tables with live BRANCHES
    * beyond `main`, or staged-unpublished write-audit-publish snapshots,
    * are REFUSED: the rewrite covers only the main line, while the
    * `since-seq` boundary gates purely on sequence number — a
    * post-migration branch append (or a cherry-pick re-sequencing a
    * pre-migration stage) would sit past the boundary with id-less
    * files. Fast-forward/drop the branches and publish-or-expire the
    * stages first. Tags are fine (they pin pre-boundary snapshots,
    * which keep the name-resolved read).
    * Returns the migration commit's snapshot id (None when the table
    * held no data files — property-only stamp). */
  def migrateToFieldIds(ref: String): Option[Long] = {
    val t = load(ref)
    val md0 = t.metadata
    require(!graft.meta.FieldIds.tableHasIds(md0),
      s"$ref already carries ${graft.meta.FieldIds.PropKey}")
    val extraBranches = md0.refs.collect {
      case (name, r) if r.refType == "branch" && name != "main" => name }
    require(extraBranches.isEmpty,
      s"$ref has live branches beyond main (${extraBranches.mkString(", ")}) — " +
      "the migration rewrite covers only the main line; fast-forward or " +
      "drop them first")
    val byId = md0.snapshots.map(s => s.snapshotId -> s).toMap
    val ancestors = Iterator.iterate(md0.currentSnapshotId)(
        _.flatMap(id => byId.get(id).flatMap(_.parentSnapshotId)))
      .takeWhile(_.isDefined).map(_.get).toSet
    val staged = md0.snapshots.filter(s =>
      s.summary.contains("wap.id") && !ancestors.contains(s.snapshotId) &&
        !md0.snapshots.exists(p => ancestors.contains(p.snapshotId) &&
          p.summary.get("source-snapshot-id").contains(s.snapshotId.toString)))
    require(staged.isEmpty,
      s"$ref has staged-unpublished WAP snapshots " +
      s"(${staged.map(_.snapshotId).mkString(", ")}) — a post-migration " +
      "cherry-pick would re-sequence their id-less files past the " +
      "boundary; publish or expire them first")
    val rewritten =
      if (t.files().isEmpty) None
      else Some(graft.meta.TableWriter.overwrite(spark, tableDir(ref),
        readTable(ref),
        expectedCurrentSnapshotId = md0.currentSnapshotId).snapshotId)
    val md = load(ref).metadata
    val since = rewritten
      .flatMap(md.snapshot).map(_.sequenceNumber)
      .getOrElse(md.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1L)
    val expected = rewritten.orElse(md0.currentSnapshotId)
    graft.meta.SchemaEvolution.setProperties(tableDir(ref), Map(
      graft.meta.FieldIds.PropKey -> "true",
      graft.meta.FieldIds.SinceSeqKey -> since.toString),
      unset = Set.empty,
      expectedCurrentSnapshotId = expected,
      // a NEVER-WRITTEN legacy table has no snapshot to pin — the stamp
      // must then require the table is STILL snapshot-less, or a first
      // write racing in (an id-less adoption, say) would silently land
      // at a sequence past the boundary it just helped define
      expectNoCurrentSnapshot = expected.isEmpty)
    graft.meta.PointerSync.sync(catalog, ref, tableDir(ref))
    rewritten
  }

  /** ADOPT an existing plain-parquet directory as an engine table
    * WITHOUT rewriting its data — the `add_files`/`register_table`
    * onboarding analog (the reference's seeders assume pyiceberg-created
    * tables, `demo.py:34-46`; this verb is for data that predates the
    * engine). The schema is inferred from the files, the table is
    * created WITHOUT the field-id guarantee (foreign files carry no
    * footer ids → name-resolved reads; run [[migrateToFieldIds]] as the
    * follow-up to make renames read-safe), each file is HARD-LINKED into
    * `data/` (falling back to a copy across filesystems — either way no
    * data bytes are rewritten through Spark), and ONE append-shaped
    * commit registers them with full per-file stats from a single
    * read-only distributed pass (row counts, null counts, min/max
    * bounds — adopted tables prune like native ones from day one).
    *
    * Constraints: one shared flat schema on the engine's writable
    * surface (primitives / binary / list<primitive> — anything else is
    * refused loudly by [[createTable]]).
    *
    * HIVE-LAYOUT directories (`key=value/` path segments — the
    * canonical `add_files` source, a warehouse migration's day-one
    * shape) adopt as PARTITIONED tables: the keys become typed columns
    * (Spark's partition discovery infers the types), the table is
    * created with the matching identity spec, each adopted entry
    * carries its path's partition values (so partition pruning and the
    * reference's partition analytics work from day one), and scans fill
    * the in-file-absent columns from the manifests' per-file constants
    * ([[graft.ops.ScanPlanner]]). */
  def registerParquet(ref: String, sourceDir: String): graft.meta.TableWriter.CommitResult = {
    val src = Engine.adoptTimed("walk") { Engine.adoptableSource(sourceDir) }
    // every footer is read BEFORE the table exists: the pass is both
    // the per-file schema gate (a mixed-schema drop is refused loudly,
    // naming the divergent file, instead of passing single-footer
    // inference and nulling columns later) and a corruption probe — a
    // truncated file fails here, not after createTable has committed,
    // so a failed registration leaves no half-registered table behind
    val byFile = Engine.adoptTimed("footer-gate") {
      Engine.footerTopLevelIds(spark, src.files.map(_.toString)) }
    // ONE footer pass per drop: the canonical-uniformity gate renders
    // logical type annotations, so every same-name type conflict the old
    // per-drop mergeSchema re-read caught is refused here — the Spark
    // schema then comes from a single file's footer, derived DRIVER-SIDE
    // (Spark's own footer-to-schema path; inference's Spark job and its
    // plan round are pure overhead on a footer the gate already proved)
    val fileSchema = Engine.adoptTimed("head-schema") {
      org.apache.spark.sql.execution.datasources.parquet
        .GraftSchemaInference.schemaOfFile(spark, src.files.head.toString) }
    Engine.adoptTimed("uniform-gate") {
      Engine.requireUniformColumns(byFile, fileSchema.fieldNames.toSet, sourceDir) }
    val overlap = src.partitionKeys.toSet.intersect(fileSchema.fieldNames.toSet)
    require(overlap.isEmpty,
      s"$sourceDir's files already contain partition-path column(s) " +
      s"${overlap.toSeq.sorted.mkString(", ")} — ambiguous between the " +
      "path value and the file's own data")
    // hive layout: partition columns join the schema, TYPED by Spark's
    // partition discovery over the directory structure — run DRIVER-SIDE
    // over the walked leaf dirs (the same parsePartitions entry point a
    // directory read resolves them through), appended after the data
    // columns exactly as directory inference lays the schema out
    val schema =
      if (!src.isHive) fileSchema
      else org.apache.spark.sql.types.StructType(fileSchema.fields ++
        org.apache.spark.sql.execution.datasources.GraftPartitionParse
          .partitionSchema(spark, sourceDir,
            src.files.map(_.getParent.toString).distinct).fields)
    if (src.isHive) {
      require(src.partitionKeys.forall(schema.fieldNames.contains),
        s"$sourceDir: partition discovery did not surface " +
        s"${src.partitionKeys.filterNot(schema.fieldNames.contains).mkString(", ")}")
    }
    // validate + canonicalize in one pass, BEFORE createTable: a drop
    // with an untyped value refuses with no table residue
    val canonParts = Engine.canonicalTypedPartitions(schema, src, sourceDir)
    createTable(ref, schema,
      partitionDecls = src.partitionKeys,
      properties = Map(graft.meta.FieldIds.PropKey -> "false") ++
        (if (src.isHive)
          Map(graft.meta.Transforms.PathPartitionColsKey ->
            src.partitionKeys.mkString(","))
        else Map.empty))
    val dir = java.nio.file.Paths.get(tableDir(ref))
    try {
      val rels = Engine.adoptTimed("link") {
        Engine.linkInto(dir, src.files, canonParts) }
      // the linked files are byte-identical to the sources (hard links /
      // verbatim copies), so the gate pass's footer facts (sizes +
      // record counts + decoded stats) serve the commit's whole stats
      // pass — no second footer pass and no data read over the drop
      val relFooters = rels.indices.map(i =>
        rels(i)._1 -> byFile(src.files(i).toString)).toMap
      val res = Engine.adoptTimed("commit") {
        graft.meta.TableWriter.commitFiles(spark, tableDir(ref), rels,
        removePaths = Set.empty, operation = "append",
        extraSummary = Map("adopted-from" -> sourceDir),
        // the table was created by THIS call at metadata v1: ANY racer
        // — a data write or a metadata-only commit — bumps the version
        // and is caught instead of silently interleaved
        expectedMetadataVersion = Some(1),
        absentColumns = src.partitionKeys.toSet,
        knownFooters = relFooters) }
      graft.meta.PointerSync.sync(catalog, ref, dir.toString)
      res
    } catch {
      // a CONFLICT means another actor is actively committing to a ref
      // created milliseconds ago — surface it and leave the table alone
      // (deleting would destroy the racer's work); any other failure
      // past createTable (data-page corruption under an intact footer,
      // a source file vanishing mid-call) must not strand a
      // half-registered table: remove it IF the metadata is still the
      // state THIS call created — version 1 AND snapshot-less. The
      // version gate (not just snapshot absence) matters because a
      // racer's metadata-only commit (a property stamp, a spec change)
      // bumps the version without moving the snapshot pointer, and
      // deleting then would destroy the racer's work
      case e: graft.meta.CommitConflictException => throw e
      case e: Throwable =>
        try {
          val (mdNow, vNow) = graft.meta.IcebergMeta.loadVersioned(tableDir(ref))
          if (vNow == 1 && mdNow.currentSnapshotId.isEmpty) {
            Engine.deleteRecursively(dir)
            // the pointer row createTable registered must not dangle at
            // a deleted path
            catalog match {
              case pc: graft.meta.PointerCatalog => pc.dropPointer(ref)
              case _ => ()
            }
          }
        } catch { case _: Throwable => () }
        throw e
    }
  }

  /** ADOPT foreign parquet files into an EXISTING table as one append —
    * the second half of the `add_files` analog ([[registerParquet]]
    * creates the table; this verb lands a recurring drop of vendor
    * files onto it without rewriting a byte). Same in-place mechanics
    * (hard-link / copy fallback, one read-only stats pass, hive-layout
    * refusal), plus the compatibility gates an existing table demands:
    *
    *  - the files' schema must match the table's current schema by name,
    *    and by type up to Iceberg's SAFE PROMOTIONS (a drop written at a
    *    pre-widen width — int32 under a `long` column, float under
    *    `double` — is accepted and read through the same up-cast
    *    projection as the table's own pre-widen files; anything else is
    *    a loud refusal — a silent union would null columns);
    *  - an ID-STAMPED table refuses id-less files: the table's scans
    *    resolve columns by parquet footer field id with NO name
    *    fallback, so every file's footer must carry the schema's exact
    *    (name → id) mapping — top-level AND nested struct members at
    *    their dotted paths (list elements / map entries match
    *    structurally) — `register` + `migrate-field-ids` is the path
    *    for plain files;
    *  - partition compatibility: a HIVE-LAYOUT drop lands on a table
    *    whose current spec is identity over exactly the drop's path
    *    keys (values stamp into the entries' partition maps — pruning
    *    works from day one); a FLAT drop requires an unpartitioned
    *    spec (it carries no partition values, and a partition-equals
    *    prune would silently drop its rows). */
  def adoptFiles(ref: String, sourceDir: String): graft.meta.TableWriter.CommitResult = {
    val src = Engine.adoptableSource(sourceDir)
    // every footer read ONCE up front (names + top-level AND nested
    // ids): corruption probe, per-file schema material, and the id-gate
    // input — reused across commit retries without re-reading. The
    // canonical-uniformity gate (logical annotations included) is the
    // same-name-type-conflict check; the Spark schema comes from one
    // file's footer
    val byFile = Engine.footerTopLevelIds(spark, src.files.map(_.toString))
    val fileSchema = org.apache.spark.sql.execution.datasources.parquet
      .GraftSchemaInference.schemaOfFile(spark, src.files.head.toString)
    Engine.requireUniformColumns(byFile, fileSchema.fieldNames.toSet, sourceDir)

    /** The admission gates, against ONE observed table state. Returns
      * the METADATA VERSION the validation saw (the commit's CAS pin —
      * the snapshot id alone would be blind to metadata-only racers: a
      * property-only migrate-field-ids stamp on an empty table, a
      * setPartitionSpec — which invalidate the gates without moving the
      * snapshot pointer; every commit bumps the version), plus the
      * property delta this drop needs (the path-partition column
      * declaration for hive drops) and the drop's partition values
      * VALIDATED AND CANONICALIZED against the declared schema in one
      * pass ([[Engine.canonicalTypedPartitions]]) — computed here so
      * the rendering stays pinned to the same observed state as the
      * gates, with no second metadata load and no second walk over the
      * per-file maps. */
    def validate(): (Int, Map[String, String], Map[String, Map[String, String]]) = {
      // version FIRST, table state second: a racer landing in between
      // leaves the pin older than the inspected state, so the commit
      // conflicts conservatively (never the reverse — gates on stale
      // state with a fresh pin)
      val seenV = graft.meta.IcebergMeta.loadVersioned(tableDir(ref))._2
      val t = load(ref)
      val schemaFields = t.metadata.currentSchema.fields
      val spec = t.metadata.currentSpec
      val specSources: Seq[String] = spec.fields.map(sf =>
        schemaFields.find(_.id == sf.sourceId).map(_.name).getOrElse(
          throw new IllegalStateException(
            s"$ref's partition spec references unknown field ${sf.sourceId}")))
      // the drop's path keys are SOURCE column names; entry partition
      // maps are keyed by spec-FIELD name, resolved through sourceId —
      // a foreign writer's spec may legally name its identity fields
      // differently from their sources (`event_day` over `day`), and
      // such tables must still take hive drops. Two identity fields
      // over one source is ambiguous and refuses.
      val keyBySource: Map[String, String] = if (src.isHive) {
        // a hive drop lands on a table whose CURRENT spec is identity
        // over exactly the drop's path keys — the values stamp into the
        // entries' partition maps, so partition pruning and the
        // partition analytics see adopted files like native ones
        require(spec.fields.nonEmpty &&
            spec.fields.forall(_.transform == "identity") &&
            src.partitionKeys.toSet == specSources.toSet,
          s"$sourceDir's hive partition keys (${src.partitionKeys.mkString(", ")}) " +
          s"must match $ref's identity partition spec " +
          s"(${spec.fields.map(f => s"${f.transform}(${specSources(spec.fields.indexOf(f))})")
            .mkString(", ")})")
        src.partitionKeys.map { k =>
          val names = spec.fields.zip(specSources)
            .filter { case (_, s) => s == k }.map(_._1.name).distinct
          require(names.size == 1,
            s"$ref's spec derives ${names.size} identity partition fields " +
            s"from column $k (${names.mkString(", ")}) — hive adoption " +
            "needs exactly one")
          k -> names.head
        }.toMap
      } else {
        require(spec.fields.isEmpty,
          s"$ref has a live partition spec — a flat drop carries no " +
          "partition values and partition pruning would silently drop " +
          "its rows; lay the drop out as key=value directories matching " +
          "the spec, or append through the write path")
        Map.empty[String, String]
      }
      val declared = graft.ops.ScanPlanner.currentSparkSchema(t).getOrElse(
        throw new IllegalStateException(
          s"$ref's schema is outside the engine-readable surface"))
      val pathCols = src.partitionKeys.toSet
      // structural type comparison: strip nullability and metadata at
      // every nesting level — parquet inference surfaces footer field
      // ids as StructField metadata and required-ness as nullable=false,
      // neither of which is a SCHEMA difference (the id gate below does
      // the id checking exactly)
      import org.apache.spark.sql.types.{ArrayType, DataType, MapType, Metadata, StructType}
      def bare(dt: DataType): DataType = dt match {
        case s: StructType => StructType(s.fields.map(f =>
          f.copy(dataType = bare(f.dataType), nullable = true,
            metadata = Metadata.empty)))
        case a: ArrayType => a.copy(elementType = bare(a.elementType),
          containsNull = true)
        case m: MapType => m.copy(keyType = bare(m.keyType),
          valueType = bare(m.valueType), valueContainsNull = true)
        case other => other
      }
      val got = fileSchema.fields.map(f => f.name -> bare(f.dataType)).toMap
      val want = declared.fields.filterNot(f => pathCols.contains(f.name))
        .map(f => f.name -> bare(f.dataType)).toMap
      require(got.keySet == want.keySet,
        s"$sourceDir's schema does not match $ref's current schema: " +
        s"files have ${got.keySet.toSeq.sorted.mkString(", ")}; table wants " +
        s"${want.keySet.toSeq.sorted.mkString(", ")}" +
        (if (pathCols.nonEmpty) s" (plus path-partition ${pathCols.toSeq.sorted.mkString(", ")})"
        else ""))
      // TYPE gate with Iceberg's safe-promotion tolerance: a drop
      // written BEFORE a widen-column (int32 under a `long` column,
      // float under `double` — the natural vendor-feed sequence) reads
      // exactly under the declared schema, the same up-cast projection
      // the scan already applies to the table's own pre-widen files;
      // anything else refuses loudly
      import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
      val mismatched = want.toSeq.sortBy(_._1).filter { case (n, w) =>
        val g = got(n)
        !(g == w || (g == IntegerType && w == LongType) ||
          (g == FloatType && w == DoubleType))
      }
      require(mismatched.isEmpty,
        s"$sourceDir's column types do not match $ref's (and are not " +
        s"safe promotions): ${mismatched.map { case (n, w) =>
          s"$n is ${got(n).simpleString} in the files, ${w.simpleString} in the table"
        }.mkString("; ")}")
      // re-keyed from source column names to the spec-FIELD names the
      // entries' maps (and every pruning surface) resolve through
      val canonParts = Engine.canonicalTypedPartitions(declared, src, sourceDir)
        .map { case (p, kv) =>
          p -> kv.map { case (k, v) => keyBySource.getOrElse(k, k) -> v } }
      if (graft.meta.FieldIds.tableHasIds(t.metadata)) {
        val top = schemaFields.filter(f => !f.path.contains('.'))
        // footer-id gate on every column the FILES carry (path-partition
        // columns live in the manifests, not the files — the id read
        // nulls them per file and the scan fill restores the constant)
        val wantIds = top.filterNot(f => pathCols.contains(f.name))
          .map(f => f.name -> f.id).toMap
        src.files.map(_.toString).foreach { p =>
          val ids = byFile.get(p).map(_.ids).getOrElse(Map.empty)
          val missing = wantIds.filter { case (n, id) => !ids.get(n).contains(Some(id)) }
          require(missing.isEmpty,
            s"$ref resolves columns by parquet field id, but $p does not " +
            s"carry ${missing.toSeq.sortBy(_._1).map { case (n, id) => s"$n=$id" }
              .mkString(", ")} in its footer — id-stamped tables refuse " +
            "id-less files; use `register` + `migrate-field-ids` for plain parquet")
        }
        // NESTED members (struct fields at any depth — foreign-built
        // tables): each must carry the schema's exact id at its dotted
        // footer path. List elements / map entries are exempt — Spark
        // stamps no ids there and the reader matches them structurally,
        // which the canonical-schema uniformity gate above pins
        val byPathField = schemaFields.map(f => f.path -> f).toMap
        def structural(f: graft.meta.SchemaField): Boolean =
          Set("element", "key", "value").contains(f.name) && {
            val parent = f.path.stripSuffix(s".${f.name}")
            byPathField.get(parent).exists(pf =>
              pf.fieldType.startsWith("list<") || pf.fieldType.startsWith("map<"))
          }
        val nestedWant = schemaFields.filter(_.path.contains('.'))
          .filterNot(structural).map(f => f.path -> f.id)
        src.files.map(_.toString).foreach { p =>
          val nids = byFile.get(p).map(_.nestedIds).getOrElse(Map.empty)
          val missing = nestedWant.filter { case (pa, id) =>
            !nids.get(pa).contains(Some(id)) }
          require(missing.isEmpty,
            s"$ref resolves NESTED members by parquet field id, but $p's " +
            s"footer does not carry ${missing.sortBy(_._1).map { case (pa, id) =>
              s"$pa=$id" }.mkString(", ")} — id-stamped tables refuse " +
            "files whose nested ids are absent or divergent")
        }
      }
      val props =
        if (!src.isHive) Map.empty[String, String]
        else {
          val existing = graft.meta.Transforms.pathPartitionCols(t.metadata)
          val all = (existing ++ src.partitionKeys).distinct
          if (all == existing) Map.empty[String, String]
          else Map(graft.meta.Transforms.PathPartitionColsKey -> all.mkString(","))
        }
      (seenV, props, canonParts)
    }

    // refusals BEFORE any filesystem residue: the common rejection
    // paths (spec / schema / id / value gates) leave nothing behind,
    // and the observed version pins the first commit attempt
    val firstPass = validate()
    var seenV = firstPass._1
    var props = firstPass._2
    val dir = java.nio.file.Paths.get(tableDir(ref))
    // canonical value rendering used the SAME declared schema the gates
    // validated (a racer can only widen key types — CAS-caught and
    // re-validated — and widening keeps the same rendering)
    val rels = Engine.linkInto(dir, src.files, firstPass._3)
    // linked bytes are identical to the sources: the gate pass's footer
    // facts (sizes + record counts + decoded stats) serve the commit's
    // whole stats pass (no second footer pass, no data read)
    val relFooters = rels.indices.map(i =>
      rels(i)._1 -> byFile(src.files(i).toString)).toMap
    // append-shaped: replaying the same logical commit on a CAS loser's
    // fresh metadata IS the serial execution (every pre-existing file
    // carries forward) — BUT only after the gates pass again on that
    // fresh state: the commit is pinned to the metadata VERSION the
    // validation saw, so ANY racing commit — a migrate-field-ids
    // property stamp, a setPartitionSpec, a plain append — surfaces as
    // a conflict, and the retry re-validates (then refuses when the
    // gates no longer hold) instead of landing gate-violating files.
    // Any failure before the commit lands unlinks the adopted files —
    // a rejected or conflict-exhausted drop leaves no orphans.
    try {
      var attempt = 0
      var res: graft.meta.TableWriter.CommitResult = null
      while (res == null) {
        try res = graft.meta.TableWriter.commitFiles(spark, tableDir(ref), rels,
          removePaths = Set.empty, operation = "append",
          extraSummary = Map("adopted-from" -> sourceDir),
          expectedMetadataVersion = Some(seenV),
          extraProperties = props,
          absentColumns = src.partitionKeys.toSet,
          knownFooters = relFooters)
        catch {
          case e: graft.meta.CommitConflictException =>
            if (attempt >= 5) throw e
            attempt += 1; Thread.sleep(20L * attempt)
            // rels stay as linked: a racer can only widen the key types
            // (anything else refuses in validate), and widening keeps
            // the canonical rendering byte-identical
            val revalidated = validate()
            seenV = revalidated._1; props = revalidated._2
        }
      }
      graft.meta.PointerSync.sync(catalog, ref, dir.toString)
      res
    } catch {
      case e: Throwable =>
        rels.foreach { case (rel, _) =>
          try java.nio.file.Files.deleteIfExists(dir.resolve(rel))
          catch { case _: java.io.IOException => () }
        }
        throw e
    }
  }

  /** Evolve to a new identity partition spec for FUTURE writes (existing
    * files keep their layout); returns the new spec id. */
  def setPartitionSpec(ref: String, sourceCols: Seq[String]): Int =
    committing(ref)(d => graft.meta.SchemaEvolution.setPartitionSpec(d, sourceCols))

  /** Declare the write sort order (`"col"` / `"col desc"` entries;
    * empty = unsorted); future writes emit per-file sorted runs with
    * tight bounds. Returns the new order id. */
  def setSortOrder(ref: String, cols: Seq[String]): Int =
    committing(ref)(d => graft.meta.SchemaEvolution.setSortOrder(d, cols))

  /** Read the table's DATA as a DataFrame (all live files of a snapshot). */
  def readTable(ref: String, snapshotId: Option[Long] = None): DataFrame =
    ScanPlanner.readTable(spark, load(ref), snapshotId)

  /** Register a table's live data (merge-on-read applied) as a temp view
    * so `spark.sql` can query it; view name defaults to `<ns>_<table>`. */
  def createView(ref: String, viewName: Option[String] = None): String = {
    val name = viewName.getOrElse(ref.replace('.', '_'))
    readTable(ref).createOrReplaceTempView(name)
    name
  }

  /** Register EVERY table in the warehouse as `<ns>_<table>` temp views
    * and return the names — after this, the whole warehouse is queryable
    * with plain `spark.sql`. The per-table metadata loads + scan-plan
    * builds run CONCURRENTLY (driver-side Futures — each is small-file
    * I/O + JSON parse, which pipelines; a 10k-table warehouse would crawl
    * sequentially); view registration itself stays on the calling thread
    * (catalog mutation, kept single-threaded by design). Tables whose
    * data files are not materialized (metadata-only fixtures,
    * foreign-written tables with unreachable paths) are skipped. */
  def createAllViews(): Seq[String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val refs = listTables().collect().toSeq
      .map(r => s"${r.getString(0)}.${r.getString(1)}")
    val frames = Await.result(
      Future.traverse(refs.toList) { ref =>
        Future(scala.util.Try((ref, readTable(ref))).toOption)
      }, scala.concurrent.duration.Duration.Inf).flatten
    frames.map { case (ref, df) =>
      val name = ref.replace('.', '_')
      df.createOrReplaceTempView(name)
      name
    }
  }

  /** Read the data with metadata pruning on `column ∈ [lo, hi]`: files
    * whose min/max bounds exclude the range are never opened; the result
    * equals the unpruned read + filter. */
  def readTableWhere(
      ref: String,
      column: String,
      lo: Option[Double],
      hi: Option[Double],
      snapshotId: Option[Long] = None,
      partitionEquals: Map[String, String] = Map.empty): DataFrame =
    ScanPlanner.readTableWhere(spark, load(ref), column, lo, hi, snapshotId, partitionEquals)

  /** Read the data pruned to `column ∈ values` through the partition
    * spec (identity/bucket/truncate transforms map each value to the
    * partition value a matching file must carry) — the IN-list probe:
    * a set of dates, ids, or bucket keys opens only colliding files.
    * Result equals the unpruned read + IN filter. */
  def readTableWhereIn(
      ref: String,
      column: String,
      values: Seq[String],
      snapshotId: Option[Long] = None): DataFrame =
    ScanPlanner.readTableWhereIn(spark, load(ref), column, values, snapshotId)

  // ---- render layer (ref formatters.py render_schema:119-139, tree
  // 1195-1307 — the library analog of the TUI panels: plain-text trees
  // built from collected metadata-scale rows, display layer only) ----

  /** S11 — the current schema as an indented text tree; nested
    * struct/list/map children indent under their parent (depth = dots in
    * the flattened field path, ref `formatters.py:127-139`). */
  def renderSchema(ref: String): String = {
    val md = load(ref).metadata
    val s = md.currentSchema
    val lines = s.fields.map { f =>
      val depth = f.path.count(_ == '.')
      val req = if (f.required) "required" else "optional"
      s"${"  " * depth}- ${f.name} : ${f.fieldType} ($req, id=${f.id})"
    }
    (s"Schema (id=${s.schemaId})" +: lines).mkString("\n")
  }

  /** S11 — the metadata tree as text: one line per manifest with file
    * count, row share and size color (ref `formatters.py:1195-1307`). */
  def renderTree(ref: String, snapshotId: Option[Long] = None): String = {
    val md = load(ref).metadata
    val head = s"$ref (snapshot ${md.currentSnapshotId.getOrElse("-")})"
    val rows = tree(ref, snapshotId).collect().map { r =>
      val bytes = graft.expr.Format.formatBytesStr(r.getAs[Long]("total_bytes"))
      s"└── ${r.getAs[String]("manifest_path")}  " +
        s"[${r.getAs[Long]("file_count")} files, ${r.getAs[Double]("pct_of_rows")}% " +
        s"of rows, $bytes, ${r.getAs[String]("size_color")}]"
    }
    (head +: rows.toSeq).mkString("\n")
  }

  // ---- sinks (ref output.py:49-60) ----

  /** S9 — JSON lines sink. */
  def toJson(df: DataFrame, outDir: String): Unit =
    df.coalesce(1).write.mode("overwrite").json(outDir)

  /** S10 — CSV sink with header. */
  def toCsv(df: DataFrame, outDir: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(outDir)
}
