package graft.meta

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.GraftColumnBridge

import graft.expr.{IcebergBucket, IcebergTransformOps}

/** Iceberg partition TRANSFORMS — the mapping from a source column to its
  * partition value, shared by the write path (staging the partition
  * layout), the scan planner (mapping an equality predicate on the source
  * column to the partition value that file must carry), and spec
  * evolution (parsing `bucket[16](id)`-style declarations).
  *
  * Supported: `identity`, `bucket[N]` (spec murmur3, see
  * [[graft.expr.IcebergTransformOps]]), `truncate[W]` (floor-to-width for
  * integrals, prefix for strings). These are the transforms that matter
  * at 100 TB: bucket bounds partition count for high-cardinality keys
  * (and makes point-lookup pruning O(files/N)); truncate coarsens
  * ranges; identity stays the default for low-cardinality dims. */
object Transforms {

  /** Manifest rendering of a NULL partition value. The manifest stores
    * partition values as non-nullable strings; a null source value maps
    * to Hive/Spark's default-partition sentinel — the same name
    * `partitionBy` gives the directory — so the staged write path and
    * the DSv2 fanout writer agree. Equality pruning is sound (the
    * sentinel never equals a transformed literal → null-partition files
    * prune away under `col = x`); SPJ key-grouping opts out when it
    * meets the sentinel (null is not representable as a typed key). */
  val NullPartitionValue = "__HIVE_DEFAULT_PARTITION__"

  /** Table property naming identity-partition SOURCE columns adopted
    * from hive-layout paths (`register`/`add-files` on a `key=value/`
    * directory): their values live in the manifests' partition maps,
    * NOT in the adopted data files — scans fill them from metadata
    * ([[graft.ops.ScanPlanner]]), constant per file by the
    * identity-partition invariant. Engine-written files carry the
    * column in-file (Iceberg keeps identity sources in the data), so
    * the fill's `coalesce` leaves them untouched. */
  val PathPartitionColsKey = "graft.adopted.path-partition-columns"

  /** The declared path-partition columns, empty for tables that never
    * adopted a hive-layout drop (the common case — scans then skip the
    * fill entirely). */
  def pathPartitionCols(md: TableMetadata): Seq[String] =
    md.properties.get(PathPartitionColsKey).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** Relative-path prefix of files landed by in-place adoption
    * ([[graft.api.Engine.linkInto]]) — the files that may LACK their
    * identity-partition columns in-file. Rewrites (compaction,
    * migrate-field-ids) emit ordinary `data/data-*` files with the
    * columns materialized, so "any live `adopted-` file under a
    * path-partition table" is exactly the needs-fill condition. */
  val AdoptedFilePrefix = "data/adopted-"

  /** Do any of `entries` need the metadata fill of path-partition
    * columns? `entries` is by-name: tables without the property (the
    * common case) never evaluate it — no manifest read. */
  def needsPathFill(md: TableMetadata, entries: => Seq[DataFileEntry]): Boolean =
    pathPartitionCols(md).nonEmpty &&
      entries.exists(_.filePath.startsWith(AdoptedFilePrefix))

  private val BucketRe = """bucket\[(\d+)\]""".r
  private val TruncRe = """truncate\[(\d+)\]""".r
  /** `bucket[16](id)` / `truncate[4](name)` / bare `col` declaration. */
  private val DeclRe = """(bucket|truncate)\[(\d+)\]\((\w+)\)""".r

  /** Parse a spec-field declaration into (sourceCol, transform):
    * `"region"` → identity, `"bucket[16](id)"` → bucket. */
  def parseDecl(decl: String): (String, String) = decl.trim match {
    case DeclRe(kind, n, src) => src -> s"$kind[$n]"
    case bare if bare.nonEmpty && bare.matches("""\w+""") => bare -> "identity"
    case other => throw new IllegalArgumentException(
      s"unparseable partition declaration '$other' " +
        "(expected col, bucket[N](col) or truncate[W](col))")
  }

  /** Default partition-field name for a transform (Iceberg convention:
    * `id_bucket`, `name_trunc`, identity keeps the source name). */
  def fieldName(source: String, transform: String): String = transform match {
    case "identity" => source
    case BucketRe(_) => s"${source}_bucket"
    case TruncRe(_) => s"${source}_trunc"
    case other => throw new IllegalArgumentException(s"unsupported transform $other")
  }

  /** The field name carrying the transform's argument —
    * `<col>_bucket_<N>` / `<col>_trunc_<W>` — what spec evolution names a
    * transform whose plain [[fieldName]] an earlier spec already gave a
    * different transform. */
  def argFieldName(source: String, transform: String): String = transform match {
    case BucketRe(n) => s"${source}_bucket_$n"
    case TruncRe(w) => s"${source}_trunc_$w"
    case other => fieldName(source, other)
  }

  def isSupported(transform: String): Boolean = transform match {
    case "identity" | BucketRe(_) | TruncRe(_) => true
    case _ => false
  }

  /** The transform as a Spark Column over the source column — what the
    * write path stages `__p_*` partition values with (codegen'd; runs in
    * the data-write pass). */
  def column(transform: String, source: Column, iceType: String): Column =
    transform match {
      case "identity" => source
      case BucketRe(n) =>
        GraftColumnBridge.column(
          IcebergBucket(GraftColumnBridge.expression(source), n.toInt))
      case TruncRe(w) => iceType match {
        case "int" | "long" =>
          val width = w.toLong
          source - (((source % width) + width) % width)
        case "string" => F.substring(source, 1, w.toInt)
        case other => throw new IllegalArgumentException(
          s"truncate[$w] unsupported for $other columns")
      }
      case other => throw new IllegalArgumentException(s"unsupported transform $other")
    }

  /** Driver-side twin of [[column]] for a LITERAL: the partition-map
    * value (as the string the manifest stores) a file holding rows with
    * `source = raw` must carry. Used to turn an equality predicate into
    * a partition prune. Returns None when the transform cannot map the
    * literal (unknown type — pruning then skips, conservatively). */
  def literal(transform: String, raw: String, iceType: String): Option[String] =
    try transform match {
      // canonicalize identity probes: stored partition values are the
      // engine's cast-to-string renderings ("123", "2020-01-05"), so a
      // probe spelled "0123" / "2020-1-5" must compare in the same form
      // or pruning would drop files the row-level residual matches.
      // Types outside the canonicalizable set (binary, foreign types)
      // keep the historical raw-string comparison; an unparseable value
      // returns None (skip pruning — conservative; the residual filter
      // still applies exactly).
      case "identity" =>
        if (TableWriter.canonicalizableType(iceType))
          Some(TableWriter.canonicalPartitionValue(iceType, raw))
        else Some(raw)
      case BucketRe(n) =>
        val b = iceType match {
          case "int" | "long" => IcebergTransformOps.bucketLong(raw.toLong, n.toInt)
          case "date" =>
            IcebergTransformOps.bucketLong(Date.valueOf(raw).toLocalDate.toEpochDay, n.toInt)
          case "timestamp" =>
            val ts = Timestamp.valueOf(raw)
            IcebergTransformOps.bucketLong(
              ts.getTime * 1000L + (ts.getNanos / 1000) % 1000, n.toInt)
          case "string" => IcebergTransformOps.bucketString(
            org.apache.spark.unsafe.types.UTF8String.fromString(raw), n.toInt)
          case _ => return None
        }
        Some(b.toString)
      case TruncRe(w) => iceType match {
        case "int" | "long" =>
          Some(IcebergTransformOps.truncateLong(raw.toLong, w.toLong).toString)
        case "string" => Some(raw.take(w.toInt))
        case _ => None
      }
      case _ => None
    } catch {
      case _: NumberFormatException | _: IllegalArgumentException |
           _: java.time.DateTimeException => None
    }

  /** Every stored-string form a partition value matching `raw` may
    * carry: the canonical rendering (what this engine stamps — staged
    * writes and adopted drops alike) PLUS, for identity, the raw
    * spelling itself (a FOREIGN-written manifest may store
    * non-canonical strings; pruning must not drop its files). None =
    * cannot prune on this (transform, value) — conservative. */
  def literalForms(transform: String, raw: String, iceType: String): Option[Seq[String]] =
    literal(transform, raw, iceType).map { canon =>
      if (transform == "identity") Seq(canon, raw).distinct else Seq(canon)
    }
}
