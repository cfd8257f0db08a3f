package graft.meta

import java.nio.file.Paths

/** A loaded Iceberg table: metadata document + snapshot-pinned manifest
  * access (ref `catalog.py:145-161` table load; `formatters.py:193-206`,
  * `:263-267` snapshot-pinned scans — the time-travel analog of partition
  * pruning: only the requested snapshot's manifest list is read).
  */
final class IcebergTable(val tableDir: String, val metadata: TableMetadata) {

  private def resolve(p: String): String =
    if (Paths.get(p).isAbsolute) p else s"$tableDir/$p"

  // This instance is an immutable view of ONE metadata version, and the
  // manifest files a version references never mutate (artifact names
  // carry per-attempt tokens; only vN.metadata.json pointers move) — so
  // entry listings memoize safely. One read-path call tree touches the
  // same listing several times (the file-scoped MoR split, the delete
  // census, the hive-adoption fill); without the memo each call re-parses
  // every Avro manifest. Key: (content kind, snapshot).
  private val entriesMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Option[Long]), Seq[DataFileEntry]]()
  private def memo(kind: Int, snapshotId: Option[Long])(
      body: => Seq[DataFileEntry]): Seq[DataFileEntry] =
    // None and Some(current) are the SAME listing — normalize the key so
    // call trees mixing the spellings (the SQL catalog passes explicit
    // ids, readTable passes None) share one parse
    entriesMemo.computeIfAbsent(
      (kind, snapshotId.orElse(metadata.currentSnapshotId)), _ => body)

  /** Resolve a metadata-relative path against the table root (public for
    * consumers that read manifests off the driver, e.g. the distributed
    * scan in [[graft.rel.MetaRelations.files]]). */
  def resolvePath(p: String): String = resolve(p)

  // Manifest lists are immutable too. Keyed by the RESOLVED snapshot, so
  // None and Some(current) share one parse, as in entriesMemo.
  private val manifestsMemo =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[ManifestFile]]()

  /** Manifest-list entries of a snapshot (default: current). Memoized. */
  def manifests(snapshotId: Option[Long] = None): Seq[ManifestFile] = {
    val snap = snapshotId.map(id =>
        metadata.snapshot(id).getOrElse(
          throw new NoSuchElementException(s"Snapshot $id not found")))
      .orElse(metadata.currentSnapshot)
    snap.map(s => manifestsMemo.computeIfAbsent(s.snapshotId,
        _ => AvroManifests.readManifestList(resolve(s.manifestList))))
      .getOrElse(Seq.empty)
  }

  /** Live DATA-file entries of a snapshot: data manifests' (content 0)
    * entries with status existing(0)/added(1); deleted(2) entries are
    * dropped (ref `tbl.inspect.files`, `formatters.py:263-281`). v2
    * position/equality delete files live in delete manifests (content 1)
    * and are deliberately NOT listed here — they are not data; see
    * [[deleteFiles]]. */
  def files(snapshotId: Option[Long] = None): Seq[DataFileEntry] = live(0, snapshotId)

  /** Live v2 delete-file entries (position/equality deletes) of a
    * snapshot: entries of delete manifests (content 1). A non-empty
    * result means scans must apply delete filtering and compaction is
    * recommended (ref `formatters.py:452-462` counts them in the census). */
  def deleteFiles(snapshotId: Option[Long] = None): Seq[DataFileEntry] = live(1, snapshotId)

  private def live(content: Int, snapshotId: Option[Long]): Seq[DataFileEntry] =
    memo(content, snapshotId) {
      manifests(snapshotId).filter(_.content == content)
        .flatMap(m => AvroManifests.readManifest(resolve(m.manifestPath))).filter(_.status != 2)
    }

  // Per-manifest entry memo (same immutability argument as entriesMemo):
  // a pruned probe's planning tier, its MoR classification and the DSv2
  // builder each list the SAME kept manifests — one parse serves all.
  private val perManifestMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFileEntry]]()

  /** All manifest entries (incl. deletes) of one manifest file — the lazy
    * TUI tree path (ref `formatters.py:1266-1279`) and the pruned
    * planners' subset listings. Memoized per resolved path. */
  def manifestEntries(manifestPath: String): Seq[DataFileEntry] =
    perManifestMemo.computeIfAbsent(resolve(manifestPath),
      p => AvroManifests.readManifest(p))
}

object IcebergTable {
  /** Load a table directory laid out as `<dir>/metadata/v*.metadata.json`. */
  def load(tableDir: String): IcebergTable =
    new IcebergTable(tableDir, IcebergMeta.load(tableDir))
}
