package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.meta.{AvroManifests, IcebergMeta, IcebergTable, ManifestFile, Snapshot, SnapshotRef}

/** Table maintenance beyond compaction: snapshot expiration, rollback,
  * and orphan-file detection — the standard Iceberg upkeep trio the
  * reference recommends operationally but cannot perform (it is a
  * read-only reporter; ref `formatters.py:775` tells the user to run
  * maintenance elsewhere). All three operate on metadata-scale state
  * driver-side: snapshot lists, manifest paths, and file-path sets are
  * thousands of entries at 100 TB of data (SURVEY §7.3), so no Spark job
  * is needed — the expensive part of maintenance is the data rewrite,
  * which lives in [[Compact]]/[[graft.meta.TableWriter]].
  */
object Maintenance {

  final case class ExpireResult(
      expiredSnapshots: Seq[Long],
      deletedManifestLists: Int,
      deletedManifests: Int,
      deletedDataFiles: Int,
      metadataVersion: Int)

  /** Expire snapshots with `timestampMs < olderThanMs`, always retaining
    * the current snapshot, the `retainLast` newest ANCESTORS of the
    * current line, and every ref target (Iceberg semantics: retain-last
    * protects the branch's own history, while unreferenced snapshots —
    * abandoned WAP stages, rolled-past commits — expire by age alone).
    * Unreferenced manifest lists, manifests, and data files are deleted
    * from disk; a new metadata version carries only the kept snapshots.
    *
    * Note: parent pointers of kept snapshots may reference expired ids
    * afterwards (Iceberg allows dangling parents); [[MetaDiff.changes]]
    * over an expired range will report the missing ancestor. */
  def expireSnapshots(
      tableDir: String,
      olderThanMs: Long,
      retainLast: Int = 1): ExpireResult = {
    val (md0, baseV) = graft.meta.IcebergMeta.loadVersioned(tableDir)
    val t = new IcebergTable(tableDir, md0)
    val md = t.metadata
    val byId = md.snapshots.map(s => s.snapshotId -> s).toMap
    // current-line ancestry, newest first (current → parents)
    val mainChain = Iterator.iterate(md.currentSnapshotId)(
        _.flatMap(id => byId.get(id).flatMap(_.parentSnapshotId)))
      .takeWhile(_.isDefined).map(_.get).toSeq
    // LEGACY-ENTRY guard: a live manifest entry without a stamped
    // sequence (pre-upgrade manifests, carried forward verbatim by cheap
    // appends) resolves its delete-scoping sequence through the snapshot
    // log — expiring its adding snapshot would collapse that resolution
    // and mis-scope equality deletes. Retain such snapshots until
    // maintenance (compaction / rewrite-manifests) materializes the
    // sequences onto the entries. EVERY retained snapshot's manifests
    // are scanned, not just the current one: a branch/tag head is itself
    // retained, but its legacy entries resolve through OTHER snapshots —
    // expiring those would silently over-apply equality deletes on
    // branch-pinned reads. Fixpoint: a legacy-pinned snapshot is itself
    // retained, so ITS legacy entries pin further (metadata-scale loop).
    def legacyPins(snapshotIds: Set[Long]): Set[Long] =
      snapshotIds.flatMap { id =>
        t.manifests(Some(id)).flatMap(m =>
          AvroManifests.readManifest(t.resolvePath(m.manifestPath))
            .filter(e => e.sequenceNumber < 0 && e.status != 2)
            .map(_.snapshotId))
      }
    val baseKeep = (mainChain.take(math.max(retainLast, 1)) ++
      md.currentSnapshotId.toSeq ++
      md.refs.values.map(_.snapshotId) ++ // tagged/branched snapshots never expire
      md.snapshots.filter(_.timestampMs >= olderThanMs).map(_.snapshotId)).toSet
    var keepIds = baseKeep
    var frontier = baseKeep.filter(byId.contains)
    while (frontier.nonEmpty) {
      val pinned = legacyPins(frontier).filter(byId.contains) -- keepIds
      keepIds ++= pinned
      frontier = pinned
    }
    val expired = md.snapshots.filterNot(s => keepIds.contains(s.snapshotId))
    if (expired.isEmpty)
      return ExpireResult(Seq.empty, 0, 0, 0, baseV)

    // reachability from kept snapshots: manifests and data files
    val kept = md.snapshots.filter(s => keepIds.contains(s.snapshotId))
    val keptManifests = kept.flatMap(s =>
      AvroManifests.readManifestList(t.resolvePath(s.manifestList))
        .map(_.manifestPath)).toSet
    val keptDataFiles = kept.flatMap(s =>
      t.manifests(Some(s.snapshotId)).flatMap(m =>
        AvroManifests.readManifest(t.resolvePath(m.manifestPath))
          .map(_.filePath))).toSet

    // PUBLISH FIRST, delete after: the CAS can lose to a concurrent
    // commit, and deleting before publishing would leave the winning
    // metadata permanently referencing unlinked files (time travel and
    // CDC over those snapshots would crash). Publishing first is safe in
    // the other direction — a crash mid-delete leaves orphans that
    // [[removeOrphans]] reclaims, never a dangling reference.
    val newMd = md.copy(
      lastUpdatedMs = System.currentTimeMillis(),
      snapshots = kept.sortBy(_.timestampMs))
    val v = writeNextVersion(tableDir, baseV, IcebergMeta.render(newMd))

    var delLists = 0; var delManifests = 0; var delFiles = 0
    expired.foreach { s =>
      val listPath = t.resolvePath(s.manifestList)
      val manifests = if (Files.exists(Paths.get(listPath)))
        AvroManifests.readManifestList(listPath) else Seq.empty
      manifests.filterNot(m => keptManifests.contains(m.manifestPath))
        // a manifest shared by two expired snapshots is processed once —
        // the second pass sees it already gone
        .filter(m => Files.exists(Paths.get(t.resolvePath(m.manifestPath))))
        .foreach { m =>
          val entries = AvroManifests.readManifest(t.resolvePath(m.manifestPath))
          entries.map(_.filePath).filterNot(keptDataFiles.contains).foreach { f =>
            if (Files.deleteIfExists(Paths.get(t.resolvePath(f)))) delFiles += 1
          }
          if (Files.deleteIfExists(Paths.get(t.resolvePath(m.manifestPath))))
            delManifests += 1
        }
      if (Files.deleteIfExists(Paths.get(listPath))) delLists += 1
    }
    ExpireResult(expired.map(_.snapshotId), delLists, delManifests, delFiles, v)
  }

  /** Roll the table's current pointer back to an existing snapshot
    * (metadata-only: no data or manifests move; later snapshots stay in
    * the log and remain readable). The `main` branch ref, when present,
    * follows. Returns the new metadata version. */
  def rollback(tableDir: String, snapshotId: Long): Int = {
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    require(md.snapshot(snapshotId).isDefined,
      s"Snapshot $snapshotId not found")
    val refs =
      if (md.refs.contains("main"))
        md.refs + ("main" -> graft.meta.SnapshotRef(snapshotId, "branch"))
      else md.refs
    writeNextVersion(tableDir, baseV, IcebergMeta.render(md.copy(
      lastUpdatedMs = System.currentTimeMillis(),
      currentSnapshotId = Some(snapshotId),
      refs = refs)))
  }

  final case class CherrypickResult(
      sourceSnapshotId: Long,
      publishedSnapshotId: Long,
      fastForward: Boolean,
      metadataVersion: Int)

  /** Publish a STAGED snapshot (write-audit-publish: an append committed
    * with `wapId`, sitting in the log with no ref) onto the main line —
    * Iceberg's `cherrypick_snapshot` procedure, the "publish" step after
    * the audit passes.
    *
    * Two shapes, both metadata-only (no data file moves or rewrites):
    *  - **fast-forward** when the staged snapshot's parent is still the
    *    current snapshot: the pointer simply advances to the staged
    *    snapshot itself.
    *  - **re-apply** when other commits landed since staging: the staged
    *    snapshot's ADDED manifests are attached on top of the current
    *    snapshot's manifests as a NEW snapshot (valid for `append`
    *    sources only — an overwrite staged against a stale base cannot
    *    be replayed safely and is refused). The new snapshot records
    *    `source-snapshot-id` and `published-wap-id`.
    *
    * Cherry-picking a snapshot that is already an ancestor of the
    * current snapshot (published, or never staged) is refused. */
  def cherrypick(tableDir: String, snapshotId: Long): CherrypickResult = {
    val (md0, baseV) = IcebergMeta.loadVersioned(tableDir)
    val t = new IcebergTable(tableDir, md0)
    val md = t.metadata
    val src = md.snapshot(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"Snapshot $snapshotId not found"))

    // ancestry walk of the current line: already-published ids are refused
    val byId = md.snapshots.map(s => s.snapshotId -> s).toMap
    val ancestors = Iterator.iterate(md.currentSnapshotId)(
        _.flatMap(id => byId.get(id).flatMap(_.parentSnapshotId)))
      .takeWhile(_.isDefined).map(_.get).toSet
    require(!ancestors.contains(snapshotId),
      s"Snapshot $snapshotId is already in the current line — nothing to publish")
    // duplicate-WAP guard (Iceberg's DuplicateWAPCommitException): a
    // snapshot published earlier via RE-APPLY is not an ancestor itself —
    // its content rides a new snapshot stamped source-snapshot-id — so a
    // retried publish would attach the same manifests twice. Scoped to
    // the CURRENT ancestry: after a rollback past the publish, nothing
    // from the stage is live and re-publishing is legitimate.
    require(!md.snapshots.exists(s2 => ancestors.contains(s2.snapshotId) &&
        s2.summary.get("source-snapshot-id").contains(snapshotId.toString)),
      s"Snapshot $snapshotId was already published (duplicate WAP commit)")

    val nowMs = System.currentTimeMillis()
    if (src.parentSnapshotId == md.currentSnapshotId) {
      // fast-forward: the table hasn't moved since staging; the staged
      // snapshot (its wap.id summary and all) becomes current as-is
      val v = writeNextVersion(tableDir, baseV, IcebergMeta.render(md.copy(
        lastUpdatedMs = nowMs,
        currentSnapshotId = Some(snapshotId),
        refs = md.refs + ("main" -> SnapshotRef(snapshotId, "branch")))))
      CherrypickResult(snapshotId, snapshotId, fastForward = true, v)
    } else {
      require(src.operation == "append",
        s"cherrypick can re-apply only append snapshots onto a moved base " +
          s"(snapshot $snapshotId is '${src.operation}')")
      // the staged commit's own contribution: manifests it added (appends
      // carry the parent's manifests forward, so filter to this snapshot)
      val stagedManifests = AvroManifests.readManifestList(
        t.resolvePath(src.manifestList)).filter(_.addedSnapshotId == snapshotId)
      val newSnapId = md.snapshots.map(_.snapshotId).max + 1L
      val newSeq = md.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1L
      val tok = java.util.UUID.randomUUID().toString.take(8)
      val dir = Paths.get(tableDir)
      // RE-SEQUENCE the published entries under the NEW snapshot: scan
      // planning resolves a file's sequence via its adding snapshot, and
      // rows keeping the STAGED commit's (older) sequence would be
      // retroactively hit by equality deletes committed between staging
      // and publish — and collapse to sequence 0 once the unreferenced
      // staged snapshot expires. Iceberg's cherry-pick assigns the new
      // commit's sequence for exactly this reason; the manifests are
      // metadata-scale, so the rewrite is cheap.
      var addedEntries = Seq.empty[graft.meta.DataFileEntry]
      val addedManifests = stagedManifests.zipWithIndex.map { case (m, i) =>
        val entries = AvroManifests.readManifest(t.resolvePath(m.manifestPath))
          .map(_.copy(snapshotId = newSnapId, sequenceNumber = newSeq))
        addedEntries ++= entries
        val relPath = f"metadata/manifest-$newSnapId-$tok-pick-$i%02d.avro"
        AvroManifests.writeManifest(dir.resolve(relPath).toString, entries)
        m.copy(manifestPath = relPath,
          manifestLength = Files.size(dir.resolve(relPath)),
          addedSnapshotId = newSnapId)
      }
      val live = t.files() ++ addedEntries
      val listPath = s"metadata/snap-$newSnapId-$tok.avro"
      AvroManifests.writeManifestList(dir.resolve(listPath).toString,
        t.manifests() ++ addedManifests)
      val snapshot = Snapshot(
        snapshotId = newSnapId,
        parentSnapshotId = md.currentSnapshotId,
        timestampMs = nowMs,
        sequenceNumber = newSeq,
        schemaId = Some(md.currentSchemaId),
        operation = "append",
        summary = Map(
          "operation" -> "append",
          "source-snapshot-id" -> snapshotId.toString,
          "added-data-files" -> addedEntries.size.toString,
          "added-records" -> addedEntries.map(_.recordCount).sum.toString,
          "total-data-files" -> live.size.toString,
          "total-records" -> live.map(_.recordCount).sum.toString,
          "total-files-size" -> live.map(_.fileSizeInBytes).sum.toString)
          ++ src.summary.get("wap.id").map("published-wap-id" -> _),
        manifestList = listPath)
      val v = writeNextVersion(tableDir, baseV, IcebergMeta.render(md.copy(
        lastUpdatedMs = nowMs,
        currentSnapshotId = Some(newSnapId),
        snapshots = md.snapshots :+ snapshot,
        refs = md.refs + ("main" -> SnapshotRef(newSnapId, "branch")))))
      CherrypickResult(snapshotId, newSnapId, fastForward = false, v)
    }
  }

  /** Pin `name` as a TAG on a snapshot (default: current). Tagged
    * snapshots are protected from [[expireSnapshots]]. */
  def createTag(tableDir: String, name: String, snapshotId: Option[Long] = None): Int = {
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    val sid = snapshotId.orElse(md.currentSnapshotId).getOrElse(
      throw new IllegalStateException("table has no snapshots to tag"))
    require(md.snapshot(sid).isDefined, s"Snapshot $sid not found")
    require(!md.refs.contains(name), s"ref '$name' already exists")
    writeNextVersion(tableDir, baseV, IcebergMeta.render(md.copy(
      lastUpdatedMs = System.currentTimeMillis(),
      refs = md.refs + (name -> graft.meta.SnapshotRef(sid, "tag")))))
  }

  /** Remove a named ref (the snapshot itself stays). */
  def dropRef(tableDir: String, name: String): Int = {
    val (md, baseV) = IcebergMeta.loadVersioned(tableDir)
    require(md.refs.contains(name), s"ref '$name' not found")
    writeNextVersion(tableDir, baseV, IcebergMeta.render(md.copy(
      lastUpdatedMs = System.currentTimeMillis(),
      refs = md.refs - name)))
  }

  /** Drop DANGLING delete files from the live snapshot: position-delete
    * files none of whose `file_path` targets are still live (their
    * targets were rewritten by compaction), and equality-delete files
    * whose sequence no longer scopes ANY live data file (every live file
    * is same-or-newer sequence). The rows they would hide are already
    * structurally unreachable, so this is a metadata-only `replace`
    * commit that rewrites the delete manifests without the dangling
    * entries — afterwards [[expireSnapshots]] reclaims the parquet
    * itself once no retained snapshot references it.
    *
    * Scale shape: the decision needs only manifest entries + the
    * position-delete files' distinct `file_path` values (one Spark scan
    * of the delete files — metadata-adjacent size). Returns the number
    * of delete files dropped; None when nothing dangles. */
  def pruneDanglingDeletes(
      spark: org.apache.spark.sql.SparkSession,
      tableDir: String): Option[Int] = {
    val (md0, baseV) = graft.meta.IcebergMeta.loadVersioned(tableDir)
    val t = new IcebergTable(tableDir, md0)
    val md = t.metadata
    val dels = t.deleteFiles()
    if (dels.isEmpty) return None

    val seqBySnapshot = md.snapshots.map(s => s.snapshotId -> s.sequenceNumber).toMap
    def entrySeq(e: graft.meta.DataFileEntry, legacyDefault: Long): Long =
      e.resolvedSeq(seqBySnapshot, legacyDefault)
    val liveData = t.files()
    val livePaths = liveData.map(_.filePath).toSet
    val minLiveSeq = liveData.map(e => entrySeq(e, 0L))
      .minOption.getOrElse(Long.MaxValue)

    // position deletes: one scan over all position-delete parquet, keyed
    // back to the delete file it came from
    val posDels = dels.filter(_.content == 1)
    val targetsByDelFile: Map[String, Set[String]] =
      if (posDels.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions._
        val prefix = s"file:$tableDir/"
        ScanPlanner.readPositionDeletes(spark, t, posDels)
          .select(
            expr(s"substring(_metadata.file_path, ${prefix.length + 1})").as("del_file"),
            col("file_path"))
          .distinct().collect()
          .groupBy(_.getString(0))
          .map { case (k, rows) => k -> rows.map(_.getString(1)).toSet }
      }

    def dangling(e: graft.meta.DataFileEntry): Boolean = e.content match {
      case 1 => targetsByDelFile.get(e.filePath)
        .exists(ts => ts.intersect(livePaths).isEmpty)
      case 2 => minLiveSeq >= entrySeq(e, Long.MaxValue)
      case _ => false
    }

    val dropped = dels.filter(dangling)
    if (dropped.isEmpty) return None
    val droppedPaths = dropped.map(_.filePath).toSet

    // rewrite delete manifests without the dangling entries; data
    // manifests carry forward untouched
    val dir = Paths.get(tableDir)
    val snapId = md.snapshots.map(_.snapshotId).maxOption.getOrElse(999L) + 1L
    val tok = java.util.UUID.randomUUID().toString.take(8)
    val keptManifests = t.manifests().zipWithIndex.flatMap { case (m, i) =>
      if (m.content != 1) Some(m)
      else {
        val entries = AvroManifests.readManifest(t.resolvePath(m.manifestPath))
        val kept = entries.filterNot(e => droppedPaths.contains(e.filePath))
        if (kept.size == entries.size) Some(m)
        else if (kept.isEmpty) None
        else {
          val relPath = f"metadata/manifest-$snapId-$tok-deletes-$i%02d.avro"
          AvroManifests.writeManifest(dir.resolve(relPath).toString, kept)
          Some(ManifestFile(
            relPath, Files.size(dir.resolve(relPath)),
            partitionSpecId = m.partitionSpecId, content = 1,
            addedSnapshotId = m.addedSnapshotId,
            addedFilesCount = 0, existingFilesCount = kept.size,
            deletedFilesCount = entries.size - kept.size,
            addedRowsCount = 0L,
            existingRowsCount = kept.map(_.recordCount).sum,
            deletedRowsCount = entries.filterNot(kept.contains).map(_.recordCount).sum))
        }
      }
    }

    val listPath = s"metadata/snap-$snapId-$tok.avro"
    AvroManifests.writeManifestList(dir.resolve(listPath).toString, keptManifests)
    val nowMs = System.currentTimeMillis()
    val snapshot = Snapshot(
      snapshotId = snapId,
      parentSnapshotId = md.currentSnapshotId,
      timestampMs = nowMs,
      sequenceNumber = md.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1L,
      schemaId = Some(md.currentSchemaId),
      operation = "replace",
      summary = Map(
        "operation" -> "replace",
        "pruned-delete-files" -> dropped.size.toString,
        "total-data-files" -> liveData.size.toString,
        "total-records" -> liveData.map(_.recordCount).sum.toString,
        "total-files-size" -> liveData.map(_.fileSizeInBytes).sum.toString,
        "total-delete-files" -> (dels.size - dropped.size).toString),
      manifestList = listPath)
    val newMd = md.copy(
      lastUpdatedMs = nowMs,
      currentSnapshotId = Some(snapId),
      snapshots = md.snapshots :+ snapshot,
      refs = md.refs + ("main" -> SnapshotRef(snapId, "branch")))
    writeNextVersion(tableDir, baseV, IcebergMeta.render(newMd))
    Some(dropped.size)
  }

  /** Files under `data/` referenced by NO snapshot's manifests (write
    * leftovers, failed commits). Detection only — pair with
    * [[removeOrphans]]. Driver-side directory walk: at data scale the
    * listing is O(#files) names, the same metadata budget as the
    * manifests themselves; a distributed object-store lister would slot
    * in here unchanged. */
  def orphanFiles(tableDir: String): Seq[String] = {
    val t = IcebergTable.load(tableDir)
    val referenced = t.metadata.snapshots.flatMap(s =>
      t.manifests(Some(s.snapshotId)).flatMap(m =>
        AvroManifests.readManifest(t.resolvePath(m.manifestPath))
          .map(e => t.resolvePath(e.filePath)))).toSet
    val dataDir = Paths.get(tableDir, "data")
    if (!Files.isDirectory(dataDir)) return Seq.empty
    scala.util.Using.resource(Files.walk(dataDir)) { s =>
      s.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(_.toString)
        .filterNot(referenced.contains)
        .toSeq.sorted
    }
  }

  /** Delete detected orphans; returns how many were removed. */
  def removeOrphans(tableDir: String): Int =
    orphanFiles(tableDir).count(p => Files.deleteIfExists(Paths.get(p)))

  /** Default manifest bin-packing target (entries per manifest). */
  val DefaultTargetEntries: Int = 5000

  final case class RewriteManifestsResult(
      manifestsBefore: Int,
      manifestsAfter: Int,
      entries: Int,
      metadataVersion: Int)

  /** Bin-pack the current snapshot's DATA manifests into at most
    * ceil(entries / targetEntries) new manifests — Iceberg's
    * `rewrite_manifests` maintenance action. Frequent small commits
    * (streaming ingest, per-batch appends) each add a manifest; scan
    * PLANNING then reads hundreds of tiny Avro files, which at 100 TB /
    * 500k-file scale is the metadata bottleneck (the data itself is
    * untouched — this is the metadata twin of small-file compaction).
    *
    * Entries are re-sorted by (partition, path) so each packed manifest
    * covers a contiguous partition range. Rewritten entries keep their
    * adding snapshot id with status `existing`; delete manifests carry
    * forward untouched; the commit is a metadata-only `replace` snapshot
    * (same live file set — prior snapshots still reference the old
    * manifests, so time travel is intact and [[expireSnapshots]] reclaims
    * the old Avro later). Returns None when already packed tight enough.
    *
    * Scale shape: driver-side over manifest entries (metadata-scale,
    * SURVEY §7.3); no data file is opened. */
  def rewriteManifests(
      tableDir: String,
      targetEntries: Int = DefaultTargetEntries): Option[RewriteManifestsResult] = {
    require(targetEntries > 0, "targetEntries must be positive")
    val (md0, baseV) = graft.meta.IcebergMeta.loadVersioned(tableDir)
    val t = new IcebergTable(tableDir, md0)
    val md = t.metadata
    if (md.currentSnapshotId.isEmpty) return None
    val manifests = t.manifests()
    val dataManifests = manifests.filter(_.content == 0)
    val deleteManifests = manifests.filter(_.content == 1)
    val entries = dataManifests
      .flatMap(m => AvroManifests.readManifest(t.resolvePath(m.manifestPath)))
      .filter(_.status != 2)
    val targetCount = math.max(1, (entries.size + targetEntries - 1) / targetEntries)
    // round 18: a packed-tight table still rewrites when data manifests
    // lack partition field summaries AND rewriting would stamp them (a
    // field summarizable over ALL entries is summarizable over every
    // packed subset, so one rewrite always clears the condition — no
    // advisory/no-op loop on genuinely unsummarizable tables)
    val wouldSummarize = dataManifests.exists(_.partitions.isEmpty) &&
      graft.meta.ManifestSummaries.of(
        md, md.currentSpec.specId, entries).nonEmpty
    if (dataManifests.size <= targetCount && !wouldSummarize) return None

    // materialize legacy sequences while the adding snapshots are still
    // in the log — the migration path that unblocks expiration of
    // snapshots pinned by the legacy-entry guard
    val seqBySnapshot = md.snapshots.map(s => s.snapshotId -> s.sequenceNumber).toMap
    // typed-aware value rendering so numeric partitions cluster
    // numerically ("2" before "10") — tighter packed summary ranges
    val sortTypes = graft.meta.ManifestSummaries.fieldTypes(md, md.currentSpec.specId)
    val sorted = entries
      .map(e => if (e.sequenceNumber >= 0) e
        else e.copy(sequenceNumber = e.resolvedSeq(seqBySnapshot, -1L)))
      .sortBy(e =>
        (e.partition.toSeq.sortBy(_._1).map { case (k, v) =>
          s"$k=${sortTypes.get(k)
            .map(tp => graft.meta.ManifestSummaries.sortForm(tp, v))
            .getOrElse(v)}" }.mkString("/"),
          e.filePath))
    val perManifest = (sorted.size + targetCount - 1) / targetCount
    val snapId = md.snapshots.map(_.snapshotId).max + 1L
    val tok = java.util.UUID.randomUUID().toString.take(8)
    val dir = Paths.get(tableDir)
    val newManifests = sorted.grouped(perManifest).zipWithIndex.map {
      case (group, i) =>
        // entries keep their ORIGINAL adding snapshot, status -> existing
        val existing = group.map(e => e.copy(status = 0))
        val relPath = f"metadata/manifest-$snapId-$tok-packed-$i%03d.avro"
        AvroManifests.writeManifest(dir.resolve(relPath).toString, existing)
        ManifestFile(
          relPath, Files.size(dir.resolve(relPath)),
          partitionSpecId = md.currentSpec.specId, content = 0,
          addedSnapshotId = snapId,
          addedFilesCount = 0, existingFilesCount = existing.size,
          deletedFilesCount = 0, addedRowsCount = 0L,
          existingRowsCount = existing.map(_.recordCount).sum,
          deletedRowsCount = 0L,
          // the partition sort above makes each packed manifest cover a
          // CONTIGUOUS partition range, so these summaries are tight —
          // packing is what turns summary pruning from per-commit luck
          // into a maintained invariant
          partitions = graft.meta.ManifestSummaries.of(
            md, md.currentSpec.specId, existing))
    }.toSeq

    val listPath = s"metadata/snap-$snapId-$tok.avro"
    AvroManifests.writeManifestList(
      dir.resolve(listPath).toString, newManifests ++ deleteManifests)
    val nowMs = System.currentTimeMillis()
    val snapshot = Snapshot(
      snapshotId = snapId,
      parentSnapshotId = md.currentSnapshotId,
      timestampMs = nowMs,
      schemaId = Some(md.currentSchemaId),
      operation = "replace",
      summary = Map(
        "operation" -> "replace",
        "manifests-replaced" -> dataManifests.size.toString,
        "manifests-created" -> newManifests.size.toString,
        "manifests-kept" -> deleteManifests.size.toString,
        "total-data-files" -> entries.size.toString,
        "total-records" -> entries.map(_.recordCount).sum.toString,
        "total-files-size" -> entries.map(_.fileSizeInBytes).sum.toString),
      manifestList = listPath,
      sequenceNumber = md.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1L)
    val v = writeNextVersion(tableDir, baseV, IcebergMeta.render(md.copy(
      lastUpdatedMs = nowMs,
      currentSnapshotId = Some(snapId),
      snapshots = md.snapshots :+ snapshot,
      refs = md.refs + ("main" -> SnapshotRef(snapId, "branch")))))
    Some(RewriteManifestsResult(dataManifests.size, newManifests.size, entries.size, v))
  }

  // ------------------------------------------------------------- internals

  /** CAS-publish at `baseV + 1`, where `baseV` came from the SAME
    * loadVersioned read as the metadata being written — re-listing here
    * would let a concurrent commit slip between load and publish and be
    * silently dropped (see IcebergMeta.loadVersioned). */
  private def writeNextVersion(tableDir: String, baseV: Int, content: String): Int = {
    val v = baseV + 1
    val target = Paths.get(tableDir, "metadata", s"v$v.metadata.json")
    IcebergMeta.publish(target, content)
    v
  }
}
