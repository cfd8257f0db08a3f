package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus("4")
    // numeric view for JSON fields / file suffixes (local[N*] forms and
    // garbage map to 0 rather than emitting unparseable JSON)
    val cpusNum = scala.util.Try(cpus.trim.toInt).getOrElse(0)
    val spark = Sessions.local(cpus)

    // Untimed warmup: exercise the scan/agg/join/window code paths once so
    // per-query timings measure steady state, not first-use JIT + codegen
    // compilation of the whole engine. Guarded: a warmup failure (missing
    // table, bad env) must not kill the run before the JSON line — the
    // driver treats a missing line as a zero-signal round.
    try {
      import org.apache.spark.sql.functions._
      // collect() (not count()) on the aggregates: count(1) over an agg
      // lets column pruning drop the aggregate input entirely, so the data
      // pages would stay cold and the warmup would warm nothing.
      spark.range(1000).agg(sum(col("id"))).collect()
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.filter(col("l_quantity") > 0).groupBy("l_returnflag")
        .agg(sum(col("l_extendedprice"))).collect()
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      li.join(o, col("l_orderkey") === col("o_orderkey")).count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy("l_orderkey")
      li.withColumn("rn", row_number().over(w)).count()
      // touch the remaining tables so no timed query pays first-read costs
      // (parquet footers, page-cache fill, column decompression paths)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .agg(sum(length(col("text")))).collect()
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .agg(sum(expr("size(embedding)"))).collect()
      spark.read.parquet(s"$sfDir/events.parquet").agg(max(col("ts"))).collect()
      Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").count()
      }
    } catch {
      // NonFatal only: an OOM / linkage error means the JVM is not in a
      // state where the timed passes would produce a meaningful signal —
      // better no JSON line than garbage timings the driver trusts
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup failed: $e")
    }

    // Three full passes over the whole suite, interleaved (pass 1 runs every
    // query once, then pass 2, then pass 3), min per query. Back-to-back
    // repeats of one query share any transient contention window on this
    // shared box (round 5 saw a sustained multi-minute spike poison BOTH
    // runs of six consecutive queries); spreading a query's repeats ~25 s
    // apart makes the min a far better steady-state estimator.
    // dev loop: SPARK_GRAFT_BENCH_ONLY=distributed skips the main passes
    val names =
      if (sys.env.get("SPARK_GRAFT_BENCH_ONLY").contains("distributed")) Seq.empty
      else SparkEntry.queries.toSeq.sortBy(_._1)
    val passes = 3
    val times = Array.fill(names.length, passes)(0.0)
    for (p <- 0 until passes; ((name, fn), i) <- names.zipWithIndex) {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable => System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      times(i)(p) = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] pass${p + 1} $name%-22s ${times(i)(p)}%8.2f s")
    }
    // The driver captures only the LAST ~2000 chars of stdout and parses one
    // JSON line out of it. Round 7's line (92 queries, 3 decimals) grew past
    // that window and the round's perf signal was lost (parsed: null). So:
    // full per-query detail goes to a sidecar file inside the repo (the
    // judge reads it from git), and stdout gets a compact line — total +
    // the slowest queries only — printed LAST, sized to survive the capture
    // even with sbt's trailing "[success] Total time" line after it.
    def r3(d: Double): String = f"$d%.3f"
    val total = times.map(_.min).sum
    val totalFirst = times.map(_.head).sum
    val perQuery = names.zipWithIndex.map { case ((k, _), i) => (k, times(i).min) }

    // FORCED-DISTRIBUTED section (SPARK_GRAFT_BENCH_DISTRIBUTED=1): the
    // adaptive operators (components, perceptron, BPE) normally take
    // their driver paths at bench scale, so the distributed code — the
    // path that matters at 100 TB — would only ever get spec coverage.
    // This times them with driver thresholds 0 (one pass each; these are
    // multi-job loops where run-to-run noise amortizes across jobs).
    // A knob-less run MEASURES the section too when the previous sidecar
    // lacks it (carry-forward of nothing must fall back to measuring —
    // the d_* numbers are the only wall-clock signal on the 100 TB code
    // paths and must never exist only in git history).
    val detailPathEarly = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json"))
    val prevDetail: Option[String] =
      try Some(new String(
        java.nio.file.Files.readAllBytes(detailPathEarly), "UTF-8"))
      catch { case scala.util.control.NonFatal(_) => None }
    val prevDistObj = prevDetail.flatMap(
      """"distributed":\{[^}]*\}""".r.findFirstIn(_))
    // the knob-less measure-when-absent fallback applies ONLY to the
    // CANONICAL checked-in sidecar: a run pointing SPARK_GRAFT_BENCH_DETAIL
    // at a fresh output file is a dev redirect, not evidence that the
    // 100 TB wall-clock signal is missing — it must not silently opt
    // into the multi-minute distributed section. A distributed-ONLY dev
    // run, though, IS an explicit request for the section (the pre-gate
    // recipe), knob or not.
    val runDistributed =
      sys.env.get("SPARK_GRAFT_BENCH_DISTRIBUTED").contains("1") ||
        sys.env.get("SPARK_GRAFT_BENCH_ONLY").contains("distributed") ||
        (prevDistObj.isEmpty &&
          !sys.env.contains("SPARK_GRAFT_BENCH_DETAIL") &&
          !sys.env.get("SPARK_GRAFT_BENCH_DISTRIBUTED").contains("0"))
    val distributed: Seq[(String, Double)] =
      if (!runDistributed) Seq.empty
      else {
        import org.apache.spark.sql.functions._
        val docs = Tables.documents(spark, sfDir)
        def timed(name: String)(body: => Unit): (String, Double) = {
          val t0 = System.nanoTime()
          val ok =
            try { body; true } catch {
              case e: Throwable =>
                System.err.println(s"[bench] distributed $name FAILED: ${e.getMessage}")
                false
            }
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] distributed $name%-18s $dt%8.2f s" +
            (if (ok) "" else " (FAILED)"))
          // a crash must not read as a speedup in the committed JSON —
          // failures record as NEGATIVE time-to-crash
          (name, if (ok) dt else -dt)
        }
        // PERSISTED-index serving latencies: the 100 TB posture is a
        // standing IVF-PQ index probed repeatedly, so the numbers that
        // matter are the FROZEN-quantizer paths — no kmeans runs in any
        // timed body below. The bootstrap is the one-time build cost,
        // reported separately (d_ann_bootstrap), not folded into serving.
        val emb = Tables.embeddings(spark, sfDir)
        val annEngine = new graft.api.Engine(spark,
          java.nio.file.Files.createTempDirectory("bench_ann").toString)
        val annIdx = new graft.ops.AnnIndex(annEngine, "bench.ann",
          kClusters = 8, iters = 2, pqM = 4, pqK = 16)
        val extProbes = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id"), col("embedding")).localCheckpoint()
        val gateBatch = emb.filter(col("vec_id") % 97 === 0)
          .withColumn("vec_id", col("vec_id") + lit(10000000L))
          .localCheckpoint()
        // the LEDGER twin's batch: same vectors, disjoint ids — after
        // d_ann_gate rejects its batch (exact dups of indexed vectors)
        // the index is unchanged, so this batch sees the IDENTICAL
        // collision structure and d_ann_gate_ledger − d_ann_gate is the
        // semantic fold's marginal cost (resolution + batch-bounded
        // re-cluster + one ledger commit), measured, not inferred
        val gateBatch2 = emb.filter(col("vec_id") % 97 === 0)
          .withColumn("vec_id", col("vec_id") + lit(20000000L))
          .localCheckpoint()
        val annLedger = new graft.ops.ComponentIndex(
          annEngine, "bench.ann_comps")
        annLedger.create()
        // dup-cluster ledger maintenance: candidate pairs prepared
        // untimed (d_components already times candidate generation) so
        // d_components_fold isolates the INCREMENTAL path — resolution,
        // contracted re-cluster, pruned relabel, merge-on-read upsert
        val compEngine = new graft.api.Engine(spark,
          java.nio.file.Files.createTempDirectory("bench_comps").toString)
        val compIdx = new graft.ops.ComponentIndex(compEngine, "bench.comps")
        val compPairs = graft.ops.Dedup.minhashCandidates(spark, docs,
            sorted = false)
          .localCheckpoint()
        // a 2% batch: ingest batches are small relative to the corpus,
        // and the fold's cost model (batch-bounded re-cluster + pruned
        // relabel + one commit) is what this timing is FOR
        val newDoc = (c: org.apache.spark.sql.Column) => c % 50 === 0
        // FOLD-VS-GLOBAL CROSSOVER fixture: the fold pays fixed commit +
        // pinned-load overhead that only amortizes when the corpus
        // dwarfs the batch — at this sf's corpus-to-batch ratio the
        // from-scratch path can win (d_components vs d_components_fold;
        // README documents the caveat). The 25× corpus shows the regime
        // the ledger exists for: maintaining dup groups WITHOUT the
        // ledger means re-running candidate generation over the WHOLE
        // corpus plus a global CC on every ingest batch — that is what
        // d_components_global_25x times — while the fold's cost is
        // batch-bounded regardless of corpus size. Replica texts are
        // decorrelated — every token suffixed with "_<replica>"; the
        // non-digit separator matters, a bare digit suffix would alias
        // token "x1" of replica 2 with token "x" of replica 12 — so
        // replicas share no shingles and the dup structure is 25
        // disjoint copies, not a 25-wide merge; the id shift is a
        // multiple of 50 so the newDoc batch classes are preserved.
        // Ledger bootstrap (the ONE-TIME global run) is untimed.
        val docs25 = (0 until 25).map(k => docs.select(
            (col("doc_id") + lit(k * 100000000L)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", s"$$1_$k").as("text")))
          .reduce(_ unionByName _).localCheckpoint()
        val pairs25 = graft.ops.Dedup.minhashCandidates(spark, docs25,
            sorted = false)
          .localCheckpoint()
        val inBatch25 = (newDoc(col("a_id")) || newDoc(col("b_id"))) &&
          col("a_id") < 100000000L && col("b_id") < 100000000L
        val batch25 = pairs25.filter(inBatch25).localCheckpoint()
        val compIdx25 = new graft.ops.ComponentIndex(
          compEngine, "bench.comps25")
        compIdx25.create()
        compIdx25.bootstrap(pairs25.filter(!inBatch25))
        // ADOPTION at FILE-COUNT scale: one vendor drop of 10,000 real
        // parquet files through the full register pipeline — the
        // executor-parallel footer gate, the bounded-parallel link
        // pass, ONE distributed stats aggregation over every file, one
        // 10k-entry manifest commit. Fixture is a single seed file
        // hard-linked under 10k distinct names (identical bytes, 10k
        // REAL footers — the pipeline's cost is per FILE, not per byte),
        // built untimed so d_adopt_10k prices adoption, not fixture
        // generation.
        val adoptSeedDir = java.nio.file.Files.createTempDirectory("bench_adopt_seed")
        docs.select(col("doc_id"), col("lang")).limit(64).coalesce(1)
          .write.mode("overwrite").parquet(adoptSeedDir.toString)
        val adoptSeed = {
          import scala.jdk.CollectionConverters._
          val s = java.nio.file.Files.list(adoptSeedDir)
          try s.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          finally s.close()
        }
        val adoptSrc = java.nio.file.Files.createTempDirectory("bench_adopt_src")
        (0 until 10000).foreach { i =>
          java.nio.file.Files.createLink(
            adoptSrc.resolve(f"part-$i%05d.parquet"), adoptSeed)
        }
        val adoptEngine = new graft.api.Engine(spark,
          java.nio.file.Files.createTempDirectory("bench_adopt_wh").toString)
        // MANIFEST-level pruning at metadata scale: 200 summarized
        // manifests x 100 entries (the post-rewrite_manifests steady
        // state of a streaming table); the probe should open ~1 manifest
        // where the full listing parses all 200. Metadata-only fixture
        // (planning never opens data), built untimed.
        val mpruneDir = java.nio.file.Files
          .createTempDirectory("bench_mprune").toString + "/t"
        graft.fixtures.FixtureWriter.writeManyManifests(mpruneDir, 200, 100)
        Seq(
          timed("d_ann_bootstrap") {
            annIdx.create(); annIdx.bootstrap(emb); ()
          },
          timed("d_ann_pq_serve") {
            annIdx.search(extProbes, 5, 2).count()
          },
          timed("d_ann_decontam_serve") {
            annIdx.decontam(extProbes, 0.35).count()
          },
          timed("d_ann_gate") {
            annIdx.admitIfNovel(gateBatch, 0.35).count()
          },
          timed("d_ann_gate_ledger") {
            annIdx.admitIfNovel(gateBatch2, 0.35,
              components = Some(annLedger)).count()
          },
          timed("d_components") {
            graft.ops.Dedup.connectedComponents(
                graft.ops.Dedup.minhashCandidates(spark, docs,
                  sorted = false),
                driverThreshold = 0L)
              .groupBy("component").agg(count(lit(1))).count()
          },
          timed("d_components_bootstrap") {
            compIdx.create()
            compIdx.bootstrap(compPairs.filter(
              !newDoc(col("a_id")) && !newDoc(col("b_id"))))
          },
          timed("d_components_fold") {
            compIdx.fold(compPairs.filter(
              newDoc(col("a_id")) || newDoc(col("b_id")))).count()
          },
          // corpus deletion: retire a ~1% doc slice — affected-component
          // re-cluster + one row-delta commit; residual pairs come from
          // the prepared pair set (the docs-based provider shape)
          timed("d_components_retire") {
            val gone = (c: org.apache.spark.sql.Column) => c % 101 === 0
            val retiredIds = compPairs
              .select(col("a_id").as("doc_id"))
              .union(compPairs.select(col("b_id").as("doc_id")))
              .filter(gone(col("doc_id"))).distinct()
              .collect().map(_.getLong(0)).toIndexedSeq
            compIdx.retire(retiredIds, ids =>
              compPairs
                .join(ids.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
                .join(ids.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
                .filter(!gone(col("a_id")) && !gone(col("b_id"))))
              .count()
          },
          // the DELETE-DEBT story, measured: the retire above landed an
          // equality-delete commit on bench.comps, so every read pays
          // the merge-on-read anti-join fallback until upkeep folds it.
          // The pair (read_mor, read_upkept) prices the regression and
          // its cure; d_forget_upkeep is the one-time fold cost
          // (`compact-incremental` + prune-deletes — exactly what
          // adviseIndexes recommends after a forget).
          timed("d_forget_read_mor") {
            compIdx.assignments.count()
          },
          timed("d_forget_upkeep") {
            compEngine.rewriteSmallFiles("bench.comps")
            compEngine.pruneDanglingDeletes("bench.comps"); ()
          },
          timed("d_forget_read_upkept") {
            compIdx.assignments.count()
          },
          // the crossover pair: same batch, 25× corpus — the ledger-less
          // regime re-runs candidate generation over the whole corpus +
          // a global CC per ingest batch; the fold is batch-bounded
          timed("d_components_global_25x") {
            graft.ops.Dedup.connectedComponents(
                graft.ops.Dedup.minhashCandidates(spark, docs25,
                  sorted = false),
                driverThreshold = 0L)
              .groupBy("component").agg(count(lit(1))).count()
          },
          timed("d_components_fold_25x") {
            compIdx25.fold(batch25).count()
          },
          timed("d_perceptron") {
            graft.ops.Selection.trainQualityPerceptron(
              docs, col("lang") === "en", driverRowLimit = 0).count()
          },
          timed("d_bpe_serial16") {
            graft.ops.Bpe.trainMerges(docs, nMerges = 16,
              driverVocabThreshold = 0L, batchK = 1,
              trackedPairThreshold = 0L).count()
          },
          timed("d_bpe_batched64") {
            graft.ops.Bpe.trainMerges(docs, nMerges = 64,
              driverVocabThreshold = 0L, batchK = 8,
              trackedPairThreshold = 0L).count()
          },
          // the realistic-merge-count tier: distributed vocab, driver-
          // tracked exact census — argmax off the ordered set (zero
          // jobs), one delta job per round, maximal batches
          timed("d_bpe_tracked512") {
            graft.ops.Bpe.trainMerges(docs, nMerges = 512,
              driverVocabThreshold = 0L, batchK = 32).count()
          },
          timed("d_adopt_10k") {
            adoptEngine.registerParquet("bench.adopt10k", adoptSrc.toString)
            ()
          },
          // fresh table handles per row: the comparison is listing cost,
          // not memo hits
          timed("d_mprune_plan") {
            graft.sql.FilePrune.liveEntries(
              graft.meta.IcebergTable.load(mpruneDir), None,
              Seq(org.apache.spark.sql.sources.EqualTo("k", 42))).size
          },
          timed("d_mprune_plan_full") {
            graft.meta.IcebergTable.load(mpruneDir).files().size
          })
      }
    // The commit a distributed section was MEASURED at rides in the
    // sidecar (`distributed_commit`): a run without the knob carries the
    // previous section forward — it must not erase the only wall-clock
    // signal on the 100 TB code paths — but a carried section is tagged
    // `distributed_stale` when src/main CHANGED since the measuring
    // commit, so stale d_* timings are never presented as measured-at-
    // HEAD. Staleness is a source diff, NOT commit equality: committing
    // the refreshed sidecar itself moves HEAD, so an equality check
    // could never pass for a checked-in sidecar and would re-tag (and
    // re-dirty) it on every knob-less run.
    // The repo that matters is the one holding the SIDECAR — its parent
    // is consulted FIRST and the cwd is only a fallback (a run launched
    // from inside some unrelated checkout must not stamp that repo's
    // HEAD as this sidecar's measuring commit). All git questions —
    // HEAD, worktree-vs-stamp src diff, dirtiness — go through the
    // unit-tested [[graft.tools.GitInfo]].
    val git = new graft.tools.GitInfo(
      Option(detailPathEarly.toAbsolutePath.getParent).toSeq :+
        java.nio.file.Paths.get(""))
    val distJson =
      if (distributed.nonEmpty) {
        // a measurement from a DIRTY src/main must not stamp HEAD (the
        // stamp would not contain the measured code) — and the section
        // it writes must SAY so (`distributed_dirty`), not merely omit
        // the stamp: this run's own sidecar would otherwise present
        // dirty-tree timings indistinguishable from a clean measurement
        // (the stale tag only appears once a LATER run carries them).
        // "Could not ask git" is NOT dirtiness — recording an
        // affirmative dirty claim for an unknown state would fabricate
        // a fact, so that case gets its own marker.
        val commit = git.srcCleanStatus match {
          case Some(true) => git.head
            .map(h => s""","distributed_commit":"$h"""")
            .getOrElse(""","distributed_git_unknown":true""")
          case Some(false) => ""","distributed_dirty":true"""
          case None => ""","distributed_git_unknown":true"""
        }
        distributed.map { case (k, t) => "\"" + k + "\":" + r3(t) }
          .mkString(""","distributed":{""", ",", "}") + commit
      } else prevDistObj match {
        case Some(obj) =>
          System.err.println("[bench] carrying previous distributed section forward")
          val prevCommit = prevDetail.flatMap(
            """"distributed_commit":"([0-9a-f]+)"""".r
              .findFirstMatchIn(_).map(_.group(1)))
          // the worktree diff subsumes the HEAD-equality check (empty
          // iff nothing changed, committed OR uncommitted)
          val fresh = prevCommit.exists(c =>
            git.srcUnchangedSince(c).contains(true))
          // a measured-on-dirty-tree (or unknown-git) marker is a
          // stronger fact than generic staleness — it must survive the
          // carry, not be downgraded to the stale tag alone
          val carriedMarkers = Seq("distributed_dirty", "distributed_git_unknown")
            .filter(m => prevDetail.exists(_.contains("\"" + m + "\":true")))
            .map(m => s""","$m":true""").mkString
          "," + obj +
            prevCommit.map(c => s""","distributed_commit":"$c"""").getOrElse("") +
            carriedMarkers +
            (if (fresh) "" else ""","distributed_stale":true""")
        case None => ""
      }

    val detailJson = perQuery
      .map { case (k, t) => "\"" + k + "\":" + r3(t) }
      .mkString(
        s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs_per_query":$passes,"agg":"min","total_first_run":${r3(totalFirst)},"cpus":$cpusNum,"sf":"$sfDir"$distJson,"queries":{""",
        ",", "}}")
    val detailPath = detailPathEarly
    // a distributed-only dev run (SPARK_GRAFT_BENCH_ONLY) must not
    // clobber the canonical checked-in detail file with an empty suite
    val skipDetail = names.isEmpty &&
      !sys.env.contains("SPARK_GRAFT_BENCH_DETAIL")
    // The driver benches the SAME code at two core counts minutes apart,
    // and both runs write the one canonical sidecar — the second (low-core)
    // run used to clobber the first's per-query map, leaving the driver's
    // perf comparison with no per-query data at the main core count
    // (r18 PERF had n_common: 0). Every run therefore ALSO writes a
    // per-core-count sidecar, BENCH_DETAIL_c<cpus>.json, and points the
    // stdout line's detail_file at it; the canonical path keeps its
    // latest-run/carry-forward semantics unchanged. (The full queries map
    // cannot ride the stdout line itself: the driver parses the LAST 2000
    // chars of stdout, and a 129-entry line overflows that window —
    // round 7 lost its perf signal exactly that way.)
    val perCpuPath =
      if (sys.env.contains("SPARK_GRAFT_BENCH_DETAIL")) detailPath
      else {
        val dir = Option(detailPath.toAbsolutePath.getParent)
          .getOrElse(java.nio.file.Paths.get("."))
        dir.resolve(s"BENCH_DETAIL_c$cpusNum.json")
      }
    if (!skipDetail) {
      try java.nio.file.Files.write(detailPath, (detailJson + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] detail write failed: $e") }
      if (perCpuPath != detailPath)
        try java.nio.file.Files.write(perCpuPath, (detailJson + "\n").getBytes("UTF-8"))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] per-cpu detail write failed: $e") }
    }
    val slowest = perQuery.sortBy(-_._2).take(12)
      .map { case (k, t) => "\"" + k + "\":" + r3(t) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs_per_query":$passes,"agg":"min","total_first_run":${r3(totalFirst)},"n_queries":${names.length},"cpus":$cpusNum,"slowest":$slowest,"detail_file":"${perCpuPath.toAbsolutePath}","sf":"$sfDir"}""")
    spark.stop()
  }
}
