package graft.queries

import org.apache.spark.sql.GraftTempDir
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.api.Engine
import graft.ops.Health.moneySum

/** End-to-end WRITE-PATH queries: each builds a throwaway warehouse,
  * drives a real commit sequence (append / MERGE upsert / merge-on-read
  * delete / overwrite / rollback / schema evolution / change feed), then
  * reads the table back through the normal scan path — so the DuckDB
  * oracle (pure SQL over the SOURCE parquet) verifies the entire
  * write→commit→read pipeline preserves row semantics, not just that a
  * transformation is correct. These turn the WR21-WR32 surfaces
  * (previously spec-only) into driver-oracle-checked behavior.
  *
  * Scale note: every step is the engine's ordinary distributed commit —
  * the fixture is small only because the oracle must replay it; the code
  * paths (equality-delete MERGE, position-delete DELETE, field-id
  * projection across schema versions, parent-lineage change feed) are
  * the exact ones a 100 TB table takes.
  */
object WriteQueries {

  /** One deterministic ~10% slice of `orders` (keys ≡ r mod 10), flat
    * primitive columns only so the change feed's lineage read applies. */
  private def slice(s: org.apache.spark.sql.SparkSession, d: String, r: Int) =
    orders(s, d).filter(col("o_orderkey") % 10 === r)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  private val sliceSql =
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey %% 10 = %d"

  val all: Seq[Q] = Seq(

    // MERGE (upsert) + row-level DELETE, both merge-on-read, read back
    // through the scan path: one equality-delete commit rewrites matched
    // keys and inserts new ones, then a position-delete commit drops a
    // predicate slice of the MERGED state — the final read resolves BOTH
    // delete shapes (eq-deletes sequence-scoped under the upsert's own
    // appends, pos-deletes on top) in one pass. Oracle rederives the
    // final table from the source rows.
    Q("q_merge_upsert",
      (s, d) => {
        val src = slice(s, d, 0)
        val wh = GraftTempDir("q_merge")
        val e = new Engine(s, wh)
        e.createTable("q.merge_orders", src.schema)
        e.append("q.merge_orders", src)
        val updates = src.filter(col("o_orderkey") % 30 === 0)
          .withColumn("o_custkey", col("o_custkey") + 1000000L)
          .withColumn("o_orderstatus", lit("U"))
        val inserts = src.filter(col("o_orderkey") % 40 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 1L) // ≡1 mod 10: new keys
          .withColumn("o_orderstatus", lit("N"))
        e.upsert("q.merge_orders", updates.unionByName(inserts), Seq("o_orderkey"))
        e.deleteWhere("q.merge_orders", col("o_custkey") % 7 === 0)
        e.readTable("q.merge_orders")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_custkey")).as("sum_cust"),
            moneySum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some(s"""WITH src AS (${sliceSql.format(0)}),
         |merged AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 30 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
         |    CASE WHEN o_orderkey % 30 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
         |    o_totalprice
         |  FROM src
         |  UNION ALL
         |  SELECT o_orderkey + 1, o_custkey, 'N', o_totalprice
         |  FROM src WHERE o_orderkey % 40 = 0)
         |SELECT o_orderstatus, count(*) AS n_orders,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM merged WHERE o_custkey % 7 <> 0
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ROW DELTA — upsert's general form: ONE commit appends rows AND
    // equality-deletes an INDEPENDENT key set. Deletion-only keys
    // (≡0 mod 30 but not mod 60) vanish with no replacement; keys in
    // BOTH sets (≡0 mod 60) are replaced in the same commit — the
    // appended rows survive their own delete via sequence scoping
    // (the exact semantics a streaming CDC upsert needs).
    Q("q_row_delta",
      (s, d) => {
        val src = slice(s, d, 0)
        val wh = GraftTempDir("q_rowdelta")
        val e = new Engine(s, wh)
        e.createTable("q.rd_orders", src.schema)
        e.append("q.rd_orders", src)
        val replacements = src.filter(col("o_orderkey") % 60 === 0)
          .withColumn("o_custkey", col("o_custkey") + 5000000L)
          .withColumn("o_orderstatus", lit("R"))
        val newRows = src.filter(col("o_orderkey") % 40 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 1L) // ≡1 mod 10: new keys
          .withColumn("o_orderstatus", lit("N"))
        val deleteKeys = src.filter(col("o_orderkey") % 30 === 0)
          .select("o_orderkey")
        e.rowDelta("q.rd_orders", replacements.unionByName(newRows),
          Seq("o_orderkey"), deleteKeys)
        e.readTable("q.rd_orders")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_custkey")).as("sum_cust"),
            moneySum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some(s"""WITH src AS (${sliceSql.format(0)}),
         |final AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         |  FROM src WHERE o_orderkey % 30 <> 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey + 5000000, 'R', o_totalprice
         |  FROM src WHERE o_orderkey % 60 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 1, o_custkey, 'N', o_totalprice
         |  FROM src WHERE o_orderkey % 40 = 0)
         |SELECT o_orderstatus, count(*) AS n_orders,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Row-level CHANGE DATA FEED over (snap1, snap3]: append → insert
    // rows; merge-on-read DELETE → delete rows resolved against the
    // parent state's lineage. The feed reads ONLY the files each commit
    // touched (manifest diff), so the oracle match proves the
    // metadata-accelerated walk reconstructs exactly the committed row
    // changes.
    Q("q_changelog_rows",
      (s, d) => {
        val a = slice(s, d, 0)
        val b = slice(s, d, 1)
        val wh = GraftTempDir("q_cdf")
        val e = new Engine(s, wh)
        e.createTable("q.cdf_orders", a.schema)
        val snap1 = e.append("q.cdf_orders", a).snapshotId
        e.append("q.cdf_orders", b)
        val snap3 = e.deleteWhere("q.cdf_orders", col("o_custkey") % 3 === 0)
          .get.snapshotId
        e.rowChanges("q.cdf_orders", snap1, snap3)
          .groupBy("_change_type")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_custkey")).as("sum_cust"),
            moneySum(col("o_totalprice")).as("sum_price"))
          .orderBy("_change_type")
      },
      Some(s"""WITH a AS (${sliceSql.format(0)}), b AS (${sliceSql.format(1)}),
         |changes AS (
         |  SELECT 'insert' AS _change_type, o_custkey, o_totalprice FROM b
         |  UNION ALL
         |  SELECT 'delete', o_custkey, o_totalprice
         |  FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
         |  WHERE o_custkey % 3 = 0)
         |SELECT _change_type, count(*) AS n_rows,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM changes GROUP BY _change_type ORDER BY _change_type""".stripMargin)),

    // TIME TRAVEL + ROLLBACK: snapshot-pinned reads after an overwrite
    // (the pinned read sees the pre-overwrite files), then rollback
    // moves the main ref back and the CURRENT read equals the v1 state
    // again — three tagged aggregates over the three reads.
    Q("q_time_travel",
      (s, d) => {
        val a = slice(s, d, 0)
        val b = slice(s, d, 1)
        val wh = GraftTempDir("q_tt")
        val e = new Engine(s, wh)
        e.createTable("q.tt_orders", a.schema)
        val snap1 = e.append("q.tt_orders", a).snapshotId
        e.overwrite("q.tt_orders", b)
        def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.agg(count(lit(1)).as("n_rows"),
              sum(col("o_custkey")).as("sum_cust"),
              moneySum(col("o_totalprice")).as("sum_price"))
            .withColumn("version", lit(tag))
        val pinned = agg(e.readTable("q.tt_orders", Some(snap1)), "1_pinned")
        val current = agg(e.readTable("q.tt_orders"), "2_overwritten")
        e.rollback("q.tt_orders", snap1)
        val rolled = agg(e.readTable("q.tt_orders"), "3_rolled_back")
        pinned.unionByName(current).unionByName(rolled)
          .select("version", "n_rows", "sum_cust", "sum_price")
          .orderBy("version")
      },
      Some(s"""WITH a AS (${sliceSql.format(0)}), b AS (${sliceSql.format(1)}),
         |tagged AS (
         |  SELECT '1_pinned' AS version, o_custkey, o_totalprice FROM a
         |  UNION ALL SELECT '2_overwritten', o_custkey, o_totalprice FROM b
         |  UNION ALL SELECT '3_rolled_back', o_custkey, o_totalprice FROM a)
         |SELECT version, count(*) AS n_rows,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM tagged GROUP BY version ORDER BY version""".stripMargin)),

    // WRITE-AUDIT-PUBLISH: a staged (wap.id) append is INVISIBLE to the
    // main line until publish; cherrypicking it makes exactly its rows
    // appear. Two tagged aggregates pin both states.
    Q("q_wap_publish",
      (s, d) => {
        val a = slice(s, d, 0)
        val b = slice(s, d, 1)
        val wh = GraftTempDir("q_wap")
        val e = new Engine(s, wh)
        e.createTable("q.wap_orders", a.schema)
        e.append("q.wap_orders", a)
        e.appendStaged("q.wap_orders", b, wapId = "audit-1")
        def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.agg(count(lit(1)).as("n_rows"),
              sum(col("o_custkey")).as("sum_cust"),
              moneySum(col("o_totalprice")).as("sum_price"))
            .withColumn("version", lit(tag))
        val staged = agg(e.readTable("q.wap_orders"), "1_staged_invisible")
        e.publishWap("q.wap_orders", "audit-1")
        val published = agg(e.readTable("q.wap_orders"), "2_published")
        staged.unionByName(published)
          .select("version", "n_rows", "sum_cust", "sum_price")
          .orderBy("version")
      },
      Some(s"""WITH a AS (${sliceSql.format(0)}), b AS (${sliceSql.format(1)}),
         |tagged AS (
         |  SELECT '1_staged_invisible' AS version, o_custkey, o_totalprice FROM a
         |  UNION ALL SELECT '2_published', o_custkey, o_totalprice FROM a
         |  UNION ALL SELECT '2_published', o_custkey, o_totalprice FROM b)
         |SELECT version, count(*) AS n_rows,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM tagged GROUP BY version ORDER BY version""".stripMargin)),

    // BRANCH ISOLATION: a commit onto a branch ref leaves the main line
    // untouched; the branch head reads main's rows plus its own.
    Q("q_branch_isolation",
      (s, d) => {
        val a = slice(s, d, 0)
        val b = slice(s, d, 1)
        val wh = GraftTempDir("q_branch")
        val e = new Engine(s, wh)
        e.createTable("q.br_orders", a.schema)
        e.append("q.br_orders", a)
        e.append("q.br_orders", b, branch = Some("dev"))
        def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.agg(count(lit(1)).as("n_rows"),
              sum(col("o_custkey")).as("sum_cust"),
              moneySum(col("o_totalprice")).as("sum_price"))
            .withColumn("version", lit(tag))
        val main = agg(e.readTable("q.br_orders"), "1_main")
        val dev = agg(e.readTable("q.br_orders",
          Some(e.resolveRef("q.br_orders", "dev"))), "2_branch")
        main.unionByName(dev)
          .select("version", "n_rows", "sum_cust", "sum_price")
          .orderBy("version")
      },
      Some(s"""WITH a AS (${sliceSql.format(0)}), b AS (${sliceSql.format(1)}),
         |tagged AS (
         |  SELECT '1_main' AS version, o_custkey, o_totalprice FROM a
         |  UNION ALL SELECT '2_branch', o_custkey, o_totalprice FROM a
         |  UNION ALL SELECT '2_branch', o_custkey, o_totalprice FROM b)
         |SELECT version, count(*) AS n_rows,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM tagged GROUP BY version ORDER BY version""".stripMargin)),

    // COMPACTION ROUND-TRIP: three small appends + a merge-on-read
    // DELETE, folded by rewriteSmallFiles into delete-free files — the
    // read-back must be byte-identical to the pre-compaction logical
    // state, and the row change feed across the replace commit must be
    // EMPTY (physical rewrite, no logical change).
    Q("q_compact_roundtrip",
      (s, d) => {
        val wh = GraftTempDir("q_compact")
        val e = new Engine(s, wh)
        val base = slice(s, d, 0)
        e.createTable("q.cp_orders", base.schema)
        e.append("q.cp_orders", base.filter(col("o_orderkey") % 30 === 0))
        e.append("q.cp_orders", base.filter(col("o_orderkey") % 30 === 10))
        e.append("q.cp_orders", base.filter(col("o_orderkey") % 30 === 20))
        val preSnap = e.deleteWhere("q.cp_orders", col("o_custkey") % 5 === 0)
          .get.snapshotId
        e.rewriteSmallFiles("q.cp_orders", smallBytes = 1L << 30)
        val postSnap = e.load("q.cp_orders").metadata.currentSnapshotId.get
        val data = e.readTable("q.cp_orders")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_custkey")).as("sum_cust"),
            moneySum(col("o_totalprice")).as("sum_price"))
          .withColumn("version", lit("1_data"))
        val feed = e.rowChanges("q.cp_orders", preSnap, postSnap)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("o_custkey")), lit(0L)).as("sum_cust"),
            coalesce(moneySum(col("o_totalprice")), lit(0.0d)).as("sum_price"))
          .withColumn("version", lit("2_replace_feed"))
        data.unionByName(feed)
          .select("version", "n_rows", "sum_cust", "sum_price")
          .orderBy("version")
      },
      Some(s"""WITH base AS (${sliceSql.format(0)}),
         |kept AS (SELECT * FROM base WHERE o_custkey % 5 <> 0)
         |SELECT '1_data' AS version, count(*) AS n_rows,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM kept
         |UNION ALL
         |SELECT '2_replace_feed', 0, 0, 0.0
         |ORDER BY version""".stripMargin)),

    // PARTITION-SPEC EVOLUTION: first generation identity-partitioned on
    // o_orderstatus, second generation bucket[4]-partitioned on
    // o_custkey after setPartitionSpec — one scan reads both layouts,
    // and a partition-equality probe stays EXACT across them (old-spec
    // files prune on the recorded value, new-spec files lack the key so
    // they survive conservatively and the residual row filter applies).
    Q("q_partition_evolution",
      (s, d) => {
        val a = slice(s, d, 0)
        val b = slice(s, d, 1)
        val wh = GraftTempDir("q_pspec")
        val e = new Engine(s, wh)
        e.createTable("q.pe_orders", a.schema,
          partitionDecls = Seq("o_orderstatus"))
        e.append("q.pe_orders", a)
        e.setPartitionSpec("q.pe_orders", Seq("bucket[4](o_custkey)"))
        e.append("q.pe_orders", b)
        def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.agg(count(lit(1)).as("n_rows"),
              sum(col("o_custkey")).as("sum_cust"),
              moneySum(col("o_totalprice")).as("sum_price"))
            .withColumn("version", lit(tag))
        val all = agg(e.readTable("q.pe_orders"), "1_all")
        val probe = agg(
          e.readTableWhere("q.pe_orders", "o_custkey", None, None,
            partitionEquals = Map("o_orderstatus" -> "F")),
          "2_status_f")
        all.unionByName(probe)
          .select("version", "n_rows", "sum_cust", "sum_price")
          .orderBy("version")
      },
      Some(s"""WITH a AS (${sliceSql.format(0)}), b AS (${sliceSql.format(1)}),
         |u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
         |tagged AS (
         |  SELECT '1_all' AS version, o_custkey, o_totalprice FROM u
         |  UNION ALL
         |  SELECT '2_status_f', o_custkey, o_totalprice
         |  FROM u WHERE o_orderstatus = 'F')
         |SELECT version, count(*) AS n_rows,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM tagged GROUP BY version ORDER BY version""".stripMargin)),

    // SCHEMA EVOLUTION read: add + rename + widen between two appends,
    // then ONE scan reads both file generations — the renamed column
    // pulls old data by FIELD ID (not name), the added column reads as
    // null from old files, and the widened int column upcasts to long.
    // Oracle rederives the union under the final schema.
    Q("q_schema_evolution",
      (s, d) => {
        val a = slice(s, d, 0)
          .withColumn("o_rank", (col("o_orderkey") % 100).cast("int"))
          .drop("o_totalprice")
        val wh = GraftTempDir("q_evo")
        val e = new Engine(s, wh)
        e.createTable("q.evo_orders", a.schema)
        e.append("q.evo_orders", a)
        e.addColumn("q.evo_orders", "o_note", "string")
        e.renameColumn("q.evo_orders", "o_custkey", "cust_id")
        e.widenColumn("q.evo_orders", "o_rank", "long")
        val b = slice(s, d, 1)
          .select(col("o_orderkey"), col("o_custkey").as("cust_id"),
            col("o_orderstatus"),
            (col("o_orderkey") % 100 + 1000000000L).as("o_rank"),
            concat(lit("n"), (col("o_orderkey") % 3).cast("string")).as("o_note"))
        e.append("q.evo_orders", b)
        e.readTable("q.evo_orders")
          .groupBy(coalesce(col("o_note"), lit("-")).as("note"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cust_id")).as("sum_cust"),
            sum(col("o_rank")).as("sum_rank"))
          .orderBy("note")
      },
      Some(s"""WITH a AS (
         |  SELECT o_orderkey, o_custkey AS cust_id, o_orderstatus,
         |    CAST(o_orderkey % 100 AS BIGINT) AS o_rank,
         |    CAST(NULL AS VARCHAR) AS o_note
         |  FROM orders WHERE o_orderkey % 10 = 0),
         |b AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |    o_orderkey % 100 + 1000000000,
         |    'n' || CAST(o_orderkey % 3 AS VARCHAR)
         |  FROM orders WHERE o_orderkey % 10 = 1),
         |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
         |SELECT coalesce(o_note, '-') AS note, count(*) AS n_rows,
         |  CAST(sum(cust_id) AS BIGINT) AS sum_cust,
         |  CAST(sum(o_rank) AS BIGINT) AS sum_rank
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ADOPTION (`register`): a plain parquet directory becomes an engine
    // table WITHOUT a rewrite (files hard-linked in place, one stats
    // pass, one append-shaped commit), then proves it is a first-class
    // table: field-id migration, a rename, and a merge-on-read DELETE
    // all land on the adopted data before the read-back.
    Q("q_register_adopt",
      (s, d) => {
        val src = slice(s, d, 2)
        val srcDir = GraftTempDir("q_reg_src")
        src.repartition(4).write.mode("overwrite").parquet(srcDir)
        val wh = GraftTempDir("q_reg_wh")
        val e = new Engine(s, wh)
        e.registerParquet("q.adopted", srcDir)
        e.migrateToFieldIds("q.adopted")
        e.renameColumn("q.adopted", "o_custkey", "cust_id")
        e.deleteWhere("q.adopted", col("o_orderkey") % 20 === 2)
        e.readTable("q.adopted")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cust_id")).as("sum_cust"),
            moneySum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some(s"""WITH src AS (${sliceSql.format(2)})
         |SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM src WHERE o_orderkey % 20 <> 2
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ADD-FILES (`adoptFiles`): a SECOND drop of foreign parquet lands
    // on the registered table as one append — the recurring-ingest half
    // of adoption (register creates, add-files keeps feeding) — then a
    // keyed MERGE upsert rewrites a slice spanning BOTH drops, proving
    // adopted files and engine-written files coexist under one
    // merge-on-read read path.
    Q("q_add_files",
      (s, d) => {
        val dropA = slice(s, d, 3)
        val dropB = slice(s, d, 4)
        val dirA = GraftTempDir("q_af_a")
        val dirB = GraftTempDir("q_af_b")
        dropA.repartition(3).write.mode("overwrite").parquet(dirA)
        dropB.repartition(2).write.mode("overwrite").parquet(dirB)
        val wh = GraftTempDir("q_af_wh")
        val e = new Engine(s, wh)
        e.registerParquet("q.drops", dirA)
        e.adoptFiles("q.drops", dirB)
        val updates = dropA.unionByName(dropB)
          .filter(col("o_orderkey") % 30 === 3 || col("o_orderkey") % 30 === 4)
          .withColumn("o_orderstatus", lit("U"))
        e.upsert("q.drops", updates, Seq("o_orderkey"))
        e.readTable("q.drops")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_custkey")).as("sum_cust"),
            moneySum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some(s"""WITH src AS (${sliceSql.format(3)} UNION ALL ${sliceSql.format(4)}),
         |merged AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey % 30 IN (3, 4) THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
         |    o_totalprice
         |  FROM src)
         |SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // HIVE-LAYOUT ADOPTION (`register`/`add-files` on key=value
    // directories — the canonical add_files shape a warehouse migration
    // hits on day one): two partitioned drops adopt in place (path keys
    // become identity-partition columns; values stamp into the entries'
    // partition maps), then the read-back covers BOTH the full scan
    // (in-file-absent partition columns filled from metadata) and a
    // partition-equals PRUNED probe (strictly fewer files opened — the
    // plan assertion lives in RegisterHiveSpec).
    Q("q_register_hive",
      (s, d) => {
        val dropA = slice(s, d, 5)
        val dropB = slice(s, d, 6)
        val dirA = GraftTempDir("q_hive_a")
        val dirB = GraftTempDir("q_hive_b")
        dropA.repartition(3).write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(dirA)
        dropB.repartition(2).write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(dirB)
        val wh = GraftTempDir("q_hive_wh")
        val e = new Engine(s, wh)
        e.registerParquet("q.hive", dirA)
        e.adoptFiles("q.hive", dirB)
        val aggs = Seq(count(lit(1)).as("n_rows"),
          sum(col("o_custkey")).as("sum_cust"),
          moneySum(col("o_totalprice")).as("sum_price"))
        val full = e.readTable("q.hive")
          .groupBy("o_orderstatus").agg(aggs.head, aggs.tail: _*)
        val probe = e.readTableWhere("q.hive", "o_orderkey", None, None,
            partitionEquals = Map("o_orderstatus" -> "F"))
          .agg(aggs.head, aggs.tail: _*)
          .withColumn("o_orderstatus", lit("PRUNE:F"))
          .select("o_orderstatus", "n_rows", "sum_cust", "sum_price")
        full.unionByName(probe).orderBy("o_orderstatus")
      },
      Some(s"""WITH src AS (${sliceSql.format(5)} UNION ALL ${sliceSql.format(6)})
         |SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM src GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'PRUNE:F', count(*),
         |  CAST(sum(o_custkey) AS BIGINT),
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |FROM src WHERE o_orderstatus = 'F'
         |ORDER BY o_orderstatus""".stripMargin)))
}
