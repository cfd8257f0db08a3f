package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-provided parquet testdata
  * (`/root/testdata/sf*`, see TESTDATA.md / FIXTURES.md §B).
  *
  * Every reader is a plain lazy `spark.read.parquet` scan so Catalyst can
  * push filters/projections down to the parquet reader — callers should
  * `.select`/`.filter` directly on the returned DataFrame and let the
  * optimizer prune columns and row groups.
  *
  * The parquet SCHEMA is inferred once per (session, path) and memoized:
  * a bare `spark.read.parquet` pays a schema-inference Spark JOB plus
  * footer I/O on EVERY call (~60-200 ms each on the bench box), and the
  * source tables here are immutable fixtures read by all 129 queries —
  * at 100 TB the equivalent is reading through a catalog whose schema is
  * known, not re-opening footers per query. Memoized per SESSION (weak
  * keys — sessions come and go in tests) because inference is
  * conf-dependent (`nanosAsLong` turns TIMESTAMP(NANOS) into LongType);
  * only plan-time metadata is cached, never data or results.
  */
object Tables {
  private val schemaMemo = new java.util.WeakHashMap[
    SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]]()

  private def memoFor(s: SparkSession) = schemaMemo.synchronized {
    var m = schemaMemo.get(s)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[
        String, org.apache.spark.sql.types.StructType]()
      schemaMemo.put(s, m)
    }
    m
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val st = memoFor(spark).computeIfAbsent(
      p, _ => spark.read.parquet(p).schema)
    spark.read.schema(st).parquet(p)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` surfaces as LongType epoch-NANOSECONDS regardless of the
    * parquet physical type — the whole engine (and every oracle's
    * `epoch_us(ts)` ≡ Spark `ts div 1000`) is written against that
    * contract. Driver-generated data has shipped both timestamp[ns]
    * (reads as LONG under `spark.sql.legacy.parquet.nanosAsLong=true`,
    * see [[Sessions]]) and timestamp[us] (reads as TIMESTAMP_NTZ; session
    * timezone is pinned UTC so the NTZ→epoch conversion is exact). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => raw.withColumn(
        "ts", org.apache.spark.sql.functions.expr(
          "unix_micros(CAST(ts AS TIMESTAMP)) * 1000L"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** Session defaults shared by Verify / Bench / tests, and the one
  * session factory of the mains. */
object Sessions {
  /** `SPARK_GRAFT_CPUS`, else `default` (every core). */
  def cpus(default: => String = Runtime.getRuntime.availableProcessors.toString): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** A session on `master` with `partitions` shuffle partitions, AQE on
    * unless `aqe` is false, the UI off, [[required]] set and WARN logs. */
  def create(master: String, partitions: String, aqe: Boolean = true): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.ui.enabled", "false")
    required.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[create]] on `local[cpus]` with `cpus` shuffle partitions. */
  def local(cpus: String): SparkSession = create(s"local[$cpus]", cpus)

  /** Configs that query semantics depend on (must be set before first read). */
  val required: Seq[(String, String)] = Seq(
    // events.ts is parquet TIMESTAMP(NANOS) which Spark cannot represent;
    // read it as epoch-nanos LongType instead of failing the scan.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Write timestamps as INT64 micros (DuckDB-friendly; INT96 is legacy).
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.session.timeZone" -> "UTC",
    // Field-id column resolution for id-stamped engine tables (rename-
    // safe reads, see graft.meta.FieldIds). Safe globally: id-less read
    // schemas keep plain name matching. ScanPlanner also sets it lazily
    // (ensureReadEnabled) so user-built sessions are covered.
    "spark.sql.parquet.fieldId.read.enabled" -> "true",
    // The write half is Spark-4 default-on; pinned explicitly so a
    // future default flip can't silently produce id-less files from
    // attributed write schemas (the engine's id guarantee depends on it).
    "spark.sql.parquet.fieldId.write.enabled" -> "true",
  )
}
