package graft

import graft.model.GraftStore
import graft.ops.Search
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry runs a reference operator (SURVEY.md §2) through the
  * engine against the infoton store built from the driver's parquet
  * tables, and projects a result that plain ANSI SQL (the DuckDB
  * oracle) can reproduce from the raw tables. All results carry a
  * deterministic ORDER BY on both sides.
  */
object SparkEntry {

  private def store(spark: SparkSession, dir: String): GraftStore =
    GraftStore.forDir(spark, dir)

  /** The one session config every main runs on, so a plan dumped or
    * profiled is the plan the bench times. Env knobs: `SPARK_GRAFT_CPUS`
    * (default 4), `SPARK_GRAFT_INIT_PARTS`, `SPARK_GRAFT_STATE_PROVIDER`. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // scale-adaptive shuffles: AQE starts every exchange at
      // SPARK_GRAFT_INIT_PARTS partitions and coalesces down to its
      // advisory size, so a fixed `cpus`-sized session no longer pins
      // per-task shuffle volume to corpus/32 at probe scales — the
      // documented production sizing discipline, applied through AQE
      // instead of per-query repartitions. Defaults to `cpus` (Spark's
      // own fallback, `shuffle.partitions`); the scale probes set it.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", cpus))
      // generated-class cache (Janino output, keyed on source text):
      // the default 100-entry LRU thrashes under a 250+-query sweep —
      // measured 1173 vs 891 compilations over a 116-query subset at
      // 100 vs 2000 entries (~24% of compiles were LRU re-compiles of
      // code an earlier query already built, plus their lost JIT
      // warmup). Scale-neutral: caches compiled CLASSES, never data or
      // results; a long-lived production driver benefits identically.
      .config("spark.sql.codegen.cache.maxEntries", 2000)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // SPARK_GRAFT_STATE_PROVIDER=rocksdb switches streaming state to
    // the RocksDB provider (off-heap/on-disk state, changelog
    // checkpoints) — the documented production setting once state
    // passes ~10M rows per executor (PLANS.md "streaming state at
    // scale"): the default HDFSBacked provider holds every state row
    // on the executor heap and the factor-1000 session probe (10M
    // users) dies there with CANNOT_LOAD_STATE_STORE. Default
    // unchanged — small-scale state fits the heap and HDFSBacked is
    // faster there.
    if (sys.env.get("SPARK_GRAFT_STATE_PROVIDER").contains("rocksdb"))
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The §7.2 end-to-end slice: parse qp → compile → plan → execute. */
  def entry(spark: SparkSession): DataFrame = {
    val st = store(spark, "/root/testdata/sf0.001")
    Search.search(st,
      Search.Request(path = "/customer",
        qp = Some("mktsegment::BUILDING,acctbal>1000"),
        sortBy = Some("-acctbal")),
      offset = 0, length = 10)
      .select(col("system.path").as("path"),
        Search.fieldN("acctbal").as("acctbal"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SearchQueries.all ++ AggQueries.all ++ GraphQueries.all ++
      ConsumeQueries.all ++ PipelineQueries.all ++ IngestQueries.all ++
      SparqlQueries.all ++ StreamQueries.all ++ AdminQueries.all ++
      XwideQueries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    SearchQueries.oracles ++ AggQueries.oracles ++ GraphQueries.oracles ++
      ConsumeQueries.oracles ++ PipelineQueries.oracles ++
      IngestQueries.oracles ++ SparqlQueries.oracles ++
      StreamQueries.oracles ++ AdminQueries.oracles ++
      XwideQueries.oracles
}
