package graft
import graft.queries.{CoreQueries, CurationQueries, DerivedQueries, ExtendedQueries, GateQueries, LLMQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_enriched_lineitems")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ LLMQueries.queries ++ DerivedQueries.queries ++
      ExtendedQueries.queries ++ GateQueries.queries ++ CurationQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ LLMQueries.oracles ++ DerivedQueries.oracles ++
      ExtendedQueries.oracles ++ GateQueries.oracles ++ CurationQueries.oracles

  /** Core count from a raw SPARK_GRAFT_CPUS value: `default` when unset,
    * otherwise a positive integer — anything else fails naming the knob
    * instead of surfacing later as a malformed `local[...]` master. */
  private[graft] def parseCpus(raw: Option[String], default: Int): Int =
    raw.fold(default) { s =>
      s.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
    }

  /** The session every graft main runs under: `local[cpus]` with
    * SPARK_GRAFT_CPUS cores (`defaultCpus` when unset) and shuffle width
    * = cpus. */
  private[graft] def session(defaultCpus: Int): SparkSession = {
    val cpus = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), defaultCpus).toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // driver fixtures carry naive µs timestamps: read as TIMESTAMP, not NTZ
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // Cap driver status-store retention (guide §5: the driver should do
      // almost no data work). Defaults keep the last 1000 SQL executions'
      // PLAN STRINGS and 1000 jobs/stages of metrics in driver old-gen —
      // and this suite's plans include the ADC literal-LUT projections
      // (megabyte-scale plan text), so by Bench's harness section the
      // accumulated status store was GC-taxing exactly the gates that
      // submit jobs concurrently: q86/q92 measured 18.7/16.4 s late in
      // the full 152-query suite vs 10.2/10.1 s in a 30-query session
      // (same code, same load). Nothing reads this state here — the UI
      // is disabled; the caps are scale-independent session hygiene.
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "10000")
      // bucketed-table gates (q88) saveAsTable; keep the warehouse out of
      // the repo and isolated per run (two concurrent sessions must not
      // share ./spark-warehouse)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
