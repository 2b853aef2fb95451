package graft

import org.apache.spark.sql.SparkSession

/** Session configuration for the graft engine, with the 100 TB
  * reasoning attached to each knob (builder brief: "spill-aware — size
  * shuffle.partitions and maxPartitionBytes so partitions fit in
  * executor memory at the target SF").
  *
  * Local-mode values are set here; the scaladoc records what changes on
  * a real cluster so the knowledge ships with the library rather than a
  * runbook.
  */
object Conf {
  /** Apply the engine's standard settings to a session builder.
    *
    * @param cores parallelism of the local master; on a cluster this
    *              maps to total executor cores and
    *              `spark.sql.shuffle.partitions` should instead be
    *              ~2-3× total cores (or left to AQE coalescing from a
    *              high initial value — at 100 TB start from
    *              `input bytes / 128MB` and let
    *              `spark.sql.adaptive.coalescePartitions` shrink).
    */
  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b
      // one shuffle partition per core locally; see @param cores for
      // the cluster-scale sizing rule
      .config("spark.sql.shuffle.partitions", cores.toString)
      // 128MB parquet splits (default) keep scan tasks memory-bounded;
      // lower it if rows are wide (embeddings/media) so a partition's
      // decompressed batch still fits the executor's columnar buffer
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      // AQE stays ON: runtime re-plan gives partition coalescing,
      // skew-join splitting, and shuffle-to-broadcast demotion — the
      // mechanisms that survive 1000× data growth without retuning
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); surface as ns-long
      // (graft.ops.Tables.events normalizes to TimestampType)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native functions + HOF-rewrite optimizer rule
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")

  /** Standard local session for the driver mains. */
  def localSession(cores: Int): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cores]"), cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The engine's single documented environment surface — the `.env`
    * equivalent of the reference's scattered `os.getenv` reads
    * (`llm_processing.py:12,99-100`, `db_to_dataframe.py:47-54`). Every
    * driver main reads through here. The one other reader of `sys.env`
    * is [[graft.etl.LlmHttp.fromEnv]], which selects the LLM client from
    * the `AZURE_OPENAI_*` variables listed below (its `env` is injectable
    * for tests); together they are the config contract.
    *
    * | variable | used by | default |
    * |---|---|---|
    * | SPARK_GRAFT_SF_DIR   | Bench/Verify data dir | /root/testdata/sf0.1 |
    * | SPARK_GRAFT_CPUS     | local[-n] parallelism | 32 |
    * | SPARK_GRAFT_REPS     | bench repetitions     | 3 |
    * | GRAFT_DIMS_DIR       | Serve: parquet dim dir (else fallback synthesis) | unset |
    * | GRAFT_SERVE_PORT     | Serve: listen port    | 8000 |
    * | AZURE_OPENAI_ENDPOINT / _API_KEY / _API_VERSION | live LLM client ([[graft.etl.LlmHttp.fromEnv]]) | unset → mock |
    */
  object Env {
    private def get(k: String): Option[String] =
      sys.env.get(k).filter(_.nonEmpty)
    def sfDir: String = get("SPARK_GRAFT_SF_DIR").getOrElse("/root/testdata/sf0.1")
    /** default 32 = the harness's local[32] box for Bench/Serve; the
      * lighter mains (Verify/Demo) pass 4 */
    def cpus(default: Int = 32): Int =
      get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
    def reps: Int = get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3)
    def dimsDir: Option[String] = get("GRAFT_DIMS_DIR")
    def servePort: Int = get("GRAFT_SERVE_PORT").map(_.toInt).getOrElse(8000)
    /** Optional comma-separated query-name filter for Bench — unset runs
      * the full catalog. Used by the scale probe (BENCH_SCALE.md) to
      * time a subset at large sf without paying for all ~200 queries. */
    def queryFilter: Option[Set[String]] =
      get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
  }
}
