package graft

import org.apache.spark.sql.SparkSession

import graft.sources.GraftLocalFs

/** Session factory for the engine.
  *
  * Tuned for the contest harness (single JVM, `local[32]`, 128 GiB) but every
  * knob is the one you would set on a real cluster too:
  *   - `spark.sql.shuffle.partitions` sized to the core count instead of the
  *     200 default (on a 1000-executor cluster this becomes ~2-3x total cores,
  *     or is left to AQE coalescing);
  *   - AQE on: runtime re-planning handles skew joins and post-filter
  *     partition coalescing at 100 TB where static planning guesses wrong;
  *   - UTC session timezone so event-time semantics match the oracle
  *     (reference pins Flink `table.local-time-zone` implicitly via container
  *     TZ; see SURVEY.md §7.4 risk 6);
  *   - `file:` paths go through [[graft.sources.GraftLocalFs]], which sets
  *     permissions and reads symlinks in the JVM where Hadoop without
  *     `libhadoop` spawns `chmod`/`readlink` for every checkpoint file
  *     (OPERATIONS.md, "Streaming jobs"). Other schemes are untouched.
  */
object GraftSession {

  /** Apply engine defaults to an existing session (used when the driver owns
    * the session, e.g. graft.Verify / graft.Bench). Runtime-settable confs
    * only.
    */
  def tune(spark: SparkSession): SparkSession = {
    // First, before any conf access below can create the shared state
    // (whose warehouse-path lookup caches the session's `file:` FileSystem).
    GraftLocalFs.register(spark.sparkContext.hadoopConfiguration)
    // The driver-generated events table stores TIMESTAMP(NANOS) parquet,
    // which Spark's vectorized reader rejects by default. Read nanos as
    // Long and convert in Tables.events.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // r19 partition economics (guide §2.2/§2.6; r18 verdict ask #2):
    // AQE's parallelismFirst default coalesces small shuffles only down
    // to the CORE COUNT, so at local[32] a kilobyte-scale exchange still
    // schedules 32 reduce tasks and a 0.3 s query pays more in task
    // fixed costs than parallelism returns — the r18 cohort measurably
    // FASTER at 8 cores (q_packing_stats 0.17, q_minute_counts_click
    // 0.29, …) and the CC-iteration queries' in-suite fragility both
    // trace here. parallelismFirst=false makes coalescing SIZE-driven:
    // reduce-task count = shuffle bytes / advisory size (floor 1), the
    // scale-adaptive rule — tiny exchanges collapse to one task while
    // 100 TB shuffles still fill every initial partition. The advisory
    // size is env-tunable (production clusters want the guide's
    // 64–256 MB; the local default below was A/B-measured at sf0.1 —
    // see OPTIMIZATION_r19.md) and the initial partition count stays
    // the SPARK_GRAFT_CPUS-derived session setting, so the driver's
    // lower-core bench contract is untouched.
    // default 8m: three matched three-arm A/Bs at sf0.1 (see
    // OPTIMIZATION_r19.md) — 64m collapses compute-dense mid-size
    // window/sort shuffles (q_order_history_ranks, q_curation_passages)
    // to one task, 8m keeps them multi-way while still folding the
    // KB-scale exchanges that caused the r18 ratio cohort to one task.
    // Production deployments with TB shuffles should raise this to the
    // guide-§2.2 100 MB–1 GB band via the env knob; at those sizes the
    // advisory rarely binds below the initial partition count anyway.
    val advisoryMb = sys.env.getOrElse("SPARK_GRAFT_ADVISORY_MB", "8")
    if (advisoryMb != "0") { // "0" = A/B escape: Spark's parallelism-first default
      spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisoryMb + "m")
    }
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  def build(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val s = GraftLocalFs.Impls
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config("spark.hadoop." + k, v) }
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }
}
