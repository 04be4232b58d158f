package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide session tuning. [[session]] is the one way every main
  * and the test suite start a session; [[apply]] is the tuning alone,
  * safe to apply to any user session.
  *
  * Rationale (measured at sf0.1 with .explain — see BENCH_NOTES.md):
  *  - `InferFiltersFromGenerate` and constraint propagation both
  *    synthesize notnull/size filters below Generate nodes with the
  *    full generator expression INLINED and un-materialized; for
  *    higher-order-function arrays (shingles, signatures) that re-runs
  *    the tokenizer regex per element access. This testdata has no
  *    nullable columns, so the inferred filters buy nothing.
  *  - AQE stays ON (runtime re-plan, skew handling); shuffle
  *    partitions match cores ([[session]]) or, for a session built
  *    elsewhere, the owner's cluster parallelism.
  */
object GraftConf {
  private val ExcludedRule =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  def apply(spark: SparkSession): SparkSession = {
    // append, don't clobber: the session owner may have excluded rules
    val merged = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      .map(_.trim).filter(_.nonEmpty) match {
      case Some(r) if r.split(",").map(_.trim).contains(ExcludedRule) => r
      case Some(r) => s"$r,$ExcludedRule"
      case None    => ExcludedRule
    }
    spark.conf.set("spark.sql.optimizer.excludedRules", merged)
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    // The driver's events.ts parquet type has changed across testdata
    // regenerations (INT64 TIMESTAMP(NANOS) rounds ≤6, naive
    // timestamp[us] round 7+). Keep nanosAsLong on: it makes the nanos
    // variant readable (Spark 4 rejects it otherwise) and is a no-op for
    // every other type. Tables.normalizeEventTs branches on the actual
    // inferred type.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Write timestamps as INT64 micros, not legacy INT96: INT96 columns
    // carry NO parquet min/max statistics, so every time-predicate scan
    // over a sink loses row-group/file pruning (snk_zorder_prune's
    // footer-band spec would be unprunable). Micros is also what the
    // read side and DuckDB agree on.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    functions.VectorExpressions.register(spark)
    spark
  }

  /** Cores a session gets when the caller does not pin them:
    * `SPARK_GRAFT_CPUS` if set, else every processor the JVM sees. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine session: `local[cores]` with one shuffle partition per
    * core, session time zone UTC (the NTZ→LTZ events path interprets
    * naive stamps in the session zone, so every run must see the
    * workload the UTC oracle gate certified), UI off, log level WARN,
    * then [[apply]] and the `SPARK_GRAFT_CONF` overrides. */
  def session(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    apply(spark)
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseOverrides(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })
    spark
  }

  /** Parses `SPARK_GRAFT_CONF`, a comma-separated list of `k=v`
    * session-conf overrides (e.g. `spark.sql.adaptive.enabled=false`
    * for an AQE-off invariance audit). Blank segments (a set-but-empty
    * var, a trailing comma) are no-ops; a NON-blank segment without
    * `=` is a typo'd ablation and fails LOUDLY — a silently-dropped
    * override would record baseline numbers labeled as the ablation. */
  private[graft] def parseOverrides(spec: String): Seq[(String, String)] =
    spec.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      require(kv.contains("="), s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
      val Array(k, v) = kv.split("=", 2)
      (k.trim, v.trim)
    }
}
