package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Dump-boundary timestamp normalization: the session writes INT64
    * micros (GraftConf keeps `outputTimestampType=TIMESTAMP_MICROS` for
    * parquet min/max footer stats), but a TimestampType column is
    * stamped `isAdjustedToUTC=true`, which DuckDB reads as TIMESTAMPTZ
    * while the oracle SQL produces naive TIMESTAMP — a schema mismatch
    * on identical values. Cast session-tz timestamps to TIMESTAMP_NTZ
    * at the dump boundary only (session tz is UTC, so the instant is
    * unchanged); query semantics and footer stats are untouched. */
  private[graft] def dumpNtz(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    import org.apache.spark.sql.functions.col
    val casts = df.schema.fields.collect {
      case f if f.dataType == TimestampType =>
        f.name -> col(f.name).cast(TimestampNTZType)
    }
    casts.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftConf.session()
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (same contract as Bench): unset for driver
    // runs, so the driver always dumps the full query surface
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).transform(dumpNtz).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
