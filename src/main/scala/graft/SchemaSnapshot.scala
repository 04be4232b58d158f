package graft

import org.apache.spark.sql.SparkSession

/** Per-round testdata dtype snapshot: one line per
  * (sf dir, table, column) with the RAW parquet-read Spark dtype —
  * raw `spark.read.parquet`, NOT the normalized [[Tables]] readers, so
  * a physical-type drift (the rounds-6/7 events.ts INT64-nanos →
  * timestamp[us] regenerations) shows up here even where
  * `normalizeEventTs` absorbs it downstream.
  *
  * The committed `SCHEMAS.json` is the contract; SchemaCanarySpec
  * compares a live render against it each test run, so the NEXT driver
  * testdata regeneration that moves a column type fails ONE named test
  * with a one-line diff naming the column — before anything else runs.
  *
  * Regenerate after an intentional drift:
  * `sbt "runMain graft.SchemaSnapshot"`.
  */
object SchemaSnapshot {

  /** Deterministic flat-JSON render of every testdata column's raw
    * dtype (sorted SF dirs × reader-order tables × schema-order
    * columns — stable across runs by construction). */
  def render(spark: SparkSession, root: String = "/root/testdata"): String = {
    val dirs = new java.io.File(root).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("sf"))
      .sortBy(_.getName)
    val lines = for {
      dir <- dirs.toSeq
      (name, _) <- Tables.allReaders
      f <- spark.read.parquet(s"${dir.getAbsolutePath}/$name.parquet")
        .schema.fields
    } yield s"""  "${dir.getName}/$name/${f.name}": "${f.dataType.simpleString}""""
    lines.mkString("{\n", ",\n", "\n}\n")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("SCHEMAS.json")
    val spark = GraftConf.session()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      render(spark))
    println(s"[snapshot] wrote $out")
    spark.stop()
  }
}
