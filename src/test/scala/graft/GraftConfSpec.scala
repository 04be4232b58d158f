package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftConf.session]] is the one way a session starts: what it
  * sets, how it parses `SPARK_GRAFT_CONF`, and a source guard that
  * keeps every other file from building a session of its own. */
class GraftConfSpec extends AnyFunSuite {
  import TestSpark._

  test("session: local[cores], one shuffle partition per core, UTC, " +
    "and the GraftConf rule exclusion") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.optimizer.excludedRules").split(",")
      .map(_.trim).contains(
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
  }

  test("SPARK_GRAFT_CONF parser: blank segments are no-ops, a non-k=v " +
    "entry fails loudly") {
    assert(GraftConf.parseOverrides("").isEmpty)
    assert(GraftConf.parseOverrides(" , ,").isEmpty)
    assert(GraftConf.parseOverrides(
        " spark.sql.adaptive.enabled = false ,,a.b=x=y,") ==
      Seq("spark.sql.adaptive.enabled" -> "false", "a.b" -> "x=y"))
    val ex = intercept[IllegalArgumentException] {
      GraftConf.parseOverrides("spark.sql.adaptive.enabled=false,typo")
    }
    assert(ex.getMessage.contains("'typo' is not k=v"))
  }

  test("source guard: no file under src/ but GraftConf.scala builds a " +
    "session") {
    val needle = "SparkSession" + ".builder"
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f))
    val sources = files(new java.io.File("src"))
      .filter(_.getName.endsWith(".scala"))
    assert(sources.exists(_.getName == "GraftConf.scala"),
      "the guard must run from the repository root")
    val offenders = sources.filter(f => f.getName != "GraftConf.scala" &&
      java.nio.file.Files.readString(f.toPath).contains(needle))
    assert(offenders.isEmpty,
      s"build sessions through GraftConf.session: ${offenders.mkString(", ")}")
  }
}
