package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** [[ParquetDir]] reads schemas and row counts from parquet footers in
  * the calling JVM. Its schema must equal Spark's own inference and its row
  * count `count()`, on every table and every store family; table and
  * store reads must start no job; and a source guard keeps schema-less
  * `read.parquet` calls from coming back. */
class ParquetDirSpec extends AnyFunSuite {
  import TestSpark._

  private def assertParity(p: String): Unit = {
    val inferred = spark.read.parquet(p)
    val schema = ParquetDir.schemaOf(spark, p)
    assert(schema.contains(inferred.schema),
      s"$p: footer schema ${schema.map(_.treeString)} != inferred " +
        inferred.schema.treeString)
    assert(ParquetDir.read(spark, p).schema == inferred.schema, p)
    assert(ParquetDir.rowCount(spark, p) == inferred.count(), p)
  }

  test("tables: footer schema and row count equal Spark's inference " +
    "and count() at sf0.001 and sf0.01") {
    for {
      d <- Seq(sf, "/root/testdata/sf0.01")
      (name, _) <- Tables.allReaders
    } assertParity(Tables.path(d, name))
  }

  test("store: every family a cold dedup_*_incremental run writes (base " +
    "and ingest5 delta) and the BPE merges/vocab store") {
    // A directory of links to the testdata: store keys carry the
    // directory, so every artifact below is derived and written cold.
    val dir = "target/tmp/parquetdir_spec/sf"
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val root = new java.io.File("target/tmp/artifact_store")
    def ours = Option(root.listFiles()).toSeq.flatten
      .filter(f => f.getName.contains(s"_${tag}_") && !f.getName.startsWith("."))
    ours.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    for ((name, _) <- Tables.allReaders)
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(Tables.path(dir, name)),
        java.nio.file.Paths.get(Tables.path(sf, name)).toAbsolutePath)
    for (q <- Seq("dedup_ngram_incremental", "dedup_embedding_incremental"))
      SparkEntry.queries(q)(spark, dir).collect()

    val stores = ours.filter(f => new java.io.File(f, "_GRAFT_OK").exists)
    for (fam <- Seq("ngram_postings", "ngram_fpostings", "ngram_df", "emb_sigs");
         delta <- Seq(false, true))
      assert(stores.exists(f => f.getName.startsWith(s"${fam}_${tag}_") &&
        f.getName.endsWith("--" + operators.DedupQueries.IngestBatchTag) == delta),
        s"no ${if (delta) "delta" else "base"} $fam store among " +
          stores.map(_.getName).mkString(", "))
    stores.foreach(f => assertParity(ArtifactStore.dataPath(f.getPath)))

    val bpe = "target/tmp/test_bpe_store/parquetdir"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bpe))
    import spark.implicits._
    val docs = Seq((1L, "low low lower newest newest widest"),
      (2L, "low lower newest")).toDF("doc_id", "text")
    operators.PipelineOps.bpeTrainedState(docs, 4, bpe)
    assertParity(s"$bpe/merges")
    assertParity(s"$bpe/vocab")
  }

  /** Jobs that `body` submits from this thread. A marker job submitted
    * after it, in a group of its own, tells when the listener has seen
    * every earlier job start (one queue delivers events in order). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"parquetdir-budget-${System.nanoTime}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime + 30000000000L
      while (!seen.contains(marker) && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(seen.contains(marker), "listener never saw the marker job")
      seen.toArray.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("job budget: a table read and a store load submit no job; a " +
    "store save submits only its write job") {
    val path = "target/tmp/test_artifact_store/parquetdir_budget_v1_aaaaaaaaaaaa"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val narrow = spark.range(100).selectExpr("id", "id * 2 AS v")
    assert(jobsOf(ArtifactStore.save(narrow, path)) == 1,
      "save must submit its write job and nothing else")
    assert(ArtifactStore.storedRowCount(path).contains(100L))
    assert(jobsOf(ArtifactStore.load(spark, path).get) == 0)
    assert(jobsOf(Tables.documents(spark, sf)) == 0)
  }

  test("source guard: no schema-less read.parquet in src/main outside " +
    "ParquetDir, but for the listed exceptions") {
    // file -> (allowed count, why Spark's inference stays)
    val allowed = Map(
      "ParquetDir.scala" -> (1, "the helper's fallback for a path with no data file"),
      "SchemaSnapshot.scala" -> (1, "the independent inference check of the helper"),
      "SourceQueries.scala" -> (2, "partition discovery (snk_partitioned_prune) and " +
        "mergeSchema (src_schema_merge) are what those queries test"))
    val schemaLess =
      """\bread\s*(?:\.\s*option\([^()]*\)\s*)*\.\s*parquet\(""".r
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f))
    val sources = files(new java.io.File("src/main"))
      .filter(_.getName.endsWith(".scala"))
    assert(sources.exists(_.getName == "ParquetDir.scala"),
      "the guard must run from the repository root")
    val counts = sources.map { f =>
      val code = java.nio.file.Files.readString(f.toPath)
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      f.getName -> schemaLess.findAllMatchIn(code).size
    }.filter(_._2 > 0).toMap
    val offenders = counts.filter { case (n, c) => !allowed.get(n).exists(_._1 == c) }
    assert(offenders.isEmpty,
      s"read parquet through ParquetDir.read: $offenders (allowed: $allowed)")
  }
}
