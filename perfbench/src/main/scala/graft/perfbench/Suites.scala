package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** The two query-suite workloads, and the recording of their expected
  * results. */
object Suites {

  /** Both persistence roots of the program (relative to the working
    * directory, like the program's own paths). */
  val storeRoots: Seq[java.io.File] =
    Seq("target/tmp/artifact_store", "target/tmp/bpe_store").map(new java.io.File(_))

  def wipeStores(): Unit =
    storeRoots.foreach(org.apache.commons.io.FileUtils.deleteQuietly)

  def storeUsage(): (Long, Long) = storeRoots.map(Engine.du)
    .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Seed-determined order of the queries (Fisher-Yates), except that
    * `ml_stream_score` runs after `ml_forecast`: it scores with the models
    * that `ml_forecast` trains for the pass's input directory, as the
    * reference's dashboard trains, then serves. So the training always
    * lands in `ml_forecast`, whatever the seed. */
  def permuted(names: Seq[String], seed: Long): Seq[String] = {
    val order = new scala.util.Random(seed).shuffle(names.sorted)
    val (train, serve) = (order.indexOf("ml_forecast"), order.indexOf("ml_stream_score"))
    if (serve >= 0 && serve < train)
      order.updated(serve, "ml_forecast").updated(train, "ml_stream_score")
    else order
  }

  final case class Expected(rows: Long, checksum: Option[String])

  def loadExpected(file: String): Map[String, Expected] =
    Json.readFile(file).get("queries").asInstanceOf[java.util.Map[String, Any]]
      .asScala.toMap.map { case (q, v) =>
        val m = v.asInstanceOf[java.util.Map[String, Any]]
        q -> Expected(m.get("rows").toString.toLong,
          Option(m.get("checksum")).map(_.toString))
      }

  /** Why a collected result differs from the expected one, if it does. */
  def mismatch(exp: Option[Expected], cols: Array[String], rows: Array[Row]): Option[String] = {
    val (n, sum) = Checksum.of(cols.toSeq, rows)
    exp match {
      case None => Some("no expected result recorded")
      case Some(e) if e.rows != n => Some(s"rows $n, expected ${e.rows}")
      case Some(e) if e.checksum.exists(_ != sum) => Some(s"checksum $sum, expected ${e.checksum.get}")
      case _ => None
    }
  }

  def run(r: Run, workload: String): Unit = {
    val cold = workload == "corpus_cold"
    val names = Catalog.suites(workload)
    // corpus queries read stores that earlier ones built: name order
    val order = if (cold) names.sorted else permuted(names, r.seed)
    val expected = loadExpected(r.expectedFile)
    def one(pass: Int, dir: String, q: String, traced: Boolean, parent: Int) =
      r.timed(pass, q, Catalog.moduleOf(q), traced, parent)(
        Catalog.registered(q)(r.spark, dir))
    // results are checked after the pass, outside its wall time
    def checked(results: Seq[(Op, Option[(Array[String], Array[Row])])]): Seq[Op] =
      results.map { case (op, res) =>
        res.flatMap { case (c, rows) => mismatch(expected.get(op.name), c, rows) } match {
          case Some(why) => op.copy(ok = false, error = why)
          case None => op
        }
      }
    // warm-up: one untimed pass (JIT, codegen)
    if (cold) wipeStores()
    val w0 = r.clockNs()
    val warmDir = r.dataFor(-1)
    val warm = checked(order.map(q => one(-1, warmDir, q, traced = false, -1)))
    r.notes += "warmup_s" -> (r.clockNs() - w0) / 1e9
    r.notes += "warmup_failed" -> warm.filterNot(_.ok).map(o => s"${o.name}: ${o.error}")
    r.setupDone()
    var pass = 0
    while (pass < r.passCount) {
      val traced = r.tracedPass(pass)
      if (cold) wipeStores()
      val dir = r.dataFor(pass)
      val c0 = r.engine.snapshot()
      val s0 = storeUsage()
      val p0 = r.clockNs()
      val results =
        if (traced) r.span(s"pass $pass", -1)(pid => order.map(q => one(pass, dir, q, traced, pid)))
        else order.map(q => one(pass, dir, q, traced, -1))
      val wallNs = r.clockNs() - p0
      val c = r.engine.snapshot() - c0
      val s1 = storeUsage()
      r.ops ++= checked(results)
      r.passes += r.passRecord(pass, traced, wallNs / 1e9, c,
        s1._1 - s0._1, s1._2 - s0._2)
      pass += 1
    }
    r.notes += "store_bytes" -> storeUsage()._1
    r.notes += "input_bytes" -> r.inputBytes(Seq("documents", "embeddings"))
  }

  /** Runs every registered query of the workload's families in name order
    * twice (stores emptied before each pass for the corpus workload) and
    * writes the row counts and checksums both passes agree on, plus the
    * per-query seconds of each pass. Queries without an oracle keep only
    * their row count, as the correctness gate checks them on rows only. */
  def record(r: Run, workload: String, file: String): Unit = {
    val names = Catalog.registered.keys.filter(Catalog.workloadOf(_) == workload).toSeq.sorted
    val oracles = graft.SparkEntry.oracleSql.keySet
    val results = (0 until 2).map { pass =>
      if (workload == "corpus_cold") wipeStores()
      names.map { q =>
        val (op, res) = r.timed(pass, q, Catalog.moduleOf(q), traced = false, -1)(
          Catalog.registered(q)(r.spark, r.data))
        q -> (op, res.map { case (c, rows) => Checksum.of(c.toSeq, rows) })
      }.toMap
    }
    val entries = names.map { q =>
      val (a, b) = (results(0)(q), results(1)(q))
      val fields = (a._2, b._2) match {
        case (Some((n1, c1)), Some((n2, c2))) if n1 == n2 =>
          Seq("rows" -> n1, "checksum" -> (if (c1 == c2 && oracles(q)) c1 else null),
            "passes_agree" -> (c1 == c2))
        case _ => Seq("error" -> s"${a._1.error} | ${b._1.error} | ${a._2} ${b._2}")
      }
      q -> Json.obj(fields ++ Seq("module" -> Catalog.moduleOf(q),
        "s_pass1" -> a._1.seconds, "s_pass2" -> b._1.seconds): _*)
    }
    Json.writeFile(file, Json.obj("workload" -> workload, "queries" -> Json.obj(entries: _*)))
  }
}
