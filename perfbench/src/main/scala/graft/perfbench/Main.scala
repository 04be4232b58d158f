package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark process: one Spark session on `local[N]`, one client in a
  * closed loop. Runs one workload, times every operation to its complete
  * (collected) result, checks each result outside the timed region and
  * writes the raw samples as JSON for `run.py` to reduce.
  *
  * Arguments: `--workload w --seed n --seconds s --trace 0|1 --data dir
  * --out file --start-ns epochNanos [--expected file] [--spans file]
  * [--record file]`.
  * With `--record`, the suite workloads instead run every query of the
  * workload's families twice and write the expected row counts and
  * checksums. Exit code 3 means the coverage guard refused to run. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val problems = Catalog.violations()
    if (problems.nonEmpty) {
      System.err.println("coverage guard: refusing to run\n  " + problems.mkString("\n  "))
      sys.exit(3)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File("spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftConf(spark)
    val run = new Run(spark, opts, cores)
    run.notes += "session_ready_s" -> run.clockNs() / 1e9
    try {
      opts.get("record") match {
        case Some(file) => Suites.record(run, opts("workload"), file)
        case None if Catalog.suites.contains(opts("workload")) =>
          Suites.run(run, opts("workload"))
        case None => sys.error(s"unknown workload ${opts("workload")}")
      }
      run.write(opts("out"), opts.get("spans"))
    } finally spark.stop()
  }
}

/** One traced or untraced sample of a timed operation. */
final case class Op(pass: Int, name: String, module: String,
    seconds: Double, phases: Seq[(String, Double)], ok: Boolean, error: String)

/** The state of one benchmark process: options, listener, samples, spans. */
final class Run(val spark: SparkSession, opts: Map[String, String], val cores: Int) {
  val workload: String = opts("workload")
  val seed: Long = opts("seed").toLong
  val seconds: Double = opts("seconds").toDouble
  val trace: Boolean = opts("trace") == "1"
  val data: String = new java.io.File(opts("data")).getAbsolutePath
  val engine = new EngineListener(spark.sparkContext)
  spark.sparkContext.addSparkListener(engine)

  private val startNs = opts("start-ns").toLong
  private val clock0 = System.nanoTime()
  /** Nanoseconds from the benchmark command's start to this JVM's clock0. */
  private val offset = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano - startNs
  }
  /** Nanoseconds since the benchmark command started (monotonic). */
  private def t(): Long = System.nanoTime() - clock0 + offset

  private var firstOpNs = -1L
  val ops = ArrayBuffer.empty[Op]
  val passes = ArrayBuffer.empty[Map[String, Any]]
  val notes = ArrayBuffer.empty[(String, Any)]

  private val spans = ArrayBuffer.empty[(Int, String, Long, Long, Int)]
  private val runId = s"$workload-$seed-${opts("start-ns")}"

  /** Records a span around `body`, which receives the span's id. */
  def span[T](name: String, parent: Int)(body: Int => T): T = {
    val id = spans.size
    spans += ((id, name, t(), -1L, parent))
    val out = body(id)
    spans(id) = spans(id).copy(_4 = t())
    out
  }

  /** Marks the end of set-up: the first timed operation starts now. */
  def setupDone(): Unit = if (firstOpNs < 0) firstOpNs = t()

  def clockNs(): Long = t()

  /** Timed passes per run: the same number in every run of a given
    * `--seconds`, one per nominal 10 s of it (about one pass of either
    * suite on 4 cores), and at least two. A traced run makes at least four
    * in the order traced, untraced, untraced, traced, so that warm-up drift
    * cancels out of the tracing overhead. */
  val passCount: Int = math.max(if (trace) 4 else 2, math.round(seconds / 10).toInt)
  def tracedPass(i: Int): Boolean = trace && (i % 4 == 0 || i % 4 == 3)

  /** The inputs seen through a directory path of their own for `pass`
    * (-1 for the warm-up pass): a symbolic link to `data`. The program
    * memoises work per input directory (`ml.Forecast.persistedStore`
    * trains the forecaster once per directory; `ArtifactStore` and the
    * BPE store name their files after it), so that every pass, like the
    * warm-up pass, starts from the same fresh state instead of reusing
    * what an earlier pass derived. */
  def dataFor(pass: Int): String = {
    val base = java.nio.file.Paths.get(data)
    val link = base.resolveSibling(
      base.getFileName.toString + (if (pass < 0) "-warmup" else s"-pass$pass"))
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link, base.getFileName)
    link.toString
  }

  val expectedFile: String = opts.getOrElse("expected", "")

  def inputBytes(tables: Seq[String]): Long =
    tables.map(tb => Engine.du(new java.io.File(s"$data/$tb.parquet"))._1).sum

  def passRecord(pass: Int, traced: Boolean, wallS: Double, c: Counters,
      storeBytes: Long, storeFiles: Long): Map[String, Any] = Map(
    "pass" -> pass, "traced" -> traced, "wall_s" -> wallS,
    "counters" -> c.metrics.toMap,
    "store.bytes_written" -> storeBytes, "store.files_written" -> storeFiles)

  /** Times `fn` to its collected result, untraced or split into the
    * build / plan / exec phases (with spans) when `traced`. */
  def timed(pass: Int, name: String, module: String, traced: Boolean,
      parent: Int)(fn: => DataFrame)
      : (Op, Option[(Array[String], Array[org.apache.spark.sql.Row])]) = {
    try {
      if (!traced) {
        val t0 = System.nanoTime()
        val df = fn
        val rows = df.collect()
        val s = (System.nanoTime() - t0) / 1e9
        (Op(pass, name, module, s, Nil, ok = true, ""), Some((df.columns, rows)))
      } else {
        var phases = List.empty[(String, Double)]
        def phase[T](p: String, qspan: Int)(body: => T): T = {
          val t0 = System.nanoTime()
          val out = span(p, qspan)(_ => body)
          phases :+= p -> (System.nanoTime() - t0) / 1e9
          out
        }
        val res = span(name, parent) { qspan =>
          val df = phase("build_s", qspan)(fn)
          phase("plan_s", qspan)(df.queryExecution.executedPlan)
          val rows = phase("exec_s", qspan)(df.collect())
          (df.columns, rows)
        }
        (Op(pass, name, module, phases.map(_._2).sum, phases, ok = true, ""), Some(res))
      }
    } catch {
      case NonFatal(e) => (Op(pass, name, module, 0.0, Nil, ok = false, Run.message(e)), None)
    }
  }

  def write(out: String, spansFile: Option[String]): Unit = {
    val doc = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "first_op_ns" -> firstOpNs, "end_ns" -> t(),
      "peak_rss_mb" -> Engine.peakRssMb(),
      "ops" -> ops.map(o => Json.obj("pass" -> o.pass, "name" -> o.name,
        "module" -> o.module, "s" -> o.seconds,
        "phases" -> Json.obj(o.phases: _*), "ok" -> o.ok, "error" -> o.error)).toSeq,
      "passes" -> passes.map(p => Json.obj(p.toSeq: _*)).toSeq,
      "notes" -> Json.obj(notes.toSeq: _*))
    Json.writeFile(out, doc)
    spansFile.foreach { f =>
      val w = new java.io.PrintWriter(f, "UTF-8")
      try spans.foreach { case (id, name, s, e, parent) =>
        w.println(Json.render(Json.obj("run" -> runId, "id" -> id, "name" -> name,
          "start_ns" -> s, "end_ns" -> e, "parent" -> parent)))
      } finally w.close()
    }
  }
}

object Run {
  /** First line of an error's message, for the report. */
  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .nextOption().getOrElse("").take(300)
}

/** Minimal JSON rendering through the Jackson that Spark ships. */
object Json {
  import scala.jdk.CollectionConverters._
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def obj(kvs: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, conv(v)) }
    m
  }

  private def conv(v: Any): Any = v match {
    case s: Seq[_] => s.map(conv).asJava
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case other => other
  }

  def render(v: Any): String = mapper.writeValueAsString(conv(v))

  def writeFile(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      render(v).getBytes("UTF-8"))

  def readFile(path: String): java.util.Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Any]])
}
