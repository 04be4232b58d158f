package graft.perfbench

import graft.Q

/** Which module and which workload every registered query belongs to,
  * and the coverage guard that refuses to run when that is ambiguous. */
object Catalog {

  /** Modules as named in the layer metrics; `plans` rolls up its objects. */
  val modules: Seq[(String, Map[String, Q])] = {
    import graft.{ml, operators => o, plans => p, sources, streaming}
    Seq(
      "operators.CoreQueries" -> o.CoreQueries.queries,
      "operators.AggQueries" -> o.AggQueries.queries,
      "operators.NestedQueries" -> o.NestedQueries.queries,
      "operators.JoinWindowQueries" -> o.JoinWindowQueries.queries,
      "operators.ReshapeQueries" -> o.ReshapeQueries.queries,
      "operators.TextQueries" -> o.TextQueries.queries,
      "operators.DedupQueries" -> o.DedupQueries.queries,
      "operators.SimilarityQueries" -> o.SimilarityQueries.queries,
      "operators.PipelineOps" -> o.PipelineOps.queries,
      "operators.MultimodalQueries" -> o.MultimodalQueries.queries,
      "sources.SourceQueries" -> sources.SourceQueries.queries,
      "streaming.EventStreams" -> streaming.EventStreams.queries,
      "ml.Forecast" -> ml.Forecast.queries,
      "ml.LinearBacktest" -> ml.LinearBacktest.queries,
      "ml.Scoring" -> ml.Scoring.queries,
      "plans" -> (p.PairCount.queries ++ p.GlobalRank.queries ++
        p.TopK.queries ++ p.ThetaSets.queries ++ p.SkewJoin.queries))
  }

  /** Query-name families (the prefix before the first `_`). */
  val corpusFamilies: Set[String] = Set("dedup", "sim", "pipe", "mm", "txt", "smp")
  val dashboardFamilies: Set[String] = Set("agg", "arr", "dim", "dt", "evt",
    "flt", "join", "lim", "ml", "prj", "prof", "rshp", "set", "snk", "src",
    "srt", "topk", "win")

  def family(q: String): String = q.takeWhile(_ != '_')

  /** The queries each suite workload times, so that a run fits the
    * benchmark's time budget: from each module that serves the workload,
    * its median query by warm latency among those with an oracle and a
    * non-empty result (measured on the benchmark's inputs). The three `ml`
    * modules have one query each, which is timed whether or not it has an
    * oracle. */
  val suites: Map[String, Seq[String]] = Map(
    "dashboard" -> Seq("dt_parts", "agg_corr_group", "arr_zip_dot",
      "win_running_total", "join_semi", "snk_merge_upsert", "evt_funnel",
      "ml_forecast", "ml_linear_backtest", "ml_stream_score",
      "topk_heap_per_group"),
    "corpus_cold" -> Seq("txt_langid", "dedup_ngram_incremental",
      "dedup_embedding_incremental", "pipe_pack_sequences", "mm_patch_grid"))

  lazy val registered: Map[String, Q] = graft.SparkEntry.queries

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  def workloadOf(q: String): String =
    if (corpusFamilies(family(q))) "corpus_cold" else "dashboard"

  /** Every registered query sits in exactly one module and exactly one of
    * the two suites, and every suite member is registered in its suite's
    * families; otherwise the problems, one a line. */
  def violations(): Seq[String] = {
    val owners = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }
      .groupBy(_._1).map { case (q, ms) => q -> ms.map(_._2) }
    val names = registered.keySet
    val unowned = names.filterNot(owners.contains).toSeq
      .map(q => s"$q is in no module")
    val shared = owners.collect { case (q, ms) if ms.size > 1 =>
      s"$q is in ${ms.size} modules: ${ms.mkString(", ")}" }
    val stray = owners.keySet.diff(names).toSeq
      .map(q => s"$q is in a module but not registered")
    val unsorted = names.toSeq.collect {
      case q if corpusFamilies(family(q)) == dashboardFamilies(family(q)) =>
        s"$q (family ${family(q)}) is in neither or both workloads"
    }
    val badMembers = suites.toSeq.flatMap { case (w, qs) =>
      qs.collect {
        case q if !names(q) => s"$w lists $q, which is not registered"
        case q if workloadOf(q) != w => s"$w lists $q from another workload"
      } ++ qs.diff(qs.distinct).map(q => s"$w lists $q twice")
    }
    (unowned ++ shared ++ stray ++ unsorted ++ badMembers).sorted
  }
}
