package graft

/** Dev tool: sweeps ANN parameters (LSH signature bits × tables, IVF
  * probe count) and prints recall@10 against the brute-force baseline —
  * the measurement behind the pinned defaults in SimilarityQueries and
  * the recall floors in PipelineSpec.
  *
  * Usage: `sbt "runMain graft.RecallProbe [sfDir]"`.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftConf.session()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(operators.SimilarityQueries.simKnnBrute(spark, dir))
    // fail LOUDLY on an empty baseline: 0/0 recalls would serialize as
    // bare NaN tokens — invalid JSON, breaking the per-round diff
    require(brute.nonEmpty, s"brute-force baseline returned 0 pairs on " +
      s"$dir — RECALL.json would be NaN-invalid")
    val lsh = for ((sb, nt) <- Seq((4, 8), (4, 12), (4, 16), (3, 12),
        (3, 16), (5, 24))) yield {
      val r = (brute & pairs(
        operators.SimilarityQueries.simKnnLshWith(spark, dir, sb, nt))).size
        .toDouble / brute.size
      println(f"[probe] LSH sigBits=$sb numTables=$nt recall=$r%.3f")
      (s"lsh_sig${sb}_t$nt", r)
    }
    val ivf = for (np <- Seq(1, 2, 3, 4, 5, 6, 7, 8)) yield {
      val r = (brute & pairs(
        operators.SimilarityQueries.simKnnIvfWith(spark, dir, np))).size
        .toDouble / brute.size
      println(f"[probe] IVF nProbe=$np recall=$r%.3f")
      (s"ivf_probe$np", r)
    }
    // the TRAINED codebook on the SAME probe grid (round 12): trained
    // retrieval decay is diffable round-over-round like the label-mean
    // family, and the trained-vs-label-mean margin is visible per probe
    // setting, not just at the one adaptive point
    val ivfTrainedGrid = for (np <- Seq(1, 2, 3, 4, 5, 6, 7, 8)) yield {
      val r = (brute & pairs(operators.SimilarityQueries
        .simKnnIvfTrainedWith(spark, dir, np))).size.toDouble / brute.size
      println(f"[probe] IVF trained nProbe=$np recall=$r%.3f")
      (s"ivf_trained_probe$np", r)
    }
    // fixed-vs-adaptive frontier: recall AND candidate volume per
    // setting, so RECALL.json records which form dominates (the
    // adaptive stop rule should match fixed-probe recall at equal or
    // fewer scored candidates, and strictly fewer on skewed corpora).
    val ivfCand = for (np <- Seq(4, 6, 8)) yield {
      val c = operators.SimilarityQueries
        .ivfCandidates(spark, dir, Left(np))
      (s"ivf_probe${np}_cand", c)
    }
    val ivfAdapt = for (bp <- Seq(3500, 5500, 7500)) yield {
      val df = operators.SimilarityQueries
        .simKnnIvfAdaptiveWith(spark, dir, bp,
          operators.SimilarityQueries.MaxProbe)
      val r = (brute & pairs(df)).size.toDouble / brute.size
      val c = operators.SimilarityQueries
        .ivfCandidates(spark, dir, Right((bp,
          operators.SimilarityQueries.MaxProbe)))
      println(f"[probe] IVF adaptive massBp=$bp recall=$r%.3f cand=$c")
      (s"ivf_adapt_m$bp", r, c)
    }
    // PQ shortlist→rerank and int8 coarse→rerank: the two ANN families
    // whose retrieval quality previously had no recorded recall point
    // (the DuckDB oracle replays the algorithm, not the intent).
    val reranked = for ((key, df) <- Seq(
        "pq_rerank"   -> operators.SimilarityQueries.simKnnPq(spark, dir),
        "int8_rerank" -> operators.SimilarityQueries.simKnnRerank(spark, dir),
        "ivfpq"       -> operators.SimilarityQueries.simKnnIvfPq(spark, dir),
        // round 11: the Lloyd-trained coarse quantizer vs the label-mean
        // codebook (same adaptive probe setting) — the train→index→serve
        // loop's recorded quality point
        "ivf_trained" -> operators.SimilarityQueries
          .simKnnIvfTrained(spark, dir)))
      yield {
        val r = (brute & pairs(df)).size.toDouble / brute.size
        println(f"[probe] $key recall=$r%.3f")
        (key, r)
      }
    // Per-round artifact: recall@10 against the brute-force baseline,
    // so ANN retrieval-quality regressions are diffable from history
    // (the bench only times the queries; it cannot see recall decay).
    // Locale.ROOT: f"" interpolation is default-locale-dependent — a
    // comma-decimal locale would emit invalid JSON (same latent
    // pattern Bench fixed in round 6).
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val json = (Seq("\"sf_dir\": \"" + dir + "\"",
      s""""brute_pairs": ${brute.size}""") ++
      (lsh ++ ivf ++ ivfTrainedGrid ++ reranked)
        .map { case (k, v) => s""""$k": ${num(v)}""" } ++
      ivfCand.map { case (k, c) => s""""$k": $c""" } ++
      ivfAdapt.flatMap { case (k, r, c) =>
        Seq(s""""$k": ${num(r)}""", s""""${k}_cand": $c""") })
      .mkString("{", ", ", "}\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("RECALL.json"), json)
    println(s"[probe] wrote RECALL.json (${lsh.size + ivf.size} points)")
    spark.stop()
  }
}
