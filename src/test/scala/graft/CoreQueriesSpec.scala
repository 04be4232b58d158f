package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs — one JVM-wide SparkSession (local[4]). */
object TestSpark {
  lazy val spark: SparkSession = GraftConf.session(cores = 4)
  val sf: String = "/root/testdata/sf0.001"
}

class CoreQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("entry smoke: flagship returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("testdata surface: every Tables reader loads its table with rows " +
    "(incl. the schema-adaptive events path)") {
    for ((name, rd) <- Tables.allReaders)
      assert(rd(spark, sf).count() > 0, s"$name read no rows")
  }

  test("cross-pipeline revenue invariant (reference's own check, SURVEY.md §5): " +
    "daily×product total == weekly total") {
    val daily = operators.CoreQueries.aggDailyProduct(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("total_revenue")).head.getDouble(0)
    val weekly = operators.CoreQueries.dtWeekTrunc(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("weekly_revenue")).head.getDouble(0)
    assert(math.abs(daily - weekly) < 1e-6, s"daily=$daily weekly=$weekly")
  }

  test("weekday parity: pandas convention Mon=0..Sun=6 (SURVEY.md §2.J.3)") {
    val rows = operators.CoreQueries.dtParts(spark, sf)
      .select("sale_date", "weekday", "is_weekend").distinct().collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getDate(0).toLocalDate
      val expected = d.getDayOfWeek.getValue - 1 // java.time: Mon=1..Sun=7
      assert(r.getInt(1) == expected, s"$d: got ${r.getInt(1)}, want $expected")
      assert(r.getInt(2) == (if (expected >= 5) 1 else 0))
    }
  }

  test("null-safe parse: exactly the orderkey%3==0 third is null, rest parse") {
    import spark.implicits._
    val df = operators.CoreQueries.dtParseNullsafe(spark, sf).cache()
    val bad = df.where($"sale_ts".isNull)
    assert(bad.count() > 0)
    assert(bad.where($"o_orderkey" % 3 =!= 0).count() == 0)
    assert(df.where($"sale_ts".isNotNull && $"o_orderkey" % 3 === 0).count() == 0)
    df.unpersist()
  }

  test("every declared query has matching column names with its oracle usage " +
    "and returns rows on sf0.001") {
    // Queries whose CORRECT result is legitimately empty at tiny SFs:
    // the real DCT pHash (round 9) only pairs identical/value-perturbed
    // blobs, and sf0.001/sf0.01 plant none — the empty frame is itself
    // hash-verified against the oracle's full DCT replay, and
    // JoinWindowSpec's planted-fixture tests prove the operator finds
    // near-dups when they exist. Everything else must return rows.
    // dedup_entity_hot_blocks joins them (round 16): customer blocks
    // are digit-suffix bounded at 100 ≤ EntityBlockCap at EVERY test
    // SF, so an empty hot report IS the correct answer — hash-verified
    // against the oracle's HAVING replay, with the non-empty path
    // pinned by PipelineSpec's planted fixture and SCALE10 entity_hot.
    val emptyOkAtTinySf = Set("mm_dedup_phash", "mm_dedup_phash_incremental",
      "dedup_entity_hot_blocks")
    SparkEntry.queries.foreach { case (name, q) =>
      val df = q(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      if (!emptyOkAtTinySf(name))
        assert(df.count() > 0, s"$name returned 0 rows")
    }
  }

  test("filters and projection reach the parquet scan (pushdown/pruning)") {
    val filtered = operators.CoreQueries.fltIsinRange(spark, sf)
      .queryExecution.executedPlan.toString
    assert(filtered.contains("PushedFilters: [") &&
      (filtered.contains("In(l_returnflag") || filtered.contains("l_returnflag")),
      s"expected returnflag filter pushed to scan:\n$filtered")
    val projected = operators.CoreQueries.prjProject(spark, sf)
      .queryExecution.executedPlan.toString
    // o_orderdate surfaces as timestamp_ntz from the scan (parquet
    // isAdjustedToUTC=false); assert pruning by column set, not types
    assert(projected.contains("ReadSchema: struct<o_orderkey:") &&
      !projected.contains("o_totalprice"),
      s"expected 3-column pruned scan:\n$projected")
  }

  test("bloom prefilter: result equals the plain semi-join, the probe is a " +
    "scan-stage predicate, survivors = matches + bounded false positives") {
    import org.apache.spark.sql.functions._
    // (1) end-to-end equality with the un-prefiltered semi-join
    val res = operators.CoreQueries.fltBloomPrefilter(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val keepers = Tables.part(spark, sf)
      .filter(col("p_size") < 10).select(col("p_partkey"))
    val exact = li.join(keepers, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
    assert(res.collect().toSet === exact.collect().toSet)

    // (2) the probe survives to the executed plan as a native predicate
    // (not lost to a subquery rewrite) — it is what cuts the exchange input
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain_long"),
      s"bloom probe missing from executed plan:\n$plan")

    // (3) prefilter semantics on a planted frame: no false negatives,
    // false positives bounded far below the non-member count. 2 keepers,
    // 998 non-members at 1% fpp -> expect ~10 FPs; assert < 100.
    val ids = spark.range(0, 1000).toDF("id")
    val bf = ids.where(col("id") < 2).stat.bloomFilter("id", 2, 0.01)
    val bits = lit(graft.functions.SketchExpressions.serialize(bf))
    graft.functions.VectorExpressions.register(spark)
    val survivors = ids.where(
      graft.functions.SketchExpressions.bloom_might_contain_long(col("id"), bits))
      .collect().map(_.getLong(0)).toSet
    assert(survivors.contains(0L) && survivors.contains(1L),
      "bloom filters never drop true members")
    assert(survivors.size < 100,
      s"false-positive blowup: ${survivors.size} survivors of 1000 for 2 keys")
  }

  test("flagship plan: broadcast join + partial aggregation, no extra shuffle") {
    val plan = operators.CoreQueries.aggDailyProduct(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "part dim should broadcast at test SF (planner-chosen, not hinted)")
    assert(!plan.contains("SortMergeJoin"), "flagship must not sort-merge join")
  }
}
