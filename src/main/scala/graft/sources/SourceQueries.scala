package graft.sources

import graft.{ParquetDir, Q, Tables}
import graft.operators.CoreQueries
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.A sources/sinks: Mongo extended-JSON ingestion and the CSV
  * round-trip sink (SURVEY.md §2.A; loader df.ipynb:91 (cell 5)).
  *
  * The reference's loader parses `$oid` → string, `$date` → timestamp,
  * `$numberDecimal` → number, with malformed documents nulled rather than
  * failing the batch. Here the extended-JSON input is synthesized
  * deterministically from `orders` (a ~7th of rows corrupted), parsed
  * with `from_json` + `try_to_timestamp`, and the oracle states the
  * expected decoded values directly from the flat table.
  */
object SourceQueries {

  private val extJsonSchema = StructType(Seq(
    StructField("_id", StructType(Seq(StructField("$oid", StringType)))),
    StructField("saleDate", StructType(Seq(StructField("$date", StringType)))),
    StructField("price", StructType(Seq(StructField("$numberDecimal", StringType))))
  ))

  /** §2.A `src_extjson_load`: extended-JSON parse with null-on-malformed.
    * Price strings are built from exact integer cents so the re-parsed
    * double bit-matches the oracle's floor-cents arithmetic. */
  val srcExtjsonLoad: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
    val centsCol = Tables.cents(col("o_totalprice")).cast("long")
    val priceStr = concat(floor(centsCol / 100).cast("long").cast("string"),
      lit("."), lpad((centsCol % 100).cast("string"), 2, "0"))
    val json = concat(
      lit("""{"_id": {"$oid": """"),
      lpad(col("o_orderkey").cast("string"), 24, "0"),
      lit(""""}, "saleDate": {"$date": """"),
      date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
      lit(""""}, "price": {"$numberDecimal": """"), priceStr, lit(""""}}"""))
    val raw = o.select(
      col("o_orderkey"),
      // a seventh of the documents are corrupted mid-stream
      when(col("o_orderkey") % 7 === 0, lit("{not valid json"))
        .otherwise(json).as("doc"))
    raw
      .withColumn("parsed", from_json(col("doc"), extJsonSchema))
      .select(
        col("o_orderkey"),
        col("parsed._id.$oid").as("oid"),
        try_to_timestamp(col("parsed.saleDate.$date"),
          lit("yyyy-MM-dd'T'HH:mm:ss'Z'")).as("sale_ts"),
        col("parsed.price.$numberDecimal").cast("double").as("price"))
  }

  /** §2.A `snk_csv_roundtrip` (EDA.ipynb:703 (cell 15)): write the daily
    * report to CSV with header, read it back with an explicit schema
    * (the reference relies on pandas dtype inference — we declare), and
    * re-aggregate. Exactness survives the round trip because Spark writes
    * doubles in shortest-round-trip form. */
  val snkCsvRoundtrip: Q = (spark, dir) => {
    val out = s"target/tmp/csv_roundtrip_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    CoreQueries.dailyBase(spark, dir)
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("sale_date", DateType),
      StructField("product", StringType),
      StructField("total_quantity", DoubleType),
      StructField("total_revenue", DoubleType)))
    spark.read.option("header", "true").schema(schema).csv(out)
      .groupBy(col("product"))
      .agg(
        sum(col("total_quantity")).as("total_quantity"),
        (sum(Tables.cents(col("total_revenue"))) / lit(100.0))
          .as("total_revenue"))
      .orderBy(col("product"))
  }

  /** Writes orders and lineitem as co-bucketed tables (8 buckets, each
    * BY its orderkey, sorted within buckets) and returns the table
    * names — idempotent per (session, sf dir). This is the storage
    * layout every join-heavy scaladoc in the repo points at: at 100 TB,
    * co-bucketed fact tables turn the orderkey join from a full
    * re-shuffle of both sides into a bucket-to-bucket merge read. */
  def bucketedTables(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val suffix = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val (oTbl, lTbl) = (s"orders_b$suffix", s"lineitem_b$suffix")
    if (!spark.catalog.tableExists(oTbl)) {
      Tables.orders(spark, dir).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"target/tmp/bucketed/$oTbl")
        .mode("overwrite").format("parquet").saveAsTable(oTbl)
      Tables.lineitem(spark, dir).write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"target/tmp/bucketed/$lTbl")
        .mode("overwrite").format("parquet").saveAsTable(lTbl)
    }
    (oTbl, lTbl)
  }

  /** §2.A sink + the co-located-join layout: write both fact tables
    * bucketed by orderkey, then join bucket-to-bucket and aggregate
    * revenue per order priority. With co-bucketed inputs the join plan
    * has NO exchange under it (asserted in JoinWindowSpec) — the only
    * shuffle left is the 5-row priority aggregate. Oracled in plain
    * SQL over the original tables: bucketing must not change results. */
  val snkBucketedJoin: Q = (spark, dir) => {
    val (oTbl, lTbl) = bucketedTables(spark, dir)
    val o = spark.table(oTbl)
    val l = spark.table(lTbl)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        Tables.revenueSum.as("total_revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** §2.A sink + partition layout: write the daily report
    * date-partitioned (`PARTITIONED BY month`), read it back with a
    * month filter, and aggregate. The month predicate must resolve as a
    * PARTITION filter — the scan touches only the selected directories
    * (asserted in SourceSinkSpec: `PartitionFilters` non-empty, no data
    * filter on month). At 100 TB date-partitioning is the first-line
    * pruning layout: a one-month query reads 1/12th of the corpus
    * before any row-level work. */
  val snkPartitionedPrune: Q = (spark, dir) => {
    val out = s"target/tmp/part_daily_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    CoreQueries.dailyBase(spark, dir)
      .withColumn("month", date_format(col("sale_date"), "yyyy-MM"))
      // repartition BY the partition column before a partitioned write:
      // without it every upstream task writes a sliver into every month
      // directory (tasks × months small files — the classic partitioned-
      // sink anti-pattern at scale); with it each month is one file.
      .repartition(col("month"))
      .write.mode("overwrite").partitionBy("month").parquet(out)
    spark.read.parquet(out)
      .where(col("month").isin("1996-03", "1997-07"))
      .groupBy(col("month"), col("product"))
      .agg(
        sum(col("total_quantity")).as("total_quantity"),
        (sum(Tables.cents(col("total_revenue"))) / lit(100.0))
          .as("total_revenue"))
      .orderBy(col("month"), col("product"))
  }

  /** §2.A sink + sort-clustered layout: write events range-clustered
    * (`repartitionByRange` + `sortWithinPartitions` on user_id), read
    * back with a selective user filter, and aggregate. The layout makes
    * every file and row group carry a NARROW, pairwise-disjoint
    * user_id min/max band in its parquet footer, so the pushed filter
    * (`PushedFilters: [GreaterThanOrEqual(user_id,…), …]`) skips whole
    * row groups from the footer alone — SourceSinkSpec reads the
    * footers and asserts the bands are disjoint and the probe touches
    * one file. At 100 TB this is the second pruning axis after date
    * partitioning: partition dirs cut time, in-file clustering cuts
    * the key dimension, and a point/range probe reads ~one row group
    * instead of the whole day. Oracled over the original table —
    * layout must not change results. */
  val snkSortedPrune: Q = (spark, dir) => {
    val out = s"target/tmp/sorted_events_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    Tables.events(spark, dir)
      .repartitionByRange(4, col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"))
      .write.mode("overwrite").parquet(out)
    ParquetDir.read(spark, out)
      .where(col("user_id").between(10, 19))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("total_value"))
      .orderBy(col("user_id"))
  }

  /** §2.A ext. schema drift: a corpus written over years accumulates
    * batches with DIFFERENT schemas — new columns appear, old files
    * lack them, and at 100 TB you cannot rewrite history to backfill.
    * Two batches of orders land in ONE dataset directory: the v1 batch
    * (even orderkeys) predates `o_orderpriority`, the v2 batch carries
    * it. `mergeSchema=true` unions the file schemas at read time and
    * null-fills the missing column in old files — the aggregate counts
    * per order-year how much of the corpus actually has the new field
    * (the fill-rate scan every schema migration starts with). Oracled
    * by replaying the drift rule (even keys → NULL priority) over the
    * original table. Scale note: mergeSchema reads ALL file footers at
    * planning time — fine per-partition-dir; for a full 100 TB listing
    * pin the merged schema explicitly instead. */
  val srcSchemaMerge: Q = (spark, dir) => {
    val out = s"target/tmp/schema_merge_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    o.where(col("o_orderkey") % 2 === 0).drop("o_orderpriority")
      .write.mode("overwrite").parquet(out)
    o.where(col("o_orderkey") % 2 =!= 0)
      .write.mode("append").parquet(out)
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_orderpriority")).as("n_with_priority"))
      .orderBy(col("order_year"))
  }

  /** Bit-interleave two 16-bit grid coordinates into a 32-bit Morton
    * (z-order) value. Pure `shiftright`/`bitwiseAND`/`shiftleft` tree —
    * 32 codegen'd integer ops per row, no UDF. Note y's top bit lands
    * in the Int SIGN bit, so signed ordering visits the y-upper
    * half-curve first — a constant swap of two contiguous curve
    * halves that leaves every range-partition's per-axis band exactly
    * as compact (PropertySpec proves the bijection + quadrant bits;
    * SourceSinkSpec proves both axes prune). */
  private[graft] def mortonInterleave(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** §2.A sink + z-order-clustered layout: the multi-dimension
    * generalization of [[snkSortedPrune]]. A linear sort clusters ONE
    * key; a probe on any other column still touches every file. Here
    * events are clustered on the Morton interleave of (user_id, day):
    * both coordinates are min/max-normalized onto a 16-bit grid (the
    * 4-scalar stats row rides a 1-row broadcast, the same bounded
    * pattern as every ratio-of-total query), bits interleaved with
    * shift/and/or built-ins, range-partitioned and sorted by the
    * z-value, then the helper columns are dropped before the write —
    * the layout persists in row order, not in the schema. Each file's
    * parquet footer then carries a NARROW min/max band in BOTH
    * dimensions, so a two-sided probe (user range AND time range)
    * skips files on either band — SourceSinkSpec reads the footers and
    * asserts both axes prune. At 100 TB this is the layout for the
    * "this user, this week" access pattern date-partitioning alone
    * can't serve: partition dirs cut coarse time, z-order cuts
    * user × fine-time inside each partition. Oracled over the original
    * table — layout must not change results. */
  val snkZorderPrune: Q = (spark, dir) => {
    val out = s"target/tmp/zorder_events_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val ev = Tables.events(spark, dir)
      .withColumn("day", datediff(to_date(col("ts")), lit("2024-01-01")))
    val stats = ev.agg(
      min("user_id").as("u0"), max("user_id").as("u1"),
      min("day").as("d0"), max("day").as("d1"))
    val grid = ev.crossJoin(broadcast(stats))
      .withColumn("xg", ((col("user_id") - col("u0")) * 65535L /
        greatest(col("u1") - col("u0"), lit(1))).cast("int"))
      .withColumn("yg", ((col("day") - col("d0")) * 65535L /
        greatest(col("d1") - col("d0"), lit(1))).cast("int"))
      .withColumn("zval", mortonInterleave(col("xg"), col("yg")))
    grid
      .repartitionByRange(8, col("zval"))
      .sortWithinPartitions(col("zval"))
      .drop("day", "u0", "u1", "d0", "d1", "xg", "yg", "zval")
      .write.mode("overwrite").parquet(out)
    ParquetDir.read(spark, out)
      .where(col("user_id").between(10, 39) &&
        col("ts") >= lit("2024-01-08") && col("ts") < lit("2024-01-15"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("total_value"))
      .orderBy(col("user_id"))
  }

  /** §2.A maintenance sink: small-file compaction. Streaming ingestion
    * and over-parallel writes leave datasets as thousands of KB-scale
    * slivers; at 100 TB the per-file open/footer overhead and the
    * metadata-layer pressure (listings, manifests) grow linearly with
    * file count and come to dominate scan time. The maintenance pass:
    * read the fragmented dataset, size its bytes, rewrite into
    * ceil(bytes / target) files. Here events are deliberately
    * shattered into 64 slivers and compacted against an 8 MiB target;
    * SourceSinkSpec asserts the before/after file counts and that the
    * compacted count matches the size arithmetic. Oracled over the
    * original table — compaction must be invisible to results. The
    * directory sizing is a metadata operation (file lengths, not
    * data), the same FileSystem listing a cloud compactor issues. */
  val snkCompact: Q = (spark, dir) => {
    val suffix = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val frag = s"target/tmp/frag_events_$suffix"
    val compact = s"target/tmp/compact_events_$suffix"
    Tables.events(spark, dir)
      .repartition(64) // the over-parallel ingest writer
      .write.mode("overwrite").parquet(frag)
    val bytes = new java.io.File(frag).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val nOut = math.max(1, math.ceil(bytes / (8.0 * 1024 * 1024)).toInt)
    ParquetDir.read(spark, frag)
      .repartition(nOut)
      .write.mode("overwrite").parquet(compact)
    ParquetDir.read(spark, compact)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** §2.A `snk_orc_roundtrip`: the ORC sibling of the CSV round trip —
    * columnar sink, typed read-back (no schema re-declaration needed:
    * ORC carries types), re-aggregate. Doubles survive bit-exactly
    * (binary format, unlike text). */
  val snkOrcRoundtrip: Q = (spark, dir) => {
    val out = s"target/tmp/orc_roundtrip_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    CoreQueries.dailyBase(spark, dir)
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy(col("product"))
      .agg(
        sum(col("total_quantity")).as("total_quantity"),
        (sum(Tables.cents(col("total_revenue"))) / lit(100.0))
          .as("total_revenue"))
      .orderBy(col("product"))
  }

  /** `snk_merge_upsert`: MERGE INTO semantics for a batch of changes —
    * the daily-ingest upsert every lakehouse table needs. A base
    * snapshot (orders with key % 5 ≠ 0) absorbs an updates batch
    * (key % 3 = 0: repriced +$1.11 exact-cents, status → 'U'); matched
    * keys are REPLACED, unmatched keys INSERT (keys ≡ 0 mod 15 exist
    * only in the batch, so both MERGE arms execute). The merged table
    * round-trips through parquet before the verification aggregate, so
    * the sink itself — not just the join — is under test.
    *
    * Scale: MERGE is a key-shuffled LEFT ANTI join (base minus touched
    * keys) plus a union — both sides hash-partition on o_orderkey,
    * exactly the shape copy-on-write table formats execute after file
    * pruning; nothing is broadcast (both sides are data-sized) and no
    * driver round-trip exists. The repricing is integer-cents
    * arithmetic (`(cents + 111) / 100.0`), one IEEE division, so the
    * written doubles bit-match the oracle's replay. */
  val snkMergeUpsert: Q = (spark, dir) => {
    val out = s"target/tmp/merge_upsert_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
    val base = o.where(col("o_orderkey") % 5 =!= 0)
    val updates = o.where(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice",
        (Tables.cents(col("o_totalprice")).cast("long") + lit(111L)) /
          lit(100.0))
      .withColumn("o_orderstatus", lit("U"))
    val merged = mergeUpsert(base, updates)
    merged.write.mode("overwrite").parquet(out)
    ParquetDir.read(spark, out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(Tables.cents(col("o_totalprice"))) / lit(100.0))
          .as("total_price"),
        max(col("o_orderkey")).as("max_orderkey"))
      .orderBy(col("o_orderstatus"))
  }

  /** MERGE core of [[snkMergeUpsert]]: matched keys take the update
    * row, unmatched update keys insert, untouched base rows pass
    * through — both sides key-shuffled, nothing broadcast. The spec
    * plants a 3-key frame exercising all three arms. */
  private[graft] def mergeUpsert(base: DataFrame,
      updates: DataFrame): DataFrame =
    base
      .join(updates.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
      .unionByName(updates)

  /** `snk_incr_agg`: incremental aggregate maintenance — the
    * materialized-view pattern behind every always-fresh dashboard at
    * scale. A (month, status) revenue aggregate is built from the
    * historical base (orders before 1995), persisted to parquet as the
    * view STATE, then a delta batch (1995+) is aggregated ALONE and
    * merged into the reloaded state by re-aggregating the partials.
    * The DuckDB oracle computes the aggregate over ALL orders in one
    * pass — the hash match proves merge(agg(base), agg(delta)) ≡
    * agg(base ∪ delta), the re-aggregability contract (count and sum
    * are decomposable; the exact-cents representation keeps the money
    * sum associative where a double sum would not be).
    *
    * Scale: the delta pass scans ONLY the new batch; the merge
    * shuffles state-sized frames (|months| × |statuses| rows, calendar
    * -bounded — never data-sized). This is why the view stores exact
    * integer cents and counts, not averages: partials must be
    * mergeable. */
  val snkIncrAgg: Q = (spark, dir) => {
    val out = s"target/tmp/incr_agg_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val o = Tables.orders(spark, dir).select(
      date_trunc("month", col("o_orderdate")).as("mo"),
      col("o_orderstatus").as("st"),
      Tables.cents(col("o_totalprice")).cast("long").as("c"),
      col("o_orderdate"))
    val cutoff = lit("1995-01-01").cast("date")
    def partial(df: DataFrame): DataFrame = df
      .groupBy(col("mo"), col("st"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("cents"))
    partial(o.where(col("o_orderdate") < cutoff))
      .write.mode("overwrite").parquet(out)
    mergePartials(ParquetDir.read(spark, out),
      partial(o.where(col("o_orderdate") >= cutoff)))
  }

  /** Merge step of [[snkIncrAgg]]: re-aggregate two partial-state
    * frames (mo, st, n, cents). The spec plants overlapping and
    * disjoint keys. */
  private[graft] def mergePartials(state: DataFrame,
      delta: DataFrame): DataFrame =
    state.unionByName(delta)
      .groupBy(col("mo"), col("st"))
      .agg(sum(col("n")).as("n_orders"),
        (sum(col("cents")) / lit(100.0)).as("total_price"))
      .orderBy(col("mo"), col("st"))

  /** `src_jsonl_load`: JSON-Lines corpus ingestion — the interchange
    * format LLM text pipelines actually ship (one JSON object per
    * line, schema declared, malformed lines quarantined instead of
    * failing the batch). The fixture writes `documents` metadata as
    * JSONL with every seventh line corrupted mid-stream, then reads it
    * back PERMISSIVE with an explicit schema and a corrupt-record
    * column, and reports per-language doc counts + char volume with
    * the quarantined lines as their own `_corrupt` bucket — the
    * ingest-report shape (how much survived, how much quarantined).
    *
    * Scale: the JSONL read is a line-split scan — schema declared (no
    * inference pass over 100 TB), one parse per line, corruption
    * isolated per record. The aggregate is one hash shuffle on the
    * language key. */
  val srcJsonlLoad: Q = (spark, dir) => {
    val out = s"target/tmp/jsonl_docs_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    Tables.documents(spark, dir)
      .select(
        when(col("doc_id") % 7 === 0, lit("{not valid json"))
          .otherwise(to_json(struct(col("doc_id"), col("lang"),
            col("source"), col("n_chars")))).as("value"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
      .groupBy(coalesce(col("lang"), lit("_corrupt")).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        count(col("_corrupt_record")).as("n_quarantined"))
      .orderBy(col("lang"))
  }

  def queries: Map[String, Q] = Map(
    "snk_merge_upsert"     -> snkMergeUpsert,
    "snk_incr_agg"         -> snkIncrAgg,
    "src_jsonl_load"       -> srcJsonlLoad,
    "src_extjson_load"     -> srcExtjsonLoad,
    "snk_csv_roundtrip"    -> snkCsvRoundtrip,
    "snk_bucketed_join"    -> snkBucketedJoin,
    "snk_partitioned_prune" -> snkPartitionedPrune,
    "snk_sorted_prune"     -> snkSortedPrune,
    "snk_zorder_prune"     -> snkZorderPrune,
    "src_schema_merge"     -> srcSchemaMerge,
    "snk_compact"          -> snkCompact,
    "snk_orc_roundtrip"    -> snkOrcRoundtrip,
  )

  def oracles: Map[String, String] = Map(
    "src_jsonl_load" ->
      """SELECT CASE WHEN doc_id % 7 = 0 THEN '_corrupt' ELSE lang END
        |    AS lang,
        |  count(*) AS n_docs,
        |  SUM(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END)
        |    AS total_chars,
        |  count(CASE WHEN doc_id % 7 = 0 THEN 1 END) AS n_quarantined
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "snk_incr_agg" ->
      """SELECT date_trunc('month', o_orderdate) AS mo,
        |  o_orderstatus AS st,
        |  count(*) AS n_orders,
        |  SUM(floor(o_totalprice * 100.0 + 0.5)) / 100.0 AS total_price
        |FROM orders
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "snk_merge_upsert" ->
      """WITH upd AS (
        |  SELECT o_orderkey,
        |    (CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 111)
        |      / 100.0 AS o_totalprice,
        |    'U' AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM orders
        |  WHERE o_orderkey % 5 <> 0
        |    AND o_orderkey NOT IN (SELECT o_orderkey FROM upd)),
        |m AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM upd)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  SUM(floor(o_totalprice * 100.0 + 0.5)) / 100.0 AS total_price,
        |  max(o_orderkey) AS max_orderkey
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_extjson_load" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |       ELSE lpad(CAST(o_orderkey AS VARCHAR), 24, '0') END AS oid,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |       ELSE o_orderdate END AS sale_ts,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |       ELSE floor(o_totalprice * 100.0 + 0.5) / 100.0 END AS price
        |FROM orders""".stripMargin,
    "snk_csv_roundtrip" ->
      ("""SELECT product, SUM(total_quantity) AS total_quantity,
        |  SUM(floor(total_revenue * 100.0 + 0.5)) / 100.0 AS total_revenue
        |FROM (""".stripMargin + CoreQueries.aggDailyProductSql +
        ") t GROUP BY 1 ORDER BY 1"),
    "snk_partitioned_prune" ->
      ("""SELECT strftime(sale_date, '%Y-%m') AS month, product,
        |  SUM(total_quantity) AS total_quantity,
        |  SUM(floor(total_revenue * 100.0 + 0.5)) / 100.0 AS total_revenue
        |FROM (""".stripMargin + CoreQueries.aggDailyProductSql +
        """) t WHERE strftime(sale_date, '%Y-%m') IN ('1996-03', '1997-07')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "snk_sorted_prune" ->
      """SELECT user_id, count(*) AS n_events,
        |  SUM(floor(value * 100.0 + 0.5)) / 100.0 AS total_value
        |FROM events WHERE user_id BETWEEN 10 AND 19
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "snk_compact" ->
      """SELECT event_type, count(*) AS n_events,
        |  SUM(floor(value * 100.0 + 0.5)) / 100.0 AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_schema_merge" ->
      """SELECT year(o_orderdate) AS order_year, count(*) AS n_rows,
        |  count(CASE WHEN o_orderkey % 2 = 0 THEN NULL
        |             ELSE o_orderpriority END) AS n_with_priority
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "snk_zorder_prune" ->
      """SELECT user_id, count(*) AS n_events,
        |  SUM(floor(value * 100.0 + 0.5)) / 100.0 AS total_value
        |FROM events WHERE user_id BETWEEN 10 AND 39
        |  AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "snk_orc_roundtrip" ->
      ("""SELECT product, SUM(total_quantity) AS total_quantity,
        |  SUM(floor(total_revenue * 100.0 + 0.5)) / 100.0 AS total_revenue
        |FROM (""".stripMargin + CoreQueries.aggDailyProductSql +
        ") t GROUP BY 1 ORDER BY 1"),
    "snk_bucketed_join" ->
      s"""SELECT o_orderpriority, ${Tables.revenueSumSql} AS total_revenue,
         |  count(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
