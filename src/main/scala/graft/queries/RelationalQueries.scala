package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Sources, Sinks, Tables}
import graft.expr.{MetricExpr, QualityExpr, TimeExpr}

/**
 * SURVEY §2.1 sources/sinks (S1-S8), §2.2 projections/filters (P1-P10)
 * and §2.8 scalar functions (F1-F9), each as an oracle-checkable query
 * over the driver fixture tables.
 *
 * Source/sink entries round-trip through a temp directory so the scan and
 * writer code paths really execute; the oracle then only has to assert
 * the round-tripped relation equals the original table.
 */
object RelationalQueries {

  /** The row returns a lazy frame over this directory, so it lives
    * until the JVM exits. */
  private def tmpDir(prefix: String): String =
    graft.core.Materialize.tempDirDeletedOnExit(prefix).toString

  /** Oracle twin of CongestionMarts.stgVolume (same CTE as the pipeline
    * oracles' IntChain — repeated here so the S9 oracles stay standalone). */
  private val StgVolumeSql =
    """stg_volume AS (
        SELECT location_id, date_trunc('hour', recorded_time) AS recorded_hour,
               vehicle_count
        FROM (SELECT user_id % 20 AS location_id, ts AS recorded_time,
                CASE WHEN event_id % 300 < 0 OR event_id % 300 > 10000 THEN NULL
                     ELSE CAST(event_id % 300 AS DOUBLE) END AS vehicle_count
              FROM events)
        WHERE vehicle_count IS NOT NULL)"""

  def defs: Seq[QueryDef] = Seq(

    // S1: explicit-schema CSV scan (reference 1_AWS/README.md:51-62).
    QueryDef("s1_csv_scan", (s, dir) => {
      val region = Tables.region(s, dir)
      val out = tmpDir("graft_s1")
      region.write.mode("overwrite").option("header", "true").csv(out)
      Sources.csv(s, region.schema, Seq(out))
    }, Some("SELECT r_regionkey, r_name FROM region")),

    // S2: skip-missing-years CSV scan (reference 2_Azure/READ.md:50-56).
    QueryDef("s2_csv_skip_missing", (s, dir) => {
      val nation = Tables.nation(s, dir)
      val out = tmpDir("graft_s2")
      nation.write.mode("overwrite").option("header", "true").csv(s"$out/y2024")
      Sources.csvExisting(s, nation.schema,
        Seq(s"$out/y2024/*.csv", s"$out/y2025/*.csv")) // y2025 missing -> skipped
    }, Some("SELECT n_nationkey, n_name, n_regionkey FROM nation")),

    // S3: named table source (dbt {{ source(...) }}, reference 5_dbt/READ.md:159).
    QueryDef("s3_table_source", (s, dir) =>
      Tables.load(s, dir, "part")
        .groupBy("p_brand").agg(count(lit(1)).as("cnt")),
      Some("SELECT p_brand, count(*) AS cnt FROM part GROUP BY p_brand")),

    // S4: append sink round-trip (reference 1_AWS/README.md:133-134).
    QueryDef("s4_sink_append", (s, dir) => {
      val out = tmpDir("graft_s4") + "/supplier"
      Sinks.append(Tables.supplier(s, dir), out)
      s.read.parquet(out)
    }, Some("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")),

    // S5: overwrite sink — second write replaces the first
    // (reference 2_Azure/READ.md:107 if_exists='replace').
    QueryDef("s5_sink_overwrite", (s, dir) => {
      val out = tmpDir("graft_s5") + "/part"
      Sinks.overwrite(Tables.part(s, dir).limit(10), out) // stale content
      Sinks.overwrite(Tables.part(s, dir), out)           // replaced in full
      s.read.parquet(out)
    }, Some("SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part")),

    // S6: warehouse-table sink through the session catalog (to_sql/to_gbq
    // analogue, reference 1_AWS/README.md:133-134; saveAsTable is the
    // format-agnostic warehouse write).
    QueryDef("s6_warehouse_table", (s, dir) => {
      graft.core.Materialize.materialize(s, "graft_s6_supplier",
        Tables.supplier(s, dir).select("s_suppkey", "s_name", "s_acctbal"),
        graft.core.Materialize.AsTable())
    }, Some("SELECT s_suppkey, s_name, s_acctbal FROM supplier")),

    // S8b: the dbt view-vs-table policy registry: staging as a lazy view,
    // mart as a catalog table reading through it (reference 5_dbt/READ.md:125-133).
    QueryDef("s8b_materialize_policy", (s, dir) => {
      import graft.core.Materialize._
      val stg = materialize(s, "graft_stg_orders",
        Tables.orders(s, dir).filter(col("o_orderstatus") =!= "P")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
        AsView)
      materialize(s, "graft_mart_order_stats",
        stg.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("revenue")),
        AsTable())
    }, Some("""SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS revenue
      FROM orders WHERE o_orderstatus <> 'P' GROUP BY o_orderstatus""")),

    // S8: partitioned materialization (dbt partition_by, reference 5_dbt/READ.md:389-394).
    QueryDef("s8_sink_partitioned", (s, dir) => {
      val out = tmpDir("graft_s8") + "/orders"
      Sinks.overwrite(Tables.orders(s, dir), out, partitionCols = Seq("o_orderstatus"))
      s.read.parquet(out).groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
    }, Some("SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY o_orderstatus")),

    // S10: JSON-lines round-trip — the landing-zone format for event
    // feeds. Written from the fixture, read back with the explicit
    // schema; the oracle asserts the round-trip is lossless.
    QueryDef("s10_json_roundtrip", (s, dir) => {
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      val out = tmpDir("graft_s10") + "/customer"
      cust.write.mode("overwrite").json(out)
      Sources.jsonLines(s, cust.schema, Seq(out))
        .withColumn("c_acctbal", round(col("c_acctbal"), 2))
    }, Some("""SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS c_acctbal
      FROM customer""")),

    // S11: ORC round-trip — the other columnar warehouse format; same
    // vectorized reader + pushdown properties as parquet.
    QueryDef("s11_orc_roundtrip", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      val out = tmpDir("graft_s11") + "/lineitem"
      li.write.mode("overwrite").orc(out)
      Sources.orc(s, out).filter(year(col("l_shipdate")) === 1996)
        .groupBy(month(col("l_shipdate")).cast("long").as("mth"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
    }, Some("""SELECT CAST(month(l_shipdate) AS BIGINT) AS mth, count(*) AS n,
        round(sum(l_quantity), 2) AS qty
      FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1""")),

    // S13: the spark.sql TEXT interface — the same engine through the SQL
    // parser instead of the DataFrame builder (registered temp views over
    // the table registry; identical Catalyst plan either way). The SQL is
    // deliberately multi-feature: join, window rank with tiebreak,
    // subquery filter.
    QueryDef("s13_sql_text_api", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT n_name, c_custkey, bal, bal_rank FROM (
          SELECT n.n_name, c.c_custkey, round(c.c_acctbal, 2) AS bal,
            rank() OVER (PARTITION BY n.n_name
              ORDER BY round(c.c_acctbal, 2) DESC, c.c_custkey) AS bal_rank
          FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
        WHERE bal_rank <= 3""")
        .withColumn("bal_rank", col("bal_rank").cast("long"))
    }, Some("""SELECT n_name, c_custkey, bal, bal_rank FROM (
        SELECT n_name, c_custkey, round(c_acctbal, 2) AS bal,
          rank() OVER (PARTITION BY n_name
            ORDER BY round(c_acctbal, 2) DESC, c_custkey) AS bal_rank
        FROM customer JOIN nation ON c_nationkey = n_nationkey) t
      WHERE bal_rank <= 3""")),

    // S14: small-file compaction — 48 fragment files rewritten into a
    // handful sized from actual bytes; content must be byte-identical
    // (the oracle reads the original table). The operational failure
    // mode OPTIMIZE jobs exist for: per-file open/footer cost dominating
    // scans after months of incremental appends.
    QueryDef("s14_compact", (s, dir) => {
      val out = tmpDir("graft_s14") + "/supplier"
      Tables.supplier(s, dir).repartition(48)
        .write.mode("overwrite").parquet(out)   // fragmented ingest
      graft.core.Materialize.compact(s, out, targetFileMB = 128,
        sortCol = Some("s_suppkey"))
      s.read.parquet(out)
    }, Some("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")),

    // S15: schema evolution on read — a v2 writer added a column;
    // mergeSchema reconciles and v1 rows surface NULL for it (the
    // long-lived-table contract: old files never block new columns).
    QueryDef("s15_schema_merge", (s, dir) => {
      val out = tmpDir("graft_s15") + "/nation"
      val nation = Tables.nation(s, dir)
      nation.filter(col("n_regionkey") < 2)
        .select("n_nationkey", "n_name")
        .write.mode("append").parquet(out)
      nation.filter(col("n_regionkey") >= 2)
        .select(col("n_nationkey"), col("n_name"),
          col("n_regionkey").as("added_region"))
        .write.mode("append").parquet(out)
      s.read.option("mergeSchema", "true").parquet(out)
    }, Some("""SELECT n_nationkey, n_name,
        CASE WHEN n_regionkey >= 2 THEN n_regionkey END AS added_region
      FROM nation""")),

    // S16: SCD type-2 snapshot (dbt `snapshot`, strategy=check) — two
    // runs over a mutating orders slice: run 2 changes some statuses
    // (close + reopen), deletes some keys (stay open), and adds new keys
    // (open). The oracle recomputes the expected history algebraically.
    QueryDef("s16_snapshot_scd2", (s, dir) => {
      import graft.core.Materialize._
      val name = "graft_snap_orders"
      dropWithLocation(s, name)
      val base = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 50 === 0)
        .select("o_orderkey", "o_orderstatus")
      val state2 = base.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 3 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
        .unionByName(Tables.orders(s, dir)
          .filter(col("o_orderkey") % 50 === 1)
          .select("o_orderkey", "o_orderstatus"))
      snapshot(s, name, base, Seq("o_orderkey"), Seq("o_orderstatus"),
        "2024-01-01")
      snapshot(s, name, state2, Seq("o_orderkey"), Seq("o_orderstatus"),
        "2024-02-01")
    }, Some("""WITH s1 AS (
        SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 50 = 0),
      s2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
                 AS o_orderstatus
        FROM orders WHERE o_orderkey % 50 = 0 AND o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 50 = 1),
      changed AS (
        SELECT s1.o_orderkey FROM s1 JOIN s2 USING (o_orderkey)
        WHERE s1.o_orderstatus IS DISTINCT FROM s2.o_orderstatus)
      SELECT s1.o_orderkey, s1.o_orderstatus, '2024-01-01' AS valid_from,
             '2024-02-01' AS valid_to, false AS is_current
      FROM s1 JOIN changed USING (o_orderkey)
      UNION ALL
      SELECT s2.o_orderkey, s2.o_orderstatus, '2024-02-01', NULL, true
      FROM s2 JOIN changed USING (o_orderkey)
      UNION ALL
      SELECT o_orderkey, o_orderstatus, '2024-01-01', NULL, true
      FROM s1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changed)
      UNION ALL
      SELECT o_orderkey, o_orderstatus, '2024-02-01', NULL, true
      FROM s2 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s1)""")),

    // S17: Z-order (Morton) clustering value — exact long bit
    // interleaving, computable identically in any engine; the layout key
    // `core/Layout.zorderCompact` sorts files by so parquet min/max
    // stats prune BOTH predicate dimensions.
    QueryDef("s17_zorder_value", (s, dir) =>
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        graft.core.Layout.zValue(col("l_partkey").bitwiseAND(lit(255L)),
          col("l_suppkey").bitwiseAND(lit(255L)), bits = 8).as("zval")),
      Some("""SELECT l_orderkey, l_linenumber,
          CAST(list_sum(list_transform(range(0, 8),
            i -> ((l_partkey & 255) >> i & 1) * (1 << (2 * i))
               + ((l_suppkey & 255) >> i & 1) * (1 << (2 * i + 1))))
            AS BIGINT) AS zval
        FROM lineitem""")),

    // S12: malformed-input handling — PERMISSIVE CSV parse routes bad
    // rows to _corrupt_record instead of failing the scan (the
    // quarantine-don't-crash contract a 100 TB ingest needs: one bad line
    // in a billion must not kill the job). The fixture is crafted
    // in-query; the oracle is the expected parse outcome as literals.
    QueryDef("s12_csv_corrupt", (s, dir) => {
      val out = tmpDir("graft_s12")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/rows.csv"),
        java.util.Arrays.asList(
          "id,name,score",
          "1,alpha,10.5",
          "2,beta,not_a_number",   // bad double
          "3,gamma,7.25",
          "oops,delta,1.0",        // bad long
          "5,epsilon,2.5"))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("score", DoubleType),
        StructField("_corrupt_record", StringType)))
      s.read.schema(schema).option("header", "true").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(s"$out/rows.csv")
        .select(col("id"), col("name"), col("score"),
          col("_corrupt_record").isNotNull.as("is_corrupt"))
    }, Some("""SELECT CAST(id AS BIGINT) AS id, name,
        CAST(score AS DOUBLE) AS score, is_corrupt
      FROM (VALUES
        (1, 'alpha', 10.5, false),
        (2, 'beta', NULL, true),      -- bad field nulled, rest kept
        (3, 'gamma', 7.25, false),
        (NULL, 'delta', 1.0, true),
        (5, 'epsilon', 2.5, false))
      t(id, name, score, is_corrupt)""")),

    // S9: incremental merge materialization (dbt `materialized:
    // incremental` + unique_key, reference 5_dbt/READ.md:386-396). Two
    // loads over a split fixture with an overlapping key range — the
    // delete+insert merge must equal the one-shot build the oracle runs.
    QueryDef("s9_incremental_merge", (s, dir) => {
      import graft.core.Materialize._
      def daily(f: DataFrame): DataFrame = f
        .groupBy(col("location_id"), to_date(col("recorded_hour")).as("day"))
        .agg(sum(col("vehicle_count")).cast("long").as("daily_volume"))
      val stg = graft.pipelines.CongestionMarts.stgVolume(s, dir)
      val name = "graft_inc_daily_volume"
      dropWithLocation(s, name)
      materialize(s, name,
        daily(stg.filter(col("recorded_hour") < lit("2024-01-20"))),
        AsIncremental(uniqueKey = Seq("location_id", "day")))
      materialize(s, name,
        daily(stg.filter(col("recorded_hour") >= lit("2024-01-15"))),
        AsIncremental(uniqueKey = Seq("location_id", "day")))
    }, Some(s"""WITH $StgVolumeSql
      SELECT location_id, CAST(recorded_hour AS DATE) AS day,
             CAST(sum(vehicle_count) AS BIGINT) AS daily_volume
      FROM stg_volume GROUP BY 1, 2""")),

    // S9b: incremental insert_overwrite (dbt partition-replacement
    // strategy): the second load replaces exactly the day-partitions it
    // touches via dynamic partition overwrite — no key join, the shape
    // batch loads take when they align with the partition grain.
    QueryDef("s9b_incremental_partition", (s, dir) => {
      import graft.core.Materialize._
      def daily(f: DataFrame): DataFrame = f
        .groupBy(col("location_id"), to_date(col("recorded_hour")).as("day"))
        .agg(sum(col("vehicle_count")).cast("long").as("daily_volume"))
      val stg = graft.pipelines.CongestionMarts.stgVolume(s, dir)
      val name = "graft_inc_part_volume"
      dropWithLocation(s, name)
      materialize(s, name,
        daily(stg.filter(col("recorded_hour") < lit("2024-01-20"))),
        AsIncremental(partitionCols = Seq("day")))
      materialize(s, name,
        daily(stg.filter(col("recorded_hour") >= lit("2024-01-15"))),
        AsIncremental(partitionCols = Seq("day")))
    }, Some(s"""WITH $StgVolumeSql
      SELECT location_id, CAST(recorded_hour AS DATE) AS day,
             CAST(sum(vehicle_count) AS BIGINT) AS daily_volume
      FROM stg_volume GROUP BY 1, 2""")),

    // S9c: PARTITION-SCOPED keyed merge — unique_key + partition grain
    // together (dbt incremental merge with partition pruning). The second
    // batch's keys overlap days 15-19, so those day-partitions are merged
    // (anti-join within the partition) and rewritten; days before the 15th
    // are never read or touched (MaterializeSpec asserts their files stay
    // byte-identical). The merged table must equal the one-shot build.
    QueryDef("s9c_incremental_scoped", (s, dir) => {
      import graft.core.Materialize._
      def daily(f: DataFrame): DataFrame = f
        .groupBy(col("location_id"), to_date(col("recorded_hour")).as("day"))
        .agg(sum(col("vehicle_count")).cast("long").as("daily_volume"))
      val stg = graft.pipelines.CongestionMarts.stgVolume(s, dir)
      val name = "graft_inc_scoped_volume"
      dropWithLocation(s, name)
      materialize(s, name,
        daily(stg.filter(col("recorded_hour") < lit("2024-01-20"))),
        AsIncremental(uniqueKey = Seq("location_id", "day"),
          partitionCols = Seq("day")))
      materialize(s, name,
        daily(stg.filter(col("recorded_hour") >= lit("2024-01-15"))),
        AsIncremental(uniqueKey = Seq("location_id", "day"),
          partitionCols = Seq("day")))
    }, Some(s"""WITH $StgVolumeSql
      SELECT location_id, CAST(recorded_hour AS DATE) AS day,
             CAST(sum(vehicle_count) AS BIGINT) AS daily_volume
      FROM stg_volume GROUP BY 1, 2""")),

    // F13 (extension): string shaping — pad/translate/repeat, the report
    // formatting family (identical builtins in both engines).
    QueryDef("f13_string_shape", (s, dir) =>
      Tables.part(s, dir).select(col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("brand_padded"),
        rpad(col("p_name"), 30, ".").as("name_padded"),
        translate(col("p_type"), "AEIOU", "aeiou").as("type_tr"),
        concat(repeat(lit("-"), 3), col("p_brand")).as("brand_tag")),
      Some("""SELECT p_partkey, lpad(p_brand, 12, '*') AS brand_padded,
        rpad(p_name, 30, '.') AS name_padded,
        translate(p_type, 'AEIOU', 'aeiou') AS type_tr,
        repeat('-', 3) || p_brand AS brand_tag
      FROM part""")),

    // F17 (extension): boolean aggregates — bool_and/bool_or/count_if,
    // the predicate-summary family (identical builtins in both engines).
    QueryDef("f17_bool_aggs", (s, dir) =>
      Tables.orders(s, dir).groupBy("o_orderpriority")
        .agg(count_if(col("o_totalprice") > 200000).as("n_big"),
          bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_orderstatus") === "F").as("any_finished")),
      Some("""SELECT o_orderpriority,
        CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
        bool_and(o_totalprice > 1000) AS all_over_1k,
        bool_or(o_orderstatus = 'F') AS any_finished
      FROM orders GROUP BY 1""")),

    // F15 (extension): Levenshtein edit distance — the fuzzy-match
    // primitive behind entity resolution and near-dup triage.
    QueryDef("f15_levenshtein", (s, dir) =>
      Tables.part(s, dir).select(col("p_partkey"),
        levenshtein(col("p_brand"), lit("Brand#35")).cast("long").as("brand_dist"),
        levenshtein(lower(col("p_type")), lit("standard polished tin"))
          .cast("long").as("type_dist")),
      Some("""SELECT p_partkey,
        CAST(levenshtein(p_brand, 'Brand#35') AS BIGINT) AS brand_dist,
        CAST(levenshtein(lower(p_type), 'standard polished tin') AS BIGINT) AS type_dist
      FROM part""")),

    // F16 (extension): date spine — generate a contiguous day dimension
    // (dbt date_spine) and left-join facts onto it so gap days surface as
    // zeros instead of silently missing rows.
    QueryDef("f16_date_spine", (s, dir) => {
      val spine = s.range(1).select(explode(sequence(
          to_date(lit("1996-01-01")), to_date(lit("1996-03-31")),
          expr("interval 1 day"))).as("day"))
      val daily = Tables.orders(s, dir)
        .filter(col("o_orderdate").between("1996-01-01", "1996-03-31"))
        .groupBy(col("o_orderdate").as("day"))
        .agg(count(lit(1)).as("n_orders"))
      spine.join(daily, Seq("day"), "left").na.fill(0L, Seq("n_orders"))
    }, Some("""WITH spine AS (
        SELECT CAST(unnest(generate_series(DATE '1996-01-01', DATE '1996-03-31',
          INTERVAL 1 DAY)) AS DATE) AS day),
      daily AS (SELECT o_orderdate AS day, count(*) AS n_orders FROM orders
        WHERE o_orderdate BETWEEN '1996-01-01' AND '1996-03-31' GROUP BY 1)
      SELECT spine.day, coalesce(daily.n_orders, 0) AS n_orders
      FROM spine LEFT JOIN daily USING (day)""")),

    // F18 (extension): schema'd JSON parsing — from_json into a typed
    // struct (vs F10's path-at-a-time get_json_object): one parse per
    // row no matter how many fields are read, and malformed documents
    // surface as NULL structs instead of silent per-path NULLs.
    QueryDef("f18_from_json", (s, dir) =>
      Tables.events(s, dir).select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).as("p"))
        .select(col("event_id"), col("p.k").as("k"),
          col("p").isNotNull.as("parsed")),
      Some("""SELECT event_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        json_valid(props) AS parsed
      FROM events""")),

    // F19 (extension): ANSI-safe arithmetic — Spark 4 runs ANSI mode ON
    // (overflow/bad-cast/div-by-zero THROW), so try_divide/try_cast are
    // the documented NULL-on-error escape hatch; the oracle mirrors with
    // nullif guards and TRY_CAST.
    QueryDef("f19_try_arith", (s, dir) =>
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        round(try_divide(col("l_extendedprice"), col("l_discount")) + lit(1e-9), 4)
          .as("price_per_disc"),
        expr("""try_cast(CASE WHEN l_linenumber % 2 = 0
                 THEN CAST(l_linenumber AS STRING) ELSE l_returnflag END AS BIGINT)""")
          .as("maybe_num")),
      Some("""SELECT l_orderkey, l_linenumber,
        round(l_extendedprice / nullif(l_discount, 0) + 1e-9, 4) AS price_per_disc,
        TRY_CAST(CASE WHEN l_linenumber % 2 = 0 THEN CAST(l_linenumber AS VARCHAR)
                      ELSE l_returnflag END AS BIGINT) AS maybe_num
      FROM lineitem""")),

    // P11 (extension): posexplode — one row per array element WITH its
    // ordinal, the lateral-view shape every tokenizing pipeline uses.
    QueryDef("p11_posexplode", (s, dir) =>
      Tables.part(s, dir)
        .select(col("p_partkey"),
          posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .select(col("p_partkey"), col("pos").cast("long").as("pos"), col("word")),
      Some("""SELECT p_partkey,
        CAST(generate_subscripts(w, 1) - 1 AS BIGINT) AS pos, unnest(w) AS word
        FROM (SELECT p_partkey, string_split(p_name, ' ') AS w FROM part)""")),

    // F14 (extension): map functions — str_to_map over a kv-pair string,
    // keyed lookup (missing key → NULL) and cardinality; the config-blob
    // parsing shape.
    QueryDef("f14_map_funcs", (s, dir) => {
      def kv = when(col("p_partkey") % 2 === 0,
        concat(lit("brand="), col("p_brand"), lit(",size="),
          col("p_size").cast("string"), lit(",grade=a")))
        .otherwise(concat(lit("brand="), col("p_brand"), lit(",size="),
          col("p_size").cast("string")))
      def m = str_to_map(kv, lit(","), lit("="))
      Tables.part(s, dir).select(col("p_partkey"),
        element_at(m, "brand").as("brand_val"),
        element_at(m, "size").as("size_val"),
        element_at(m, "grade").as("grade_val"),
        size(m).cast("long").as("n_keys"))
    }, Some("""WITH t AS (SELECT p_partkey,
          CASE WHEN p_partkey % 2 = 0
            THEN 'brand=' || p_brand || ',size=' || CAST(p_size AS VARCHAR) || ',grade=a'
            ELSE 'brand=' || p_brand || ',size=' || CAST(p_size AS VARCHAR)
          END AS kv FROM part)
      SELECT p_partkey,
        nullif(regexp_extract(kv, 'brand=([^,]*)', 1), '') AS brand_val,
        nullif(regexp_extract(kv, 'size=([^,]*)', 1), '') AS size_val,
        nullif(regexp_extract(kv, 'grade=([^,]*)', 1), '') AS grade_val,
        CAST(len(string_split(kv, ',')) AS BIGINT) AS n_keys
      FROM t""")),

    // F12 (extension): null-safe equality (<=> / IS NOT DISTINCT FROM) —
    // two independently-sanitized nullable columns compared without the
    // three-valued-logic trap (NULL <=> NULL is true, not NULL).
    QueryDef("f12_null_safe_eq", (s, dir) => {
      val ev = Tables.events(s, dir)
      val a = QualityExpr.sanitizeRange(col("value"), 0, 50)
      val b = QualityExpr.sanitizeRange(col("value"), 25, 100)
      ev.select(col("event_id"), (a <=> b).as("same_band"))
    }, Some("""SELECT event_id,
        (CASE WHEN value < 0 OR value > 50 THEN NULL ELSE value END)
          IS NOT DISTINCT FROM
        (CASE WHEN value < 25 OR value > 100 THEN NULL ELSE value END)
          AS same_band
      FROM events""")),

    // P1: projection + rename (reference 5_dbt/READ.md:150-159).
    QueryDef("p1_project_rename", (s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").cast("long").as("line_no"),
        col("l_extendedprice").as("price")),
      Some("SELECT l_orderkey AS order_key, CAST(l_linenumber AS BIGINT) AS line_no, " +
        "l_extendedprice AS price FROM lineitem")),

    // P2: derived scalar ratio columns (reference 1_AWS/README.md:102-103).
    // The +1e-9 nudge before round() keeps exact round-half values (e.g.
    // x.xxxxx50) off the boundary where Spark (decimal HALF_UP) and DuckDB
    // (scaled-binary rint) disagree; applied identically on both sides.
    QueryDef("p2_derived_ratio", (s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        round(QualityExpr.safeDiv(col("l_extendedprice"), col("l_quantity")) + lit(1e-9), 6)
          .as("unit_price"),
        round(col("l_extendedprice") * (lit(1d) - col("l_discount")) + lit(1e-9), 6)
          .as("discounted")),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        round(l_extendedprice / nullif(l_quantity, 0) + 1e-9, 6) AS unit_price,
        round(l_extendedprice * (1 - l_discount) + 1e-9, 6) AS discounted FROM lineitem""")),

    // P3: equality filter (reference 1_AWS/README.md:109).
    QueryDef("p3_filter_eq", (s, dir) =>
      Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
      Some("SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem " +
        "WHERE l_returnflag = 'R'")),

    // P4: compound boolean mask with negation (reference 3_BigQuery/READ.md:66-76).
    QueryDef("p4_filter_compound", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter((col("l_quantity") > 10 && col("l_quantity") < 40) &&
          !(col("l_discount") < 0.02 || col("l_discount") > 0.08))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        WHERE (l_quantity > 10 AND l_quantity < 40)
          AND NOT (l_discount < 0.02 OR l_discount > 0.08)""")),

    // P5: timestamp BETWEEN (reference 5_dbt/READ.md:161).
    QueryDef("p5_filter_between", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").between("1996-01-01", "1996-12-31 23:59:59"))
        .select("l_orderkey", "l_linenumber", "l_shipdate"),
      Some("""SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
          AND TIMESTAMP '1996-12-31 23:59:59'""")),

    // P6: sanitize then NULL-drop (reference 1_AWS/README.md:92, 5_dbt/READ.md:409-410).
    QueryDef("p6_null_drop", (s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("qty_clean", QualityExpr.sanitizeRange(col("l_quantity"), 5, 45))
        .na.drop(Seq("qty_clean"))
        .select("l_orderkey", "l_linenumber", "qty_clean"),
      Some("""SELECT l_orderkey, l_linenumber, qty_clean FROM (
        SELECT l_orderkey, l_linenumber,
          CASE WHEN l_quantity < 5 OR l_quantity > 45 THEN NULL ELSE l_quantity END AS qty_clean
        FROM lineitem) WHERE qty_clean IS NOT NULL""")),

    // P7: CASE bucketing — period classifier + time buckets + day names
    // (reference 1_AWS/README.md:79-91, 5_dbt/READ.md:672-680,810-822).
    QueryDef("p7_case_bucket", (s, dir) =>
      Tables.events(s, dir).select(
        TimeExpr.period(col("ts")).as("period"),
        TimeExpr.timeBucket(col("ts")).as("bucket"),
        TimeExpr.dayName(col("ts")).as("day_name"))
        .groupBy("period", "bucket", "day_name").agg(count(lit(1)).as("n")),
      Some("""SELECT
        CASE WHEN isodow(ts) BETWEEN 2 AND 6 AND hour(ts) >= 6 AND hour(ts) < 10 THEN 'amp'
             WHEN isodow(ts) BETWEEN 2 AND 6 AND hour(ts) >= 10 AND hour(ts) < 16 THEN 'mid'
             WHEN isodow(ts) BETWEEN 2 AND 6 AND hour(ts) >= 16 AND hour(ts) < 20 THEN 'pmp'
             WHEN hour(ts) >= 6 AND hour(ts) < 20 THEN 'we' END AS period,
        CASE WHEN hour(ts) BETWEEN 6 AND 9 THEN 'Morning Rush (6-9am)'
             WHEN hour(ts) BETWEEN 15 AND 18 THEN 'Evening Rush (3-6pm)'
             WHEN hour(ts) BETWEEN 11 AND 13 THEN 'Midday (11am-1pm)'
             WHEN hour(ts) BETWEEN 19 AND 22 THEN 'Evening (7-10pm)'
             WHEN hour(ts) BETWEEN 22 AND 24 OR hour(ts) BETWEEN 0 AND 5
               THEN 'Overnight (10pm-5am)'
             ELSE 'Other Daytime' END AS bucket,
        CASE dayofweek(ts) WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday' WHEN 2 THEN 'Tuesday'
             WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday' WHEN 5 THEN 'Friday'
             ELSE 'Saturday' END AS day_name,
        count(*) AS n
        FROM events GROUP BY 1, 2, 3""")),

    // P8: range->NULL sanitization (reference 5_dbt/READ.md:170-179).
    QueryDef("p8_sanitize_range", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        QualityExpr.sanitizeRange(col("value"), 0, 100).as("value_clean")),
      Some("""SELECT event_id,
        CASE WHEN value < 0 OR value > 100 THEN NULL ELSE value END AS value_clean
        FROM events""")),

    // P9: fillna constant after sanitize (reference 4_Snowflake/READ.md:91).
    QueryDef("p9_fillna", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        QualityExpr.fillNull(QualityExpr.sanitizeRange(col("value"), 0, 100), 0d)
          .as("value_filled")),
      Some("""SELECT event_id,
        coalesce(CASE WHEN value < 0 OR value > 100 THEN NULL ELSE value END, 0) AS value_filled
        FROM events""")),

    // P10: metadata columns — fixed batch id + load timestamp
    // (reference 5_dbt/READ.md:183-184; literals so the oracle agrees).
    QueryDef("p10_metadata_cols", (s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        lit("batch-0042").as("batch_id"),
        to_timestamp(lit("2026-01-01 00:00:00")).as("loaded_at")),
      Some("""SELECT o_orderkey, 'batch-0042' AS batch_id,
        TIMESTAMP '2026-01-01 00:00:00' AS loaded_at FROM orders""")),

    // F1: timestamp parse round-trip (reference 1_AWS/README.md:75).
    QueryDef("f1_ts_parse", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        TimeExpr.parseTs(col("ts").cast("string")).as("ts_parsed")),
      Some("SELECT event_id, CAST(CAST(ts AS VARCHAR) AS TIMESTAMP) AS ts_parsed FROM events")),

    // F2: datetime part extraction under all three weekday conventions
    // (reference 1_AWS/README.md:76-77, 5_dbt/READ.md:671).
    QueryDef("f2_datetime_extract", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        hour(col("ts")).cast("long").as("h"),
        TimeExpr.wdayPandas(col("ts")).cast("long").as("wday_pandas"),
        TimeExpr.dowSql(col("ts")).cast("long").as("dow_sql"),
        year(col("ts")).cast("long").as("yr"),
        month(col("ts")).cast("long").as("mo")),
      Some("""SELECT event_id, hour(ts) AS h, isodow(ts) AS wday_pandas,
        dayofweek(ts) + 1 AS dow_sql, year(ts) AS yr, month(ts) AS mo FROM events""")),

    // F3: date truncation (reference 5_dbt/READ.md:168,446).
    QueryDef("f3_date_trunc", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"),
          to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n")),
      Some("""SELECT date_trunc('hour', ts) AS hour_ts, CAST(ts AS DATE) AS d,
        count(*) AS n FROM events GROUP BY 1, 2""")),

    // F4: date arithmetic from a fixed anchor (reference 5_dbt/READ.md:561,616,689;
    // current_date is replaced by a literal anchor so both engines agree).
    QueryDef("f4_date_arith", (s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        date_add(to_date(col("o_orderdate")), 30).as("plus_30d"),
        date_sub(to_date(col("o_orderdate")), 7).as("minus_7d"),
        datediff(to_date(lit("2002-01-01")), to_date(col("o_orderdate"))).cast("long")
          .as("age_days")),
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) + 30 AS plus_30d,
        CAST(o_orderdate AS DATE) - 7 AS minus_7d,
        datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS age_days
        FROM orders""")),

    // F5: string case / LIKE match (reference 5_dbt/READ.md:252-257;
    // INITCAP is exercised in unit tests — DuckDB 1.0 lacks the function).
    QueryDef("f5_string_case", (s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        lower(col("p_type")).as("type_lower"),
        upper(col("p_brand")).as("brand_upper"),
        lower(col("p_name")).like("%green%").as("is_green")),
      Some("""SELECT p_partkey, lower(p_type) AS type_lower, upper(p_brand) AS brand_upper,
        lower(p_name) LIKE '%green%' AS is_green FROM part""")),

    // F6: formatted period label (reference 1_AWS/README.md:130-131).
    QueryDef("f6_format_label", (s, dir) =>
      Tables.orders(s, dir).select(
        TimeExpr.periodLabel(year(col("o_orderdate")), month(col("o_orderdate")))
          .as("analysis_period")).distinct(),
      Some("SELECT DISTINCT printf('%d-%02d', year(o_orderdate), month(o_orderdate)) " +
        "AS analysis_period FROM orders")),

    // F7: round/least/nullif/coalesce guards (reference 5_dbt/READ.md:577-578,800-804).
    QueryDef("f7_guards", (s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        round(col("l_extendedprice"), 1).as("price_r"),
        least(col("l_quantity"), lit(25d)).as("qty_capped"),
        round(QualityExpr.safeDiv(col("l_extendedprice"), col("l_discount")), 4)
          .as("price_per_disc"),
        coalesce(QualityExpr.safeDiv(lit(1d), col("l_tax")), lit(-1d)).as("inv_tax")),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        round(l_extendedprice, 1) AS price_r,
        least(l_quantity, 25.0) AS qty_capped,
        round(l_extendedprice / nullif(l_discount, 0), 4) AS price_per_disc,
        coalesce(1.0 / nullif(l_tax, 0), -1.0) AS inv_tax FROM lineitem""")),

    // F8: congestion-index macro over deterministic traffic-shaped columns
    // (reference 5_dbt/READ.md:786-807).
    QueryDef("f8_congestion_index", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        round(MetricExpr.congestionIndex(
          volume = (col("event_id") % 500).cast("double") * 10d,
          speed = col("value"),
          speedLimit = lit(60d),
          lanes = (col("user_id") % 4 + 1).cast("double")) + lit(1e-9), 6)
          .as("congestion_index")),
      // `+ 0` after round(): DuckDB's round yields -0.0 for tiny negatives
      // where Spark's BigDecimal path yields +0.0; adding zero normalizes.
      Some("""SELECT event_id, round(
        CASE WHEN value IS NULL OR CAST(event_id % 500 AS DOUBLE) * 10 IS NULL THEN NULL
             WHEN value <= 0 THEN 1.0
             ELSE LEAST((1.0 - value / nullif(60.0, 0)) *
                        (CAST(event_id % 500 AS DOUBLE) * 10 /
                         nullif(2000.0 * (user_id % 4 + 1), 1)), 1.0) END + 1e-9, 6) + 0
        AS congestion_index FROM events""")),

    // F11 (extension): regex capture-group extraction (RE2-compatible
    // pattern so the oracle can mirror it).
    QueryDef("f11_regexp_extract", (s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
        regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("last_caps")),
      Some("""SELECT p_partkey, regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        regexp_extract(p_type, '([A-Z]+)$', 1) AS last_caps FROM part""")),

    // F10 (extension): JSON property extraction from the events props
    // column — the reference uses JSON only as XCom transport (SURVEY
    // §2.8), but an events feed with a JSON payload column is a core
    // engine capability.
    QueryDef("f10_json_extract", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k")),
      Some("SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k " +
        "FROM events")),

    // F9: comparison -> boolean column (reference 3_BigQuery/READ.md:119).
    QueryDef("f9_comparison_bool", (s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        (col("l_quantity") > 25).as("high_qty")),
      Some("SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, " +
        "l_quantity > 25 AS high_qty FROM lineitem")),

    // F20 (extension): VARIANT semi-structured column — parse once into
    // Spark 4's binary VARIANT (the shredded open-format type; at scale
    // the parse cost is paid at ingest and paths read like columns), then
    // typed path extraction. Compared output is scalar (VARIANT itself is
    // engine-binary); the oracle reads the same paths with DuckDB JSON.
    QueryDef("f20_variant_extract", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), parse_json(col("props")).as("v"))
        .select(col("event_id"),
          expr("variant_get(v, '$.k', 'bigint')").as("k"),
          expr("try_variant_get(v, '$.missing', 'bigint') IS NULL")
            .as("missing_absent")),
      Some("""SELECT event_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        json_extract_string(props, '$.missing') IS NULL AS missing_absent
      FROM events"""))
  )
}
