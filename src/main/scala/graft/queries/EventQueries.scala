package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

import Fixtures._

/** Events and relational analytics: event-log aggregates, windows,
  * sessions, sketches, as-of and range joins, Z-order pruning, the
  * TPC-H-style star-schema queries and fuzzy record linkage. */
object EventQueries {
  private val declare = new Declared.Family("events")

  /** Z-order layout-stats oracle: replays ZOrder.layoutStats — the
    * same range-bucket arithmetic, the same unrolled Morton
    * bit-interleave (generated by the same code), the same
    * counting-sort equal-row block assignment over the occupied-cell
    * table, micro-quantized per-block span averages. */
  private lazy val ZOrderOracleSql: String = {
    import graft.ops.ZOrder.{mortonSql, rangeBucketSql}
    def layer(name: String, sk: String): String =
      s"""c_$name AS (SELECT xb, yb, cnt,
         |  coalesce(sum(cnt) OVER (ORDER BY $sk
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM cells),
         |g_$name AS (SELECT
         |    CAST(floor(CAST(cum * 64 AS DOUBLE) / CAST(tot.n_rows AS DOUBLE)) AS BIGINT) AS blk,
         |    xb, yb FROM c_$name, tot),
         |s_$name AS (SELECT '$name' AS layout, CAST(count(*) AS BIGINT) AS n_blocks,
         |    CAST(floor((CAST(sum(xs) AS DOUBLE) * 1000000.0) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_x_span_micro,
         |    CAST(floor((CAST(sum(ys) AS DOUBLE) * 1000000.0) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_y_span_micro
         |  FROM (SELECT blk, max(xb) - min(xb) AS xs, max(yb) - min(yb) AS ys
         |        FROM g_$name GROUP BY 1))""".stripMargin
    s"""WITH r AS (SELECT CAST(min(user_id) AS DOUBLE) AS x_mn, CAST(max(user_id) AS DOUBLE) AS x_mx,
       |  CAST(min(value) AS DOUBLE) AS y_mn, CAST(max(value) AS DOUBLE) AS y_mx FROM events),
       |cells AS (SELECT xb, yb, count(*) AS cnt FROM (
       |  SELECT ${rangeBucketSql("user_id", "r.x_mn", "r.x_mx", 1024)} AS xb,
       |         ${rangeBucketSql("value", "r.y_mn", "r.y_mx", 1024)} AS yb
       |  FROM events, r) GROUP BY 1, 2),
       |tot AS (SELECT sum(cnt) AS n_rows FROM cells),
       |${layer("by_x", "(xb * 1024 + yb)")},
       |${layer("by_y", "(yb * 1024 + xb)")},
       |${layer("zorder", mortonSql("xb", "yb", 10))}
       |SELECT * FROM (SELECT * FROM s_by_x UNION ALL SELECT * FROM s_by_y
       |  UNION ALL SELECT * FROM s_zorder) ORDER BY layout""".stripMargin
  }

  /** Brute-force all-pairs probe × registry oracle shared by
    * cust_fuzzy_lookup (API blocking path) and sql_fuzzy_lookup
    * (one-statement SQL blocking path): deliberately NOT blocked, so
    * each hash match is a completeness proof of that path's blocking. */
  private lazy val FuzzyLookupOracleSql: String =
    """WITH probes AS (
      |  SELECT c_custkey AS probe_id,
      |         substr(c_name, 1, cpos - 1) || CAST(new_d AS VARCHAR)
      |           || substr(c_name, cpos + 1) AS probe_name
      |  FROM (SELECT c_custkey, c_name,
      |               CAST(c_custkey % 9 + 10 AS INT) AS cpos,
      |               (CAST(substr(c_name, CAST(c_custkey % 9 + 10 AS INT), 1) AS BIGINT)
      |                  + 1 + c_custkey % 9) % 10 AS new_d
      |        FROM customer WHERE c_custkey % 97 = 0))
      |SELECT p.probe_id, c.c_custkey,
      |       CAST(levenshtein(p.probe_name, c.c_name) AS INTEGER) AS dist
      |FROM probes p CROSS JOIN customer c
      |WHERE levenshtein(p.probe_name, c.c_name) <= 1
      |ORDER BY probe_id, c_custkey""".stripMargin

  /** The oracle shared by `events_asof`, `events_asof_salted`. */
  private lazy val EventsAsofOracleSql: String =
    """WITH clicks AS (SELECT user_id, ts AS cts, event_id FROM events WHERE event_type = 'click'),
      |s AS (SELECT user_id, ts AS sts FROM events WHERE event_type = 'signup')
      |SELECT c.user_id, epoch_us(c.cts) AS click_us, c.event_id, epoch_us(s.sts) AS signup_us
      |FROM clicks c ASOF LEFT JOIN s ON c.user_id = s.user_id AND c.cts >= s.sts
      |ORDER BY c.user_id, click_us, event_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    // SQL-surface entity resolution: the FastSS deletion-neighborhood
    // lookup as ONE spark.sql statement over the PERSISTED signature
    // store ([[graft.ops.FuzzyJoin.ensureFuzzyStore]]'s table — the
    // same artifact the streaming resolver probes). Only the
    // probe-sized side explodes its deletion signatures per statement
    // (pure Spark SQL transform/sequence lambdas — fully codegen, no
    // UDF); the registry leg is a plain scan of the prebuilt posting
    // table, so per-query work scales with the probes, never the
    // registry (the build-once/probe-many contract; previously this
    // statement re-exploded all |registry|·(len+1) signatures per
    // execution). The candidate equi-join broadcasts the probe side;
    // the exact filter is the built-in levenshtein. Shares
    // cust_fuzzy_lookup's BRUTE-FORCE probe×registry oracle, so the
    // hash match is a machine-checked completeness proof of the
    // persisted blocking too.
    declare("sql_fuzzy_lookup")((s, dir) => {
      tbl(s, dir, "customer").select(col("c_custkey"), col("c_name"))
        .createOrReplaceTempView("cust_fuzzy_v")
      val storeDir = artifactDir("fuzzysql", dir)
      graft.ops.FuzzyJoin.ensureFuzzyStore(s,
        tbl(s, dir, "customer"), storeDir, "c_custkey", "c_name")
      // the MASKED snapshot view, not a raw dir scan: base version ∪
      // committed live deltas − covering tombstones, so the SQL route
      // stays correct on a store that has taken mutations (here the
      // store is pristine and the view IS the plain scan — same plan)
      graft.ops.FuzzyJoin.fuzzyStoreView(s, storeDir)
        .createOrReplaceTempView("cust_fuzzy_store_v")
      s.sql(
        """WITH probes AS (
          |  SELECT c_custkey AS probe_id,
          |         concat(substring(c_name, 1, cpos - 1), CAST(new_d AS STRING),
          |                substring(c_name, cpos + 1, length(c_name))) AS probe_name
          |  FROM (SELECT c_custkey, c_name,
          |               CAST(c_custkey % 9 + 10 AS INT) AS cpos,
          |               (CAST(substring(c_name, CAST(c_custkey % 9 + 10 AS INT), 1) AS BIGINT)
          |                  + 1 + c_custkey % 9) % 10 AS new_d
          |        FROM cust_fuzzy_v WHERE c_custkey % 97 = 0)),
          |prb AS (SELECT probe_id, probe_name,
          |          explode(array_union(array(probe_name),
          |            transform(sequence(1, length(probe_name)),
          |              i -> concat(substring(probe_name, 1, i - 1),
          |                          substring(probe_name, i + 1, length(probe_name)))))) AS sig
          |        FROM probes),
          |cand AS (SELECT /*+ BROADCAST(prb) */ DISTINCT
          |           prb.probe_id, prb.probe_name,
          |           reg.store_id AS c_custkey, reg.store_name AS c_name
          |         FROM cust_fuzzy_store_v reg JOIN prb USING (sig))
          |SELECT probe_id, c_custkey,
          |       CAST(levenshtein(probe_name, c_name) AS INT) AS dist
          |FROM cand WHERE levenshtein(probe_name, c_name) <= 1
          |ORDER BY probe_id, c_custkey""".stripMargin)
    })(
      // The one-statement SQL blocking path: identical rows required.
      FuzzyLookupOracleSql),

    // ---- events: JSON metadata + windowed aggregation ----
    // JSON-metadata predicate + aggregate. The extraction is staged ONCE
    // into a column and the predicate folded into the aggregates: a
    // Filter + agg both referencing get_json_object parses every
    // surviving row's blob twice (no subexpression elimination across
    // FilterExec), and predicate pushdown re-inlines a staged alias
    // under the filter anyway. The conditional-aggregate form keeps the
    // staging Project intact (CollapseProject refuses to duplicate a
    // non-cheap expression into two aggregates), so each blob is parsed
    // exactly once — asserted in PlanAuditSpec.
    declare("events_json_filter")((s, dir) => {
      events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .agg(
          count(when(col("k") > 80, 1)).as("n_events"),
          sum(when(col("k") > 80, col("k"))).as("k_sum"))
    })(
      """SELECT CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 80""".stripMargin),

    // Distinct-count aggregation per event type (the groupBy-distinct
    // shape: two-phase partial aggregation, no driver collect).
    declare("events_user_stats")((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("user_id")).as("min_user"),
          max(col("user_id")).as("max_user"))
        .orderBy(col("event_type"))
    })(
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       min(user_id) AS min_user, max(user_id) AS max_user
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Ordered funnel conversion over first-occurrence times (one
    // shuffle on user, no self-joins).
    declare("events_funnel")((s, dir) => {
      graft.ops.EventAnalytics.funnel(events(s, dir), Seq("view", "click", "purchase"))
    })(
      """WITH u AS (SELECT user_id,
        |             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |           FROM events GROUP BY 1)
        |SELECT CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_step1_view,
        |       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
        |                      AND t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_step2_click,
        |       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
        |                      AND t_view < t_click AND t_click < t_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_step3_purchase
        |FROM u""".stripMargin),

    // Fixed-width histogram of the value column (single partial
    // aggregation on the bin id; edge bins clamp out-of-range mass).
    declare("events_value_hist")((s, dir) => {
      graft.ops.EventAnalytics.histogram(events(s, dir), "value",
          minVal = 0.0, maxVal = 1000.0, bins = 20)
        .select(col("bin"), col("n"), col("bin_start"))
    })(
      """WITH b AS (SELECT least(greatest(CAST(floor((value - 0.0) / 50.0) AS BIGINT), 0), 19) AS bin FROM events)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n, 0.0 + bin * 50.0 AS bin_start
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // Z-order layout quality: Morton-interleave (user_id, value)
    // buckets, equal-row blocks from a counting-sort cumulative over
    // the occupied-CELL table (bounded by the 2^20 key space, never a
    // row sort) — per-block dimension spans show the Morton layout
    // bounding BOTH columns where the single-column sorts bound one.
    declare("events_zorder_stats")((s, dir) => {
      graft.ops.ZOrder.layoutStats(
        events(s, dir).select("user_id", "value"), "user_id", "value")
    })(
      // Z-order layout stats: identical bucket arithmetic, the same
      // unrolled Morton bit-interleave, the same counting-sort block
      // assignment over the cell table, micro-quantized span averages.
      ZOrderOracleSql),

    // The z-order DATA path: a 2-D box aggregate through the persisted
    // Morton layout (fingerprint sidecar, build once / probe many).
    // Both predicates reach the scan; file min/max footers bound both
    // columns, so the read skips non-intersecting files — the
    // SelectedBucketsCount story for multi-dimensional range queries.
    declare("events_zorder_pruned")((s, dir) => {
      val layoutDir = artifactDir("zorder", dir)
      val ev = events(s, dir).select("event_id", "user_id", "value")
      graft.ops.ZOrder.ensureZOrderedLayout(s, ev, layoutDir, "user_id", "value")
      graft.ops.ZOrder.scanBox(s, layoutDir, "user_id", "value", 2L, 9L, 20.0, 250.0)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("event_id")), lit(0L)).cast("long").as("id_sum"),
          coalesce(sum(floor(col("value") * 1000).cast("long")), lit(0L))
            .cast("long").as("value_milli"))
    })(
      // The layout changes WHERE rows live, never WHAT they are: the
      // box aggregate equals the same predicate over the raw table.
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(event_id), 0) AS BIGINT) AS id_sum,
        |       CAST(coalesce(sum(CAST(floor(value * 1000) AS BIGINT)), 0) AS BIGINT) AS value_milli
        |FROM events
        |WHERE user_id >= 2 AND user_id <= 9 AND value >= 20.0 AND value <= 250.0""".stripMargin),

    // Multi-level aggregation: ROLLUP over (hour, event_type) — subtotal
    // and grand-total rows from one pass (partial-aggregated like any
    // groupBy; no per-level rescan).
    declare("events_rollup")((s, dir) => {
      events(s, dir)
        .rollup(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(floor(col("value") * 1000).cast("long")).as("value_milli"))
        .orderBy(col("hour").asc_nulls_first, col("event_type").asc_nulls_first)
    })(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        |FROM events GROUP BY ROLLUP (1, 2)
        |ORDER BY hour NULLS FIRST, event_type NULLS FIRST""".stripMargin),

    // Set operations as first-class relational surface: INTERSECT /
    // EXCEPT over user-id sets (both plan as aggregate-then-join on the
    // id — distinct semantics, partial-aggregated; no row-by-row
    // comparison). Output is the membership count of each region of the
    // click/purchase Venn diagram plus checksums.
    declare("events_setops")((s, dir) => {
      val e = events(s, dir)
      // both id sets fan into three set-op branches — localCheckpoint
      // so every branch reads one materialized table (exchange reuse
      // under AQE is timing-dependent, the perplexityBuckets
      // discipline)
      def users(t: String) =
        e.filter(col("event_type") === t).select(col("user_id"))
          .localCheckpoint()
      val clicks = users("click")
      val purchases = users("purchase")
      val both = clicks.intersect(purchases)
      val clickOnly = clicks.except(purchases)
      val purchaseOnly = purchases.except(clicks)
      def agg(df: DataFrame, tag: String) =
        df.agg(lit(tag).as("segment"), count(lit(1)).as("n_users"),
          coalesce(sum(col("user_id")), lit(0L)).cast("long").as("id_sum"))
      agg(both, "both")
        .unionAll(agg(clickOnly, "click_only"))
        .unionAll(agg(purchaseOnly, "purchase_only"))
        .orderBy(col("segment"))
    })(
      """WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT user_id FROM c INTERSECT SELECT user_id FROM p),
        |co AS (SELECT user_id FROM c EXCEPT SELECT user_id FROM p),
        |po AS (SELECT user_id FROM p EXCEPT SELECT user_id FROM c),
        |u AS (SELECT 'both' AS segment, CAST(count(*) AS BIGINT) AS n_users,
        |             CAST(coalesce(sum(user_id), 0) AS BIGINT) AS id_sum FROM b
        |      UNION ALL
        |      SELECT 'click_only', CAST(count(*) AS BIGINT),
        |             CAST(coalesce(sum(user_id), 0) AS BIGINT) FROM co
        |      UNION ALL
        |      SELECT 'purchase_only', CAST(count(*) AS BIGINT),
        |             CAST(coalesce(sum(user_id), 0) AS BIGINT) FROM po)
        |SELECT segment, n_users, id_sum FROM u ORDER BY segment""".stripMargin),

    // Exact per-type quantiles, the counting-sort way: shuffle carries
    // one row per distinct value-milli, the window runs over the
    // bounded histogram, and the type-1 rank pick is pure integer math
    // on both engines (interpolating percentiles would blend floats
    // engine-specifically).
    declare("events_quantiles")((s, dir) => {
      graft.ops.EventAnalytics.exactQuantiles(
        events(s, dir), "event_type",
        floor(col("value") * 1000).cast("long"),
        Seq(0.5 -> "p50_milli", 0.9 -> "p90_milli", 0.99 -> "p99_milli"))
    })(
      """WITH em AS (SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS vm FROM events),
        |h AS (SELECT event_type, vm, count(*) AS c FROM em GROUP BY 1, 2),
        |cc AS (SELECT event_type, vm,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY vm
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |       FROM h)
        |SELECT event_type,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.5) THEN vm END) AS BIGINT) AS p50_milli,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.9) THEN vm END) AS BIGINT) AS p90_milli,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.99) THEN vm END) AS BIGINT) AS p99_milli
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin),

    // The SKETCH-BASED quantile path for continuous domains (the scale
    // companion the exactQuantiles doc promises): percentile_approx —
    // Spark's mergeable Greenwald-Khanna summary, map-side partial like
    // the HLL/CMS/MG family — bounds-checked against the exact rank
    // definition in the same job (events_sketch_check style). The
    // verdict row is constant when the sketch honors its documented
    // n/accuracy rank bound and monotonicity, so the oracle pins it.
    declare("events_approx_quantiles")((s, dir) => {
      graft.ops.EventAnalytics.approxQuantilesReport(
        events(s, dir), col("value"),
        qs = Seq(0.1, 0.5, 0.9, 0.99), accuracy = 1000)
    })(
      // The sketch's contract as constants: 4 targets, non-empty input,
      // zero rank-bound violations, monotone estimates.
      """SELECT CAST(4 AS BIGINT) AS n_quantiles, CAST(1 AS BIGINT) AS nonempty,
        |       CAST(0 AS BIGINT) AS rank_violations, CAST(1 AS BIGINT) AS monotone""".stripMargin),

    // Same counting-sort quantile operator over another table: document
    // length distribution per source — the corpus-report form of the
    // stat (sequence-length planning for packing/truncation budgets).
    declare("doc_len_quantiles")((s, dir) => {
      graft.ops.EventAnalytics.exactQuantiles(
        docs(s, dir), "source", col("n_chars"),
        Seq(0.5 -> "p50_chars", 0.9 -> "p90_chars", 0.99 -> "p99_chars"))
    })(
      """WITH h AS (SELECT source, n_chars AS vm, count(*) AS c FROM documents GROUP BY 1, 2),
        |cc AS (SELECT source, vm,
        |         sum(c) OVER (PARTITION BY source ORDER BY vm
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c) OVER (PARTITION BY source) AS n
        |       FROM h)
        |SELECT source,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.5) THEN vm END) AS BIGINT) AS p50_chars,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.9) THEN vm END) AS BIGINT) AS p90_chars,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.99) THEN vm END) AS BIGINT) AS p99_chars
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- Relational OLAP pack over the star schema (Relational.scala).
    // All money measures are integer cents (floor(x*100+0.5), identical
    // IEEE ops in both engines), so partial-aggregation order can't
    // shift a hash.
    // TPC-H Q1 shape: single-pass partial-aggregated pricing summary.
    declare("tpch_pricing")((s, dir) =>
      graft.ops.Relational.pricingSummary(tbl(s, dir, "lineitem")))(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS base_cents,
        |       CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS disc_cents,
        |       CAST(sum(CAST(floor(((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS charge_cents,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // TPC-H Q5 shape: 6-table star join; constant dims broadcast,
    // linear-scaling dims stay slim shuffle joins under AQE.
    declare("tpch_nation_revenue")((s, dir) =>
      graft.ops.Relational.nationRevenue(
        tbl(s, dir, "lineitem"), tbl(s, dir, "orders"),
        tbl(s, dir, "customer"), tbl(s, dir, "supplier"),
        tbl(s, dir, "nation"), tbl(s, dir, "region"),
        regionName = "ASIA", orderYear = 1997))(
      """SELECT n_name AS nation,
        |       CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       CAST(count(*) AS BIGINT) AS n_lineitems
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND EXTRACT(year FROM o_orderdate) = 1997
        |GROUP BY 1 ORDER BY revenue_cents DESC, nation""".stripMargin),

    // Q10 shape: pre-aggregate the fact twice, TakeOrdered to k rows,
    // THEN join the dimension (k-row side broadcasts for free).
    // Fuzzy entity resolution (PassJoin segment principle): resolve a
    // deterministically-perturbed probe set (every 97th customer, one
    // digit substituted) against the full registry at edit distance 1.
    // Blocking = (segment index, half) equi-join with the probe side
    // broadcast — provably complete for equal-length k=1 — and the
    // ORACLE brute-forces probe × registry, so the hash match IS the
    // completeness proof of the blocked plan.
    declare("cust_fuzzy_lookup")((s, dir) => {
      val cust = tbl(s, dir, "customer")
      val probes = cust.filter(col("c_custkey") % 97 === 0)
        .withColumn("cpos", (col("c_custkey") % 9 + 10).cast("int"))
        .withColumn("old_d", col("c_name").substr(col("cpos"), lit(1)).cast("int"))
        .withColumn("new_d",
          (col("old_d") + lit(1) + col("c_custkey") % 9) % 10)
        .select(col("c_custkey").as("probe_id"),
          concat(
            col("c_name").substr(lit(1), col("cpos") - 1),
            col("new_d").cast("string"),
            col("c_name").substr(col("cpos") + 1, lit(64))).as("probe_name"))
      graft.ops.FuzzyJoin.fuzzyLookup(
          cust.select(col("c_custkey"), col("c_name")), probes,
          "c_custkey", "c_name", "probe_id", "probe_name", maxDist = 1)
        .orderBy(col("probe_id"), col("c_custkey"))
    })(
      // BRUTE-FORCE all-pairs probe x registry — deliberately NOT the
      // blocked plan, so the hash match proves the segment blocking
      // misses no within-threshold pair on this corpus.
      FuzzyLookupOracleSql),

    // Fuzzy SELF-dedup of a registry slice (every 7th customer): all
    // unordered name pairs within edit distance 1 via segment-blocked
    // self-join; brute-force oracle again proves blocking completeness.
    declare("cust_fuzzy_pairs")((s, dir) => {
      val slice = tbl(s, dir, "customer")
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_name"))
      graft.ops.FuzzyJoin.fuzzySelfPairs(slice, "c_custkey", "c_name", maxDist = 1)
        .orderBy(col("id1"), col("id2"))
    })(
      """WITH slice AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 7 = 0)
        |SELECT a.c_custkey AS id1, b.c_custkey AS id2,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM slice a CROSS JOIN slice b
        |WHERE a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id1, id2""".stripMargin),

    // Entity CANONICALIZATION — the step after pair-finding: fuzzy
    // pairs close under the distributed connected-components operator
    // (transitive A~B~C is ONE entity even when ed(A,C) > threshold),
    // and every record maps to its entity's min-id canonical record;
    // singletons canonicalize to themselves. Brute-force pair oracle +
    // recursive-closure replay.
    declare("cust_fuzzy_canon")((s, dir) => {
      val slice = tbl(s, dir, "customer")
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_name"))
      val pairs = graft.ops.FuzzyJoin
        .fuzzySelfPairs(slice, "c_custkey", "c_name", maxDist = 1)
        .select(col("id1").as("id_a"), col("id2").as("id_b"))
      val cc = Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "c_custkey")
      slice.select(col("c_custkey")).join(cc, Seq("c_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("cluster_id"), col("c_custkey")).as("canon_id"))
        .withColumn("entity_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("canon_id"))))
        .orderBy(col("c_custkey"))
    })(
      // Brute-force pairs + the same recursive transitive closure as the
      // dedup_clusters oracle; singletons canonicalize to themselves.
      """WITH RECURSIVE slice AS (SELECT c_custkey AS id, c_name AS n
        |                         FROM customer WHERE c_custkey % 7 = 0),
        |p AS (SELECT a.id AS id_a, b.id AS id_b FROM slice a JOIN slice b
        |      ON a.id < b.id AND levenshtein(a.n, b.n) <= 1),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
        |reach(a, b) AS (SELECT src, dst FROM edges
        |                UNION
        |                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a)
        |SELECT s.id AS c_custkey, coalesce(comp.cluster_id, s.id) AS canon_id,
        |       CAST(count(*) OVER (PARTITION BY coalesce(comp.cluster_id, s.id)) AS BIGINT) AS entity_size
        |FROM slice s LEFT JOIN comp ON s.id = comp.id
        |ORDER BY c_custkey""".stripMargin),

    declare("tpch_top_customers")((s, dir) =>
      graft.ops.Relational.topCustomersByRevenue(
        tbl(s, dir, "lineitem"), tbl(s, dir, "orders"),
        tbl(s, dir, "customer"), k = 10))(
      """WITH rev AS (
        |  SELECT o_custkey,
        |         CAST(sum(ord_cents) AS BIGINT) AS revenue_cents,
        |         CAST(count(*) AS BIGINT) AS n_orders
        |  FROM (SELECT l_orderkey,
        |               CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS ord_cents
        |        FROM lineitem GROUP BY 1) li
        |  JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1 ORDER BY revenue_cents DESC, o_custkey LIMIT 10)
        |SELECT c_custkey, c_name, c_mktsegment, revenue_cents, n_orders
        |FROM rev JOIN customer ON o_custkey = c_custkey
        |ORDER BY revenue_cents DESC, c_custkey""".stripMargin),

    // Pivot with an explicit value list (no values-discovery scan).
    declare("tpch_order_pivot")((s, dir) =>
      graft.ops.Relational.orderPriorityPivot(tbl(s, dir, "orders")))(
      """SELECT o_orderstatus,
        |       CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS p_urgent,
        |       CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS p_high,
        |       CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS p_medium,
        |       CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS p_notspec,
        |       CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS p_low
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // CUBE: all four grouping sets from one partial-aggregated pass.
    declare("tpch_order_cube")((s, dir) =>
      graft.ops.Relational.orderStatusCube(tbl(s, dir, "orders")))(
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY CUBE (1, 2)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // Window-rank top-k per group — rewritten to bounded row_topk by
    // TopKWindowRewrite (asserted in PlanAuditSpec).
    declare("tpch_brand_top3")((s, dir) =>
      graft.ops.Relational.topPartsPerBrand(tbl(s, dir, "part"), k = 3))(
      """SELECT p_brand, CAST(rk AS INTEGER) AS rk, p_partkey,
        |       CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
        |                  ORDER BY p_retailprice DESC, p_partkey) AS rk
        |      FROM part)
        |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin),

    // Running totals over an explicit ROWS frame (Spark's RANGE default
    // would merge date ties; the oracle pins ROWS on both sides).
    declare("tpch_running_total")((s, dir) =>
      graft.ops.Relational.customerRunningTotals(tbl(s, dir, "orders")))(
      """SELECT o_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |              OVER w AS BIGINT) AS cum_cents,
        |       CAST(count(*) OVER w AS BIGINT) AS cum_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Semi/anti join pair on the same slim filtered side.
    declare("tpch_urgent_split")((s, dir) =>
      graft.ops.Relational.urgentCustomerSplit(
        tbl(s, dir, "customer"), tbl(s, dir, "orders")))(
      """WITH u AS (SELECT DISTINCT o_custkey FROM orders
        |           WHERE o_orderpriority = '1-URGENT')
        |SELECT c_mktsegment,
        |       CAST(count(u.o_custkey) AS BIGINT) AS n_with_urgent,
        |       CAST(count(*) - count(u.o_custkey) AS BIGINT) AS n_without_urgent
        |FROM customer c LEFT JOIN u ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Co-located bucketed join: lineitem and orders persisted ONCE as
    // bucketed layouts on the order key (fingerprint-sidecar'd like the
    // IVF layouts — a fresh process re-registers over the existing
    // files, metadata-only), then the per-order aggregation AND the
    // fact join both plan with zero hash exchange: the bucketed scan
    // already distributes on the key. The paid-once shuffle amortizes
    // over every later join/agg on the key — the 100 TB fact⋈fact shape.
    declare("tpch_colocated_rev")((s, dir) => {
      val key = dirKey(dir)
      graft.ops.Bucketed.ensure(s,
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        s"graft_bl_li_$key", artifactDir("bucket_li", dir), buckets = 8, "l_orderkey")
      graft.ops.Bucketed.ensure(s,
        tbl(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")),
        s"graft_bl_o_$key", artifactDir("bucket_o", dir), buckets = 8, "o_orderkey")
      graft.ops.Bucketed.colocatedOrderRevenue(s,
        s"graft_bl_li_$key", s"graft_bl_o_$key", minRevCents = 45000000L)
    })(
      // The bucketed layout is an execution detail: the oracle is the
      // plain join+agg with the shared integer-cents quantization.
      """WITH r AS (SELECT l_orderkey,
        |             CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
        |             CAST(count(*) AS BIGINT) AS n_items
        |           FROM lineitem GROUP BY 1)
        |SELECT o_orderkey AS orderkey, o_custkey AS custkey,
        |       o_orderstatus AS orderstatus, rev_cents, n_items
        |FROM r JOIN orders ON l_orderkey = o_orderkey
        |WHERE rev_cents >= 45000000
        |ORDER BY orderkey""".stripMargin),

    // As-of join: each click joined to the user's most recent prior
    // signup (union + window last_value — one shuffle on user_id, no
    // per-row range scan). Timestamps emitted as epoch micros so both
    // engines hash identical integers.
    declare("events_asof")((s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("signup_ts"))
      graft.ops.Joins.asOfJoin(clicks, signups, "user_id", "click_ts", "signup_ts")
        .select(
          col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          col("event_id"),
          unix_micros(col("signup_ts")).as("signup_us"))
        .orderBy(col("user_id"), col("click_us"), col("event_id"))
    })(EventsAsofOracleSql),

    // Skew-salted equi-join declared against the plain-join oracle: the
    // deterministic hash salt spreads a hot user over saltFactor shuffle
    // partitions but must not change a single output row.
    declare("events_salted_join")((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"))
      val dims = e.select(col("user_id")).distinct()
        .withColumn("cohort", pmod(col("user_id"), lit(7)))
      graft.ops.Joins.saltedJoin(e, dims, "user_id", saltFactor = 8)
        .select(col("user_id"), col("event_id"), col("event_type"), col("cohort"))
        .orderBy(col("user_id"), col("event_id"), col("event_type"))
    })(
      // the salted plan must reproduce the plain inner join row for row
      """WITH d AS (SELECT DISTINCT user_id, user_id % 7 AS cohort FROM events)
        |SELECT e.user_id, e.event_id, e.event_type, d.cohort
        |FROM events e JOIN d USING (user_id)
        |ORDER BY e.user_id, e.event_id, e.event_type""".stripMargin),

    // Sketch accuracy invariants: HLL distinct estimate and the
    // approximate quantiles must land within their documented error of
    // the exact values — booleans the oracle pins as constants (the
    // sketches themselves have no SQL-equivalent bit pattern).
    declare("events_sketch_check")((s, dir) => {
      val e = events(s, dir)
      val agg = e.agg(
        countDistinct(col("user_id")).cast("double").as("exact_d"),
        graft.functions.Sketches.approxDistinct(col("user_id")).cast("double").as("est_d"),
        expr("percentile(value, 0.5)").as("exact_p50"),
        graft.functions.Sketches.approxQuantiles(col("value"), Seq(0.5)).getItem(0).as("est_p50"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      agg.select(
        // 3x the sketch's rsd (0.05): a ~99.7% bound under the HLL
        // error model. A 5% flag on an rsd-0.05 sketch is a 1-sigma
        // coin flip - it failed at sf0.1 while passing sf0.01 (caught
        // by the full sf0.1 oracle sweep); tightening rsd instead
        // costs 2.2x the query time for no semantic gain
        when(abs(col("est_d") - col("exact_d")) / col("exact_d") <= 0.15, 1L)
          .otherwise(0L).as("hll_ok"),
        when(abs(col("est_p50") - col("exact_p50")) <= (col("hi") - col("lo")) * 0.01, 1L)
          .otherwise(0L).as("quantile_ok"))
    })(
      // accuracy bounds hold by construction; the oracle pins the booleans
      """SELECT CAST(1 AS BIGINT) AS hll_ok, CAST(1 AS BIGINT) AS quantile_ok"""),

    // Sketch MERGE as a first-class pattern: per-day HLL sketches
    // (DataSketches hll_sketch_agg — the persistable per-partition
    // artifact) unioned with hll_union_agg into the global distinct
    // estimate. At 100 TB this is the shape that replaces recounting:
    // daily sketches are tiny, mergeable, and associative, so any date
    // range's distinct-user estimate is a union over stored sketches,
    // never a rescan. The estimate is checked against the exact
    // distinct (deterministic sketch on fixed data → stable flag, the
    // events_sketch_check convention).
    declare("events_sketch_merge")((s, dir) => {
      val e = events(s, dir)
      val daily = e.groupBy(to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val merged = daily.agg(
        count(lit(1)).cast("long").as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk, true))")
          .cast("double").as("est_d"))
      val exact = e.agg(countDistinct(col("user_id")).cast("long").as("exact_d"))
      merged.crossJoin(exact).select(
        col("n_days"), col("exact_d"),
        when(abs(col("est_d") - col("exact_d").cast("double")) /
          col("exact_d").cast("double") <= 0.05, 1L).otherwise(0L).as("merge_ok"))
    })(
      // n_days and exact_d are exact (oracle-computable); the merged-HLL
      // estimate flag follows the events_sketch_check convention
      """SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_d,
        |       CAST(1 AS BIGINT) AS merge_ok
        |FROM events""".stripMargin),

    // Count-Min sketch over event_type (Cormode & Muthukrishnan 2005):
    // point-frequency estimates from O(depth·width) state, no groupBy
    // shuffle of the keys. The summary pins the structural guarantees
    // on real data: estimates never under-count, stay within εn above
    // the truth, and the sketch's LINEARITY makes the half+half merge
    // equal the whole-corpus grid bucket-for-bucket (unlike MG's lossy
    // merge, no partition-order caveat). n_keys is exact and
    // oracle-computed; the rest are the sketch contract.
    declare("events_cms_check")((s, dir) => {
      graft.ops.CountMin.cmsCheck(events(s, dir), "event_type",
        col("event_id") % 2 === 0)
    })(
      // n_keys is the exact distinct count; under/over/merge are the CMS
      // structural guarantees (never-undercount, εn ceiling, exact linear
      // merge), deterministic for the seeded hash grid.
      """SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_keys,
        |       CAST(0 AS BIGINT) AS underest, CAST(0 AS BIGINT) AS over_bound,
        |       CAST(1 AS BIGINT) AS merge_exact
        |FROM events""".stripMargin),

    // Bin-bucketed range (interval) join: clicks against one-hour
    // windows opened by each signup, same user. The bins turn a per-key
    // cartesian into an equi-join on (user, bin) + exact containment
    // filter; the oracle brute-forces the theta join, which must match.
    declare("events_range_join")((s, dir) => {
      val e = events(s, dir)
      val points = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val intervals = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("end_ts"))
      graft.ops.Joins.rangeJoin(points, intervals, "user_id", "ts", "start_ts", "end_ts",
          binWidthSec = 3600L)
        .select(col("user_id"), unix_micros(col("ts")).as("click_us"),
          col("event_id"), unix_micros(col("start_ts")).as("signup_us"))
        .orderBy(col("user_id"), col("click_us"), col("event_id"), col("signup_us"))
    })(
      // brute-force theta join; the binned equi-join must reproduce it
      """WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |i AS (SELECT user_id, ts AS start_ts, ts + INTERVAL 1 HOUR AS end_ts FROM events WHERE event_type = 'signup')
        |SELECT p.user_id, epoch_us(p.ts) AS click_us, p.event_id, epoch_us(i.start_ts) AS signup_us
        |FROM p JOIN i ON p.user_id = i.user_id AND p.ts >= i.start_ts AND p.ts < i.end_ts
        |ORDER BY p.user_id, click_us, event_id, signup_us""".stripMargin),

    // SLIDING-window aggregation (1 h window / 30 min slide): each event
    // lands in exactly two overlapping windows. Spark's window()
    // generation is checked against an independent arithmetic oracle
    // (the two grid-aligned starts per event) — the tumbling analogue
    // is events_hourly.
    declare("events_sliding")((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n_events"))
        .orderBy(col("win_start"), col("event_type"))
    })(
      // Independent sliding-window arithmetic: with a 1 h window on a
      // 30 min slide, each event belongs to EXACTLY the two grid-aligned
      // starts floor_30m(ts) and floor_30m(ts) − 30 min — Spark's
      // window() generation must reproduce this grid.
      """WITH w AS (
        |  SELECT event_type,
        |         to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - i * 1800) AS win_start
        |  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) g)
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Cohort retention: users bucketed by first-seen day, counted as
    // active per day offset — the engagement rollup every event
    // pipeline ships. The distinct (user, day) pass makes the final
    // count a plain count, no countDistinct re-shuffle.
    declare("events_retention")((s, dir) => {
      graft.ops.EventAnalytics.cohortRetention(events(s, dir))
        .orderBy(col("cohort"), col("day_offset"))
    })(
      // DuckDB date subtraction yields days directly; the distinct
      // (user, day) activity set mirrors the Spark pass.
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
        |       CAST(a.day - f.cohort AS INTEGER) AS day_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Batch sessionization: gap-split per-user sessions via the
    // lag-flag-cumsum window (the batch twin of the streaming
    // flatMapGroupsWithState sessionizer, which a SQL oracle can't
    // replay; this form it can, exactly).
    declare("events_sessions")((s, dir) => {
      graft.ops.EventAnalytics.sessionize(events(s, dir), gapSec = 1800L)
        .orderBy(col("user_id"), col("session_id"))
    })(
      // The same lag-flag-cumsum recurrence; row_number ties broken by
      // event_id on both sides, so session numbering matches exactly.
      """WITH l AS (SELECT user_id, ts, event_id,
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |           FROM events),
        |f AS (SELECT user_id, ts,
        |        CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |             THEN 1 ELSE 0 END AS new_s, event_id
        |      FROM l),
        |s AS (SELECT user_id, ts,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Hot-key-safe as-of variant (per-(key, day-bucket) windows with a
    // carry-in pass) — declared against the SAME oracle as events_asof:
    // the salted plan must reproduce the plain as-of bit-for-bit.
    declare("events_asof_salted")((s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("signup_ts"))
      graft.ops.Joins.asOfJoinSalted(clicks, signups, "user_id", "click_ts", "signup_ts",
          bucketSec = 86400L)
        .select(
          col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          col("event_id"),
          unix_micros(col("signup_ts")).as("signup_us"))
        .orderBy(col("user_id"), col("click_us"), col("event_id"))
    })(
      // identical expected output — the salted plan changes shape, not rows
      EventsAsofOracleSql),

    // Top-3 users per hour, written in the NAIVE window-rank form. Under
    // the TopKWindowRewrite rule — enabled once in setupSession, NOT
    // here: a thunk-level enable() mutated the shared session and made
    // later queries' plans order-dependent — the optimizer replaces the
    // per-hour sort with the bounded row_topk aggregate (plan-audited),
    // and the result must still equal the window-form oracle exactly.
    declare("events_top3_hourly")((s, dir) => {
      val counts = events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("hour")).orderBy(col("n_events").desc, col("user_id").asc)
      counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy(col("hour"), col("rank"))
    })(
      // the window-rank form the rewrite must reproduce bit-for-bit
      """WITH c AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, user_id,
        |                  CAST(count(*) AS BIGINT) AS n_events
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT hour, user_id, n_events,
        |             CAST(row_number() OVER (PARTITION BY hour ORDER BY n_events DESC, user_id ASC) AS INTEGER) AS rank
        |      FROM c)
        |SELECT hour, user_id, n_events, rank FROM r WHERE rank <= 3
        |ORDER BY hour, rank""".stripMargin),

    // Tumbling 1-hour window aggregation — the batch shape of the
    // streaming windowed agg (value summed in exact integer milli-units:
    // float sums are partition-order-dependent).
    declare("events_hourly")((s, dir) => {
      events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(floor(col("value") * 1000).cast("long")).as("value_milli"))
        .orderBy(col("hour"), col("event_type"))
    })(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )
}
