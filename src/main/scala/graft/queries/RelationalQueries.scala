package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.ops.Dedup
import graft.queries.Query.{by, t}

/** Relational queries over the TPC-H-style and events tables — grouped
  * aggregates, joins, windows, grouping sets, set operations — plus the
  * as-of join and the typed JSON extraction. Float nondeterminism is kept
  * out by exact decimal sums cast back to double and floor-to-bigint
  * fixed-point sums. */
object RelationalQueries {

  val all: Seq[Query] = Seq(
    Query("x_json_props", (s, dir) => {
      // semi-structured extraction: the events.props JSON column parsed
      // with a TYPED schema (from_json — codegen'd, no UDF), the
      // extracted value filtered and aggregated relationally. The oracle
      // replays the same path extraction with DuckDB's json functions.
      val k = from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
        .getField("k")
      t(s, dir, "events")
        .select(col("event_id"), k.as("k"))
        .filter(col("k") % 10 < 5)
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k").cast("long")).as("sum_k"))
    }, order = by("k_mod"),
      oracle = Some(
        """SELECT k % 10 AS k_mod, count(*) AS n, cast(sum(k) as bigint) AS sum_k
          |FROM (SELECT cast(json_extract_string(props, '$.k') as int) AS k
          |      FROM events)
          |WHERE k % 10 < 5
          |GROUP BY 1 ORDER BY k_mod""".stripMargin)),
    Query("q1_pricing", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)").as("sum_qty"),
          expr("cast(sum(cast(l_extendedprice as decimal(18,2))) as double)").as("sum_price"),
          count(lit(1)).as("n_rows")),
      order = by("l_returnflag", "l_linestatus"),
      oracle = Some(
        """SELECT l_returnflag, l_linestatus,
          |  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
          |  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_price,
          |  count(*) AS n_rows
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Query("q2_order_priority", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").as("sum_total")),
      order = by("o_orderpriority"),
      oracle = Some(
        """SELECT o_orderpriority, count(*) AS n_orders,
          |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_total
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("q3_cust_orders", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
    }, order = by("c_mktsegment"),
      oracle = Some(
        """SELECT c_mktsegment, count(*) AS n_orders,
          |  count(DISTINCT o_custkey) AS n_customers
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("q4_top_event_per_user", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
    }, order = by("user_id"),
      oracle = Some(
        """SELECT user_id, event_id, event_type FROM (
          |  SELECT user_id, event_id, event_type,
          |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
          |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    Query("q5_events_by_type", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          expr("sum(cast(floor(value * 1000) as bigint))").as("value_milli_sum")),
      order = by("event_type"),
      oracle = Some(
        """SELECT event_type, count(*) AS n_events,
          |  cast(sum(cast(floor(value * 1000) as bigint)) as bigint) AS value_milli_sum
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Query("q6_dedup_exact", (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents")),
      order = by("content_md5"),
      oracle = Some(
        """SELECT md5(text) AS content_md5, count(*) AS n_dupes,
          |  min(doc_id) AS keeper_doc_id
          |FROM documents GROUP BY md5(text) ORDER BY content_md5""".stripMargin)),
    Query("q7_doc_stats", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars_actual"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
            .cast("long").as("ws_tokens_approx")),
      order = by("doc_id"),
      oracle = Some(
        """SELECT doc_id, lang, length(text) AS n_chars_actual,
          |  length(text) - length(replace(text, ' ', '')) + 1 AS ws_tokens_approx
          |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("q8_docs_by_lang", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(cast(n_chars as bigint))").as("total_chars")),
      order = by("lang"),
      oracle = Some(
        """SELECT lang, count(*) AS n_docs, cast(sum(cast(n_chars as bigint)) as bigint) AS total_chars
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q9_emb_labels", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val d = t(s, dir, "documents")
      e.join(d, e("vec_id") === d("doc_id"), "inner")
        .groupBy(col("label"), col("lang"))
        .agg(count(lit(1)).as("n"))
    }, order = by("label", "lang"),
      oracle = Some(
        """SELECT label, lang, count(*) AS n
          |FROM embeddings JOIN documents ON vec_id = doc_id
          |GROUP BY label, lang ORDER BY label, lang""".stripMargin)),
    Query("q10_supplier_nation", (s, dir) => {
      val su = t(s, dir, "supplier")
      val na = t(s, dir, "nation")
      su.join(broadcast(na), su("s_nationkey") === na("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"))
    }, order = by("n_name"),
      oracle = Some(
        """SELECT n_name, count(*) AS n_suppliers
          |FROM supplier JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin)),
    Query("q11_part_brands", (s, dir) =>
      t(s, dir, "part")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          expr("cast(sum(cast(p_size as bigint)) as bigint)").as("total_size")),
      order = by("p_brand"),
      oracle = Some(
        """SELECT p_brand, count(*) AS n_parts,
          |  cast(sum(cast(p_size as bigint)) as bigint) AS total_size
          |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    Query("q12_monthly_orders", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
        .agg(count(lit(1)).as("n_orders")),
      order = by("order_month"),
      oracle = Some(
        """SELECT strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS n_orders
          |FROM orders GROUP BY 1 ORDER BY order_month""".stripMargin)),
    Query("q13_sessionize", (s, dir) => {
      // session = run of a user's events with gaps <= 30 min (window lag)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_s", lag(unix_timestamp(col("ts")), 1).over(w))
        .withColumn("is_start",
          when(col("prev_s").isNull ||
            unix_timestamp(col("ts")) - col("prev_s") > 1800, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("is_start")).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
    }, order = by("user_id"),
      oracle = Some(
        """SELECT user_id,
          |  cast(sum(is_start) as bigint) AS n_sessions, count(*) AS n_events
          |FROM (
          |  SELECT user_id,
          |    CASE WHEN prev_s IS NULL OR cast(epoch(ts) as bigint) - prev_s > 1800
          |         THEN 1 ELSE 0 END AS is_start
          |  FROM (
          |    SELECT user_id, ts,
          |      lag(cast(epoch(ts) as bigint)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
          |    FROM events))
          |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("q20_pivot", (s, dir) =>
      // PIVOT for a KNOWN vocabulary, written as conditional aggregates:
      // ONE partial+final hash aggregate producing all 5 count columns.
      // Dataset.pivot() with the same explicit list compiles to TWO
      // aggregation exchanges (pre-aggregate on (user, type), re-shuffle
      // on user for PivotFirst) and the implicit form adds a
      // values-discovery scan on top — both measured in the plan and
      // pinned inferior in SparkPipelineSpec; at 100 TB the second
      // full-row shuffle is the difference. count() never yields null,
      // so the checker's hash is engine-neutral without coalescing.
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          count(when(col("event_type") === "click", 1)).as("click"),
          count(when(col("event_type") === "error", 1)).as("error"),
          count(when(col("event_type") === "purchase", 1)).as("purchase"),
          count(when(col("event_type") === "signup", 1)).as("signup"),
          count(when(col("event_type") === "view", 1)).as("view")),
      order = by("user_id"),
      oracle = Some(
        """SELECT user_id,
          |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
          |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
          |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
          |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
          |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("q21_set_ops", (s, dir) => {
      // set difference as a relational operator: customers with no URGENT
      // order (left ANTI join against a filtered build side — the oracled
      // twin of the fixture-diff golden in SparkPipelineSpec; "no orders
      // at all" is vacuously empty at every test SF). The priority
      // filter pushes into the orders scan, the anti join shuffles key
      // columns only; at scale the build side reduces to distinct keys
      // map-side, no wide rows move.
      val c = t(s, dir, "customer")
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }, order = by("c_custkey"),
      oracle = Some(
        """SELECT c_custkey, c_name FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey
          |                    AND o_orderpriority = '1-URGENT')
          |ORDER BY c_custkey""".stripMargin)),
    Query("x_asof_join", (s, dir) => {
      // as-of join over the events stream: each even event matched to the
      // user's latest odd event at-or-before its timestamp. One shuffle on
      // user_id (union + running last-value window) — no range-join blowup.
      val e = t(s, dir, "events")
      val leftE = e.filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("ts"), col("event_id"))
      val rightE = e.filter(col("event_id") % 2 === 1)
        .select(col("user_id"), col("ts"), col("event_id").as("matched_event_id"))
      // asOfAuto exercises the strategy selector on the query surface: the
      // events keys are unskewed, so the bounded Bernoulli probe routes to
      // the plain one-shuffle form (both forms are equivalence-pinned, so
      // the oracle holds regardless of the routing decision)
      graft.ops.AsOfJoin.asOfAuto(leftE, rightE, Seq("user_id"), "ts",
          date_trunc("hour", col("ts")))
        .select(col("event_id"),
          coalesce(col("matched_event_id"), lit(-1L)).as("matched_event_id"))
    }, order = by("event_id"),
      // deterministic as-of contract: argmax by (ts, event_id) among prior
      // odd events of the same user; -1 when no prior row exists
      oracle = Some(
        """SELECT l.event_id,
          |  coalesce((SELECT r.event_id FROM events r
          |            WHERE r.user_id = l.user_id AND r.event_id % 2 = 1
          |              AND r.ts <= l.ts
          |            ORDER BY r.ts DESC, r.event_id DESC LIMIT 1), -1)
          |    AS matched_event_id
          |FROM events l WHERE l.event_id % 2 = 0
          |ORDER BY l.event_id""".stripMargin)),
    Query("q17_rollup", (s, dir) =>
      // grouping sets: per-(lang, size-class) subtotals + per-lang + grand
      // total in ONE pass (Expand + partial aggregate — no re-scan per
      // level). NULL group markers are projected to 'ALL' so the oracle
      // hash never depends on engine null encodings.
      t(s, dir, "documents")
        .withColumn("size_class",
          when(col("n_chars") >= 1000, "long").otherwise("short"))
        .rollup(col("lang"), col("size_class"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(cast(n_chars as bigint))").as("total_chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang_g"),
          coalesce(col("size_class"), lit("ALL")).as("size_g"),
          col("n_docs"), col("total_chars")),
      order = by("lang_g", "size_g"),
      oracle = Some(
        """WITH d AS (
          |  SELECT lang,
          |    CASE WHEN n_chars >= 1000 THEN 'long' ELSE 'short' END AS size_class,
          |    n_chars
          |  FROM documents)
          |SELECT coalesce(lang, 'ALL') AS lang_g,
          |  coalesce(size_class, 'ALL') AS size_g,
          |  count(*) AS n_docs,
          |  cast(sum(cast(n_chars as bigint)) as bigint) AS total_chars
          |FROM d GROUP BY ROLLUP(lang, size_class)
          |ORDER BY lang_g, size_g""".stripMargin)),
    Query("q18_doc_percentiles", (s, dir) =>
      // ordered-set aggregates: exact interpolated percentiles of document
      // length per language. Spark's percentile() and DuckDB's
      // quantile_cont() share the linear-interpolation definition; int
      // inputs keep the arithmetic exact across engines.
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          expr("percentile(n_chars, 0.5)").as("p50_chars"),
          expr("percentile(n_chars, 0.9)").as("p90_chars"),
          expr("cast(min(n_chars) as bigint)").as("min_chars"),
          expr("cast(max(n_chars) as bigint)").as("max_chars")),
      order = by("lang"),
      oracle = Some(
        """SELECT lang,
          |  quantile_cont(n_chars, 0.5) AS p50_chars,
          |  quantile_cont(n_chars, 0.9) AS p90_chars,
          |  cast(min(n_chars) as bigint) AS min_chars,
          |  cast(max(n_chars) as bigint) AS max_chars
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q14_top_customers", (s, dir) =>
      t(s, dir, "customer")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(10)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
      oracle = Some(
        """SELECT c_custkey, c_name, c_acctbal FROM customer
          |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin)),
    Query("q15_customer_activity", (s, dir) => {
      // customers with vs without orders in ONE action: left-outer to the
      // distinct order keys, then a conditional aggregate — the prior
      // semi+anti two-action form scanned customer/orders twice
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey")).distinct()
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .agg(
          sum(when(col("o_custkey").isNotNull, 1).otherwise(0))
            .cast("long").as("with_orders"),
          sum(when(col("o_custkey").isNull, 1).otherwise(0))
            .cast("long").as("without_orders"))
    },
      oracle = Some(
        """SELECT
          |  (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS with_orders,
          |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS without_orders""".stripMargin)),
    Query("q19_sliding_hour", (s, dir) => {
      // RANGE window frame (value-based, not row-based): per event, the
      // count and fixed-point value sum of the user's events in the
      // preceding hour — the sliding-window family q4/q13/q16 don't cover.
      // Integer epoch seconds keep the frame bounds exact across engines.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("es"))
        .rangeBetween(-3600L, 0L)
      t(s, dir, "events")
        .withColumn("es", unix_timestamp(col("ts")))
        .withColumn("n_last_hour", count(lit(1)).over(w).cast("long"))
        .withColumn("vm_last_hour",
          sum(expr("cast(floor(value * 1000) as bigint)")).over(w).cast("long"))
        .select(col("event_id"), col("n_last_hour"), col("vm_last_hour"))
    }, order = by("event_id"),
      oracle = Some(
        """SELECT event_id,
          |  cast(count(*) OVER w as bigint) AS n_last_hour,
          |  cast(sum(cast(floor(value * 1000) as bigint)) OVER w as bigint) AS vm_last_hour
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY cast(epoch(ts) as bigint)
          |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin)),
    Query("q16_event_deltas", (s, dir) => {
      // lag-based per-event value delta, fixed-point, summed by type
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("vm", expr("cast(floor(value * 1000) as bigint)"))
        .withColumn("delta", col("vm") - lag(col("vm"), 1).over(w))
        .filter(col("delta").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("delta")).cast("long").as("delta_sum"))
    }, order = by("event_type"),
      oracle = Some(
        """SELECT event_type, count(*) AS n, cast(sum(delta) as bigint) AS delta_sum
          |FROM (
          |  SELECT event_type,
          |    vm - lag(vm) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
          |  FROM (SELECT user_id, event_type, event_id, ts,
          |        cast(floor(value * 1000) as bigint) AS vm FROM events))
          |WHERE delta IS NOT NULL
          |GROUP BY event_type ORDER BY event_type""".stripMargin)))
}
