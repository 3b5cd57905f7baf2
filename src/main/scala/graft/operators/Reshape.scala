package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.Fns._

/** Relational-shape operators beyond the reference's own surface:
  * full-outer join reconciliation, pivot (long→wide), unpivot
  * (wide→long), and a custom typed Aggregator (bounded top-k).
  *
  * Scale notes:
  *  - q65 full outer: one hash shuffle per side on the join key; at
  *    100 TB this is the standard reconciliation shape (AQE handles
  *    the skewed-key case).
  *  - q66 pivot with EXPLICIT value list: pivot values must be known
  *    (or collected) up front — listing them keeps the plan a single
  *    hash aggregate with conditional partials (no second pass to
  *    discover values, no driver collect).
  *  - q67 unpivot is a per-row Expand (n_metrics× fan-out, no shuffle);
  *    the inverse direction of q66.
  *  - q68 TopKOrders: a typed Aggregator keeps a BOUNDED buffer (k
  *    entries) regardless of group size — the partial/merge tree makes
  *    per-group top-k associative and shuffle-light, vs collect_list +
  *    sort which buffers the whole group.
  */
object Reshape extends graft.QueryModule {

  /** Full-outer reconciliation: even-keyed customers vs order counts of
    * custkeys divisible by 3 — left-only, right-only, and matched rows
    * all surface, with coalesced key. */
  def q65FullOuter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .filter($"c_custkey" % 2 === 0)
      .select($"c_custkey", $"c_mktsegment")
    val ords = Tables.orders(s, d)
      .filter($"o_custkey" % 3 === 0)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"))
    cust.join(ords, $"c_custkey" === $"o_custkey", "full_outer")
      .select(
        coalesce($"c_custkey", $"o_custkey").as("custkey"),
        coalesce($"c_mktsegment", lit("<none>")).as("segment"),
        coalesce($"n_orders", lit(0L)).as("n_orders"))
      .orderBy($"custkey")
  }

  val q65Oracle: String =
    """WITH c AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0),
       o AS (SELECT o_custkey, count(*) AS n_orders FROM orders
             WHERE o_custkey % 3 = 0 GROUP BY o_custkey)
       SELECT coalesce(c_custkey, o_custkey) AS custkey,
         coalesce(c_mktsegment, '<none>') AS segment,
         coalesce(n_orders, 0) AS n_orders
       FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
       ORDER BY custkey"""

  /** Pivot long→wide: quantity totals per returnflag, one column per
    * linestatus. Explicit value list ("F","O") → single-pass plan. */
  def q66Pivot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum($"l_quantity".cast("decimal(18,2)")))
      .select($"l_returnflag",
        $"F".cast("double").as("qty_f"), $"O".cast("double").as("qty_o"))
      .orderBy($"l_returnflag")
  }

  val q66Oracle: String =
    """SELECT l_returnflag,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Unpivot wide→long: per-nation customer/supplier counts as
    * (nationkey, metric, n) rows — Expand, the exact inverse of q66. */
  def q67Unpivot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nc = Tables.customer(s, d).groupBy($"c_nationkey".as("nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val ns = Tables.supplier(s, d).groupBy($"s_nationkey".as("nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    nc.join(ns, "nationkey")
      .unpivot(Array($"nationkey"), Array($"n_cust", $"n_supp"), "metric", "n")
      .orderBy($"nationkey", $"metric")
  }

  val q67Oracle: String =
    """WITH w AS (
         SELECT c.nationkey, n_cust, n_supp FROM
           (SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
           JOIN
           (SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
           USING (nationkey))
       SELECT nationkey, 'n_cust' AS metric, n_cust AS n FROM w
       UNION ALL
       SELECT nationkey, 'n_supp' AS metric, n_supp AS n FROM w
       ORDER BY nationkey, metric"""

  /** Custom typed Aggregator: top-3 orderkeys per priority by
    * (totalprice DESC, orderkey ASC) with a bounded k-entry buffer —
    * see [[graft.functions.TopK]]. The array result is posexploded to
    * (priority, rnk, orderkey) rows so the driver's pandas-based
    * compare can sort/hash it (list columns are unhashable there);
    * the oracle is the equivalent row_number formulation. */
  def q68TopKAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val topk = udaf(new graft.functions.TopKOrders(3))
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(topk($"o_totalprice", $"o_orderkey").as("top3_orderkeys"))
      .select($"o_orderpriority", posexplode($"top3_orderkeys").as(Seq("pos", "orderkey")))
      .select($"o_orderpriority", ($"pos" + 1).cast("long").as("rnk"), $"orderkey")
      .orderBy($"o_orderpriority", $"rnk")
  }

  val q68Oracle: String =
    """SELECT o_orderpriority, rnk, orderkey FROM (
         SELECT o_orderpriority, o_orderkey AS orderkey,
                row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rnk
         FROM orders)
       WHERE rnk <= 3 ORDER BY o_orderpriority, rnk"""

  /** CDC upsert / SCD "latest-wins" merge — the warehouse MERGE INTO,
    * expressed engine-neutrally: base snapshot (version 1) unioned
    * with a change batch (version 2: every 7th order re-priced +10.00
    * and flagged 'U'), then one row per key by (version DESC) via
    * row_number. The change batch is DERIVED deterministically from
    * orders so both engines construct identical input.
    *
    * Scale shape: unionByName is free (no shuffle); the dedup window
    * shuffles once on the merge key — the same cost as the
    * shuffle-and-replace any MERGE implementation pays. When the
    * change batch is small relative to the snapshot (the usual CDC
    * case), the at-scale variant is an anti-join(base, updates) ∪
    * updates, which broadcasts the batch and never shuffles the
    * snapshot; the window form here is the general both-sides-large
    * shape. Output: per-status accounting of the merged state. */
  def q62ScdMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        lit(1L).as("version"))
    val updates = Tables.orders(s, d)
      .filter($"o_orderkey" % 7 === 3)
      .select($"o_orderkey", lit("U").as("o_orderstatus"),
        ($"o_totalprice" + lit(10.0)).as("o_totalprice"), lit(2L).as("version"))
    val merged = base.unionByName(updates)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"o_orderkey").orderBy($"version".desc)))
      .filter($"rn" === 1)
    merged.groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"), decSum($"o_totalprice").as("total_price"))
      .orderBy($"o_orderstatus")
  }

  val q62Oracle: String =
    """WITH base AS (
         SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version
         FROM orders),
       updates AS (
         SELECT o_orderkey, 'U' AS o_orderstatus,
           o_totalprice + 10.0 AS o_totalprice, 2 AS version
         FROM orders WHERE o_orderkey % 7 = 3),
       merged AS (
         SELECT *, row_number() OVER (PARTITION BY o_orderkey
           ORDER BY version DESC) AS rn
         FROM (SELECT * FROM base UNION ALL SELECT * FROM updates))
       SELECT o_orderstatus, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
       FROM merged WHERE rn = 1
       GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** SCD Type-2 dimension build from an event log: each customer's
    * orders become consecutive versions with [valid_from, valid_to)
    * effective intervals (lead() closes each interval; the last is
    * open-ended / is_current). The inverse of q63's point-in-time
    * lookup and the companion of q62's latest-wins merge — together
    * they cover the warehouse's slowly-changing-dimension lifecycle.
    *
    * Scale shape: one shuffle (partitionBy the dimension key), one
    * ordered pass per key — the same cost as any per-key window; no
    * joins, no global sort (the output ordering is for the compare
    * harness only). */
  def q124Scd2Build(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate")
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("nxt", lead($"o_orderdate", 1).over(w))
      .select($"o_custkey", $"version", $"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("valid_from"),
        coalesce(date_format($"nxt", "yyyy-MM-dd"), lit("9999-12-31"))
          .as("valid_to"),
        $"nxt".isNull.as("is_current"))
      .orderBy($"o_custkey", $"version")
  }

  val q124Oracle: String =
    """SELECT o_custkey,
         CAST(row_number() OVER w AS BIGINT) AS version,
         o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
         COALESCE(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'), '9999-12-31') AS valid_to,
         lead(o_orderdate) OVER w IS NULL AS is_current
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       ORDER BY o_custkey, version"""

  /** MapType as a first-class column (q153) — the native modeling
    * SURVEY §1.4 prescribes for the reference's dict-of-list JSONB
    * columns, driver-checked: per source, the lang→doc-count map is
    * BUILT (`map_from_entries` over sorted collect_list), FILTERED
    * (`map_filter`, langs with ≥ 3 docs), TRANSFORMED
    * (`transform_values` to share-permille of the source total), and
    * only then exploded back to rows for the cross-engine compare
    * (map cells themselves are unhashable in the driver's pandas
    * sort — q68's lesson). The map algebra is Catalyst-native
    * (codegen'd higher-order functions, no UDF); entries are sorted
    * by key before map construction so explode order is deterministic.
    *
    * Scale shape: one (source, lang) partial+final agg, then a
    * per-source agg over ≤ |langs| entries — map columns never carry
    * more than a group's own cardinality, the same bounded-nesting
    * contract as the pipelines' JSONB structs. */
  def q153MapAlgebra(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
      .groupBy($"source")
      .agg(map_from_entries(sort_array(collect_list(struct($"lang", $"n"))))
          .as("m"),
        sum($"n").as("total"))
      .select($"source", $"total",
        map_filter($"m", (_, v) => v >= 3).as("mf"))
      .select($"source",
        explode(expr("transform_values(mf, (k, v) -> v * 1000 div total)"))
          .as(Seq("lang", "permille")))
      .select($"source", $"lang", $"permille")
      .orderBy($"source", $"lang")
  }

  val q153Oracle: String =
    """WITH c AS (
         SELECT source, lang, CAST(count(*) AS BIGINT) AS n
         FROM documents GROUP BY 1, 2),
       t AS (SELECT source, CAST(sum(n) AS BIGINT) AS total
             FROM c GROUP BY 1)
       SELECT c.source, c.lang, n * 1000 // total AS permille
       FROM c JOIN t ON c.source = t.source
       WHERE n >= 3 ORDER BY c.source, c.lang"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q153_map_algebra", q153MapAlgebra, q153Oracle,
        Hooks(nonEmpty, range("permille", 0, 1000))),
      Query("q124_scd2_build", q124Scd2Build, q124Oracle, NoBound(Structural)),
      Query("q62_scd_merge", q62ScdMerge, q62Oracle, NoBound(Structural)),
      Query("q65_full_outer", q65FullOuter, q65Oracle, NoBound(Structural)),
      Query("q66_pivot", q66Pivot, q66Oracle, NoBound(Structural)),
      Query("q67_unpivot", q67Unpivot, q67Oracle, NoBound(Structural)),
      Query("q68_topk_agg", q68TopKAgg, q68Oracle, NoBound(Structural)),
    )
  }
}
