package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Graph-analytics operators beyond connected components (q71):
  * power-iteration scoring over an edge list. No reference analogue
  * (the reference has no graph surface — SURVEY.md §2 maps its data as
  * strictly tabular); this is north-star scale machinery for the
  * dedup-graph / citation-graph shapes a corpus pipeline produces.
  */
object Graph extends graft.QueryModule {

  /** One PageRank power-iteration step over the part→supplier supply
    * graph (distinct (l_partkey, l_suppkey) edges — a real bipartite
    * graph in the testdata at every scale). Uniform source rank,
    * damping 0.85, FIXED-POINT micro-units: each part contributes
    * `850000 div outdeg` to every supplier it ships to, plus the
    * 150000 teleport base — integer `div` truncates toward zero
    * identically in both engines, so one step is bit-exact
    * cross-engine (the full iterate-to-convergence loop repeats this
    * block under q71's localCheckpoint driver loop).
    *
    * Shape at scale: `distinct` is one shuffle on the edge pair;
    * out-degrees group by the SAME key the edges are now partitioned
    * on (ReusedExchange, no second shuffle of the edge list); the
    * contribution join is equi on that key; only the rank aggregation
    * re-shuffles, on the destination key. Top-20 is a TakeOrdered —
    * no global sort. */
  def q82PagerankStep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = Tables.lineitem(s, d)
      .select($"l_partkey".as("src"), $"l_suppkey".as("dst"))
      .distinct()
    // out-degree as a window over the edge list itself (partitioned on
    // src) instead of a groupBy + self-join: one fewer shuffle of the
    // edge list, and no join at all
    edges
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"src")))
      .groupBy($"dst")
      .agg(count(lit(1)).as("n_in"),
        sum(expr("850000 div outdeg")).as("flow"))
      .select($"dst".as("node"), $"n_in",
        (lit(150000L) + $"flow").as("rank_micro"))
      .orderBy($"rank_micro".desc, $"node")
      .limit(20)
  }

  val q82Oracle: String =
    """WITH edges AS (
         SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem),
       deg AS (
         SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       flow AS (
         SELECT dst AS node, CAST(count(*) AS BIGINT) AS n_in,
           CAST(sum(850000 // outdeg) AS BIGINT) AS flow
         FROM edges JOIN deg USING (src) GROUP BY dst)
       SELECT node, n_in, 150000 + flow AS rank_micro
       FROM flow ORDER BY rank_micro DESC, node LIMIT 20"""

  /** Triangle counting + global clustering coefficient over the
    * part co-occurrence graph (parts are adjacent iff some order ships
    * both in 1995-Q1). Classic degree-ordered orientation: each
    * undirected edge points from its lower-(degree, id) endpoint to the
    * higher, which caps every node's out-degree at O(√m) — so the wedge
    * join generates at most m^{3/2} candidates REGARDLESS of skew (a
    * hub of degree d contributes d² wedges unoriented but only O(m)
    * oriented). That bound is the difference between "works at 100 TB"
    * and a quadratic blowup on the first power-law graph.
    *
    * Plan shape: one shuffle to dedup (order, part) items, a per-order
    * self-join for candidate edges + dedup, degree groupBy, orientation
    * as a pure projection, the wedge self-join on the source key, and a
    * left-semi probe of candidates against the oriented edge list.
    * All integers; output is a single summary row. gcc_ppm =
    * ⌊6·10⁶·triangles / Σd(d−1)⌋ (= 3·tri / wedges in ppm). */
  def q116Triangles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1995-04-01").cast("timestamp"))
      .select($"l_orderkey".as("ord"), $"l_partkey".as("p"))
      .distinct()
    val e = items.as("a").join(items.as("b"), "ord")
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .filter($"u" < $"v")
      .distinct()
      .localCheckpoint() // feeds degree, orientation, and the semi probe
    val deg = e.select(explode(array($"u", $"v")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val ed = e
      .join(deg.select($"n".as("u"), $"deg".as("du")), "u")
      .join(deg.select($"n".as("v"), $"deg".as("dv")), "v")
    val oriented = ed.select(
      when(struct($"du", $"u") < struct($"dv", $"v"),
        struct($"u".as("s"), $"v".as("t"), $"dv".as("dt")))
        .otherwise(struct($"v".as("s"), $"u".as("t"), $"du".as("dt"))).as("e"))
      .select($"e.s".as("s"), $"e.t".as("t"), $"e.dt".as("dt"))
      .localCheckpoint()
    // wedge (s→t1, s→t2) ordered by target rank, so the closing edge —
    // if it exists — is oriented exactly (t1→t2)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") &&
          (struct(col("e1.dt"), col("e1.t")) < struct(col("e2.dt"), col("e2.t"))))
      .select(col("e1.t").as("ws"), col("e2.t").as("wt"))
    val tri = wedges
      .join(oriented.select($"s".as("ws"), $"t".as("wt")), Seq("ws", "wt"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val stats = e.agg(count(lit(1)).as("n_edges"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      sum($"deg" * ($"deg" - 1)).as("dd"))
    nodes.crossJoin(stats).crossJoin(tri)
      .select($"n_nodes", $"n_edges",
        expr("dd div 2").as("n_wedges"),
        $"n_triangles",
        when($"dd" > 0, expr("6000000 * n_triangles div dd"))
          .otherwise(lit(0L)).as("gcc_ppm"))
  }

  val q116Oracle: String =
    """WITH items AS (
         SELECT DISTINCT l_orderkey AS ord, l_partkey AS p FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1995-04-01'),
       e AS (
         SELECT DISTINCT a.p AS u, b.p AS v
         FROM items a JOIN items b USING (ord) WHERE a.p < b.p),
       deg AS (
         SELECT n, CAST(count(*) AS BIGINT) AS deg
         FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
       ed AS (
         SELECT u, v, du.deg AS du, dv.deg AS dv
         FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
       o AS (
         SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS s,
                CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS t,
                CASE WHEN (du, u) < (dv, v) THEN dv ELSE du END AS dt
         FROM ed),
       w AS (
         SELECT e1.t AS ws, e2.t AS wt
         FROM o e1 JOIN o e2
           ON e1.s = e2.s AND (e1.dt, e1.t) < (e2.dt, e2.t)),
       tri AS (
         SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM w
         WHERE EXISTS (SELECT 1 FROM o WHERE o.s = w.ws AND o.t = w.wt)),
       st AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
       nd AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                CAST(sum(deg * (deg - 1)) AS BIGINT) AS dd
              FROM deg)
       SELECT n_nodes, n_edges, dd // 2 AS n_wedges, n_triangles,
         CASE WHEN dd > 0 THEN 6000000 * n_triangles // dd ELSE 0 END AS gcc_ppm
       FROM nd CROSS JOIN st CROSS JOIN tri"""

  /** Multi-source BFS hop distance (q150) over the supplier↔part
    * bipartite supply graph (q82's edge set: distinct (l_partkey,
    * l_suppkey) pairs; node ids disambiguated as supplier = 2·suppkey,
    * part = 2·partkey+1). Seeds: suppliers with suppkey ≡ 1 (mod 100),
    * distance 0; output is every node reachable within 6 hops with its
    * MINIMUM hop count — the reachability / contamination-radius
    * primitive (how far does a bad crawl seed spread through the dup
    * graph?) alongside components (q71) and PageRank (q82).
    *
    * Spark-side: level-synchronous frontier expansion — per round, join
    * the frontier against the edge list, anti-probe the visited set,
    * localCheckpoint both. Each round is one bounded join over `edges`,
    * so total work is O(rounds · m) REGARDLESS of path multiplicity.
    * The oracle's only pure-SQL formulation — a recursive CTE whose
    * working set is every distinct (node, dist) pair it has ever
    * derived — re-derives rows once per incoming path length and cannot
    * early-prune non-minimal distances (same asymmetry the engine
    * exploits in q71: iterative dataflow is the right tool, SQL
    * recursion isn't). Edges are checkpointed once and re-partitioned
    * on the probe key so every round's join reuses the same layout; the
    * frontier/visited sides are broadcast ONLY under a measured-count
    * gate (`ScaleGuard.broadcastIfSmall` — the worst-hop frontier is
    * graph-sized in an expander, and an explicit hint does NOT fall
    * back on size: past the 8 GB cap the broadcast build fails, it
    * does not degrade). Past the gate the joins run as shuffle joins
    * and the loop is data-bound, which is then correct. */
  def q150BfsHops(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ps = Tables.lineitem(s, d)
      .select(($"l_suppkey" * 2).as("sn"), ($"l_partkey" * 2 + 1).as("pn"))
      .distinct()
    val edges = ps.select($"sn".as("src"), $"pn".as("dst"))
      .union(ps.select($"pn".as("src"), $"sn".as("dst")))
    val seeds = Tables.supplier(s, d)
      .filter($"s_suppkey" % 100 === 1)
      .select(($"s_suppkey" * 2).as("node"))
    bfsHops(edges, seeds, maxHops = 6).orderBy($"node")
  }

  /** Level-synchronous multi-source BFS: minimum hop distance from any
    * seed, capped at `maxHops`. `edges` is a DIRECTED (src, dst) list —
    * symmetrize before calling for undirected semantics. The iterative
    * core of [[q150BfsHops]], exposed for direct testing on crafted
    * graphs (chains exercise the multi-round path and the hop cap). */
  def bfsHops(edgesIn: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val edges = edgesIn.toDF("src", "dst")
      .repartition($"src")
      .localCheckpoint()
    // visited = the accumulated per-round frontiers. Each frontier is
    // checkpointed ONCE when produced; the running union of ≤ maxHops
    // flat checkpoints needs no re-checkpoint per round (the earlier
    // union-and-recheckpoint form paid a second materialization job
    // every round — pure per-round floor, ~20% of q150 at sf0.1).
    var frontiers = List(
      seeds.select($"node", lit(0L).as("dist")).localCheckpoint())
    // per-round frontier counts: the loop needs an emptiness probe
    // anyway, and the FULL count (over the just-checkpointed rows —
    // one cheap job on materialized partitions) doubles as the
    // broadcast gate's proof. Frontiers are disjoint by construction
    // (anti-joined against all earlier rounds), so the visited-set
    // count is the running sum.
    var frontierCnt = frontiers.head.count()
    var visitedCnt = frontierCnt
    var frontier = frontiers.head
    var hop = 0
    while (hop < maxHops && frontierCnt > 0) {
      hop += 1
      val visitedNodes = frontiers.map(_.select($"node".as("vn")))
        .reduce(_ union _)
      val next = edges
        .join(graft.plans.ScaleGuard.broadcastIfSmall(frontier, frontierCnt),
          edges("src") === frontier("node"))
        .select($"dst".as("node")).distinct()
        .join(graft.plans.ScaleGuard.broadcastIfSmall(visitedNodes, visitedCnt),
          $"node" === $"vn", "left_anti")
        .select($"node", lit(hop.toLong).as("dist"))
        .localCheckpoint()
      frontiers ::= next
      frontier = next
      frontierCnt = next.count()
      visitedCnt += frontierCnt
    }
    frontiers.reduce(_ union _)
  }

  val q150Oracle: String =
    """WITH RECURSIVE ps AS (
         SELECT DISTINCT l_suppkey * 2 AS sn, l_partkey * 2 + 1 AS pn
         FROM lineitem),
       walk(node, dist) AS (
         SELECT s_suppkey * 2, 0 FROM supplier WHERE s_suppkey % 100 = 1
         UNION
         SELECT CASE WHEN w.node % 2 = 0 THEN pn ELSE sn END,
                w.dist + 1
         FROM walk w JOIN ps
           ON (w.node % 2 = 0 AND sn = w.node)
           OR (w.node % 2 = 1 AND pn = w.node)
         WHERE w.dist < 6)
       SELECT node, CAST(min(dist) AS BIGINT) AS dist
       FROM walk GROUP BY node ORDER BY node"""

  /** Weighted bipartite projection + item-item top-k (q157): the
    * order–part basket relation projected onto a part–part
    * co-purchase graph with co-occurrence weights, then the 3
    * strongest partners per part (ties broken by partner id) — the
    * graph-construction half of every neighborhood recommender, and
    * the weighted sibling of q116's unweighted edge set.
    *
    * Scale shape: pair generation is BLOCKED BY ORDER KEY with the
    * blocking done as one collect_set aggregation (partial-capable,
    * buffers bounded by basket size ≤ 7) followed by a per-basket HOF
    * cross-expansion — ≤ 42 directed pairs per order, never |parts|²,
    * and NO self-join: the first formulation (items ⋈ items on ord)
    * scanned lineitem twice, ran the distinct twice, and broadcast a
    * fact-sized side; this one reads the fact once and ships it
    * through one exchange (locally both bottom out on the same
    * single-row-group scan task, so wall-clock ties at sf0.1 — at
    * cluster scale the halved scan+shuffle volume is the win).
    * Pair counts partially
    * aggregate before the one shuffle on (part, partner); the per-part
    * top-3 is a row_number the optimizer caps with WindowGroupLimit
    * (the bounded TopK Aggregator of q68 is the alternative when
    * k·|parts| partials must stay tiny). */
  def q157CoPurchase(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.lineitem(s, d)
      .select($"l_orderkey".as("ord"), $"l_partkey".as("p"))
      .groupBy($"ord").agg(collect_set($"p").as("ps"))
      .select(explode(expr(
        """flatten(transform(ps,
             x -> transform(ps, y -> struct(x AS part, y AS partner))))"""))
        .as("pr"))
      .select($"pr.part".as("part"), $"pr.partner".as("partner"))
      .filter($"part" =!= $"partner")
      .groupBy($"part", $"partner").agg(count(lit(1)).as("n_co"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"part").orderBy($"n_co".desc, $"partner")
    pairs.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"part", $"rk", $"partner", $"n_co")
      .orderBy($"part", $"rk")
  }

  val q157Oracle: String =
    """WITH items AS (
         SELECT DISTINCT l_orderkey AS ord, l_partkey AS p FROM lineitem),
       pr AS (
         SELECT a.p AS part, b.p AS partner, CAST(count(*) AS BIGINT) AS n_co
         FROM items a JOIN items b USING (ord) WHERE a.p <> b.p
         GROUP BY 1, 2),
       rk AS (
         SELECT part, partner, n_co,
           CAST(row_number() OVER (PARTITION BY part
                ORDER BY n_co DESC, partner) AS BIGINT) AS rk
         FROM pr)
       SELECT part, rk, partner, n_co FROM rk WHERE rk <= 3
       ORDER BY part, rk"""

  /** Degree assortativity of the part→supplier bipartite graph: the
    * Pearson correlation, across EDGES, between the two endpoint
    * degrees — do well-connected parts ship through well-connected
    * suppliers (r>0), or do hubs pair with leaves (r<0, the typical
    * supply-chain / web shape)? The sign decides real strategy: a
    * disassortative dedup graph means cluster sizes are hub-driven and
    * salting the hot key (q87) is mandatory; an assortative one
    * shuffles evenly. Also emits max degree per side (the hub size the
    * skew planner needs).
    *
    * Parity: all six moments (n, Σx, Σy, Σx², Σy², Σxy) are exact
    * int64 sums over integer degrees (bounds: every product n·Σ ≲
    * 10¹⁷ at sf0.1 — inside int64); r_bp is ONE shared expression
    * tree of IEEE ops (int64→double conversions, two sqrt, one
    * division, floor) — each correctly rounded, so both engines land
    * the identical basis point.
    *
    * Shape: edge dedup is one shuffle; each endpoint degree is a COUNT
    * window over the edge list itself partitioned on that endpoint
    * (the q82 trick — no degree-table self-joins), so two further
    * exchanges of the edge list; the moment reduce is partial-agg to
    * ONE row. The join formulation would shuffle exactly as much and
    * add two joins. */
  def q179Assortativity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val edges = Tables.lineitem(s, d)
      .select($"l_partkey".as("src"), $"l_suppkey".as("dst"))
      .distinct()
    edges
      .withColumn("x", count(lit(1)).over(w.partitionBy($"src")))
      .withColumn("y", count(lit(1)).over(w.partitionBy($"dst")))
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"x" * $"y").as("sxy"),
        max($"x").as("max_pdeg"), max($"y").as("max_sdeg"))
      .select($"n".as("n_edges"), $"max_pdeg", $"max_sdeg",
        floor((($"n" * $"sxy" - $"sx" * $"sy") * lit(10000.0)) /
          (sqrt(($"n" * $"sxx" - $"sx" * $"sx") * lit(1.0)) *
            sqrt(($"n" * $"syy" - $"sy" * $"sy") * lit(1.0))))
          .cast("long").as("r_bp"))
  }

  val q179Oracle: String =
    """WITH edges AS (
         SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem),
       dp AS (SELECT src, CAST(count(*) AS BIGINT) AS x FROM edges GROUP BY 1),
       ds AS (SELECT dst, CAST(count(*) AS BIGINT) AS y FROM edges GROUP BY 1),
       e AS (SELECT x, y FROM edges JOIN dp USING (src) JOIN ds USING (dst)),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*x) AS BIGINT) AS sxx,
               CAST(sum(y*y) AS BIGINT) AS syy, CAST(sum(x*y) AS BIGINT) AS sxy,
               CAST(max(x) AS BIGINT) AS max_pdeg, CAST(max(y) AS BIGINT) AS max_sdeg
             FROM e)
       SELECT n AS n_edges, max_pdeg, max_sdeg,
         CAST(floor(((n*sxy - sx*sy) * 10000.0) /
           (sqrt((n*sxx - sx*sx) * 1.0) * sqrt((n*syy - sy*sy) * 1.0))) AS BIGINT) AS r_bp
       FROM m"""

  /** One HITS iteration over the part→supplier bipartite graph (q239):
    * from uniform hub scores, authority(s) = Σ hubs pointing at s
    * (= in-degree), then hub(p) = Σ authority of p's suppliers — the
    * mutually-recursive centrality pair, cut after one exact integer
    * iteration (unnormalized: HITS normalization only rescales ranks,
    * and dropping it keeps every score an exact int64 — the same
    * fixed-point-step discipline as q82's PageRank flow). A hub here
    * is a part sourced from well-connected suppliers; an authority a
    * supplier serving many parts — second-order degree centrality.
    *
    * Shape: one distinct shuffle builds the edge list; authorities are
    * a partial-agg groupBy; the hub pass joins the |suppliers|-sized
    * authority relation back UN-HINTED — AQE broadcasts it from
    * runtime stats at any scale where it fits (keeping the fact-sized
    * edge list un-reshuffled) and degrades to a shuffle join past the
    * threshold, where an explicit hint would instead fail the 8 GB
    * broadcast build (|suppliers| scales linearly with the data —
    * VERDICT r9 #1); both top-10s are TakeOrdered heaps, no global
    * sort. */
  def q239HitsStep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = Tables.lineitem(s, d)
      .select($"l_partkey".as("p"), $"l_suppkey".as("sp")).distinct()
    val auth = edges.groupBy($"sp").agg(count(lit(1)).as("score"))
    val topAuth = auth
      .select(lit("authority").as("role"), $"sp".as("node"), $"score")
      .orderBy($"score".desc, $"node").limit(10)
    val hubs = edges.join(auth, "sp")
      .groupBy($"p").agg(sum($"score").as("score"))
    val topHubs = hubs
      .select(lit("hub").as("role"), $"p".as("node"), $"score")
      .orderBy($"score".desc, $"node").limit(10)
    topAuth.unionByName(topHubs).orderBy($"role", $"score".desc, $"node")
  }

  val q239Oracle: String =
    """WITH edges AS (
         SELECT DISTINCT l_partkey AS p, l_suppkey AS sp FROM lineitem),
       auth AS (
         SELECT sp, CAST(count(*) AS BIGINT) AS score FROM edges GROUP BY sp),
       ta AS (
         SELECT 'authority' AS role, sp AS node, score
         FROM auth ORDER BY score DESC, node LIMIT 10),
       hubs AS (
         SELECT p, CAST(sum(score) AS BIGINT) AS score
         FROM edges JOIN auth USING (sp) GROUP BY p),
       th AS (
         SELECT 'hub' AS role, p AS node, score
         FROM hubs ORDER BY score DESC, node LIMIT 10)
       SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
       ORDER BY role, score DESC, node"""

  /** PageRank iterated to round 3 with a convergence read-out (q237):
    * q82 is ONE power-iteration step; this is the multi-round version
    * every real ranking run needs — re-broadcast the rank vector, one
    * join + one aggregation per round, and an L1-delta between the
    * last two same-side rounds that tells you when to stop. Each round
    * computes r(dst) = 150000 + Σ_src (850000·r(src)/10⁶) div outdeg
    * in exact int64 micro-units (integer `div` truncation dust is
    * deterministic in both engines). The bipartite rank alternates
    * sides naturally: parts push to suppliers (rounds 1, 3), suppliers
    * push back through the same edges (round 2), so after 3 rounds the
    * supplier ranks carry 3-hop structure. Rank mass is NOT conserved
    * exactly (truncation sheds micro-dust) — the supplier-side L1
    * delta between rounds 3 and 1 is the stopping signal.
    *
    * Shape per round: the rank relation is |one side| (bounded by
    * suppliers/parts, both ≪ edges — but both scale LINEARLY with the
    * data, so it is never hinted); it joins into the edge list
    * un-hinted and AQE broadcasts it from runtime stats wherever it
    * fits, keeping the edge list un-reshuffled, and degrades to a
    * shuffle join past the threshold — where an explicit hint would
    * instead fail the 8 GB broadcast build (VERDICT r9 #1). One
    * partial-agg groupBy lands the next vector per round; the loop is
    * the q71/q150/q238 iterative-dataflow idiom. Top-10 + a 1-row
    * delta summary out. */
  def q237PagerankLoop(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = Tables.lineitem(s, d)
      .select($"l_partkey".as("p"), $"l_suppkey".as("sp"))
      .distinct().localCheckpoint()
    val pdeg = edges.groupBy($"p").agg(count(lit(1)).as("pdeg"))
    val sdeg = edges.groupBy($"sp").agg(count(lit(1)).as("sdeg"))
    val ep = edges.join(pdeg, "p")
    val es = edges.join(sdeg, "sp")
    // round 1: uniform part rank 1e6 → suppliers
    val r1 = ep.groupBy($"sp")
      .agg((lit(150000L) + sum(expr("850000 div pdeg"))).as("r"))
    // round 2: suppliers push back to parts
    val r2 = es.join(r1, "sp")
      .groupBy($"p")
      .agg((lit(150000L) + sum(expr("(850000 * r div 1000000) div sdeg")))
        .as("r"))
    // round 3: parts push to suppliers again
    val r3 = ep.join(r2, "p")
      .groupBy($"sp")
      .agg((lit(150000L) + sum(expr("(850000 * r div 1000000) div pdeg")))
        .as("r"))
    val delta = r3.join(r1.select($"sp", $"r".as("r_prev")), "sp")
      .agg(sum(abs($"r" - $"r_prev")).as("l1_delta_micro"),
        count(lit(1)).as("n_nodes"))
      .select(lit(0L).as("node"), lit("delta").as("kind"),
        $"l1_delta_micro".as("value"), $"n_nodes")
    val top = r3.orderBy($"r".desc, $"sp").limit(10)
      .select($"sp".as("node"), lit("rank3").as("kind"),
        $"r".as("value"), lit(0L).as("n_nodes"))
    top.unionByName(delta).orderBy($"kind", $"value".desc, $"node")
  }

  val q237Oracle: String =
    """WITH edges AS (
         SELECT DISTINCT l_partkey AS p, l_suppkey AS sp FROM lineitem),
       pdeg AS (SELECT p, CAST(count(*) AS BIGINT) AS pdeg FROM edges GROUP BY p),
       sdeg AS (SELECT sp, CAST(count(*) AS BIGINT) AS sdeg FROM edges GROUP BY sp),
       r1 AS (
         SELECT sp, CAST(150000 + sum(850000 // pdeg) AS BIGINT) AS r
         FROM edges JOIN pdeg USING (p) GROUP BY sp),
       r2 AS (
         SELECT p, CAST(150000 + sum((850000 * r // 1000000) // sdeg) AS BIGINT) AS r
         FROM edges JOIN sdeg USING (sp) JOIN r1 USING (sp) GROUP BY p),
       r3 AS (
         SELECT sp, CAST(150000 + sum((850000 * r // 1000000) // pdeg) AS BIGINT) AS r
         FROM edges JOIN pdeg USING (p) JOIN r2 USING (p) GROUP BY sp),
       delta AS (
         SELECT CAST(0 AS BIGINT) AS node, 'delta' AS kind,
           CAST(sum(abs(r3.r - r1.r)) AS BIGINT) AS value,
           CAST(count(*) AS BIGINT) AS n_nodes
         FROM r3 JOIN r1 USING (sp)),
       top AS (
         SELECT sp AS node, 'rank3' AS kind, r AS value, CAST(0 AS BIGINT) AS n_nodes
         FROM r3 ORDER BY r DESC, sp LIMIT 10)
       SELECT * FROM (SELECT * FROM top UNION ALL SELECT * FROM delta)
       ORDER BY kind, value DESC, node"""

  /** k-core peeling (k=4, 4 synchronous rounds) over the sparse
    * part–supplier bipartite slice (distinct edges with quantity ≤ 3 —
    * the full graph is too dense to peel): each round removes every
    * alive node whose CURRENT degree is < 4 (isolated nodes count as
    * degree 0) and drops their edges; the per-round removal counts are
    * the classic cascade signature (one large first round, small
    * aftershocks, fixpoint). The surviving subgraph is the 4-core —
    * the standard "dense interaction core" extraction used for
    * community seeding and spam/botnet analysis, and the iterative-
    * peeling primitive PageRank/HITS/CC (q237/q239/q71) don't cover.
    *
    * Scale: each round is one degree aggregation over the remaining
    * edges (partial-agg groupBy after a union of endpoints) and one
    * semi-join filter of the edge relation against the alive set —
    * edges shrink monotonically, and the edge relation is
    * re-checkpointed per round so lineage stays flat (q237's driver-
    * loop contract; only 1-row counts ever reach the driver). Fixed
    * round count keeps the oracle expressible as 4 nested CTEs; real
    * peeling runs to fixpoint with the same per-round plan. */
  def q278KcorePeel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    var edges = Tables.lineitem(s, d)
      .filter($"l_quantity" <= 3)
      .select(($"l_partkey" * 2).as("u"), ($"l_suppkey" * 2 + 1).as("v"))
      .distinct()
      .localCheckpoint()
    var alive = edges.select($"u".as("x"))
      .union(edges.select($"v".as("x"))).distinct().localCheckpoint()
    val out = collection.mutable.ListBuffer[(Long, Long, Long, Long)]()
    for (r <- 1 to 4) {
      val deg = edges.select($"u".as("x")).unionAll(edges.select($"v".as("x")))
        .groupBy($"x").agg(count(lit(1)).as("deg"))
      val nextAlive = alive.join(deg, Seq("x"), "left")
        .filter(coalesce($"deg", lit(0L)) >= 4)
        .select($"x").localCheckpoint()
      val nAlive = nextAlive.count()
      val nRemoved = alive.count() - nAlive
      edges = edges
        .join(nextAlive.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
        .join(nextAlive.withColumnRenamed("x", "v"), Seq("v"), "left_semi")
        .localCheckpoint()
      alive = nextAlive
      out += ((r.toLong, nRemoved, nAlive, edges.count()))
    }
    out.toSeq.toDF("round", "n_removed", "n_alive", "n_edges")
      .orderBy($"round")
  }

  val q278Oracle: String = {
    // 4 unrolled synchronous peel rounds; aN/eN = alive nodes / edges
    // after round N. coalesce(deg,0) keeps isolated alive nodes peelable.
    // AS MATERIALIZED: without it DuckDB re-inlines each round's CTEs
    // into every later reference and the plan blows up exponentially
    // (the q182 pathology; hung at sf0.01 un-hinted, 0.04 s hinted)
    def round(n: Int) = {
      val p = n - 1
      s"""d$n AS MATERIALIZED (SELECT x, CAST(count(*) AS BIGINT) AS deg
              FROM (SELECT u AS x FROM e$p UNION ALL SELECT v AS x FROM e$p)
              GROUP BY x),
         a$n AS MATERIALIZED (SELECT a$p.x FROM a$p LEFT JOIN d$n ON a$p.x = d$n.x
                 WHERE coalesce(d$n.deg, 0) >= 4),
         e$n AS MATERIALIZED (SELECT u, v FROM e$p
                 WHERE u IN (SELECT x FROM a$n) AND v IN (SELECT x FROM a$n)),
         r$n AS (SELECT CAST($n AS BIGINT) AS round,
                  (SELECT count(*) FROM a$p) - (SELECT count(*) FROM a$n) AS n_removed,
                  (SELECT CAST(count(*) AS BIGINT) FROM a$n) AS n_alive,
                  (SELECT CAST(count(*) AS BIGINT) FROM e$n) AS n_edges)"""
    }
    s"""WITH e0 AS MATERIALIZED (
         SELECT DISTINCT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v
         FROM lineitem WHERE l_quantity <= 3),
       a0 AS MATERIALIZED (SELECT u AS x FROM e0 UNION SELECT v AS x FROM e0),
       ${round(1)}, ${round(2)}, ${round(3)}, ${round(4)}
       SELECT round, CAST(n_removed AS BIGINT) AS n_removed, n_alive, n_edges
       FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
             UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4)
       ORDER BY round"""
  }

  /** Adamic–Adar link prediction (q319): score NON-adjacent part
    * pairs in the Q1-1995 co-purchase graph (q116's edge set) by
    * Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w) — the classic "which links are
    * missing?" heuristic (recommenders, dedup-graph edge recovery).
    * Per-center weights are quantized to micro FIRST
    * (⌊10⁶/ln(deg)⌋, deg ≥ 2 so ln > 0), then only integer sums —
    * exact. Candidates come from the wedge join through each center;
    * existing edges are removed by a null-producing left join (an
    * anti join in effect); top-25 fully tie-broken (score, u, v) via
    * orderBy+limit = TakeOrdered, no global sort materialized.
    *
    * Scale: wedges are Θ(Σ deg²) — hub centers are capped at
    * deg ≤ 50 (their per-wedge weight ≤ 1/ln 51 ≈ 0.26 is the
    * smallest anyway; the cap is the standard AA scale mitigation
    * and is part of this operator's CONTRACT, not an approximation
    * flag). */
  def q319AdamicAdar(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-01-01").cast("timestamp"))
      .select($"l_orderkey".as("ord"), $"l_partkey".as("p"))
      .distinct()
    val e = items.as("a").join(items.as("b"), "ord")
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .filter($"u" < $"v")
      .distinct()
      .localCheckpoint() // feeds degree, adjacency, and the anti probe
    val deg = e.select(explode(array($"u", $"v")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val adj = e.select($"u".as("w"), $"v".as("n"))
      .unionByName(e.select($"v".as("w"), $"u".as("n")))
    val centers = deg.filter($"deg".between(2, 50))
      .select($"n".as("w"),
        floor(lit(1000000.0) / log($"deg")).cast("long").as("wt"))
    val wedge = adj.as("a").join(adj.as("b"),
        col("a.w") === col("b.w") && col("a.n") < col("b.n"))
      .select(col("a.w").as("w"), col("a.n").as("u"), col("b.n").as("v"))
      .join(centers, "w")
    val aa = wedge.groupBy($"u", $"v")
      .agg(count(lit(1)).as("common"), sum($"wt").as("aa_micro"))
    aa.join(e, Seq("u", "v"), "left_anti")
      .orderBy($"aa_micro".desc, $"u", $"v")
      .limit(25)
      .select($"u", $"v", $"common", $"aa_micro")
  }

  val q319Oracle: String =
    """WITH items AS (
         SELECT DISTINCT l_orderkey AS ord, l_partkey AS p
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'),
       e AS (
         SELECT DISTINCT a.p AS u, b.p AS v
         FROM items a JOIN items b ON a.ord = b.ord AND a.p < b.p),
       deg AS (
         SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
       adj AS (SELECT u AS w, v AS n FROM e UNION ALL SELECT v, u FROM e),
       wedge AS (
         SELECT a.n AS u, b.n AS v, CAST(floor(1000000.0 / ln(d.deg)) AS BIGINT) AS wt
         FROM adj a JOIN adj b ON a.w = b.w AND a.n < b.n
         JOIN deg d ON d.n = a.w
         WHERE d.deg BETWEEN 2 AND 50),
       aa AS (
         SELECT u, v, CAST(count(*) AS BIGINT) AS common, CAST(sum(wt) AS BIGINT) AS aa_micro
         FROM wedge GROUP BY 1, 2),
       cand AS (
         SELECT aa.u, aa.v, aa.common, aa.aa_micro
         FROM aa LEFT JOIN e ON aa.u = e.u AND aa.v = e.v
         WHERE e.u IS NULL)
       SELECT u, v, common, aa_micro FROM cand
       ORDER BY aa_micro DESC, u, v LIMIT 25"""

  /** Semi-supervised label propagation, one synchronous round (q320):
    * seed 10% of parts with their brand (partkey % 10 — the
    * labeled-subset simulation), propagate across the co-purchase
    * graph by seed-neighbor majority vote, argmax fully tie-broken
    * (votes desc, label asc). Output is the per-label adoption
    * summary plus a '_NONE' row for reachable-but-unvoted nodes —
    * the coverage number that tells you how many LPA rounds the
    * corpus actually needs (multi-round = driver loop, q237
    * discipline).
    *
    * Scale: votes = edges × seed fraction (linear); the argmax is a
    * node-partitioned window; the summary is brand-bounded. */
  def q320LabelProp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r14 (the q157 blocking discipline, applied after the r13
    // regression flag partially reproduced in a fresh-JVM probe —
    // 1.17 s vs the r12 0.79 s): the old items⋈items self-join
    // scanned the filtered fact twice and ran its distinct twice; one
    // collect_set basket + a u<v HOF expansion reads the fact once
    // and ships one exchange — ≤21 pairs per order, never |parts|²
    val e = Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-01-01").cast("timestamp"))
      .select($"l_orderkey".as("ord"), $"l_partkey".as("p"))
      .groupBy($"ord").agg(collect_set($"p").as("ps"))
      .select(explode(expr(
        """flatten(transform(ps,
             x -> transform(filter(ps, y -> y > x),
               y -> struct(x AS u, y AS v))))""")).as("pr"))
      .select($"pr.u".as("u"), $"pr.v".as("v"))
      .distinct()
      .localCheckpoint()
    val adj = e.select($"u".as("src"), $"v".as("dst"))
      .unionByName(e.select($"v".as("src"), $"u".as("dst")))
    val seeds = Tables.part(s, d)
      .filter($"p_partkey" % 10 === 0)
      .select($"p_partkey".as("node"), $"p_brand".as("label"))
    val unlab = adj.select($"src".as("node")).distinct()
      .join(seeds.select($"node"), Seq("node"), "left_anti")
    val votes = adj.join(seeds.withColumnRenamed("node", "dst"), "dst")
      .select($"src".as("node"), $"label")
      .join(unlab, Seq("node"), "left_semi")
      .groupBy($"node", $"label").agg(count(lit(1)).as("votes"))
    val lab = votes.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"node").orderBy($"votes".desc, $"label")))
      .filter($"rn" === 1)
    val summary = lab.groupBy($"label")
      .agg(count(lit(1)).as("n_nodes"), sum($"votes").as("total_votes"))
    val nolab = unlab
      .join(votes.select($"node").distinct(), Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit("_NONE").as("label"), $"n_nodes",
        lit(0L).as("total_votes"))
      .filter($"n_nodes" > 0)
    summary.unionByName(nolab).orderBy($"label")
  }

  val q320Oracle: String =
    """WITH items AS (
         SELECT DISTINCT l_orderkey AS ord, l_partkey AS p
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'),
       e AS (
         SELECT DISTINCT a.p AS u, b.p AS v
         FROM items a JOIN items b ON a.ord = b.ord AND a.p < b.p),
       adj AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
       seeds AS (
         SELECT p_partkey AS node, p_brand AS label FROM part WHERE p_partkey % 10 = 0),
       unlab AS (
         SELECT DISTINCT src AS node FROM adj
         WHERE src NOT IN (SELECT node FROM seeds)),
       votes AS (
         SELECT a.src AS node, s.label, CAST(count(*) AS BIGINT) AS votes
         FROM adj a JOIN seeds s ON a.dst = s.node
         JOIN unlab u ON a.src = u.node
         GROUP BY 1, 2),
       pred AS (
         SELECT node, label, votes,
           row_number() OVER (PARTITION BY node ORDER BY votes DESC, label) AS rn
         FROM votes),
       lab AS (SELECT node, label, votes FROM pred WHERE rn = 1),
       summary AS (
         SELECT label, CAST(count(*) AS BIGINT) AS n_nodes, CAST(sum(votes) AS BIGINT) AS total_votes
         FROM lab GROUP BY 1),
       nolab AS (
         SELECT '_NONE' AS label, CAST(count(*) AS BIGINT) AS n_nodes, CAST(0 AS BIGINT) AS total_votes
         FROM unlab WHERE node NOT IN (SELECT node FROM votes))
       SELECT label, n_nodes, total_votes FROM summary
       UNION ALL SELECT label, n_nodes, total_votes FROM nolab WHERE n_nodes > 0
       ORDER BY label"""

  /** Newman modularity of a community assignment (q341): score the
    * BRAND partition of the 1995 co-purchase graph —
    * Q = Σ_c [e_in(c)/m − (d(c)/2m)²] — the objective Louvain/LPA
    * optimize, exposed as the measuring stick so a driver loop
    * (q320's rounds) can compare partitions. Near-zero Q here is the
    * honest finding: brands do NOT cluster co-purchases. Integer
    * e_in/m term (floor-div), one float-floor for the degree term;
    * both per-community and the summed global Q (fixed total over
    * the bounded community relation).
    *
    * Scale: two broadcast-dim hash joins tag edge endpoints; counts
    * group by community (bounded); no per-node state. */
  def q341Modularity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-01-01").cast("timestamp"))
      .select($"l_orderkey".as("ord"), $"l_partkey".as("p"))
      .distinct()
    val e = items.as("a").join(items.as("b"), "ord")
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .filter($"u" < $"v")
      .distinct()
      .localCheckpoint()
    val cassign = Tables.part(s, d)
      .select($"p_partkey".as("node"), $"p_brand".as("c"))
    val m = e.agg(count(lit(1)).as("m"))
    // cassign is part-table-sized (scales with SF) — no forced
    // broadcast on these equi-joins (stats/AQE pick the build side)
    val intra = e
      .join(cassign.withColumnRenamed("node", "u")
        .withColumnRenamed("c", "cu"), "u")
      .join(cassign.withColumnRenamed("node", "v")
        .withColumnRenamed("c", "cv"), "v")
      .filter($"cu" === $"cv")
      .groupBy($"cu".as("c")).agg(count(lit(1)).as("e_in"))
    val deg = e.select($"u".as("node")).unionByName(e.select($"v".as("node")))
      .join(cassign, "node")
      .groupBy($"c").agg(count(lit(1)).as("dtot"))
    deg.join(intra, Seq("c"), "left").crossJoin(broadcast(m))
      .selectExpr("c", "COALESCE(e_in, 0) AS e_in", "dtot", "m")
      .selectExpr("c", "e_in", "dtot",
        """1000000 * e_in div m
           - CAST(floor(1000000.0 * dtot * dtot / (4.0 * m * m)) AS BIGINT) AS q_micro""")
      .withColumn("modularity_micro", sum($"q_micro").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select($"c".as("community"), $"e_in", $"dtot", $"q_micro",
        $"modularity_micro")
      .orderBy($"community")
  }

  val q341Oracle: String =
    """WITH items AS (
         SELECT DISTINCT l_orderkey AS ord, l_partkey AS p
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'),
       e AS (
         SELECT DISTINCT a.p AS u, b.p AS v
         FROM items a JOIN items b ON a.ord = b.ord AND a.p < b.p),
       cassign AS (SELECT p_partkey AS node, p_brand AS c FROM part),
       m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
       intra AS (
         SELECT ca.c, CAST(count(*) AS BIGINT) AS e_in
         FROM e JOIN cassign ca ON e.u = ca.node
         JOIN cassign cb ON e.v = cb.node
         WHERE ca.c = cb.c GROUP BY 1),
       deg AS (
         SELECT ca.c, CAST(count(*) AS BIGINT) AS dtot
         FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) x
         JOIN cassign ca ON x.node = ca.node GROUP BY 1),
       terms AS (
         SELECT d.c, COALESCE(i.e_in, 0) AS e_in, d.dtot,
           1000000 * COALESCE(i.e_in, 0) // m.m
             - CAST(floor(1000000.0 * d.dtot * d.dtot / (4.0 * m.m * m.m)) AS BIGINT) AS q_micro
         FROM deg d LEFT JOIN intra i ON d.c = i.c CROSS JOIN m)
       SELECT c AS community, e_in, dtot, q_micro,
         CAST(sum(q_micro) OVER () AS BIGINT) AS modularity_micro
       FROM terms ORDER BY c"""

  /** Co-purchase recommender evaluation (q355): hold out even-key
    * orders, recommend top-3 co-purchased parts from the odd-key
    * fold, and score precision@3 on held-out co-occurrence against
    * the popularity-top-3 baseline — the lift-over-popularity readout
    * every recsys ships. On this synthetic (random) graph the model
    * LOSES to popularity — the honest null that motivates the
    * baseline comparison. All counting; per-source windows; the lift
    * ratio is one double, floored once, with a −1 sentinel when the
    * baseline has no hits (both engines identically). */
  def q355RecEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-01-01").cast("timestamp"))
      .select($"l_orderkey".as("ord"), $"l_partkey".as("p"),
        ($"l_orderkey" % 2).as("fold"))
      .distinct()
      .localCheckpoint()
    val trainPairs = items.filter($"fold" === 1).as("a")
      .join(items.filter($"fold" === 1).as("b"),
        col("a.ord") === col("b.ord") && col("a.p") =!= col("b.p"))
      .groupBy(col("a.p").as("src"), col("b.p").as("rec"))
      .agg(count(lit(1)).as("cnt"))
    val top3 = trainPairs.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"src").orderBy($"cnt".desc, $"rec")))
      .filter($"rnk" <= 3).select($"src", $"rec")
    val pop3 = items.filter($"fold" === 1).groupBy($"p".as("rec"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"cnt".desc, $"rec")))
      .filter($"rnk" <= 3).select($"rec")
    val testPairs = items.filter($"fold" === 0).as("a")
      .join(items.filter($"fold" === 0).as("b"),
        col("a.ord") === col("b.ord") && col("a.p") =!= col("b.p"))
      .select(col("a.p").as("src"), col("b.p").as("rec"))
      .distinct()
      .localCheckpoint()
    val evalModel = top3.join(testPairs.withColumn("hit", lit(1L)),
        Seq("src", "rec"), "left")
      .agg(count(lit(1)).as("n_recs"),
        sum(coalesce($"hit", lit(0L))).as("hits"))
    val evalBase = top3.select($"src").distinct()
      .crossJoin(broadcast(pop3))
      .join(testPairs.withColumn("hit", lit(1L)), Seq("src", "rec"), "left")
      .agg(count(lit(1)).as("n_recs"),
        sum(coalesce($"hit", lit(0L))).as("hits"))
    evalModel.select($"n_recs".as("model_recs"), $"hits".as("model_hits"))
      .crossJoin(evalBase.select($"n_recs".as("base_recs"),
        $"hits".as("base_hits")))
      .selectExpr("model_recs", "model_hits",
        "10000 * model_hits div model_recs AS model_p_bp",
        "base_recs", "base_hits",
        "10000 * base_hits div base_recs AS base_p_bp",
        """CASE WHEN base_hits = 0 THEN -1
           ELSE CAST(floor(CAST(model_hits AS DOUBLE) * base_recs / (CAST(base_hits AS DOUBLE) * model_recs) * 1000.0) AS BIGINT)
           END AS lift_milli""")
  }

  val q355Oracle: String =
    """WITH items AS (
         SELECT DISTINCT l_orderkey AS ord, l_partkey AS p,
           CAST(l_orderkey % 2 AS BIGINT) AS fold
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'),
       train_pairs AS (
         SELECT a.p AS src, b.p AS rec, CAST(count(*) AS BIGINT) AS cnt
         FROM items a JOIN items b ON a.ord = b.ord AND a.p <> b.p
         WHERE a.fold = 1 AND b.fold = 1 GROUP BY 1, 2),
       recs AS (
         SELECT src, rec, cnt,
           row_number() OVER (PARTITION BY src ORDER BY cnt DESC, rec) AS rnk
         FROM train_pairs),
       top3 AS (SELECT src, rec FROM recs WHERE rnk <= 3),
       pop AS (
         SELECT p AS rec, row_number() OVER (ORDER BY count(*) DESC, p) AS rnk
         FROM items WHERE fold = 1 GROUP BY p),
       pop3 AS (SELECT rec FROM pop WHERE rnk <= 3),
       test_pairs AS (
         SELECT DISTINCT a.p AS src, b.p AS rec
         FROM items a JOIN items b ON a.ord = b.ord AND a.p <> b.p
         WHERE a.fold = 0),
       eval_model AS (
         SELECT CAST(count(*) AS BIGINT) AS n_recs,
           CAST(sum(CASE WHEN tp.rec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
         FROM top3 t LEFT JOIN test_pairs tp ON t.src = tp.src AND t.rec = tp.rec),
       srcs AS (SELECT DISTINCT src FROM top3),
       eval_base AS (
         SELECT CAST(count(*) AS BIGINT) AS n_recs,
           CAST(sum(CASE WHEN tp.rec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
         FROM srcs s CROSS JOIN pop3 b
         LEFT JOIN test_pairs tp ON s.src = tp.src AND b.rec = tp.rec)
       SELECT m.n_recs AS model_recs, m.hits AS model_hits,
         10000 * m.hits // m.n_recs AS model_p_bp,
         b.n_recs AS base_recs, b.hits AS base_hits,
         10000 * b.hits // b.n_recs AS base_p_bp,
         CASE WHEN b.hits = 0 THEN -1
           ELSE CAST(floor(CAST(m.hits AS DOUBLE) * b.n_recs / (CAST(b.hits AS DOUBLE) * m.n_recs) * 1000.0) AS BIGINT)
         END AS lift_milli
       FROM eval_model m CROSS JOIN eval_base b"""

  /** Network-exposure interference readout (q375, the Aronow–Samii
    * exposure-mapping shape): in a marketplace experiment, SUTVA
    * breaks when a customer's outcome moves with how many of their
    * NEIGHBORS were treated. Build the co-purchase customer graph
    * over niche parts (parts bought by 2-5 customers in 1995H1 — the
    * degree cap that keeps the pair join bounded per part; popular
    * parts carry no affinity signal anyway), map each customer's
    * exposure = treated-neighbor share (treatment = custkey parity, a
    * true A/A), bucket it into quartiles, and read the post-period
    * (1995H2) spend per (own-treatment, exposure-bucket) cell. On
    * parity assignment the product claim is a FLAT readout — the
    * null calibration any interference dashboard needs before it can
    * be trusted on a real experiment.
    *
    * Shape: one (cust, part) distinct projection; the niche filter
    * bounds the per-part pair fanout at 5²; exposure and outcome are
    * keyed partial aggs; output is ≤ 8 cells. */
  def q375ExposureMap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cp = Tables.orders(s, d)
      .filter($"o_orderdate" >= lit("1995-01-01").cast("date") &&
        $"o_orderdate" < lit("1995-07-01").cast("date"))
      .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("cust"), $"l_partkey".as("part"))
      .distinct()
      .localCheckpoint() // feeds the niche filter AND both join legs
    val niche = cp.groupBy($"part").agg(count(lit(1)).as("nc"))
      .filter($"nc" >= 2 && $"nc" <= 5).select($"part")
    val e = cp.join(niche, "part")
      .select($"part", $"cust".as("u"))
      .join(cp.select($"part", $"cust".as("v")), "part")
      .filter($"u" =!= $"v")
      .select($"u", $"v").distinct()
    val expo = e.groupBy($"u").agg(
      count(lit(1)).as("n_nbr"),
      sum($"v" % 2).as("n_treated"))
      .select($"u", $"n_nbr",
        least(expr("(10000 * n_treated div n_nbr) div 2500"), lit(3L)).as("bucket"))
    val out2 = Tables.orders(s, d)
      .filter($"o_orderdate" >= lit("1995-07-01").cast("date") &&
        $"o_orderdate" < lit("1996-01-01").cast("date"))
      .groupBy($"o_custkey".as("cust"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("spend"))
    expo.join(out2, $"u" === $"cust", "left")
      .groupBy(($"u" % 2).as("own_treated"), $"bucket")
      .agg(count(lit(1)).as("n_customers"),
        expr("sum(coalesce(spend, CAST(0 AS BIGINT))) div count(1)").as("avg_spend_cents"),
        expr("sum(n_nbr) div count(1)").as("avg_degree"))
      .orderBy($"own_treated", $"bucket")
  }

  val q375Oracle: String =
    """WITH cp AS (
         SELECT DISTINCT o_custkey AS cust, l_partkey AS part
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'),
       niche AS (
         SELECT part FROM cp GROUP BY part
         HAVING count(*) BETWEEN 2 AND 5),
       e AS (
         SELECT DISTINCT a.cust AS u, b.cust AS v
         FROM cp a JOIN niche USING (part) JOIN cp b USING (part)
         WHERE a.cust <> b.cust),
       expo AS (
         SELECT u, CAST(count(*) AS BIGINT) AS n_nbr,
           least(CAST(10000 * sum(v % 2) // count(*) AS BIGINT) // 2500, 3) AS bucket
         FROM e GROUP BY u),
       out2 AS (
         SELECT o_custkey AS cust,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS spend
         FROM orders
         WHERE o_orderdate >= DATE '1995-07-01' AND o_orderdate < DATE '1996-01-01'
         GROUP BY 1)
       SELECT expo.u % 2 AS own_treated, expo.bucket,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(COALESCE(out2.spend, 0)) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_spend_cents,
         CAST(sum(expo.n_nbr) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_degree
       FROM expo LEFT JOIN out2 ON expo.u = out2.cust
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Power-law degree-distribution fit (q385, the Clauset–Shalizi–
    * Newman recipe): is the co-purchase graph scale-free, and over
    * what tail? For each candidate cutoff d_min: the continuous MLE
    * α = 1 + n/Σ ln(d/d_min) (the estimator the log-log regressions
    * q134/q135 deliberately avoid being compared to — LSQ on log-log
    * is biased, MLE is the defensible fit), and the KS distance
    * between the empirical tail CCDF and the fitted (d/d_min)^(1−α),
    * choosing d_min by minimum KS. Degenerate tails (every degree
    * equals d_min, so the ln-sum is 0 and α is undefined — the whole
    * story at tiny scale factors) emit −1 sentinels instead of
    * vanishing.
    *
    * Parity: per-degree ln terms floor to micro-nats then
    * integer-sum (q141); α and each CCDF deviation are one double
    * tree; the exp/ln pairing follows q210's cross-engine precedent.
    * Shape: q116's edge construction → degree histogram (bounded) —
    * every fit/KS stage runs on the histogram × 3-row grid. */
  def q385PowerlawFit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1995-04-01").cast("timestamp"))
      .select($"l_orderkey".as("ord"), $"l_partkey".as("p"))
      .distinct()
    val e = items.as("a").join(items.as("b"), "ord")
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .filter($"u" < $"v").distinct()
    val hist = e.select(explode(array($"u", $"v")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("dd"))
      .groupBy($"dd".as("d")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val grid = s.range(1).select(
      explode(expr("array(CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(4 AS BIGINT))")).as("dmin"))
    val tail = grid.join(hist, $"d" >= $"dmin")
      .withColumn("lnw", $"cnt" *
        floor(log($"d".cast("double") / $"dmin") * 1000000.0).cast("long"))
      .withColumn("cumb", coalesce(sum($"cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"dmin").orderBy($"d")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
    val fit = tail.groupBy($"dmin")
      .agg(sum($"cnt").as("n_tail"), sum($"lnw").as("slnw"))
    val alpha = fit
      .withColumn("a", when($"slnw" > 0,
        lit(1.0) + $"n_tail".cast("double") * 1000000.0 / $"slnw"))
    val ks = tail.join(alpha.select($"dmin", $"n_tail".as("nt"), $"a"), "dmin")
      .filter($"a".isNotNull)
      .withColumn("dv", abs(($"nt" - $"cumb").cast("double") / $"nt"
        - exp((lit(1.0) - $"a") * log($"d".cast("double") / $"dmin"))))
      .groupBy($"dmin")
      .agg(floor(max($"dv") * 1000.0).cast("long").as("ks_milli"))
    grid.join(alpha, Seq("dmin"), "left").join(ks, Seq("dmin"), "left")
      .select($"dmin", coalesce($"n_tail", lit(0L)).as("n_tail"),
        coalesce(floor($"a" * 1000.0).cast("long"), lit(-1L)).as("alpha_milli"),
        coalesce($"ks_milli", lit(-1L)).as("ks_milli"))
      .withColumn("best_fit", $"ks_milli" >= 0 &&
        $"ks_milli" === min(when($"ks_milli" >= 0, $"ks_milli"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .orderBy($"dmin")
  }

  val q385Oracle: String =
    """WITH items AS (
         SELECT DISTINCT l_orderkey AS ord, l_partkey AS p FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1995-04-01'),
       e AS (
         SELECT DISTINCT a.p AS u, b.p AS v
         FROM items a JOIN items b USING (ord) WHERE a.p < b.p),
       hist AS (
         SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM (
           SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1)
         GROUP BY 1),
       grid AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS dmin),
       tail AS (
         SELECT g.dmin, h.d, h.cnt,
           h.cnt * CAST(floor(ln(CAST(h.d AS DOUBLE) / g.dmin) * 1000000.0) AS BIGINT) AS lnw,
           COALESCE(CAST(sum(h.cnt) OVER (PARTITION BY g.dmin ORDER BY h.d
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumb
         FROM grid g JOIN hist h ON h.d >= g.dmin),
       fit AS (
         SELECT dmin, CAST(sum(cnt) AS BIGINT) AS n_tail,
           CAST(sum(lnw) AS BIGINT) AS slnw
         FROM tail GROUP BY 1),
       alpha AS (
         SELECT dmin, n_tail,
           CASE WHEN slnw > 0
             THEN 1.0 + CAST(n_tail AS DOUBLE) * 1000000.0 / slnw END AS a
         FROM fit),
       dev AS (
         SELECT t.dmin,
           abs(CAST(al.n_tail - t.cumb AS DOUBLE) / al.n_tail
             - exp((1.0 - al.a) * ln(CAST(t.d AS DOUBLE) / t.dmin))) AS dv
         FROM tail t JOIN alpha al ON t.dmin = al.dmin
         WHERE al.a IS NOT NULL),
       ks AS (SELECT dmin, CAST(floor(max(dv) * 1000.0) AS BIGINT) AS ks_milli
              FROM dev GROUP BY 1)
       SELECT g.dmin, COALESCE(al.n_tail, 0) AS n_tail,
         COALESCE(CAST(floor(al.a * 1000.0) AS BIGINT), -1) AS alpha_milli,
         COALESCE(ks.ks_milli, -1) AS ks_milli,
         COALESCE(ks.ks_milli, -1) >= 0 AND COALESCE(ks.ks_milli, -1) =
           min(CASE WHEN ks.ks_milli >= 0 THEN ks.ks_milli END) OVER () AS best_fit
       FROM grid g LEFT JOIN alpha al ON g.dmin = al.dmin
       LEFT JOIN ks ON g.dmin = ks.dmin
       ORDER BY g.dmin"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      // -1 is the too-few-points sentinel; KS statistic itself <= 1
      Query("q385_powerlaw_fit", q385PowerlawFit, q385Oracle,
        Hooks(nonEmpty,
          range("CASE WHEN ks_milli >= 0 THEN ks_milli END", 0, 1000))),
      Query("q375_exposure_map", q375ExposureMap, q375Oracle, NoBound(Structural)),
      Query("q355_rec_eval", q355RecEval, q355Oracle,
        Hooks(nonEmpty, range("model_p_bp", 0, 10000), range("base_p_bp", 0, 10000))),
      Query("q341_modularity", q341Modularity, q341Oracle,
        Hooks(nonEmpty, range("q_micro", -1000000, 1000000), range("modularity_micro", -1000000, 1000000))),
      Query("q319_adamic_adar", q319AdamicAdar, q319Oracle, NoBound("AA index unbounded above")),
      Query("q320_label_prop", q320LabelProp, q320Oracle, NoBound(Structural)),
      Query("q278_kcore_peel", q278KcorePeel, q278Oracle, NoBound(Structural)),
      Query("q237_pagerank_loop", q237PagerankLoop, q237Oracle, NoBound(Structural)),
      Query("q239_hits_step", q239HitsStep, q239Oracle, NoBound(Structural)),
      Query("q179_assortativity", q179Assortativity, q179Oracle,
        Hooks(nonEmpty, range("r_bp", -10000, 10000))),
      Query("q157_copurchase", q157CoPurchase, q157Oracle, NoBound(Structural)),
      Query("q150_bfs_hops", q150BfsHops, q150Oracle, NoBound(Structural)),
      Query("q82_pagerank_step", q82PagerankStep, q82Oracle,
        NoBound("rank mass sums to n*1e6 (dynamic row count)")),
      Query("q116_triangles", q116Triangles, q116Oracle,
        Hooks(nonEmpty, range("gcc_ppm", 0, 1000000))),
    )
  }
}
