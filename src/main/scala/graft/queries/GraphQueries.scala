package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ext.{Analytics, Graph, Layout, TextAnalysis}

/** Graph-analytics, time-series, robust-stats, and data-layout queries —
  * the whole-dataset analyses a training-data pipeline layers on top of
  * the relational operators (SURVEY §7E). Each query pairs a Spark
  * pipeline with a bit-exact DuckDB replay: integer-scaled ranks
  * (PageRank), orientation-invariant counts (triangles), ordered float
  * folds (EWMA), deterministic rank selection (MAD), and pure bit math
  * (Z-order).
  */
object GraphQueries {
  import Queries.QueryFn

  /** Co-purchase graph: parts bought together in one order, subsampled to
    * `l_partkey % 4 = 0` so the fixed 2k/20k-part key space doesn't
    * densify into a near-clique at higher SF (the operator itself is
    * size-agnostic; the filter just bounds the demo graph).
    */
  private def coPurchase(s: org.apache.spark.sql.SparkSession, dir: String) =
    Graph.coOccurrenceEdges(
      Tables.lineitem(s, dir).where(col("l_partkey") % 4 === 0),
      "l_orderkey", "l_partkey")

  private val pairsCte =
    """WITH pairs AS (
      |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      |  WHERE l1.l_partkey < l2.l_partkey
      |    AND l1.l_partkey % 4 = 0 AND l2.l_partkey % 4 = 0
      |)""".stripMargin

  /** 3-iteration integer-scaled PageRank over the co-purchase graph. */
  val graphPagerank: QueryFn = (s, dir) =>
    Graph.pagerank(coPurchase(s, dir), iterations = 3)

  val graphPagerankSql: String = {
    def step(prev: String, out: String) =
      s"""$out AS (
         |  SELECT e.dst AS node,
         |    CAST((15 * 1000000000000) // (100 * any_value(nn.n))
         |       + (85 * sum($prev.r // deg.d)) // 100 AS BIGINT) AS r
         |  FROM edges e JOIN $prev ON $prev.node = e.src
         |    JOIN deg ON deg.src = e.src, nn
         |  GROUP BY 1
         |)""".stripMargin
    s"""$pairsCte, edges AS (
       |  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
       |), deg AS (
       |  SELECT src, count(*) AS d FROM edges GROUP BY 1
       |), nn AS (
       |  SELECT count(*) AS n FROM deg
       |), it0 AS (
       |  SELECT src AS node, CAST(1000000000000 // n AS BIGINT) AS r FROM deg, nn
       |), ${step("it0", "it1")}, ${step("it1", "it2")}, ${step("it2", "it3")}
       |SELECT node, r AS rank_scaled,
       |  CAST(r AS DOUBLE) / 1000000000000.0 AS rank
       |FROM it3""".stripMargin
  }

  /** 2-iteration integer-normalized HITS over the DIRECTED co-purchase
    * graph (a→b as the `a < b` pair orientation): hubs are parts that
    * point at high-authority parts and vice versa. Renormalization is
    * floor-division by `max(1, max(raw) div 1e6)` — exact longs, so the
    * unrolled CTE replay matches bit-for-bit.
    */
  val graphHits: QueryFn = (s, dir) =>
    Graph.hits(coPurchase(s, dir), iterations = 2)

  val graphHitsSql: String = {
    def authStep(hubPrev: String, n: Int) =
      s"""a${n}raw AS (
         |  SELECT e.dst AS node, CAST(sum($hubPrev.h) AS BIGINT) AS ar
         |  FROM edges e JOIN $hubPrev ON $hubPrev.node = e.src
         |  GROUP BY 1
         |), a$n AS (
         |  SELECT node, ar // greatest(1, (SELECT max(ar) FROM a${n}raw) // 1000000) AS a_s
         |  FROM a${n}raw
         |), h${n}raw AS (
         |  SELECT e.src AS node, CAST(sum(a$n.a_s) AS BIGINT) AS hr
         |  FROM edges e JOIN a$n ON a$n.node = e.dst
         |  GROUP BY 1
         |), h$n AS (
         |  SELECT node, hr // greatest(1, (SELECT max(hr) FROM h${n}raw) // 1000000) AS h
         |  FROM h${n}raw
         |)""".stripMargin
    s"""$pairsCte, edges AS (
       |  SELECT a AS src, b AS dst FROM pairs
       |), nodes AS (
       |  SELECT DISTINCT src AS node FROM edges
       |  UNION SELECT DISTINCT dst FROM edges
       |), h0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes
       |), ${authStep("h0", 1)}, ${authStep("h1", 2)}
       |SELECT n.node,
       |  CAST(coalesce(h2.h, 0) AS BIGINT) AS hub_scaled,
       |  CAST(coalesce(a2.a_s, 0) AS BIGINT) AS auth_scaled,
       |  CAST(coalesce(h2.h, 0) AS DOUBLE) / 1000000.0 AS hub,
       |  CAST(coalesce(a2.a_s, 0) AS DOUBLE) / 1000000.0 AS auth
       |FROM nodes n
       |LEFT JOIN h2 ON h2.node = n.node
       |LEFT JOIN a2 ON a2.node = n.node""".stripMargin
  }

  /** Triangle / edge / node counts of the co-purchase graph. */
  val graphTriangles: QueryFn = (s, dir) =>
    Graph.triangleStats(coPurchase(s, dir))

  val graphTrianglesSql: String =
    s"""$pairsCte
       |SELECT CAST(count(*) AS BIGINT) AS triangles,
       |  (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS edges,
       |  (SELECT CAST(count(DISTINCT n) AS BIGINT)
       |   FROM (SELECT a AS n FROM pairs UNION ALL SELECT b FROM pairs)) AS nodes
       |FROM pairs e1
       |JOIN pairs e2 ON e2.a = e1.b
       |JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin

  /** Degree histogram of the co-purchase graph — the skew profile that
    * decides whether the wedge orientation / salting paths are needed.
    */
  val graphDegrees: QueryFn = (s, dir) =>
    Graph.degreeDistribution(coPurchase(s, dir))

  val graphDegreesSql: String =
    s"""$pairsCte, deg AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS degree FROM (
       |    SELECT a AS n FROM pairs UNION ALL SELECT b FROM pairs)
       |  GROUP BY n
       |)
       |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM deg GROUP BY degree""".stripMargin

  /** Multi-source BFS over the co-purchase graph: hop distance from the
    * `node % 50 = 0` seed set, bounded at 4 hops. Integer hop counts make
    * the frontier expansion bit-replayable by a recursive-CTE
    * `min(hops)`.
    */
  val graphBfs: QueryFn = (s, dir) => {
    val edges = coPurchase(s, dir)
    val seeds = edges.select(col("a").as("node"))
      .union(edges.select(col("b")))
      .where(col("node") % 50 === 0).distinct()
    Graph.bfsHops(edges, seeds, maxHops = 4)
  }

  val graphBfsSql: String =
    s"""${pairsCte.replace("WITH ", "WITH RECURSIVE ")}, edges AS (
       |  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
       |), seeds AS (
       |  SELECT DISTINCT src AS node FROM edges WHERE src % 50 = 0
       |), bfs(node, hops) AS (
       |  SELECT node, 0 FROM seeds
       |  UNION
       |  SELECT e.dst, b.hops + 1
       |  FROM bfs b JOIN edges e ON e.src = b.node
       |  WHERE b.hops < 4
       |)
       |SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM bfs GROUP BY node""".stripMargin

  /** Sampled harmonic closeness over the co-purchase graph: exact
    * per-seed BFS distances from the `node % 200 = 0` sample, 3-hop
    * bound, integer-scaled harmonic sums (see
    * [[graft.ext.Graph.harmonicCloseness]]). The labeled-BFS state is
    * |seeds| × reach by construction, so the sample stride IS the cost
    * knob — the estimator's accuracy/cost dial, not a correctness one.
    */
  val graphCloseness: QueryFn = (s, dir) => {
    val edges = coPurchase(s, dir)
    val seeds = edges.select(col("a").as("node"))
      .union(edges.select(col("b")))
      .where(col("node") % 200 === 0).distinct()
    Graph.harmonicCloseness(edges, seeds, maxHops = 3)
  }

  val graphClosenessSql: String =
    s"""${pairsCte.replace("WITH ", "WITH RECURSIVE ")}, edges AS (
       |  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
       |), seeds AS (
       |  SELECT DISTINCT src AS seed FROM edges WHERE src % 200 = 0
       |), bfs(seed, node, d) AS (
       |  SELECT seed, seed, 0 FROM seeds
       |  UNION
       |  SELECT b.seed, e.dst, b.d + 1
       |  FROM bfs b JOIN edges e ON e.src = b.node
       |  WHERE b.d < 3
       |), dist AS (
       |  SELECT seed, node, CAST(min(d) AS BIGINT) AS d
       |  FROM bfs GROUP BY 1, 2 HAVING min(d) >= 1
       |)
       |SELECT node, CAST(count(*) AS BIGINT) AS n_seeds_reached,
       |  CAST(sum(1000000 // d) AS BIGINT) AS harmonic
       |FROM dist GROUP BY 1""".stripMargin

  /** Local clustering coefficient per node of the co-purchase graph —
    * the node-level cohesion companion to graph_triangles / graph_ktruss
    * (see [[graft.ext.Graph.localClustering]]).
    */
  val graphLcc: QueryFn = (s, dir) =>
    Graph.localClustering(coPurchase(s, dir))

  val graphLccSql: String =
    s"""$pairsCte, deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
       |    SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
       |  GROUP BY 1
       |), tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM pairs e1
       |  JOIN pairs e2 ON e2.a = e1.a AND e1.b < e2.b
       |  JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b
       |), pn AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
       |    SELECT x AS node FROM tri
       |    UNION ALL SELECT y FROM tri
       |    UNION ALL SELECT z FROM tri)
       |  GROUP BY 1
       |)
       |SELECT d.node, d.degree,
       |  CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
       |  CASE WHEN d.degree < 2 THEN 0.0
       |       ELSE round(2.0 * coalesce(pn.triangles, 0)
       |            / (CAST(d.degree AS DOUBLE) * (d.degree - 1.0)), 6)
       |  END AS lcc
       |FROM deg d LEFT JOIN pn ON pn.node = d.node""".stripMargin

  /** 2-round 4-truss peeling over the co-purchase graph: surviving edges
    * sit in ≥ 2 triangles among survivors — the edge-cohesion quality
    * filter one notch above kcore (see [[graft.ext.Graph.trussPeel]]).
    */
  val graphKtruss: QueryFn = (s, dir) =>
    Graph.trussPeel(coPurchase(s, dir), k = 4, rounds = 2)

  val graphKtrussSql: String = {
    def sup(n: Int, src: String) =
      s"""tri$n AS (
         |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM $src e1
         |  JOIN $src e2 ON e2.u = e1.u AND e1.v < e2.v
         |  JOIN $src e3 ON e3.u = e1.v AND e3.v = e2.v
         |), sup$n AS (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS support FROM (
         |    SELECT x AS u, y AS v FROM tri$n
         |    UNION ALL SELECT x, z FROM tri$n
         |    UNION ALL SELECT y, z FROM tri$n)
         |  GROUP BY 1, 2
         |)""".stripMargin
    s"""$pairsCte, e0 AS (
       |  SELECT a AS u, b AS v FROM pairs
       |), ${sup(1, "e0")}, e1 AS (
       |  SELECT e.u, e.v FROM e0 e
       |  JOIN sup1 s ON s.u = e.u AND s.v = e.v AND s.support >= 2
       |), ${sup(2, "e1")}, e2 AS (
       |  SELECT e.u, e.v FROM e1 e
       |  JOIN sup2 s ON s.u = e.u AND s.v = e.v AND s.support >= 2
       |), ${sup(3, "e2")}
       |SELECT e.u, e.v, CAST(coalesce(s.support, 0) AS BIGINT) AS support
       |FROM e2 e LEFT JOIN sup3 s ON s.u = e.u AND s.v = e.v""".stripMargin
  }

  /** Sampled k-bounded Brandes betweenness over the co-purchase graph:
    * exact per-seed path counts from the `node % 400 = 0` sample, 3-hop
    * horizon, round-6 decimal dependency sums (see
    * [[graft.ext.Graph.betweenness]]). The bridge-vs-hub signal the
    * closeness/pagerank pair can't give.
    */
  val graphBetweenness: QueryFn = (s, dir) => {
    val edges = coPurchase(s, dir)
    val seeds = edges.select(col("a").as("node"))
      .union(edges.select(col("b")))
      .where(col("node") % 400 === 0).distinct()
    Graph.betweenness(edges, seeds, maxHops = 3)
  }

  val graphBetweennessSql: String = {
    // forward level d+1 from level d: path counts summed over depth-d
    // parents, minus every node already reached (NOT EXISTS per level)
    def fwd(out: String, prev: String, earlier: Seq[String]): String = {
      val anti = earlier.map(e =>
        s"NOT EXISTS (SELECT 1 FROM $e p WHERE p.seed = f.seed AND p.node = f.node)")
        .mkString(" AND ")
      s"""${out}_c AS (
         |  SELECT v.seed, e.dst AS node, CAST(sum(v.sigma) AS BIGINT) AS sigma
         |  FROM $prev v JOIN edges e ON e.src = v.node
         |  GROUP BY 1, 2
         |), $out AS (
         |  SELECT f.* FROM ${out}_c f WHERE $anti
         |)""".stripMargin
    }
    // backward: δ at the horizon is 0 (carried ×1e6 as BIGINT); each
    // level is one edge join + one exact integer sum of half6-scaled
    // terms (the round6Scaled/half6ScaledSql kernel — immune to engine
    // round() drift), absent successors coalesce to 0
    def half6(t: String): String =
      s"""CAST(CASE WHEN $t < 0
         |      THEN -(floor(abs($t)) + (CASE WHEN abs($t) - floor(abs($t)) >= 0.5 THEN 1 ELSE 0 END))
         |      ELSE   floor(abs($t)) + (CASE WHEN abs($t) - floor(abs($t)) >= 0.5 THEN 1 ELSE 0 END)
         |    END AS BIGINT)""".stripMargin
    def bwd(out: String, lvl: String, nxtLvl: String, nxtDelta: String): String =
      s"""${out}_t AS (
         |  SELECT v.seed, v.node,
         |    sum(${half6(
                 """(CAST(v.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE)
                   | * (1000000.0 + CAST(w.delta6 AS DOUBLE)))""".stripMargin)}) AS delta6
         |  FROM $lvl v
         |  JOIN edges e ON e.src = v.node
         |  JOIN (SELECT n.seed, n.node, n.sigma, x.delta6
         |        FROM $nxtLvl n JOIN $nxtDelta x
         |          ON x.seed = n.seed AND x.node = n.node) w
         |    ON w.seed = v.seed AND w.node = e.dst
         |  GROUP BY 1, 2
         |), $out AS (
         |  SELECT l.seed, l.node,
         |    CAST(coalesce(t.delta6, 0) AS BIGINT) AS delta6
         |  FROM $lvl l LEFT JOIN ${out}_t t
         |    ON t.seed = l.seed AND t.node = l.node
         |)""".stripMargin
    s"""$pairsCte, edges AS (
       |  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
       |), seeds AS (
       |  SELECT DISTINCT src AS seed FROM edges WHERE src % 400 = 0
       |), v0 AS (
       |  SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sigma FROM seeds
       |), ${fwd("v1", "v0", Seq("v0"))},
       |${fwd("v2", "v1", Seq("v0", "v1"))},
       |${fwd("v3", "v2", Seq("v0", "v1", "v2"))},
       |d3 AS (
       |  SELECT seed, node, CAST(0 AS BIGINT) AS delta6 FROM v3
       |), ${bwd("d2", "v2", "v3", "d3")},
       |${bwd("d1", "v1", "v2", "d2")},
       |allx AS (
       |  SELECT node, delta6 FROM d1
       |  UNION ALL SELECT node, delta6 FROM d2
       |  UNION ALL SELECT node, delta6 FROM d3
       |)
       |SELECT node, CAST(sum(delta6) AS DOUBLE) / 1000000.0 AS betweenness
       |FROM allx GROUP BY 1""".stripMargin
  }

  /** 4-round synchronous label-propagation communities (deterministic
    * most-frequent-neighbor rule, ties to the smallest label).
    */
  val graphLabelProp: QueryFn = (s, dir) =>
    graft.ext.Graph.labelPropagation(coPurchase(s, dir), rounds = 4)

  /** The pairs→edges→4-round-label-prop CTE chain, ending at `l4` —
    * shared by the label-prop oracle and the modularity oracle built on
    * its communities.
    */
  private val labelPropChain: String = {
    def round(prev: String, out: String) =
      s"""$out AS (
         |  SELECT node, lab FROM (
         |    SELECT e.dst AS node, l.lab, count(*) AS c
         |    FROM edges e JOIN $prev l ON l.node = e.src
         |    GROUP BY 1, 2)
         |  QUALIFY row_number() OVER (PARTITION BY node
         |    ORDER BY c DESC, lab ASC) = 1
         |)""".stripMargin
    s"""$pairsCte, edges AS (
       |  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
       |), l0 AS (
       |  SELECT src AS node, CAST(src AS BIGINT) AS lab
       |  FROM (SELECT DISTINCT src FROM edges)
       |), ${round("l0", "l1")}, ${round("l1", "l2")},
       |${round("l2", "l3")}, ${round("l3", "l4")}""".stripMargin
  }

  val graphLabelPropSql: String =
    s"""$labelPropChain
       |SELECT node, lab AS community FROM l4""".stripMargin

  /** Deterministic fixed-round Louvain communities — the modularity-
    * OPTIMIZING partitioner beside [[graphLabelProp]] (label-prop spreads
    * frequent labels with no quality guarantee; here Q is provably
    * non-decreasing through the agglomeration rounds and the final
    * snapshot selection — asserted Q(louvain) ≥ Q(label_prop) in
    * Round11Spec). 12 handshake-merge rounds, 4 parity local-move
    * refinement rounds, exact-integer best-snapshot selection (see
    * [[graft.ext.Graph.louvain]]).
    */
  // The trained Louvain labeling is memoized per (session, dir) — the
  // bpeTrained pattern: a pipeline computes ONE community structure and
  // every view of it (`graph_louvain`, `graph_leiden`'s refinement)
  // reads the same table instead of re-running the 16 merge/move rounds
  // (the round-11 closing bench measured the duplicated training as
  // leiden's whole cost: 16.6 s, of which ~15 s was a second louvain).
  // Results are bit-identical either way because the training is fully
  // deterministic (exact-integer gains, pinned ties).
  //
  // Driver-footprint threshold (r11 verdict "What's wrong #4"): unlike
  // the vocab memos (model = vocab-sized at any corpus scale), louvain's
  // "model" is one row per NODE — collecting it is fine at bench scale
  // but IS the corpus on a web graph. Below `louvainMemoMaxRows` the
  // memo collects rows and rebuilds a LocalRelation (zero I/O); above
  // it the labeling is persisted to a spill parquet table once and
  // every view reads that table — same memoization, node-table driver
  // footprint never materialized. The memo value is therefore EITHER
  // collected rows (Left) or the spill path (Right).
  private[queries] val louvainMemoMaxRows = 2000000L
  private val louvainMemo = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    java.util.concurrent.ConcurrentHashMap[(String, String),
      Either[(org.apache.spark.sql.types.StructType,
        Array[org.apache.spark.sql.Row]), String]]]()

  private def lineitemFingerprint(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir, "lineitem.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else fs.listStatus(p).toSeq
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
  }

  private def louvainLabels(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val perSession = louvainMemo.synchronized {
      var m = louvainMemo.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap()
        louvainMemo.put(s, m)
      }
      m
    }
    perSession.computeIfAbsent(
      (dir, lineitemFingerprint(s, dir)), _ => {
        val df = Graph.louvain(coPurchase(s, dir),
          matchRounds = 12, moveRounds = 4)
        louvainMemoize(s, df)
      }) match {
      case Left((schema, rows)) =>
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      case Right(path) => s.read.parquet(path)
    }
  }

  /** Memoization strategy for a trained labeling: collect below the
    * row threshold, persist to a spill parquet table above it (see the
    * [[louvainMemo]] scaladoc). Package-private so the spec can drive
    * the over-threshold path with a tiny threshold.
    */
  private[queries] def louvainMemoize(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame,
      maxRows: Long = louvainMemoMaxRows):
      Either[(org.apache.spark.sql.types.StructType,
        Array[org.apache.spark.sql.Row]), String] = {
    // one pass: the labeling is checkpoint-backed inside louvain, so
    // the count is a metadata-cheap job, never a retrain
    val n = df.count()
    if (n <= maxRows) Left((df.schema, df.collect()))
    else {
      val path = graft.ext.TempStores.newStore("graft-louvain-memo")
      df.write.mode("overwrite").parquet(path)
      Right(path)
    }
  }

  val graphLouvain: QueryFn = (s, dir) => louvainLabels(s, dir)

  /** One handshake-merge round as SQL: per community the best positive
    * merge partner by exact gain 2m·e_CD − d_C·d_D in HUGEINT (the
    * Spark side's DECIMAL(38,0) — both exact), ties to the smallest
    * partner; merges only when mutual; merged pairs take the smaller id.
    */
  private def louvainMatchCte(prev: String, next: String,
      tag: String): String =
    s"""mx$tag AS MATERIALIZED (
       |  SELECT la.com AS c1, lb.com AS c2
       |  FROM pm pr JOIN $prev la ON la.node = pr.a
       |    JOIN $prev lb ON lb.node = pr.b
       |  WHERE la.com <> lb.com
       |), me$tag AS MATERIALIZED (
       |  SELECT c1, c2, CAST(count(*) AS BIGINT) AS e FROM
       |    (SELECT c1, c2 FROM mx$tag UNION ALL SELECT c2, c1 FROM mx$tag)
       |  GROUP BY 1, 2
       |), md$tag AS MATERIALIZED (
       |  SELECT p.com, CAST(sum(d1.d) AS BIGINT) AS dt
       |  FROM d1 JOIN $prev p USING (node) GROUP BY 1
       |), mg$tag AS MATERIALIZED (
       |  SELECT e.c1, e.c2,
       |    2 * mm.m * CAST(e.e AS HUGEINT)
       |      - CAST(a.dt AS HUGEINT) * CAST(b.dt AS HUGEINT) AS g
       |  FROM me$tag e JOIN md$tag a ON a.com = e.c1
       |    JOIN md$tag b ON b.com = e.c2, mm
       |  WHERE 2 * mm.m * CAST(e.e AS HUGEINT)
       |      - CAST(a.dt AS HUGEINT) * CAST(b.dt AS HUGEINT) > 0
       |), mb$tag AS MATERIALIZED (
       |  SELECT c1, c2 FROM mg$tag
       |  QUALIFY row_number() OVER (PARTITION BY c1
       |    ORDER BY g DESC, c2 ASC) = 1
       |), mu$tag AS MATERIALIZED (
       |  SELECT x.c1, x.c2 FROM mb$tag x
       |  JOIN mb$tag y ON y.c1 = x.c2 AND y.c2 = x.c1
       |  WHERE x.c1 < x.c2
       |), $next AS MATERIALIZED (
       |  SELECT p.node, coalesce(u.c1, p.com) AS com
       |  FROM $prev p LEFT JOIN mu$tag u ON u.c2 = p.com
       |)""".stripMargin

  /** One parity-gated local-move refinement round as SQL: candidates =
    * own community ∪ neighbor communities, score = 2m·k_{v,C∖v} −
    * k_v·Σtot(C∖v) in HUGEINT, ties to the smallest community id; only
    * nodes whose id parity matches the round parity `par` move (the
    * oscillation damping — see [[graft.ext.Graph.louvain]]).
    */
  private def louvainRoundCte(prev: String, next: String, tag: String,
      par: Int): String =
    s"""lc$tag AS MATERIALIZED (
       |  SELECT com, CAST(sum(d) AS BIGINT) AS tot
       |  FROM d1 JOIN $prev USING (node) GROUP BY 1
       |), lk$tag AS MATERIALIZED (
       |  SELECT e.src AS node, p.com, CAST(sum(e.w) AS BIGINT) AS kvc
       |  FROM e1 e JOIN $prev p ON p.node = e.dst GROUP BY 1, 2
       |), la$tag AS (
       |  SELECT p.node, p.com, coalesce(k.kvc, 0) AS kvc
       |  FROM $prev p LEFT JOIN lk$tag k
       |    ON k.node = p.node AND k.com = p.com
       |  UNION ALL
       |  SELECT k.node, k.com, k.kvc
       |  FROM lk$tag k JOIN $prev p ON p.node = k.node AND p.com <> k.com
       |), lb$tag AS (
       |  SELECT node, com AS best FROM (
       |    SELECT a.node, a.com,
       |      2 * mm.m * CAST(a.kvc AS HUGEINT)
       |        - CAST(dd.d AS HUGEINT)
       |          * (c.tot - CASE WHEN a.com = p.com THEN dd.d ELSE 0 END)
       |        AS score
       |    FROM la$tag a JOIN $prev p ON p.node = a.node
       |      JOIN d1 dd ON dd.node = a.node
       |      JOIN lc$tag c ON c.com = a.com, mm)
       |  QUALIFY row_number() OVER (PARTITION BY node
       |    ORDER BY score DESC, com ASC) = 1
       |), $next AS MATERIALIZED (
       |  SELECT p.node,
       |    CASE WHEN ((p.node % 2) + 2) % 2 = $par THEN b.best ELSE p.com
       |    END AS com
       |  FROM $prev p JOIN lb$tag b ON b.node = p.node
       |)""".stripMargin

  /** Exact integer quality S(P) = Σ_C [4m·e_C − d_C²] of the label
    * table `lab`, as one scalar CTE `ss$tag` — the snapshot-selection
    * statistic (Q = S/4m², so argmax S = argmax Q, no floats).
    */
  private def louvainSnapCte(lab: String, tag: String): String =
    s"""se$tag AS (
       |  SELECT la.com, CAST(count(*) AS BIGINT) AS e
       |  FROM pm pr JOIN $lab la ON la.node = pr.a
       |    JOIN $lab lb ON lb.node = pr.b
       |  WHERE la.com = lb.com GROUP BY 1
       |), sd$tag AS (
       |  SELECT p.com, CAST(sum(d1.d) AS BIGINT) AS dt
       |  FROM d1 JOIN $lab p USING (node) GROUP BY 1
       |), ss$tag AS MATERIALIZED (
       |  SELECT CAST(sum(4 * mm.m * CAST(coalesce(se.e, 0) AS HUGEINT)
       |    - CAST(sd.dt AS HUGEINT) * CAST(sd.dt AS HUGEINT)) AS HUGEINT)
       |    AS s
       |  FROM sd$tag sd LEFT JOIN se$tag se ON se.com = sd.com, mm
       |)""".stripMargin

  /** The full Louvain CTE chain ending in `louv(node, community)` —
    * shared verbatim between the louvain oracle and the leiden oracle
    * (which appends a recursive intra-community components closure).
    */
  private def louvainChainSql: String = {
    val mr = (0 until 12).map(i =>
      louvainMatchCte(s"p$i", s"p${i + 1}", s"$i")).mkString(",\n")
    val rr = (0 until 4).map(i =>
      louvainRoundCte(s"q$i", s"q${i + 1}", s"$i", (i + 1) % 2))
      .mkString(",\n")
    val sn = (0 to 4).map(i => louvainSnapCte(s"q$i", s"$i"))
      .mkString(",\n")
    val snapUnion = (0 to 4).map(i =>
      s"SELECT $i AS i, s FROM ss$i").mkString(" UNION ALL ")
    val finalUnion = (0 to 4).map(i =>
      s"""  SELECT CAST(node AS BIGINT) AS node, CAST(com AS BIGINT) AS community
         |  FROM q$i WHERE (SELECT i FROM pick) = $i""".stripMargin)
      .mkString("\n  UNION ALL\n")
    s"""$pairsCte, pm AS MATERIALIZED (
       |  SELECT a, b FROM pairs
       |), mm AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS m FROM pm
       |), e1 AS MATERIALIZED (
       |  SELECT a AS src, b AS dst, CAST(1 AS BIGINT) AS w FROM pm
       |  UNION ALL SELECT b, a, CAST(1 AS BIGINT) FROM pm
       |), d1 AS MATERIALIZED (
       |  SELECT src AS node, CAST(sum(w) AS BIGINT) AS d FROM e1 GROUP BY 1
       |), p0 AS MATERIALIZED (
       |  SELECT node, node AS com FROM d1
       |),
       |$mr,
       |q0 AS MATERIALIZED (
       |  SELECT node, com FROM p12
       |),
       |$rr,
       |$sn,
       |snapq AS ($snapUnion),
       |pick AS MATERIALIZED (
       |  SELECT i FROM snapq QUALIFY row_number() OVER (
       |    ORDER BY s DESC, i ASC) = 1
       |), louv AS MATERIALIZED (
       |$finalUnion
       |)""".stripMargin
  }

  val graphLouvainSql: String =
    s"""$louvainChainSql
       |SELECT node, community FROM louv""".stripMargin

  /** Leiden-style connectivity refinement of the Louvain partition —
    * every returned community is a CONNECTED subgraph (Louvain's local
    * moves can leave a community internally disconnected; see
    * [[graft.ext.Graph.leiden]]). Q provably never decreases under the
    * split (e_C partitions exactly; d_C² ≥ Σd_i²) — asserted in
    * Round11bSpec.
    */
  val graphLeiden: QueryFn = (s, dir) =>
    Graph.leidenRefine(coPurchase(s, dir), louvainLabels(s, dir))

  /** The louvain chain + a recursive min-label components closure over
    * INTRA-community edges (the graph_cc oracle pattern); nodes with no
    * same-community neighbor coalesce to their own id.
    */
  val graphLeidenSql: String =
    s"""${louvainChainSql.replace("WITH ", "WITH RECURSIVE ")}, ip AS (
       |  SELECT pr.a, pr.b FROM pm pr
       |    JOIN louv la ON la.node = pr.a
       |    JOIN louv lb ON lb.node = pr.b
       |  WHERE la.community = lb.community
       |), iedges AS (
       |  SELECT a AS src, b AS dst FROM ip UNION ALL SELECT b, a FROM ip
       |), lbl(node, lab) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM iedges)
       |  UNION
       |  SELECT e.dst, l.lab FROM lbl l JOIN iedges e ON e.src = l.node
       |), icc AS (
       |  SELECT node, CAST(min(lab) AS BIGINT) AS comp
       |  FROM lbl GROUP BY node
       |)
       |SELECT lv.node,
       |  CAST(coalesce(icc.comp, lv.node) AS BIGINT) AS community
       |FROM louv lv LEFT JOIN icc ON icc.node = lv.node""".stripMargin

  /** Newman modularity of the 4-round label-prop partition — the
    * community-quality number (see [[graft.ext.Graph.modularity]]):
    * per-community e_c/m − (d_c/2m)² from exact integer counts.
    */
  val graphModularity: QueryFn = (s, dir) => {
    val edges = coPurchase(s, dir)
    Graph.modularity(edges, Graph.labelPropagation(edges, rounds = 4))
  }

  val graphModularitySql: String =
    s"""$labelPropChain,
       |labels AS (
       |  SELECT node, lab AS community FROM l4
       |), mm AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m FROM pairs
       |), deg AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS d
       |  FROM edges GROUP BY 1
       |), dc AS (
       |  SELECT l.community, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d) AS BIGINT) AS d_tot
       |  FROM deg JOIN labels l USING (node) GROUP BY 1
       |), ec AS (
       |  SELECT la.community, CAST(count(*) AS BIGINT) AS e_in
       |  FROM pairs p
       |  JOIN labels la ON la.node = p.a
       |  JOIN labels lb ON lb.node = p.b
       |  WHERE la.community = lb.community
       |  GROUP BY 1
       |)
       |SELECT dc.community, n_nodes, coalesce(e_in, 0) AS e_in, d_tot,
       |  round(CAST(coalesce(e_in, 0) AS DOUBLE) / m
       |      - (CAST(d_tot AS DOUBLE) / (2.0 * m))
       |        * (CAST(d_tot AS DOUBLE) / (2.0 * m)), 6) AS q_term
       |FROM dc LEFT JOIN ec USING (community), mm""".stripMargin

  /** Connected components of the co-purchase graph: each node labeled
    * with its component's smallest node id. Same engine as the near-dup
    * clustering (`Dedup.components` — driver union-find under the pair
    * threshold, co-partitioned label propagation above), applied to a
    * general graph; the oracle is the recursive min-label closure.
    */
  val graphCc: QueryFn = (s, dir) =>
    graft.ext.Dedup.components(coPurchase(s, dir)
        .select(col("a").as("id_a"), col("b").as("id_b")))
      .select(col("id").as("node"), col("cluster_id").as("component"))

  /** Weighted co-purchase edges: w = number of DISTINCT orders the two
    * parts share — the tie-strength the spanning forest ranks.
    */
  private def coPurchaseWeighted(s: org.apache.spark.sql.SparkSession,
      dir: String) = {
    val li = Tables.lineitem(s, dir).where(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    li.alias("x").join(li.alias("y"),
        expr("x.o = y.o AND x.p < y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b"), col("x.o").as("o"))
      .groupBy("a", "b").agg(countDistinct(col("o")).as("w"))
  }

  /** Fixed-round Borůvka maximum spanning forest of the weighted
    * co-purchase graph — the strongest-ties backbone (see
    * [[graft.ext.Graph.maxSpanningForest]]; every component picks its
    * best incident edge per round, merged via the incremental
    * components fold). The oracle replays all 16 rounds as unrolled
    * CTEs, each with its own recursive min-label closure over the
    * accumulated forest; rounds after completion are natural no-ops,
    * so the fixed count is engine-safe.
    */
  val graphMst: QueryFn = (s, dir) =>
    Graph.maxSpanningForest(coPurchaseWeighted(s, dir), rounds = 16)

  val graphMstSql: String = {
    def round(r: Int): String = {
      val prev = s"l${r - 1}"
      val prevF = if (r == 1) "" else s"SELECT a, b, w FROM f${r - 1} UNION ALL "
      s"""cr$r AS MATERIALIZED (
         |  SELECT p.a, p.b, p.w, la.lab AS ca, lb.lab AS cb
         |  FROM wpairs p JOIN $prev la ON la.node = p.a
         |    JOIN $prev lb ON lb.node = p.b
         |  WHERE la.lab <> lb.lab
         |), b$r AS MATERIALIZED (
         |  SELECT a, b, w FROM (
         |    SELECT comp, a, b, w, row_number() OVER (
         |      PARTITION BY comp ORDER BY w DESC, a ASC, b ASC) AS rn
         |    FROM (SELECT ca AS comp, a, b, w FROM cr$r
         |          UNION ALL SELECT cb, a, b, w FROM cr$r))
         |  WHERE rn = 1
         |), f$r AS MATERIALIZED (
         |  SELECT DISTINCT a, b, w FROM (${prevF}SELECT a, b, w FROM b$r)
         |), x$r(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.dst, l.lab FROM x$r l JOIN (
         |    SELECT a AS src, b AS dst FROM f$r
         |    UNION ALL SELECT b, a FROM f$r) e ON e.src = l.node
         |), l$r AS MATERIALIZED (
         |  SELECT node, CAST(min(lab) AS BIGINT) AS lab FROM x$r GROUP BY 1
         |)""".stripMargin
    }
    s"""WITH RECURSIVE wpairs AS MATERIALIZED (
       |  SELECT l1.l_partkey AS a, l2.l_partkey AS b,
       |    CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS w
       |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
       |  WHERE l1.l_partkey < l2.l_partkey
       |    AND l1.l_partkey % 4 = 0 AND l2.l_partkey % 4 = 0
       |  GROUP BY 1, 2
       |), nodes AS MATERIALIZED (
       |  SELECT DISTINCT a AS node FROM wpairs
       |  UNION SELECT DISTINCT b FROM wpairs
       |), l0 AS MATERIALIZED (SELECT node, node AS lab FROM nodes),
       |${(1 to 16).map(round).mkString(",\n")}
       |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, w
       |FROM f16""".stripMargin
  }

  /** Incremental connected components: the co-purchase edges split into
    * a base corpus ((a+b) mod 5 ≠ 0) and a new-period delta (= 0); the
    * base is labeled once and the delta is folded in WITHOUT re-touching
    * the base edges — the star-edge maintenance trick (see
    * [[graft.ext.Dedup.componentsIncremental]]). The oracle is the FULL
    * recursive closure over all edges: incremental maintenance must be
    * indistinguishable from recomputation.
    */
  val graphCcIncremental: QueryFn = (s, dir) => {
    val pairs = coPurchase(s, dir)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val base = pairs.where(pmod(col("id_a") + col("id_b"), lit(5)) =!= 0)
    val delta = pairs.where(pmod(col("id_a") + col("id_b"), lit(5)) === 0)
    graft.ext.Dedup.componentsIncremental(
        graft.ext.Dedup.components(base), delta)
      .select(col("id").as("node"), col("cluster_id").as("component"))
  }

  /** The same components by alternating large-star / small-star
    * contractions (O(log n) rounds instead of O(diameter) — the deep-
    * chain scale path; see [[graft.ext.Graph.ccTwoPhase]]). Identical
    * output contract to [[graphCc]], so it shares the recursive
    * min-label oracle — the two engines AND the two algorithms must all
    * agree.
    */
  val graphCcTwoPhase: QueryFn = (s, dir) =>
    graft.ext.Graph.ccTwoPhase(coPurchase(s, dir))
      .select(col("node"), col("component"))

  val graphCcSql: String =
    s"""${pairsCte.replace("WITH ", "WITH RECURSIVE ")}, edges AS (
       |  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
       |), lbl(node, lab) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT e.dst, l.lab FROM lbl l JOIN edges e ON e.src = l.node
       |)
       |SELECT node, CAST(min(lab) AS BIGINT) AS component
       |FROM lbl GROUP BY node""".stripMargin

  /** Directed next-buyer graph: for each part, consecutive buyers in
    * order-date order are linked buyer_i → buyer_{i+1} (custkey % 4
    * subsample, the [[coPurchase]] size-bounding convention; the window
    * is part-partitioned, never global). A customer both early and late
    * in different parts' timelines creates cycles — the nontrivial SCC
    * structure.
    */
  private def buyerChain(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val po = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("part"), col("l_orderkey").as("ok"))
      .join(Tables.orders(s, dir).where(col("o_custkey") % 4 === 0)
          .select(col("o_orderkey").as("ok"), col("o_orderdate").as("d"),
            col("o_custkey").as("c")),
        Seq("ok"))
      .select("part", "d", "ok", "c").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy(col("d"), col("ok"))
    po.withColumn("__nxt", lead(col("c"), 1).over(w))
      .where(col("__nxt").isNotNull && col("__nxt") =!= col("c"))
      .select(col("c").as("src"), col("__nxt").as("dst")).distinct()
  }

  /** Strongly connected components of the directed next-buyer graph —
    * min-label coloring + backward marking (see [[graft.ext.Graph.scc]]);
    * the oracle derives each node's SCC from the full recursive
    * reachability closure (scc = least(node, min mutual-reach partner)),
    * so the distributed peeling is checked against the definition
    * itself.
    */
  val graphScc: QueryFn = (s, dir) =>
    graft.ext.Graph.scc(buyerChain(s, dir)).select(col("node"), col("scc"))

  val graphSccSql: String =
    """WITH RECURSIVE po AS (
      |  SELECT DISTINCT l.l_partkey AS part, o.o_orderdate AS d,
      |    o.o_orderkey AS ok, o.o_custkey AS c
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE o.o_custkey % 4 = 0
      |), sq AS (
      |  SELECT part, c, lead(c) OVER (PARTITION BY part ORDER BY d, ok) AS nxt
      |  FROM po
      |), edges AS (
      |  SELECT DISTINCT c AS src, nxt AS dst FROM sq
      |  WHERE nxt IS NOT NULL AND nxt <> c
      |), nodes AS (
      |  -- DISTINCT over UNION ALL: under WITH RECURSIVE, DuckDB 1.0
      |  -- does not dedup a plain UNION in a non-recursive CTE
      |  SELECT DISTINCT node FROM (
      |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
      |), reach AS (
      |  SELECT src AS s, dst AS d FROM edges
      |  UNION
      |  SELECT r.s, e.dst FROM reach r JOIN edges e ON r.d = e.src
      |), mut AS (
      |  SELECT r1.s AS u, min(r1.d) AS m
      |  FROM reach r1 JOIN reach r2 ON r1.s = r2.d AND r1.d = r2.s
      |  GROUP BY 1
      |)
      |SELECT node, CAST(coalesce(least(node, m), node) AS BIGINT) AS scc
      |FROM nodes LEFT JOIN mut ON node = u""".stripMargin

  /** Degree assortativity of the co-purchase graph — Newman's r over
    * endpoint degrees (see [[graft.ext.Graph.assortativity]]); both
    * engines evaluate one shared Pearson expression over six exact
    * moment statistics.
    */
  val graphAssortativity: QueryFn = (s, dir) =>
    graft.ext.Graph.assortativity(coPurchase(s, dir))

  val graphAssortativitySql: String =
    s"""$pairsCte, dir AS (
       |  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
       |), deg AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |  FROM dir GROUP BY 1
       |), wd AS (
       |  SELECT CAST(d1.deg AS HUGEINT) AS dx, CAST(d2.deg AS HUGEINT) AS dy
       |  FROM dir JOIN deg d1 ON d1.node = dir.src
       |    JOIN deg d2 ON d2.node = dir.dst
       |), g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(dx) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
       |    CAST(sum(dx * dy) AS DOUBLE) AS sxy,
       |    CAST(sum(dx * dx) AS DOUBLE) AS sxx,
       |    CAST(sum(dy * dy) AS DOUBLE) AS syy
       |  FROM wd
       |)
       |SELECT m,
       |  CASE WHEN CAST(m AS DOUBLE) * sxx - sx * sx > 0.0
       |        AND CAST(m AS DOUBLE) * syy - sy * sy > 0.0
       |       THEN ${graft.ext.Graph.assortativityExpr} END AS r
       |FROM g""".stripMargin

  /** Edge reciprocity of the directed next-buyer graph — the 1-hop
    * mutuality audit beside [[graphScc]]'s full cyclic decomposition on
    * the same edge set (see [[graft.ext.Graph.reciprocity]]).
    */
  val graphReciprocity: QueryFn = (s, dir) =>
    graft.ext.Graph.reciprocity(buyerChain(s, dir))

  val graphReciprocitySql: String =
    """WITH po AS (
      |  SELECT DISTINCT l.l_partkey AS part, o.o_orderdate AS d,
      |    o.o_orderkey AS ok, o.o_custkey AS c
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE o.o_custkey % 4 = 0
      |), sq AS (
      |  SELECT part, c, lead(c) OVER (PARTITION BY part ORDER BY d, ok) AS nxt
      |  FROM po
      |), edges AS (
      |  SELECT DISTINCT c AS src, nxt AS dst FROM sq
      |  WHERE nxt IS NOT NULL AND nxt <> c
      |), f AS (
      |  SELECT e.src, e.dst,
      |    CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS m
      |  FROM edges e LEFT JOIN edges r ON e.src = r.dst AND e.dst = r.src
      |)
      |SELECT CAST(count(*) AS BIGINT) AS m_edges,
      |  CAST(sum(m) AS BIGINT) AS mutual,
      |  round(CAST(sum(m) AS DOUBLE) / count(*), 6) AS reciprocity
      |FROM f""".stripMargin

  /** Per-user EWMA (alpha = 0.25) of event values in time order. */
  val tsEwma: QueryFn = (s, dir) =>
    Analytics.ewma(Tables.events(s, dir),
      "user_id", "ts", "event_id", "value", alpha = 0.25)

  val tsEwmaSql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |  list_reduce(
      |    list_prepend(CAST(0.0 AS DOUBLE), array_agg(value ORDER BY ts, event_id)),
      |    (a, x) -> x * 0.25 + a * 0.75) AS ewma
      |FROM events
      |WHERE value IS NOT NULL
      |GROUP BY 1""".stripMargin

  /** Linear multi-touch attribution: purchases split unit credit across
    * the user's views/clicks in the preceding 7 days. Per-conversion
    * credits are round(1/n, 6) DECIMAL sums — order-independent floats.
    */
  val attributionLinear: QueryFn = (s, dir) =>
    Analytics.attributionLinear(Tables.events(s, dir), "user_id", "ts",
      "event_type", "event_id", "purchase", Seq("view", "click"), windowDays = 7)

  val attributionLinearSql: String =
    """WITH conv AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
      |), touch AS (
      |  SELECT user_id, ts, event_type FROM events
      |  WHERE event_type IN ('view', 'click')
      |), m AS (
      |  SELECT c.event_id, t.event_type AS touch_type
      |  FROM conv c JOIN touch t ON t.user_id = c.user_id
      |    AND t.ts <= c.ts AND t.ts > c.ts - INTERVAL 7 DAY
      |), tot AS (
      |  SELECT event_id, count(*) AS n FROM m GROUP BY 1
      |)
      |SELECT m.touch_type,
      |  CAST(count(DISTINCT m.event_id) AS BIGINT) AS conversions_touched,
      |  CAST(sum(CAST(round(1.0 / tot.n, 6) AS DECIMAL(30,6))) AS DOUBLE) AS credit
      |FROM m JOIN tot USING (event_id)
      |GROUP BY 1""".stripMargin

  /** Hourly per-user value series, densified and linearly interpolated
    * (the gap-fill step before windowed models). Bucket means are exact
    * scaled-long statistics; the interpolation itself is ONE shared
    * expression string (`Analytics.interpValueExpr`) evaluated by both
    * engines on identical integers — float output, bit-identical.
    */
  val tsInterpolate: QueryFn = (s, dir) =>
    Analytics.interpolateLinear(Tables.events(s, dir),
      Seq("user_id"), "ts", "value")

  val tsInterpolateSql: String =
    s"""WITH c AS (
       |  SELECT user_id, date_trunc('hour', ts) AS bucket,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(round(value, 6) AS DECIMAL(30,6))) * 1000000 AS BIGINT) AS sv
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
       |), b AS (
       |  SELECT user_id,
       |    unnest(generate_series(min(bucket), max(bucket), INTERVAL 1 HOUR)) AS bucket
       |  FROM c GROUP BY user_id
       |), g AS (
       |  SELECT b.user_id, b.bucket, c.n, c.sv,
       |    CAST(epoch(b.bucket) AS BIGINT) AS t
       |  FROM b LEFT JOIN c USING (user_id, bucket)
       |), w AS (
       |  SELECT user_id, bucket, n, t,
       |    last_value(sv IGNORE NULLS) OVER wp AS psv,
       |    last_value(n IGNORE NULLS) OVER wp AS pn,
       |    last_value(CASE WHEN sv IS NOT NULL THEN t END IGNORE NULLS) OVER wp AS pt,
       |    first_value(sv IGNORE NULLS) OVER wn AS nsv,
       |    first_value(n IGNORE NULLS) OVER wn AS nn,
       |    first_value(CASE WHEN sv IS NOT NULL THEN t END IGNORE NULLS) OVER wn AS nt
       |  FROM g
       |  WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |  wn AS (PARTITION BY user_id ORDER BY bucket
       |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |)
       |SELECT user_id, bucket, CAST(coalesce(n, 0) AS BIGINT) AS n,
       |  ${Analytics.interpValueExpr} AS value
       |FROM w""".stripMargin

  /** One-sided CUSUM drift statistic per event type: ordered struct-state
    * fold with mu/kappa from exact scaled-long stats through the shared
    * expression strings — final and max statistic, bit-identical.
    */
  val tsCusum: QueryFn = (s, dir) =>
    Analytics.cusum(Tables.events(s, dir), "event_type", "ts", "event_id", "value")

  /** Holt level+trend smoothing per user (alpha = 0.25, beta = 0.125 —
    * binary-exact literals, so both engines parse identical doubles).
    * The replay state is a LIST [l, b, n] — DuckDB's struct-typed
    * list_reduce accumulators alias their field vectors across
    * iterations (reads see a mix of old and new state, value-dependent),
    * while list accumulators are rebuilt per step; the level expression
    * is recomputed inline in the trend slot, exactly as the Spark fold
    * does, so every read is from the OLD state.
    */
  val tsHolt: QueryFn = (s, dir) =>
    Analytics.holt(Tables.events(s, dir),
      "user_id", "ts", "event_id", "value", alpha = 0.25, beta = 0.125)

  val tsHoltSql: String = {
    val newL = "CASE WHEN a[3] = 0.0 THEN x[1] ELSE 0.25 * x[1] + 0.75 * (a[1] + a[2]) END"
    s"""WITH series AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       |    array_agg(value ORDER BY ts, event_id) AS xs
       |  FROM events WHERE value IS NOT NULL GROUP BY 1
       |), f AS (
       |  SELECT user_id, n,
       |    list_reduce(
       |      list_prepend(CAST([0.0, 0.0, 0.0] AS DOUBLE[]),
       |        list_transform(xs, e -> CAST([e] AS DOUBLE[]))),
       |      (a, x) -> [
       |        $newL,
       |        CASE WHEN a[3] = 0.0 THEN 0.0
       |             ELSE 0.125 * (($newL) - a[1]) + 0.875 * a[2] END,
       |        a[3] + 1.0
       |      ]) AS h
       |  FROM series
       |)
       |SELECT user_id, n, h[1] AS level, h[2] AS trend,
       |  h[1] + h[2] AS forecast
       |FROM f""".stripMargin
  }

  /** Holt–Winters additive seasonal smoothing per user (α=0.25, β=0.125,
    * γ=0.25, period 4) — the seasonal completion of the ewma→holt
    * ladder; both engines evaluate the LITERALLY shared step expressions
    * (Analytics.hwStepExprs) over a flat double-array fold state.
    */
  val tsHoltWinters: QueryFn = (s, dir) =>
    Analytics.holtWinters(Tables.events(s, dir),
      "user_id", "ts", "event_id", "value",
      alpha = 0.25, beta = 0.125, gamma = 0.25, period = 4)

  val tsHoltWintersSql: String = {
    val step = Analytics.hwStepExprs(
      "a[1]", "a[2]", "a[3]", k => s"a[${4 + k}]", "x[1]",
      alpha = 0.25, beta = 0.125, gamma = 0.25, m = 4)
    val init = Seq.fill(7)("0.0").mkString(", ")
    val nextS = Analytics.hwNextSeasonExpr("h[3]", k => s"h[${4 + k}]", 4)
    s"""WITH series AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       |    array_agg(value ORDER BY ts, event_id) AS xs
       |  FROM events WHERE value IS NOT NULL GROUP BY 1
       |), f AS (
       |  SELECT user_id, n,
       |    list_reduce(
       |      list_prepend(CAST([$init] AS DOUBLE[]),
       |        list_transform(xs, e -> CAST([e] AS DOUBLE[]))),
       |      (a, x) -> [${step.mkString(",\n        ")}]) AS h
       |  FROM series
       |)
       |SELECT user_id, n, h[1] AS level, h[2] AS trend,
       |  h[1] + h[2] + ($nextS) AS forecast
       |FROM f""".stripMargin
  }

  /** NB: the replay state is a LIST [s, m], not a struct — DuckDB's
    * struct-typed list_reduce accumulators alias their field vectors
    * across iterations (a field expression can read a MIX of old and
    * freshly computed state, value-dependently), while list accumulators
    * are rebuilt per step. Every read below is from the old `a`; the
    * step expression is recomputed inline where needed, exactly as the
    * Spark fold does.
    */
  val tsCusumSql: String = {
    val step = s"greatest(0.0, a[1] + x[1] - ${Analytics.cusumMuExpr} - ${Analytics.cusumKappaExpr})"
    s"""WITH g AS (
       |  SELECT event_type, count(*) AS cnt,
       |    CAST(sum(CAST(round(value, 6) AS DECIMAL(30,6))) * 1000000 AS BIGINT) AS sx,
       |    CAST(sum(CAST(round(value * value, 6) AS DECIMAL(30,6))) * 1000000 AS BIGINT) AS sxx
       |  FROM events WHERE value IS NOT NULL GROUP BY 1
       |), series AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    array_agg(value ORDER BY ts, event_id) AS xs
       |  FROM events WHERE value IS NOT NULL GROUP BY 1
       |), f AS (
       |  SELECT series.event_type, series.n,
       |    list_reduce(
       |      list_prepend(CAST([0.0, 0.0] AS DOUBLE[]),
       |        list_transform(xs, v -> CAST([v] AS DOUBLE[]))),
       |      (a, x) -> [$step, greatest(a[2], $step)]) AS c
       |  FROM series JOIN g USING (event_type)
       |)
       |SELECT event_type, n, c[1] AS cusum_end, c[2] AS cusum_max FROM f""".stripMargin
  }

  /** Exact p50/p90/p99 per event type via the distributed selection
    * (approx band + exact in-band rank) — values are actual input
    * doubles, so the full-sort row_number replay matches exactly.
    */
  val quantileExact: QueryFn = (s, dir) =>
    Analytics.quantilesByGroup(Tables.events(s, dir),
      "event_type", "value", Seq(50, 90, 99))

  val quantileExactSql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events WHERE value IS NOT NULL
      |)
      |SELECT event_type, CAST(pct AS BIGINT) AS pct, value
      |FROM r, (SELECT unnest([50, 90, 99]) AS pct)
      |WHERE rn = (pct * n + 99) // 100""".stripMargin

  /** Median-absolute-deviation outlier flags per event type (robust
    * counterpart of `anomaly_zscore`).
    */
  val anomalyMad: QueryFn = (s, dir) =>
    Analytics.madOutliers(Tables.events(s, dir),
      "event_type", "event_id", "value")

  val anomalyMadSql: String =
    """WITH r1 AS (
      |  SELECT event_type, value, event_id,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS cnt
      |  FROM events
      |), med AS (
      |  SELECT event_type, value AS med FROM r1 WHERE rn = (cnt + 1) // 2
      |), d AS (
      |  SELECT e.event_id, e.event_type, abs(e.value - m.med) AS dev_raw,
      |    row_number() OVER (PARTITION BY e.event_type
      |      ORDER BY abs(e.value - m.med), e.event_id) AS rn,
      |    count(*) OVER (PARTITION BY e.event_type) AS cnt
      |  FROM events e JOIN med m USING (event_type)
      |), mad AS (
      |  SELECT event_type, dev_raw AS mad FROM d WHERE rn = (cnt + 1) // 2
      |)
      |SELECT d.event_id, d.event_type, round(d.dev_raw, 6) AS dev,
      |  d.dev_raw > 4.4478 * mad.mad AS is_outlier
      |FROM d JOIN mad USING (event_type)""".stripMargin

  /** Z-order layout buckets over (l_partkey, l_suppkey) with the
    * per-bucket min/max envelope that footer-stat pruning would use.
    */
  val layoutZorder: QueryFn = (s, dir) =>
    Layout.zOrderBuckets(Tables.lineitem(s, dir), "l_partkey", "l_suppkey")

  val layoutZorderSql: String = {
    val bits = (0 until 10).map { i =>
      s"((((l_partkey % 1024) >> $i) & 1) << ${2 * i + 1})" +
        s" + ((((l_suppkey % 1024) >> $i) & 1) << ${2 * i})"
    }.mkString(" + ")
    s"""WITH z AS (
       |  SELECT CAST($bits AS BIGINT) AS zval,
       |    l_partkey % 1024 AS x, l_suppkey % 1024 AS y
       |  FROM lineitem
       |)
       |SELECT CAST(zval >> 12 AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS cnt,
       |  CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
       |  CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
       |FROM z GROUP BY 1""".stripMargin
  }

  /** Hilbert-curve layout buckets over the same (l_partkey, l_suppkey)
    * pair — the no-seam space-filling curve; the oracle replays the SAME
    * per-level expression strings the operator projects
    * (`Layout.hilbertLevelExprs`), so the index is identical by
    * construction.
    */
  val layoutHilbert: QueryFn = (s, dir) =>
    Layout.hilbertBuckets(Tables.lineitem(s, dir), "l_partkey", "l_suppkey")

  val layoutHilbertSql: String = {
    val bits = 10
    val levels = ((bits - 1) to 0 by -1).zipWithIndex.map { case (lvl, i) =>
      val (dE, nxE, nyE) = Layout.hilbertLevelExprs(1L << lvl)
      s"l${i + 1} AS (SELECT x0, y0, $dE AS d, $nxE AS x, $nyE AS y FROM l$i)"
    }.mkString(",\n")
    s"""WITH l0 AS (
       |  SELECT CAST(l_partkey % 1024 AS BIGINT) AS x,
       |         CAST(l_suppkey % 1024 AS BIGINT) AS y,
       |         CAST(l_partkey % 1024 AS BIGINT) AS x0,
       |         CAST(l_suppkey % 1024 AS BIGINT) AS y0,
       |         CAST(0 AS BIGINT) AS d
       |  FROM lineitem
       |),
       |$levels
       |SELECT CAST(d >> 12 AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS cnt,
       |  CAST(min(x0) AS BIGINT) AS x_min, CAST(max(x0) AS BIGINT) AS x_max,
       |  CAST(min(y0) AS BIGINT) AS y_min, CAST(max(y0) AS BIGINT) AS y_max
       |FROM l$bits GROUP BY 1""".stripMargin
  }

  /** Neighbor-set Jaccard of every co-purchase edge — link strength for
    * entity-merge / recommendation candidates. Integer common-neighbor
    * and degree counts; one exact division.
    */
  val graphJaccard: QueryFn = (s, dir) =>
    Graph.neighborJaccard(coPurchase(s, dir))

  val graphJaccardSql: String =
    s"""$pairsCte, sym AS (
       |  SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs
       |), deg AS (
       |  SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1
       |), common AS (
       |  SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS common
       |  FROM pairs p
       |  JOIN sym s1 ON s1.u = p.a
       |  JOIN sym s2 ON s2.u = p.b AND s2.v = s1.v
       |  GROUP BY 1, 2
       |)
       |SELECT p.a, p.b, coalesce(c.common, 0) AS common,
       |  da.d AS da, db.d AS db,
       |  CAST(coalesce(c.common, 0) AS DOUBLE)
       |    / CAST(da.d + db.d - coalesce(c.common, 0) AS DOUBLE) AS jaccard
       |FROM pairs p
       |LEFT JOIN common c ON c.a = p.a AND c.b = p.b
       |JOIN deg da ON da.u = p.a
       |JOIN deg db ON db.u = p.b""".stripMargin

  /** Adamic–Adar link scores over the co-purchase edges — the
    * hub-discounted sibling of `graph_jaccard` (see
    * [[graft.ext.Graph.adamicAdar]]). Only edges with at least one
    * common neighbor appear.
    */
  val graphAdamicAdar: QueryFn = (s, dir) =>
    Graph.adamicAdar(coPurchase(s, dir))

  val graphAdamicAdarSql: String =
    s"""$pairsCte, sym AS (
       |  SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs
       |), deg AS (
       |  SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1
       |)
       |SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS common,
       |  CAST(sum(CAST(round(1.0 / ln(CAST(dw.d AS DOUBLE)), 6)
       |    AS DECIMAL(30,6))) AS DOUBLE) AS adamic_adar
       |FROM pairs p
       |JOIN sym s1 ON s1.u = p.a
       |JOIN sym s2 ON s2.u = p.b AND s2.v = s1.v
       |JOIN deg dw ON dw.u = s1.v
       |GROUP BY 1, 2""".stripMargin

  /** Lag-1 hourly autocorrelation of each event type's activity series —
    * the seasonality probe (see [[graft.ext.Analytics.autocorr]]).
    */
  val tsAutocorr: QueryFn = (s, dir) =>
    Analytics.autocorr(Tables.events(s, dir), "event_type", "ts",
      unit = "hour", lagUnits = 1)

  val tsAutocorrSql: String =
    s"""WITH c AS (
       |  SELECT event_type, date_trunc('hour', ts) AS b,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2
       |), p AS (
       |  SELECT c1.event_type, c1.x AS x, c2.x AS y
       |  FROM c c1 JOIN c c2
       |    ON c2.event_type = c1.event_type
       |   AND c2.b = c1.b + INTERVAL 1 HOUR
       |), st AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
       |    CAST(sum(x * y) AS DOUBLE) AS sxy
       |  FROM p GROUP BY 1
       |  HAVING count(*) >= 3
       |    AND count(*) * sum(x * x) > sum(x) * sum(x)
       |    AND count(*) * sum(y * y) > sum(y) * sum(y)
       |)
       |SELECT event_type, n, sx, sy, sxx, syy, sxy,
       |  ${Analytics.autocorrExpr} AS autocorr
       |FROM st""".stripMargin

  /** Hour-of-day seasonal activity baseline per event type (see
    * [[graft.ext.Analytics.seasonalProfile]]).
    */
  val tsSeasonal: QueryFn = (s, dir) =>
    Analytics.seasonalProfile(Tables.events(s, dir), "event_type", "ts")

  val tsSeasonalSql: String =
    s"""WITH c AS (
       |  SELECT event_type, date_trunc('hour', ts) AS b,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2
       |), st AS (
       |  SELECT event_type, CAST(hour(b) AS INTEGER) AS hod,
       |    CAST(count(*) AS BIGINT) AS nb, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM c GROUP BY 1, 2
       |)
       |SELECT event_type, hod, nb, sx, sxx,
       |  ${Analytics.seasonalMeanExpr} AS mean,
       |  ${Analytics.seasonalVarExpr} AS variance
       |FROM st""".stripMargin

  /** Shannon entropy of the per-source document distribution — the
    * dataset-card balance metric (see
    * [[graft.ext.Analytics.entropyConcentration]]).
    */
  val statsEntropy: QueryFn = (s, dir) =>
    Analytics.entropyConcentration(Tables.documents(s, dir), "source")

  val statsEntropySql: String =
    """WITH counts AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS cnt
      |  FROM documents GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS s FROM counts
      |), terms AS (
      |  SELECT cnt, s,
      |    CAST(cnt AS DOUBLE) / CAST(s AS DOUBLE) AS p
      |  FROM counts, tot
      |), agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(min(s) AS BIGINT) AS s,
      |    CAST(sum(CAST(round(-p * ln(p), 6) AS DECIMAL(30,6))) AS DOUBLE)
      |      AS entropy
      |  FROM terms
      |)
      |SELECT n, s, entropy,
      |  CASE WHEN n = 1 THEN 0.0
      |       ELSE round(entropy / ln(CAST(n AS DOUBLE)), 6) END AS entropy_norm
      |FROM agg""".stripMargin

  /** Gini concentration of per-user event activity — the contributor-
    * concentration index of a dataset audit (see
    * [[graft.ext.Analytics.giniConcentration]]).
    */
  val statsGini: QueryFn = (s, dir) =>
    Analytics.giniConcentration(Tables.events(s, dir), "user_id")

  val statsGiniSql: String =
    s"""WITH counts AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1
       |), ranked AS (
       |  SELECT cnt,
       |    CAST(row_number() OVER (ORDER BY cnt, user_id) AS BIGINT) AS i
       |  FROM counts
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS s,
       |    CAST(sum(i * cnt) AS BIGINT) AS s_rank
       |  FROM ranked
       |)
       |SELECT n, s, s_rank, ${Analytics.giniExpr} AS gini FROM st""".stripMargin

  /** Zipf slope of the corpus token distribution: log-log OLS over the
    * top-100 token types (see [[graft.ext.Analytics.zipfFit]]). Natural
    * language sits near −1; the fit is the dataset-card sanity probe on
    * tokenization + corpus mix.
    */
  val statsZipf: QueryFn = (s, dir) =>
    Analytics.zipfFit(
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt")),
      "word", "cnt")

  val statsZipfSql: String =
    s"""WITH counts AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |        FROM documents)
       |  GROUP BY 1
       |), top AS (
       |  SELECT word, cnt FROM counts ORDER BY cnt DESC, word LIMIT 100
       |), ranked AS (
       |  SELECT cnt,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS i
       |  FROM top
       |), a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(round(ln(CAST(i AS DOUBLE)), 6)
       |      AS DECIMAL(30,6))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(round(ln(CAST(cnt AS DOUBLE)), 6)
       |      AS DECIMAL(30,6))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(round(ln(CAST(i AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)), 6)
       |      AS DECIMAL(30,6))) AS DOUBLE) AS sxy,
       |    CAST(sum(CAST(round(ln(CAST(i AS DOUBLE)) * ln(CAST(i AS DOUBLE)), 6)
       |      AS DECIMAL(30,6))) AS DOUBLE) AS sxx
       |  FROM ranked
       |), b AS (
       |  SELECT n, sx, sy, sxy, sxx, ${Analytics.zipfSlopeExpr} AS slope FROM a
       |)
       |SELECT n, sx, sy, sxy, sxx, slope,
       |  ${Analytics.zipfInterceptExpr} AS intercept
       |FROM b""".stripMargin

  /** 3-iteration personalized PageRank seeded at parts divisible by 40
    * (~10% of the co-purchase nodes) — the seed-expansion curation
    * primitive: proximity-to-trusted-set scores, integer-exact.
    */
  val graphPpr: QueryFn = (s, dir) =>
    Graph.personalizedPagerank(
      coPurchase(s, dir),
      Tables.part(s, dir).select(col("p_partkey").as("node"))
        .where(col("node") % 40 === 0),
      iterations = 3)

  val graphPprSql: String = {
    def step(prev: String, out: String) =
      s"""${out}w AS (
         |  SELECT e.dst AS node,
         |    CAST((85 * sum($prev.r // deg.d)) // 100 AS BIGINT) AS r
         |  FROM edges e JOIN $prev ON $prev.node = e.src
         |    JOIN deg ON deg.src = e.src
         |  GROUP BY 1
         |), $out AS (
         |  SELECT node, CAST(sum(r) AS BIGINT) AS r FROM (
         |    SELECT node, r FROM ${out}w
         |    UNION ALL
         |    SELECT node, (15 * 1000000000000) // (100 * ns.n) FROM seeds, ns
         |  ) GROUP BY 1
         |)""".stripMargin
    s"""$pairsCte, edges AS (
       |  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
       |), deg AS (
       |  SELECT src, count(*) AS d FROM edges GROUP BY 1
       |), seeds AS (
       |  SELECT src AS node FROM deg WHERE src % 40 = 0
       |), ns AS (
       |  SELECT count(*) AS n FROM seeds
       |), it0 AS (
       |  SELECT node, CAST(1000000000000 // n AS BIGINT) AS r FROM seeds, ns
       |), ${step("it0", "it1")}, ${step("it1", "it2")}, ${step("it2", "it3")}
       |SELECT node, r AS rank_scaled,
       |  CAST(r AS DOUBLE) / 1000000000000.0 AS rank
       |FROM it3""".stripMargin
  }

  /** 3-round 3-core peeling of the co-purchase graph — the web-graph
    * quality filter (drop nodes whose residual degree falls below k,
    * iterate). Fixed rounds so the peel replays as an unrolled CTE
    * chain; integer-exact throughout.
    */
  val graphKcore: QueryFn = (s, dir) =>
    Graph.kcorePeel(coPurchase(s, dir), k = 3, rounds = 3)

  val graphKcoreSql: String = {
    def step(prevAlive: String, n: Int) =
      s"""d$n AS (
         |  SELECT e.src AS node, CAST(count(*) AS BIGINT) AS degree
         |  FROM edges e
         |  JOIN $prevAlive sa ON sa.node = e.src
         |  JOIN $prevAlive ta ON ta.node = e.dst
         |  GROUP BY 1
         |), a$n AS (
         |  SELECT node FROM d$n WHERE degree >= 3
         |)""".stripMargin
    s"""$pairsCte, edges AS (
       |  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
       |), a0 AS (
       |  SELECT DISTINCT src AS node FROM edges
       |), ${step("a0", 1)}, ${step("a1", 2)}, ${step("a2", 3)}
       |SELECT e.src AS node, CAST(count(*) AS BIGINT) AS degree
       |FROM edges e
       |JOIN a3 sa ON sa.node = e.src
       |JOIN a3 ta ON ta.node = e.dst
       |GROUP BY 1""".stripMargin
  }

  /** Every query of this family, with its DuckDB oracle SQL. */
  private val registry: Map[String, (QueryFn, String)] = Map(
    "graph_kcore" -> (graphKcore, graphKcoreSql),
    "graph_ppr" -> (graphPpr, graphPprSql),
    "graph_modularity" -> (graphModularity, graphModularitySql),
    "graph_pagerank" -> (graphPagerank, graphPagerankSql),
    "graph_jaccard" -> (graphJaccard, graphJaccardSql),
    "graph_adamic_adar" -> (graphAdamicAdar, graphAdamicAdarSql),
    "ts_autocorr" -> (tsAutocorr, tsAutocorrSql),
    "ts_seasonal" -> (tsSeasonal, tsSeasonalSql),
    "stats_gini" -> (statsGini, statsGiniSql),
    "stats_zipf" -> (statsZipf, statsZipfSql),
    "stats_entropy" -> (statsEntropy, statsEntropySql),
    "graph_triangles" -> (graphTriangles, graphTrianglesSql),
    "graph_bfs" -> (graphBfs, graphBfsSql),
    "graph_closeness" -> (graphCloseness, graphClosenessSql),
    "graph_betweenness" -> (graphBetweenness, graphBetweennessSql),
    "graph_ktruss" -> (graphKtruss, graphKtrussSql),
    "graph_lcc" -> (graphLcc, graphLccSql),
    "graph_degrees" -> (graphDegrees, graphDegreesSql),
    "graph_cc" -> (graphCc, graphCcSql),
    "graph_cc_incremental" -> (graphCcIncremental, graphCcSql), // incremental ≡ full recompute
    "graph_mst" -> (graphMst, graphMstSql),
    "graph_cc_twophase" -> (graphCcTwoPhase, graphCcSql), // same output contract as graph_cc
    "graph_scc" -> (graphScc, graphSccSql),
    "graph_assortativity" -> (graphAssortativity, graphAssortativitySql),
    "graph_reciprocity" -> (graphReciprocity, graphReciprocitySql),
    "graph_label_prop" -> (graphLabelProp, graphLabelPropSql),
    "graph_louvain" -> (graphLouvain, graphLouvainSql),
    "graph_leiden" -> (graphLeiden, graphLeidenSql),
    "graph_hits" -> (graphHits, graphHitsSql),
    "ts_ewma" -> (tsEwma, tsEwmaSql),
    "ts_interpolate" -> (tsInterpolate, tsInterpolateSql),
    "attribution_linear" -> (attributionLinear, attributionLinearSql),
    "ts_cusum" -> (tsCusum, tsCusumSql),
    "ts_holt" -> (tsHolt, tsHoltSql),
    "ts_holt_winters" -> (tsHoltWinters, tsHoltWintersSql),
    "quantile_exact" -> (quantileExact, quantileExactSql),
    "anomaly_mad" -> (anomalyMad, anomalyMadSql),
    "layout_zorder" -> (layoutZorder, layoutZorderSql),
    "layout_hilbert" -> (layoutHilbert, layoutHilbertSql),
  )

  val all: Map[String, QueryFn] = registry.map { case (n, (q, _)) => n -> q }
  val oracles: Map[String, String] = registry.map { case (n, (_, sql)) => n -> sql }
}
