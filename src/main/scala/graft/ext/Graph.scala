package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over relationship edges derived from relational data.
  *
  * The reference's data model is a graph in disguise — wallets own assets,
  * assets belong to collections, transactions connect wallets
  * (`app/main.py:109-330` walks those edges row by row). These operators
  * make the graph view first-class: derive a co-occurrence edge list with
  * one keyed self-join, then run the two canonical whole-graph analyses
  * (PageRank, triangle counting) as iterative/compositional DataFrame
  * plans that scale by shuffle-on-key, never by driver iteration over
  * rows.
  *
  * PageRank is computed in EXACT integer arithmetic (ranks are scaled
  * longs, shares are integer divisions) so a fixed-iteration run is
  * bit-reproducible across partitionings, core counts, and engines — the
  * same discipline as `vec_covariance`'s scaled-long sufficient statistics.
  * Float PageRank would sum contributions in shuffle-arrival order and
  * never hash-match a replay.
  */
object Graph {

  /** Distinct co-occurrence edges: item pairs (`a < b`) that share a group
    * (parts bought in the same order, assets touched by the same tx, ...).
    *
    * Scale: the self-join is keyed on the group column, so fan-out is
    * bounded by the per-group squared size (TPC-H orders hold ≤ 7 items) —
    * no cross join ever materializes. The exchange carries (group, item)
    * pairs only; `distinct` shuffles the two item keys and nothing else.
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String,
      itemCol: String): DataFrame = {
    val l = df.select(col(groupCol).as("g"), col(itemCol).as("a"))
    val r = df.select(col(groupCol).as("g"), col(itemCol).as("b"))
    l.join(r, Seq("g")).where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Fixed-iteration PageRank on the undirected graph of `edges` (cols
    * `a`, `b`; each treated as a symmetric link). Ranks live on a 1e12
    * integer scale: rank0 = SCALE/N, and each step is
    *
    *   rank'(v) = (15·SCALE)/(100·N) + (85 · Σ_u rank(u) div deg(u)) div 100
    *
    * with every division an integer division — exact, associative-safe
    * (long sums), so the result is independent of partitioning.
    *
    * Scale: the classic distributed PageRank — edges and degrees are
    * computed once and barriered (`localCheckpoint`) so each iteration is
    * exactly one join (rank × degree, key-partitioned) plus one
    * shuffle-on-dst aggregation of (dst, share) longs. Dangling nodes
    * cannot occur: symmetrization gives every node out-degree ≥ 1.
    * The node count is the only driver-side scalar.
    */
  def pagerank(edges: DataFrame, iterations: Int,
      scale: Long = 1000000000000L): DataFrame = {
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val n = deg.count()
    require(n > 0, "pagerank needs a non-empty graph")
    val base = (15L * scale) / (100L * n)
    var ranks = deg.select(col("src").as("node"), lit(scale / n).as("r"))
    for (_ <- 1 to iterations) {
      val shares = ranks
        .join(deg.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("node").as("src"), expr("r div d").as("share"))
      ranks = sym.join(shares, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg((lit(base) + expr("(85 * sum(share)) div 100")).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_scaled"),
      expr("CAST(r AS DOUBLE) / 1000000000000.0").as("rank"))
  }

  /** Fixed-iteration HITS (Kleinberg hubs/authorities) on the DIRECTED
    * graph of `edges` (cols `a` → `b`): auth'(v) = Σ_{u→v} hub(u),
    * hub'(u) = Σ_{u→v} auth'(v), each vector renormalized after its
    * update. Normalization is integer floor-division by
    * `max(1, max(raw) div scale)` — the true L2 norm needs a sqrt over
    * a float sum (order-dependent), while the max-ratio form keeps every
    * score an exact long, so the result is partitioning- and
    * engine-invariant, and rankings (the product anyone consumes) are
    * unaffected by the norm choice. Overflow-safe by construction:
    * raw sums are ≤ N·scale ≈ 1e15 at a billion nodes — values are
    * always renormalized into [0, ~scale] before the next multiply,
    * unlike the (raw·scale) formulation which wraps past ~9e6 nodes.
    *
    * Scale: edges/nodes computed once and barriered; each iteration is
    * two key-partitioned join+agg passes (src-keyed, then dst-keyed) and
    * two node-count-bounded scalar maxima. Returns every node —
    * sources-only get auth 0, sinks-only hub 0.
    */
  def hits(edges: DataFrame, iterations: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1)
    val e = edges.select(col("a").as("src"), col("b").as("dst"))
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    var hub = nodes.select(col("node"), lit(scale).as("h"))
    var auth = nodes.select(col("node"), lit(0L).as("a_s")).limit(0)
    for (_ <- 1 to iterations) {
      val araw = e.join(hub.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("ar"))
        .localCheckpoint(true) // read for the max AND the division
      val am = math.max(1L, araw.agg(max(col("ar"))).head().getLong(0) / scale)
      auth = araw.select(col("node"), expr(s"ar div $am").as("a_s"))
      val hraw = e.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("a_s")).as("hr"))
        .localCheckpoint(true)
      val hm = math.max(1L, hraw.agg(max(col("hr"))).head().getLong(0) / scale)
      hub = hraw.select(col("node"), expr(s"hr div $hm").as("h"))
    }
    nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("h"), lit(0L)).as("hub_scaled"),
        coalesce(col("a_s"), lit(0L)).as("auth_scaled"))
      .withColumn("hub", col("hub_scaled").cast("double") / scale.toDouble)
      .withColumn("auth", col("auth_scaled").cast("double") / scale.toDouble)
  }

  /** Synchronous label-propagation communities on the undirected graph
    * of `edges` (cols `a`, `b`), a FIXED number of rounds: labels start
    * as node ids; each round every node adopts the most frequent label
    * among its neighbors, ties to the smallest label. Both rules are
    * deterministic (no async sweep order, no RNG), so the result is
    * partitioning- and engine-invariant and replays round-for-round in
    * SQL — the usual async LPA converges faster but is run-order-defined,
    * which is unusable for a reproducible pipeline. Known property of the
    * deterministic rule: at the all-distinct start EVERY round-1 vote is
    * a tie, so a community holds against a single outside bridge only
    * when its internal degree majority is ≥ 2 (a 3-clique's bridge
    * endpoint leaks; a 4-clique's does not — pinned in Round6Spec).
    *
    * Scale: per round ONE key-partitioned join (labels onto edge
    * sources) and ONE (dst, label)-granular counting aggregation with a
    * `max_by` argmax — label volume is edge-sized, state node-sized;
    * edges are computed once and barriered.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").cast("long").as("lab"))
    for (_ <- 1 to rounds) {
      labels = sym
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("__c"))
        .groupBy(col("dst").as("node"))
        .agg(expr("max_by(lab, struct(__c, -lab))").as("lab"))
    }
    labels.select(col("node"), col("lab").as("community"))
  }

  /** Degree distribution of the undirected graph `edges` (cols `a`, `b`,
    * distinct `a < b` pairs): one row per occurring degree with the node
    * count — the first thing to look at before sizing any graph job
    * (hub-heavy distributions need the orientation/salting paths).
    * Two map-side-combining aggregations, integer-exact.
    */
  def degreeDistribution(edges: DataFrame): DataFrame =
    edges.select(col("a").as("n"))
      .unionByName(edges.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))

  /** Multi-source BFS: minimum hop count from any seed to every reachable
    * node of the undirected graph `edges` (cols `a`, `b`), bounded at
    * `maxHops`. Returns `(node, hops)` with seeds at 0; nodes not reached
    * within the bound are absent. Seeds outside the graph still appear at
    * hop 0 (they are their own component).
    *
    * Scale shape: textbook distributed frontier expansion — each level is
    * ONE key-partitioned join of the frontier against the symmetrized
    * edge list plus ONE anti-join against the visited set, both shuffling
    * bare node keys. Frontier and visited set are barriered
    * (`localCheckpoint`) so level N's plan never replays levels 1..N-1,
    * and the loop exits on the first empty frontier (one `count()` scalar
    * per level — the driver-side control every iterative traversal
    * needs). Hop counts are integers, so the result is partitioning- and
    * engine-invariant; a recursive-CTE `min(hops)` replay matches it
    * exactly.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    var frontier = seeds.select(col(seeds.columns.head).as("node"))
      .distinct().localCheckpoint(true)
    var visited = frontier
    var result = frontier.withColumn("hops", lit(0L))
    var hop = 1
    var growing = frontier.count() > 0
    while (growing && hop <= maxHops) {
      val next = sym
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint(true)
      if (next.isEmpty) growing = false
      else {
        result = result.unionByName(next.withColumn("hops", lit(hop.toLong)))
        visited = visited.unionByName(next).localCheckpoint(true)
        frontier = next
        hop += 1
      }
    }
    result
  }

  /** Sampled harmonic closeness centrality (Eppstein–Wang style): exact
    * per-seed BFS distances from a PINNED seed sample, then
    * H(v) = Σ_seeds floor(scale / d(s,v)) over reached seeds — the
    * integer-exact harmonic sum (harmonic, not classic closeness, so
    * disconnected components need no convention). Seeds themselves never
    * contribute their d=0 self-term.
    *
    * Scale: total state is |seeds| × reach — which is why the seed set
    * is a sample, the standard sublinear estimator for centrality at
    * graph scale — but it travels as ONE sorted seed-set array per
    * node, so every exchange stays node-count-sized (a row per (seed,
    * node) pair would be 100× the rows at 100 seeds). Each level is ONE
    * node-keyed join of the frontier against the symmetrized edges, a
    * set-union aggregation, and a left join against the visited sets;
    * frontier/visited are barriered (`localCheckpoint`) like [[bfsHops]]
    * so level N never replays levels 1..N−1. The harmonic sum only
    * needs the per-hop NEW-seed count, never the seed identities, so
    * the result feed is (node, count, hop) triples.
    */
  def harmonicCloseness(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      scale: Long = 1000000L): DataFrame = {
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    // frontier/visited carry each node's seed SET as one sorted array —
    // rows stay node-count-sized and the per-level exchange moves
    // |seeds|/64-word bitset-equivalents, not a row per (seed, node)
    // pair (100 seeds = 100× fewer frontier rows than the labeled form)
    var frontier = seeds.select(col(seeds.columns.head).as("node"))
      .distinct().withColumn("fs", array(col("node")))
      .localCheckpoint(true)
    var visited = frontier.withColumnRenamed("fs", "vs")
    var result: DataFrame = null
    var hop = 1
    var growing = frontier.count() > 0
    while (growing && hop <= maxHops) {
      val cand = sym
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("fs"))
        .groupBy("node")
        .agg(array_distinct(flatten(collect_list(col("fs")))).as("cand"))
      val fresh = cand.join(visited, Seq("node"), "left")
        .select(col("node"),
          array_except(col("cand"),
            coalesce(col("vs"), array().cast("array<bigint>"))).as("fs"))
        .where(size(col("fs")) > 0)
        .localCheckpoint(true)
      if (fresh.isEmpty) growing = false
      else {
        val contrib = fresh.select(col("node"),
          size(col("fs")).cast("long").as("cnt"),
          lit(hop.toLong).as("d"))
        result = if (result == null) contrib else result.unionByName(contrib)
        if (hop < maxHops) { // the last level never reads visited again
          visited = visited.join(fresh, Seq("node"), "full")
            .select(col("node"),
              concat(
                coalesce(col("vs"), array().cast("array<bigint>")),
                coalesce(col("fs"), array().cast("array<bigint>"))).as("vs"))
            .localCheckpoint(true)
          frontier = fresh
        }
        hop += 1
      }
    }
    if (result == null)
      frontier.sparkSession.emptyDataFrame
        .withColumn("node", lit(0L)).withColumn("n_seeds_reached", lit(0L))
        .withColumn("harmonic", lit(0L)).limit(0)
    else
      result.groupBy("node")
        .agg(sum(col("cnt")).as("n_seeds_reached"),
          sum(col("cnt") * expr(s"$scale div d")).as("harmonic"))
  }

  /** Global triangle / edge / node counts of the undirected graph `edges`
    * (cols `a`, `b`, already deduplicated with `a < b`).
    *
    * Scale: edges are re-oriented from the (degree, id)-smaller endpoint
    * to the larger before the two-hop join — the standard O(m^1.5)
    * orientation bound: every wedge is enumerated at the triangle's
    * lowest-degree vertex, so hub nodes never fan out quadratically. The
    * count is orientation-invariant (each triangle closes exactly once in
    * any acyclic orientation), which is what lets a plain `a < b` SQL
    * replay match it.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val und = edges.select("a", "b").localCheckpoint(true)
    val deg = und.select(col("a").as("n"))
      .unionByName(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint(true)
    val wedges = oriented.select(col("u"), col("v"))
      .join(oriented.select(col("u").as("v"), col("v").as("w")), Seq("v"))
    val triangles = wedges
      .join(oriented.select(col("u"), col("v").as("w")), Seq("u", "w"))
      .agg(count(lit(1)).as("triangles"))
    val sizes = und.agg(count(lit(1)).as("edges"))
      .crossJoin(deg.agg(count(lit(1)).as("nodes")))
    triangles.crossJoin(sizes)
  }

  /** Neighbor-set Jaccard similarity of each existing edge (a, b) in the
    * undirected graph `edges` (cols `a` < `b`): |N(a) ∩ N(b)| over
    * |N(a) ∪ N(b)| — the classic link-strength / entity-merge score.
    *
    * Exactness: common-neighbor and degree counts are integers; the one
    * division is of exact sub-2^53 doubles, identical bits either engine.
    *
    * Scale: common neighbors are counted by enumerating each edge's
    * wedges from its LOWER-degree endpoint (ties to the smaller id) and
    * verifying the shared neighbor against the other endpoint's adjacency
    * — two key-equi hash joins and one (a, b)-keyed aggregation, all on
    * 8-byte id tuples. Fan-out per edge is min(deg a, deg b), the same
    * orientation bound as triangleStats above: a hub's edges enumerate
    * from their cheap ends, so hubs cost their neighbors' degrees, not
    * their own squared. Degrees attach by key-equi joins of a node-sized
    * table; no adjacency list is ever materialized per row.
    */
  /** Adamic–Adar link score of each existing edge: Σ over common
    * neighbors w of 1/ln(deg w) — rare shared neighbors weigh more than
    * hub ones, the refinement of the common-neighbor count that wins on
    * real link-prediction benchmarks.
    *
    * Exactness: each witness term is round(1/ln d, 6) summed in DECIMAL
    * (order-independent, engine-identical — the attribution-credit
    * discipline; ln's libm ulp is absorbed by the per-term round).
    * Degree-1 witnesses (ln 1 = 0) cannot exist: a common neighbor has
    * degree >= 2 by construction. Scale: identical wedge orientation and
    * join shape as neighborJaccard below.
    */
  def adamicAdar(edges: DataFrame): DataFrame = {
    val und = edges.select("a", "b").localCheckpoint(true)
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true)
    val deg = sym.groupBy("u").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
    val oriented = withDeg.select(col("a"), col("b"),
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("lo"), col("b").as("hi")))
        .otherwise(struct(col("b").as("lo"), col("a").as("hi"))).as("e"))
      .select(col("a"), col("b"), col("e.lo").as("lo"), col("e.hi").as("hi"))
    oriented
      .join(sym.select(col("u").as("lo"), col("v").as("w")), Seq("lo"))
      .join(sym.select(col("u").as("hi"), col("v").as("w")), Seq("hi", "w"))
      .join(deg.select(col("u").as("w"), col("d").as("dw")), Seq("w"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"),
        sum(round(lit(1.0) / log(col("dw").cast("double")), 6)
          .cast("decimal(30,6)")).cast("double").as("adamic_adar"))
  }

  def neighborJaccard(edges: DataFrame): DataFrame = {
    val und = edges.select("a", "b").localCheckpoint(true)
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true) // adjacency: reused by the wedge join AND degrees
    val deg = sym.groupBy("u").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
      .localCheckpoint(true) // reused by the wedge join AND the output attach
    val oriented = withDeg.select(col("a"), col("b"),
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("lo"), col("b").as("hi")))
        .otherwise(struct(col("b").as("lo"), col("a").as("hi"))).as("e"))
      .select(col("a"), col("b"), col("e.lo").as("lo"), col("e.hi").as("hi"))
    val common = oriented
      .join(sym.select(col("u").as("lo"), col("v").as("w")), Seq("lo"))
      .join(sym.select(col("u").as("hi"), col("v").as("w")), Seq("hi", "w"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    withDeg
      .join(common, Seq("a", "b"), "left")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("da") + col("db") - col("common")).cast("double"))
      .select("a", "b", "common", "da", "db", "jaccard")
  }

  /** Newman modularity of a node partition over the undirected graph of
    * `edges` (cols `a`, `b`; `labels` = (node, community)): per
    * community, Q_c = e_c/m − (d_c/2m)² — intra-community edge fraction
    * minus the degree-preserving random expectation. The community
    * QUALITY metric that turns [[labelPropagation]]'s output into a
    * number: Q near 0 means the partition is no better than random
    * wiring, and comparing Q across rounds/parameters is how a pipeline
    * picks its clustering. Per-community terms are rounded at 6 from
    * exact integer (e_c, d_c, m); Σ Q_c is the global modularity.
    *
    * Scale: one degree aggregation, two node-keyed label attaches, one
    * community-keyed aggregation — community-sized output, no driver
    * state beyond the single edge count.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges.select("a", "b").localCheckpoint(true)
    val m = und.count()
    require(m > 0, "modularity needs a non-empty graph")
    val sym = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
    val deg = sym.groupBy("node").agg(count(lit(1)).as("d"))
    val lab = labels.select(col("node"), col("community")).localCheckpoint(true)
    val dc = deg.join(lab, Seq("node"))
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_tot"))
    val ec = und
      .join(lab.select(col("node").as("a"), col("community").as("__ca")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("community").as("__cb")), Seq("b"))
      .where(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("e_in"))
    dc.join(ec, Seq("community"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .withColumn("q_term", round(
        col("e_in").cast("double") / lit(m.toDouble)
          - (col("d_tot").cast("double") / lit(2.0 * m))
            * (col("d_tot").cast("double") / lit(2.0 * m)), 6))
      .select("community", "n_nodes", "e_in", "d_tot", "q_term")
  }

  /** Reset a checkpointed frame's STATISTICS as well as its lineage:
    * `localCheckpoint` truncates the RDD lineage but the returned plan
    * INHERITS the estimated sizeInBytes of what it replaced — in an
    * iterative join loop the estimate multiplies every round, the
    * BigInteger grows exponentially, and Catalyst's stats visitor
    * eventually burns the driver alive on arbitrary-precision
    * arithmetic (measured: a 50-node Louvain loop wedged the driver
    * for 25+ minutes inside BigInteger.multiply). Re-wrapping the
    * materialized RDD in a fresh DataFrame restores a constant-size
    * estimate each round. One narrow conversion pass over a
    * node-count-sized table — noise next to the round's shuffles.
    */
  private def resetStats(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Exact integer partition quality: S(P) = Σ_C [4m·e_C − d_C²], a
    * positive affine transform of Newman modularity (Q = S / 4m²), in
    * DECIMAL(38,0) — so "did this refinement round help?" is an exact
    * integer comparison both engines answer identically, never a float
    * race. Two keyed label joins + two community aggregations — the
    * [[modularity]] accounting as one scalar.
    */
  private def louvainS(und: DataFrame, deg: DataFrame, labels: DataFrame,
      m: Long): java.math.BigDecimal = {
    val d38 = "decimal(38,0)"
    val ein = und
      .join(labels.select(col("node").as("a"), col("com").as("__ca")), Seq("a"))
      .join(labels.select(col("node").as("b"), col("com").as("__cb")), Seq("b"))
      .where(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("com")).agg(count(lit(1)).as("e"))
    val row = deg.join(labels, Seq("node"))
      .groupBy("com").agg(sum(col("d")).as("dt"))
      .join(ein, Seq("com"), "left")
      .agg(sum(lit(4L * m).cast(d38) * coalesce(col("e"), lit(0L)).cast(d38)
        - col("dt").cast(d38) * col("dt").cast(d38)).as("s"))
      .head()
    row.getDecimal(0)
  }

  /** Parity-alternated local-move refinement rounds over the node graph
    * (Louvain phase 1, the synchronous replayable variant): per round,
    * active nodes (id parity = round parity — the alternating-cycle
    * damping of parallel Louvain implementations; fully-synchronous
    * moves thrash on dense graphs) pick the community among their
    * neighbors' communities and their own with the best EXACT
    * modularity gain: dropping the per-node-constant k_v²/4m² term,
    * argmax_C ΔQ(v→C) = argmax_C [2m·k_{v,C∖v} − k_v·Σtot(C∖v)] — two
    * DECIMAL(38,0) integer products per candidate, ties to the smallest
    * community id via the label-prop `max_by(com, struct(score, -com))`
    * idiom. No window anywhere. Returns every post-round snapshot (the
    * caller selects the best by exact [[louvainS]]).
    *
    * Scale: per round ONE dst-keyed join + aggregation builds k_{v,C},
    * one node-keyed aggregation builds Σtot, and the scoring is keyed
    * joins on node/community — the PageRank shuffle budget, state one
    * (node, com) row per node.
    */
  private def louvainMoves(sym: DataFrame, deg: DataFrame, m: Long,
      seed: DataFrame, rounds: Int): Seq[DataFrame] = {
    val d38 = "decimal(38,0)"
    var p = seed
    val snaps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to rounds) {
      val ctot = deg.join(p, Seq("node"))
        .groupBy("com").agg(sum(col("d")).as("tot"))
      val kvc = sym
        .join(p.select(col("node").as("dst"), col("com")), Seq("dst"))
        .groupBy(col("src").as("node"), col("com"))
        .agg(sum(col("w")).as("kvc"))
      // candidates: the node's OWN community (k_{v,D∖v}, 0 when no
      // neighbor shares it) plus every neighbor community
      val own = p.join(kvc, Seq("node", "com"), "left")
        .select(col("node"), col("com"),
          coalesce(col("kvc"), lit(0L)).as("kvc"))
      val nbr = kvc.join(p.select(col("node"), col("com").as("__cur")),
          Seq("node"))
        .where(col("com") =!= col("__cur"))
        .select("node", "com", "kvc")
      val scored = own.unionByName(nbr)
        .join(p.select(col("node"), col("com").as("__cur")), Seq("node"))
        .join(deg, Seq("node"))
        .join(ctot, Seq("com"))
        .withColumn("score",
          lit(m).cast(d38) * lit(2L) * col("kvc").cast(d38)
            - col("d").cast(d38) *
              (col("tot") - when(col("com") === col("__cur"), col("d"))
                .otherwise(lit(0L))).cast(d38))
      val best = scored.groupBy("node")
        .agg(expr("max_by(com, struct(score, -com))").as("best"))
      p = resetStats(p.join(best, Seq("node"))
        .select(col("node"),
          when(pmod(col("node"), lit(2L)) === lit((r % 2).toLong),
            col("best")).otherwise(col("com")).as("com")))
      snaps += p
    }
    snaps.toSeq
  }

  /** Fixed-round deterministic Louvain communities — the modularity-
    * OPTIMIZING partitioner (unlike [[labelPropagation]], which spreads
    * frequent labels with no quality guarantee). Three phases, all
    * exact-integer and unrolled-CTE-replayable:
    *
    *  1. AGGLOMERATION, `matchRounds` handshake-merge rounds: each
    *     community picks its best merge partner by exact merge gain
    *     ΔQ(C,D) ∝ 2m·e_CD − d_C·d_D (DECIMAL(38,0); positive gains
    *     only; ties to the smallest partner id), and a merge happens
    *     ONLY when the choice is mutual. Mutual merges are pairwise
    *     disjoint, so the per-round ΔQ is the exact SUM of the chosen
    *     gains — Q is PROVABLY non-decreasing every round (the property
    *     fully-synchronous local moves lack: from singletons they
    *     thrash on dense graphs — measured Q ≈ −0.04 on the co-purchase
    *     fixture — because adjacent nodes swap communities in lockstep).
    *     Each merge round operates on community granularity (e_CD, d_C),
    *     i.e. every round IS a micro-contraction of the classic
    *     Louvain level structure. Merged pairs take the smaller
    *     community id.
    *  2. REFINEMENT, `moveRounds` parity-alternated local-move rounds
    *     ([[louvainMoves]] — Louvain phase 1 proper) from the
    *     agglomerated seed: node-level corrections matching can't
    *     express (measured +19% Q on the co-purchase fixture).
    *  3. SELECTION: the final answer is the snapshot (seed or any
    *     post-refinement round) with the best EXACT integer quality
    *     S = Σ_C [4m·e_C − d_C²] ([[louvainS]]; ties to the earliest
    *     snapshot) — refinement is synchronous and so not itself
    *     monotone; the selection restores the guarantee
    *     Q(result) ≥ Q(agglomeration) ≥ each merge round ≥ ... .
    *
    * Returns `(node, community)`; community ids are node ids (each
    * community's smallest anchor id), fully deterministic.
    *
    * Scale: every phase is keyed joins + community-sized aggregations
    * (no windows, no collects beyond the m/S scalars); a merge round
    * touches the edge list twice (the [[modularity]] budget); state is
    * one (node, com) row per node, checkpointed with constant-size
    * stats each round ([[resetStats]]).
    */
  def louvain(edges: DataFrame, matchRounds: Int = 12,
      moveRounds: Int = 4): DataFrame = {
    require(matchRounds >= 1 && moveRounds >= 0)
    val d38 = "decimal(38,0)"
    val und = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b")).localCheckpoint(true)
    val m = und.count()
    require(m > 0, "louvain needs a non-empty graph")
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .withColumn("w", lit(1L)).localCheckpoint(true)
    val deg = sym.groupBy(col("src").as("node"))
      .agg(sum(col("w")).as("d")).localCheckpoint(true)
    // phase 1: handshake agglomeration (Q non-decreasing by construction)
    var p = deg.select(col("node"), col("node").as("com"))
      .localCheckpoint(true)
    for (_ <- 1 to matchRounds) {
      val ecd0 = und
        .join(p.select(col("node").as("a"), col("com").as("__ca")), Seq("a"))
        .join(p.select(col("node").as("b"), col("com").as("__cb")), Seq("b"))
        .where(col("__ca") =!= col("__cb"))
        .select(col("__ca").as("c1"), col("__cb").as("c2"))
      val ecd = ecd0
        .unionByName(ecd0.select(col("c2").as("c1"), col("c1").as("c2")))
        .groupBy("c1", "c2").agg(count(lit(1)).as("e"))
      val dtot = deg.join(p, Seq("node"))
        .groupBy(col("com")).agg(sum(col("d")).as("dt"))
      val gain = ecd
        .join(dtot.select(col("com").as("c1"), col("dt").as("d1")), Seq("c1"))
        .join(dtot.select(col("com").as("c2"), col("dt").as("d2")), Seq("c2"))
        .withColumn("g", lit(m).cast(d38) * lit(2L) * col("e").cast(d38)
          - col("d1").cast(d38) * col("d2").cast(d38))
        .where(col("g") > 0)
      val best = gain.groupBy("c1")
        .agg(expr("max_by(c2, struct(g, -c2))").as("c2"))
      val mutual = best
        .join(best.select(col("c1").as("c2"), col("c2").as("c1")),
          Seq("c1", "c2"))
        .where(col("c1") < col("c2"))
      val relabel = mutual.select(col("c2").as("com"), col("c1").as("newcom"))
      p = resetStats(p.join(relabel, Seq("com"), "left")
        .select(col("node"), coalesce(col("newcom"), col("com")).as("com")))
    }
    // phases 2 + 3: local-move refinement, then exact-S best-snapshot
    val snaps = p +: louvainMoves(sym, deg, m, p, moveRounds)
    val chosen = snaps
      .map(s => (s, louvainS(und, deg, s, m)))
      .reduceLeft((a, b) => if (b._2.compareTo(a._2) > 0) b else a)._1
    chosen.select(col("node"), col("com").as("community"))
  }

  /** Leiden-style connectivity refinement over [[louvain]] — the
    * published fix (Traag, Waltman & van Eck 2019) for Louvain's one
    * structural defect: local moves can hollow out a community's
    * interior until it is INTERNALLY DISCONNECTED (two dense regions
    * held together only by a label, their bridge node long since moved
    * away), and downstream consumers of "community" (per-community
    * dedup, quality scoring, sharding) silently operate on unrelated
    * node sets. The refinement splits every Louvain community into its
    * connected components over INTRA-community edges, so the Leiden
    * guarantee holds: every returned community is a connected subgraph.
    *
    * Quality is provably preserved-or-improved: splitting a community C
    * into components C₁…Cₖ keeps S = Σ[4m·e_C − d_C²] non-decreasing —
    * e_C splits exactly (no intra edges cross components, by
    * definition) while d_C² ≥ Σd_i², hence Q(leiden) ≥ Q(louvain) ≥
    * Q(agglomeration) exactly (asserted in Round11bSpec).
    *
    * Community ids are min node ids within each connected part; nodes
    * with no same-community neighbor become singletons (their own id).
    *
    * Scale: the refinement adds two label joins over the edge list plus
    * one connected-components pass over the intra-community edge set
    * ([[graft.ext.Dedup.components]] — co-partitioned min-label
    * propagation with pointer jumping above its documented driver
    * threshold), all keyed — no window, no collect beyond louvain's
    * m/S scalars and the components threshold check.
    */
  def leiden(edges: DataFrame, matchRounds: Int = 12,
      moveRounds: Int = 4): DataFrame = {
    val und = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b")).localCheckpoint(true)
    leidenRefine(und, louvain(und, matchRounds, moveRounds))
  }

  /** Fixed-round Borůvka MAXIMUM spanning forest over weighted edges
    * `(a, b, w)` — the strongest-ties backbone of a similarity/co-
    * occurrence graph (the spanning structure that keeps, for every
    * partition of the nodes, the heaviest edge crossing it: the edges
    * you'd keep if you could keep only n−1). Borůvka is THE distributed
    * MST algorithm — every component picks its best incident edge
    * simultaneously, components at least halve per round, so
    * `rounds = 16` completes for up to 2^16 initial components and
    * rounds after completion are natural no-ops (no cross-component
    * edge remains → nothing is chosen → the forest is a fixpoint),
    * making the fixed-round form safely idempotent.
    *
    * Determinism/uniqueness: the per-component argmax orders edges by
    * the TOTAL order (w desc, a asc, b asc); Borůvka under a consistent
    * total order computes the unique MSF of the perturbed weights, so
    * the output is partitioning- and engine-invariant, and the classic
    * cycle-impossibility argument holds (a cycle would need two edges
    * each strictly best at the crossing, impossible under a total
    * order). Ids must be non-negative (the `-a` ordering key — the
    * [[Dedup.exactWithPriority]] caveat).
    *
    * Weight contract (ADVICE r11 #1): `w` keeps its INPUT numeric type
    * in the total order — fractional weights (jaccard/cosine
    * similarities in [0,1], the documented similarity-graph use case)
    * rank at full precision, never truncated. Null weights trip
    * raise_error in the value path (an edge with no weight has no rank;
    * silent drop would change the forest silently); NaN is the caller's
    * to exclude (its ordering is engine-dependent). `w` must be a
    * NUMERIC type — a string weight would rank LEXICOGRAPHICALLY in the
    * total order ("9" > "10"), so non-numeric inputs are rejected up
    * front, and null ids in the raise message coalesce to 'null' so the
    * error stays readable (ADVICE r12 #4).
    *
    * Completeness (ADVICE r11 #3): components at least halve per round,
    * so the default covers 2^16 initial components; if the graph is
    * bigger and cross-component edges REMAIN after `rounds`, the method
    * throws instead of silently returning a partial forest (the
    * early-exit probe detects completion; the post-loop residual check
    * detects incompleteness).
    *
    * Scale: per round one edge⋈labels join (two keyed attaches), one
    * component-keyed argmax aggregation, and ONE INCREMENTAL components
    * fold ([[Dedup.componentsIncremental]] — the chosen edges merge
    * into the label table without re-touching prior forest edges);
    * forest and label state are node-count-sized. An early-exit probe
    * on the checkpointed cross-component edge set skips the no-op tail.
    */
  def maxSpanningForest(edges: DataFrame, rounds: Int = 16,
      driverMaxEdges: Long = 2000000L): DataFrame = {
    // weight must be NUMERIC (ADVICE r12 #4): a string w would flow
    // through the max_by total order ranking LEXICOGRAPHICALLY ("9" >
    // "10") — a silently wrong forest, so reject it up front
    require(edges.schema("w").dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"maxSpanningForest: weight column `w` must be numeric, got " +
        s"${edges.schema("w").dataType.simpleString} — cast it first " +
        "(a non-numeric order would rank lexicographically)")
    // null ids coalesce to the literal 'null' so the raise message stays
    // readable instead of concat-collapsing to NULL (opaque error)
    def idStr(c: String): org.apache.spark.sql.Column =
      coalesce(col(c).cast("string"), lit("null"))
    val wChecked = when(col("w").isNotNull, col("w"))
      .otherwise(raise_error(concat(
        lit("maxSpanningForest: null weight on edge ("),
        idStr("a"), lit(", "), idStr("b"), lit(")"))))
    val e0 = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"), wChecked.as("w"))
      .localCheckpoint(true)
    // Entry hand-off (optimization r14, the [[scc]] precedent): under a
    // consistent total order (w desc, a asc, b asc) the MSF is UNIQUE —
    // the scaladoc above already relies on that for engine-invariance —
    // so Kruskal over the collected edge list computes EXACTLY the
    // forest the Borůvka rounds converge to. When the edge list fits
    // the documented driver budget (24 B/edge at the default — the
    // `components` union-find convention), one collect + one linear
    // union-find pass replaces 4-6 distributed rounds of join/argmax/
    // fold jobs. The null-weight raise still fires (the checkpoint above
    // materializes the checked projection); above the threshold the
    // Borůvka loop below runs unchanged. driverMaxEdges=0 is the spec
    // dial that pins the distributed path (incl. the rounds-too-few
    // loud failure, which the driver path never needs).
    val e0N = e0.count()
    if (e0N > 0 && e0N <= driverMaxEdges) {
      // Null-endpoint edges: the distributed rounds drop them silently
      // (a null `a`/`b` never matches the label joins), so the driver
      // path drops them too instead of NPE-ing at getLong (ADVICE r14).
      val rows = e0.collect().filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      // Sort key precomputed ONCE per row and compared natively per
      // weight type (ADVICE r14: the old comparator parsed two
      // BigDecimals from Row.toString on EVERY comparison — O(m log m)
      // string parses, a driver CPU cliff near the edge threshold — and
      // new BigDecimal("NaN") threw where the distributed struct
      // ordering handles NaN). Doubles/floats compare NaN-safe exactly
      // like Spark's ordering: NaN greatest, NaN == NaN, -0.0 == 0.0.
      import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
      val m = rows.length
      val aArr = new Array[Long](m); val bArr = new Array[Long](m)
      var i = 0
      while (i < m) { aArr(i) = rows(i).getLong(0); bArr(i) = rows(i).getLong(1); i += 1 }
      val wCmp: (Int, Int) => Int = edges.schema("w").dataType match {
        case DoubleType | FloatType =>
          val k = rows.map(_.getAs[Number](2).doubleValue())
          (x, y) => {
            val xN = java.lang.Double.isNaN(k(x))
            val yN = java.lang.Double.isNaN(k(y))
            if (xN && yN) 0 else if (xN) 1 else if (yN) -1
            else if (k(x) < k(y)) -1 else if (k(x) > k(y)) 1 else 0
          }
        case _: DecimalType =>
          val k = rows.map(_.getDecimal(2))
          (x, y) => k(x).compareTo(k(y))
        case _ => // integral (byte/short/int/long)
          val k = rows.map(_.getAs[Number](2).longValue())
          (x, y) => java.lang.Long.compare(k(x), k(y))
      }
      val order = new java.util.Comparator[Integer] {
        override def compare(x: Integer, y: Integer): Int = {
          val c = wCmp(x, y)
          if (c != 0) -c // w desc
          else {
            val ca = java.lang.Long.compare(aArr(x), aArr(y))
            if (ca != 0) ca else java.lang.Long.compare(bArr(x), bArr(y))
          }
        }
      }
      val idx: Array[Integer] = Array.tabulate(m)(Integer.valueOf)
      java.util.Arrays.sort(idx, order)
      val sorted = idx.map(rows(_))
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        if (!parent.contains(x)) parent(x) = x
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val kept = new java.util.ArrayList[org.apache.spark.sql.Row]()
      sorted.foreach { r =>
        val ra = find(r.getLong(0)); val rb = find(r.getLong(1))
        if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb); kept.add(r) }
      }
      return edges.sparkSession.createDataFrame(kept, e0.schema)
    }
    val nodes = e0.select(col("a").as("node"))
      .unionByName(e0.select(col("b").as("node"))).distinct()
    var labels = nodes.select(col("node").as("id"),
      col("node").as("cluster_id")).localCheckpoint(true)
    var forest = e0.where(lit(false)).localCheckpoint(true)
    var done = false
    for (_ <- 1 to rounds if !done) {
      val cross = e0
        .join(labels.select(col("id").as("a"), col("cluster_id").as("__ca")),
          Seq("a"))
        .join(labels.select(col("id").as("b"), col("cluster_id").as("__cb")),
          Seq("b"))
        .where(col("__ca") =!= col("__cb"))
        .localCheckpoint(true)
      if (cross.isEmpty) done = true
      else {
        val halves = cross
          .select(col("__ca").as("comp"), col("a"), col("b"), col("w"))
          .unionByName(cross
            .select(col("__cb").as("comp"), col("a"), col("b"), col("w")))
        val best = halves.groupBy("comp")
          .agg(expr("max_by(struct(a, b, w), struct(w, -a, -b))").as("e"))
          .select(col("e.a").as("a"), col("e.b").as("b"), col("e.w").as("w"))
          .distinct()
          .localCheckpoint(true)
        forest = forest.unionByName(best).localCheckpoint(true)
        labels = Dedup.componentsIncremental(labels,
          best.select(col("a").as("id_a"), col("b").as("id_b")))
          .localCheckpoint(true)
      }
    }
    // Residual check (ADVICE r11 #3): `done` means a round OBSERVED no
    // cross-component edge — completion proven. If all rounds did work,
    // probe once more; a surviving cross edge means >2^rounds initial
    // components and the forest would be silently partial — fail loud.
    if (!done) {
      val residual = e0
        .join(labels.select(col("id").as("a"), col("cluster_id").as("__ca")),
          Seq("a"))
        .join(labels.select(col("id").as("b"), col("cluster_id").as("__cb")),
          Seq("b"))
        .where(col("__ca") =!= col("__cb"))
      if (!residual.isEmpty)
        throw new IllegalStateException(
          s"maxSpanningForest: cross-component edges remain after $rounds " +
            "Borůvka rounds (more than 2^rounds initial components) — " +
            "raise `rounds` instead of accepting a partial forest")
    }
    forest
  }

  /** The refinement phase of [[leiden]] alone, over an ALREADY-computed
    * `(node, community)` labeling — so a pipeline that materializes the
    * Louvain partition once (the memoized-training pattern) can refine
    * it without re-running the merge/move rounds: split every community
    * into its connected components over intra-community edges.
    */
  def leidenRefine(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    val lv = labels.select(col("node").cast("long").as("node"),
      col("community").cast("long").as("community"))
    val intra = und
      .join(lv.select(col("node").as("a"), col("community").as("__ca")),
        Seq("a"))
      .join(lv.select(col("node").as("b"), col("community").as("__cb")),
        Seq("b"))
      .where(col("__ca") === col("__cb"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val comp = Dedup.components(intra)
    lv.join(comp.select(col("id").as("node"), col("cluster_id")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("cluster_id"), col("node")).as("community"))
  }

  /** Fixed-iteration personalized PageRank: teleport mass returns ONLY
    * to the `seeds` node set, so scores measure proximity to the seeds —
    * the seed-expansion primitive of data curation (start from trusted
    * domains/documents, walk the link/co-occurrence graph, harvest the
    * high-score frontier). Same integer discipline as [[pagerank]]:
    * rank0 = SCALE/|S| on seeds, and each step
    *
    *   rank'(v) = [v∈S]·(15·SCALE)/(100·|S|)
    *            + (85 · Σ_u rank(u) div deg(u)) div 100
    *
    * with every division integer — exact long sums, partitioning- and
    * engine-invariant. Non-seed sinks can't hoard mass: symmetrization
    * gives every node out-degree ≥ 1.
    *
    * Scale: identical shuffle budget to [[pagerank]] (edges/degrees
    * barriered once; per iteration one key-partitioned join + one
    * dst-keyed aggregation) plus a seed-sized unionByName — seed state
    * never broadcast, never collected.
    */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
      iterations: Int, scale: Long = 1000000000000L): DataFrame = {
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val seedNodes = seeds.select(col("node"))
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "semi")
      .distinct().localCheckpoint(true)
    val s = seedNodes.count()
    require(s > 0, "personalizedPagerank needs at least one in-graph seed")
    val base = (15L * scale) / (100L * s)
    var ranks = seedNodes.select(col("node"), lit(scale / s).as("r"))
    for (_ <- 1 to iterations) {
      val shares = ranks
        .join(deg.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("node").as("src"), expr("r div d").as("share"))
      val walked = sym.join(shares, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(expr("(85 * sum(share)) div 100").as("r"))
      ranks = walked
        .unionByName(seedNodes.select(col("node"), lit(base).as("r")))
        .groupBy("node").agg(sum(col("r")).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_scaled"),
      expr(s"CAST(r AS DOUBLE) / $scale.0").as("rank"))
  }

  /** Fixed-round k-core peeling on the undirected graph of `edges`
    * (cols `a`, `b`): each round drops every node whose degree WITHIN
    * the surviving subgraph is < k, the standard web-graph quality
    * filter (low-coreness pages are link-farm leaves; the dense core is
    * where organic content lives). A fixed round count (rather than
    * run-to-fixpoint) keeps the operator replayable as an unrolled SQL
    * CTE chain; peeling is monotone, so R rounds give the exact k-core
    * whenever the peel converges within R (asserted non-trivially in the
    * spec) and a sound over-approximation otherwise. Returns each
    * surviving node with its residual degree — all exact longs.
    *
    * Scale: node-sized alive state, and per round exactly two
    * key-partitioned semi-joins (edge endpoints vs alive) + one count
    * aggregation — the same shuffle budget as a pagerank step. Edges are
    * symmetrized/deduped once and barriered.
    */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .distinct().localCheckpoint(true)
    var alive = sym.select(col("src").as("node")).distinct()
    var deg: DataFrame = null
    for (_ <- 1 to rounds) {
      deg = sym
        .join(alive.withColumnRenamed("node", "src"), Seq("src"), "semi")
        .join(alive.withColumnRenamed("node", "dst"), Seq("dst"), "semi")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
      alive = deg.where(col("degree") >= k).select("node")
        .localCheckpoint(true) // barrier: each round's frontier feeds 2 joins
    }
    // residual degrees within the final alive set (one extra pass so the
    // last dropped wave doesn't pollute the reported degrees)
    sym
      .join(alive.withColumnRenamed("node", "src"), Seq("src"), "semi")
      .join(alive.withColumnRenamed("node", "dst"), Seq("dst"), "semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** Fixed-round k-truss peeling: iteratively drop every edge supported
    * by fewer than k−2 triangles — the EDGE-level cohesion filter one
    * notch stronger than [[kcorePeel]] (a k-core can be a sparse tangle;
    * a k-truss edge sits in k−2 triangles, so surviving subgraphs are
    * locally dense — the standard web/social spam-farm and community
    * scaffold signal). Same contract as kcore: a FIXED number of peel
    * rounds (each round's support is recomputed on the survivors), then
    * one extra support pass over the final survivors so the last dropped
    * wave doesn't pollute the reported numbers. Returns (u, v, support)
    * with u < v normalized.
    *
    * Scale: triangles are enumerated on the (u < v)-normalized edge set
    * — each round is two keyed self-joins + one map-side-combining
    * count (the [[triangleStats]] shape, every triangle seen once);
    * edges are barriered per round. No window, no driver state.
    */
  def trussPeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1)
    var e = edges
      .select(least(col("a"), col("b")).cast("long").as("u"),
        greatest(col("a"), col("b")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(true)
    def support(cur: DataFrame): DataFrame = {
      val tri = cur.select(col("u").as("x"), col("v").as("y"))
        .join(cur.select(col("u").as("x"), col("v").as("z")), Seq("x"))
        .where(col("y") < col("z"))
        .join(cur.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))
      tri.select(explode(array(
          struct(col("x").as("u"), col("y").as("v")),
          struct(col("x").as("u"), col("z").as("v")),
          struct(col("y").as("u"), col("z").as("v")))).as("s"))
        .groupBy(col("s.u").as("u"), col("s.v").as("v"))
        .agg(count(lit(1)).as("support"))
    }
    for (_ <- 1 to rounds) {
      e = e.join(support(e).where(col("support") >= k - 2),
          Seq("u", "v"), "semi")
        .localCheckpoint(true) // barrier: each round feeds 3 self-joins
    }
    e.join(support(e), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Local clustering coefficient per node: lcc(v) = 2·T(v)/(d(v)·(d(v)−1))
    * — how close v's neighborhood is to a clique, the node-level
    * companion to [[triangleStats]] (global) and [[trussPeel]] (edge
    * level); the classic "tightly-knit template cluster vs organic hub"
    * separator. Triangles are enumerated once on the (u < v)-normalized
    * edge set (each triangle seen exactly once, then credited to its
    * three corners); degrees come from the same normalized set. Exact
    * integer counts, one round-6 division. Nodes with degree < 2 report
    * lcc = 0.
    *
    * Scale: the [[triangleStats]] join shape (two keyed self-joins + a
    * corner-explode count) + one degree aggregation + one node-keyed
    * left join. No window, no driver state.
    */
  def localClustering(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("a"), col("b")).cast("long").as("u"),
        greatest(col("a"), col("b")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(true)
    val deg = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val tri = e.select(col("u").as("x"), col("v").as("y"))
      .join(e.select(col("u").as("x"), col("v").as("z")), Seq("x"))
      .where(col("y") < col("z"))
      .join(e.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))
    val perNode = tri.select(explode(array(col("x"), col("y"), col("z")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc", when(col("degree") < 2, lit(0.0))
        .otherwise(round(lit(2.0) * col("triangles").cast("double") /
          (col("degree").cast("double") * (col("degree").cast("double") - 1.0)),
          6)))
  }

  /** Connected components by alternating large-star / small-star
    * contractions (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014) — the O(log n)-round algorithm for graphs
    * whose DIAMETER makes per-hop label propagation infeasible (a web
    * crawl's link chains can be thousands of hops deep; `Dedup
    * .components`' propagation pays one shuffle per hop, this pays one
    * per halving). Labels components by their minimum node id — the
    * same output contract as [[graft.ext.Dedup.components]], so the two
    * are interchangeable and cross-checkable.
    *
    * Each round is two contractions over the current edge multiset:
    *  - large-star: every node links its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node links its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    * Both preserve connectivity and never raise a node's reachable
    * minimum; the fixpoint is a forest of depth-1 stars rooted at the
    * component minima. Convergence is detected by an order-invariant
    * edge-set fingerprint (count + xor of per-edge hashes — the
    * checksum_manifest discipline), so the loop runs exactly as many
    * distributed rounds as the graph needs, each round ONE
    * neighborhood-keyed min + ONE keyed join, all exchanges carrying
    * (node, node) pairs.
    *
    * Scale: no driver state beyond the 2-scalar fingerprint; edge
    * frontiers are barriered (`localCheckpoint`) so round N never
    * replays rounds 1..N-1. Skewed stars (a root accumulating millions
    * of children) are exactly the algorithm's intended end state — the
    * per-round groupBy is a map-side-combining min, so hot roots cost
    * one combiner slot per upstream partition, not a hot reducer.
    */
  def ccTwoPhase(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    require(maxRounds >= 1)
    val nodes = edges.select(col("a").cast("long").as("node"))
      .unionByName(edges.select(col("b").cast("long").as("node")))
      .distinct().localCheckpoint(true)
    // normalized working multiset: (u, v) with u > v, self-loops dropped
    var e = edges
      .select(greatest(col("a"), col("b")).cast("long").as("u"),
        least(col("a"), col("b")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(true)

    // order-invariant fingerprint: count + bit-XOR of per-edge hashes
    def fp(df: DataFrame): (Long, Long) = {
      val r = df
        .agg(count(lit(1)).as("c"),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    // min over each node's closed neighborhood, from the symmetric view
    def closedMins(cur: DataFrame): DataFrame =
      cur.select(col("u").as("x"), col("v").as("nbr"))
        .unionByName(cur.select(col("v").as("x"), col("u").as("nbr")))
        .groupBy("x").agg(min(col("nbr")).as("m0"))
        .select(col("x"), least(col("m0"), col("x")).as("m"))

    var prev = fp(e)
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // large-star: (nbr, m_x) for every nbr > x ⇒ already (u>v)-normal
      val mins = closedMins(e)
      val ls = e.select(col("u").as("x"), col("v").as("nbr"))
        .unionByName(e.select(col("v").as("x"), col("u").as("nbr")))
        .join(mins, Seq("x"))
        .where(col("nbr") > col("x"))
        .select(col("nbr").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
        .localCheckpoint(true)
      // small-star: every x links its ≤-neighbors and itself to m_x;
      // on (u>v)-normalized edges the ≤-neighbors of x are exactly its
      // v-side, so no symmetric view is needed
      val minsS = ls.groupBy(col("u").as("x"))
        .agg(min(col("v")).as("m")) // v < u always ⇒ closed min = min(v)
      val ss = ls.withColumnRenamed("u", "x")
        .join(minsS, Seq("x"))
        .select(col("x"), col("v"), col("m"))
        .select(explode(array(
          struct(col("x").as("a"), col("m").as("b")),
          struct(col("v").as("a"), col("m").as("b")))).as("s"))
        .select(col("s.a").as("u"), col("s.b").as("v"))
        .where(col("u") =!= col("v")).distinct()
        .localCheckpoint(true)
      val cur = fp(ss)
      // the fingerprint is probabilistic (an XOR collision between
      // successive edge multisets would declare a false fixpoint at
      // ~2^-64/round, SILENTLY mislabeling); since it fires once at
      // termination, confirm with an exact two-way anti-join equality
      // check before accepting (ADVICE r08)
      converged = cur == prev && {
        e.join(ss, Seq("u", "v"), "left_anti").isEmpty &&
          ss.join(e, Seq("u", "v"), "left_anti").isEmpty
      }
      prev = cur
      e = ss
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ccTwoPhase: no fixpoint after $maxRounds rounds — raise maxRounds " +
          "(expected rounds grow with log of the largest component)")
    // fixpoint edges are (child, root) stars; roots + isolated nodes map
    // to themselves
    nodes.join(e.select(col("u").as("node"), col("v").as("component")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node"))
        .as("component"))
  }

  /** Shared degree-assortativity final expression over the six exact
    * stats (m and the DECIMAL sums sx, sy, sxy, sxx, syy cast to
    * double): the plain Pearson correlation of endpoint degrees over
    * directed edge instances, r = (m·Σxy − Σx·Σy) /
    * sqrt((m·Σx² − Σx²̂)·(m·Σy² − Σŷ²)).
    */
  val assortativityExpr: String =
    "round((CAST(m AS DOUBLE) * sxy - sx * sy) " +
      "/ sqrt((CAST(m AS DOUBLE) * sxx - sx * sx) " +
      "* (CAST(m AS DOUBLE) * syy - sy * sy)), 6)"

  /** Degree assortativity coefficient of an undirected graph `(a, b)` —
    * the Newman r: do high-degree nodes attach to high-degree nodes
    * (social networks, r > 0) or to leaves (web/infrastructure hubs,
    * r < 0)? Pearson correlation of the endpoint degrees over the
    * SYMMETRIZED edge list, so each undirected edge contributes both
    * orientations and the statistic is orientation-invariant by
    * construction. Input contract: each undirected edge listed ONCE (any
    * orientation) — a pre-symmetrized or multigraph input would weight
    * repeated edges multiply (dedupe upstream if that is not intended).
    *
    * Exactness: degrees are exact longs; all five moment sums promote
    * to DECIMAL(38,0) BEFORE the first multiply (d²-scale per edge — the
    * chi2 silent-wrap class); ONE shared final expression. Returns one
    * row (m = directed edge count, r). Degenerate graphs (all degrees
    * equal ⇒ zero variance) report a null r.
    *
    * Scale: one degree aggregation, two node-keyed attach joins, one
    * scalar aggregation — no window, no driver state.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = edges
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .where(col("a") =!= col("b"))
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true) // feeds the degree agg AND both attaches
    val deg = dir.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val dD = col("deg").cast("decimal(38,0)")
    val withDeg = dir
      .join(deg.select(col("node").as("src"), dD.as("__dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), dD.as("__dy")), Seq("dst"))
    withDeg.agg(count(lit(1)).as("m"),
        sum(col("__dx")).cast("double").as("sx"),
        sum(col("__dy")).cast("double").as("sy"),
        sum(col("__dx") * col("__dy")).cast("double").as("sxy"),
        sum(col("__dx") * col("__dx")).cast("double").as("sxx"),
        sum(col("__dy") * col("__dy")).cast("double").as("syy"))
      .withColumn("r", when(
        expr("CAST(m AS DOUBLE) * sxx - sx * sx > 0.0") &&
          expr("CAST(m AS DOUBLE) * syy - sy * sy > 0.0"),
        expr(assortativityExpr)))
      .select(col("m"), col("r"))
  }

  /** Edge reciprocity of a DIRECTED graph `(src, dst)`: the fraction of
    * directed edges whose reverse edge also exists — the 1-hop mutuality
    * audit (link farms and scraped mirrors reciprocate; organic citation
    * graphs mostly don't) that complements [[scc]]'s full cyclic
    * structure. ONE keyed self-join against the reversed edge set + one
    * scalar aggregation; exchanges carry (long, long) pairs. Self-loops
    * dropped, duplicate edges collapsed first.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("__r", lit(1L))
    e.join(rev, Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("m_edges"),
        coalesce(sum(col("__r")), lit(0L)).as("mutual"))
      .withColumn("reciprocity",
        round(col("mutual").cast("double") /
          greatest(col("m_edges"), lit(1L)).cast("double"), 6))
  }

  /** Strongly connected components of a DIRECTED graph `(src, dst)` by
    * min-label coloring + backward marking (the Orzan-style coloring
    * variant of FW-BW — the standard distributed SCC family; Tarjan's
    * stack is inherently sequential). Returns `(node, scc)` where `scc`
    * is the smallest node id in the component — deterministic, no RNG,
    * no pivot choice.
    *
    * Each peel round: (1) forward min-label fixpoint — `f(u)` = smallest
    * node that reaches `u` among still-active nodes, propagated along
    * edges to convergence; (2) within each label class, mark everything
    * that reaches the class root `r = f(r)` by a frontier BFS over the
    * REVERSED same-label edges. Marked sets are exactly the roots'
    * SCCs: any path from `u` (with `f(u)=r`) to `r` stays inside the
    * class, because a smaller-than-`r` label reaching an intermediate
    * node would also reach `r` and contradict `f(r)=r`. Peeled nodes
    * and their edges drop out; repeat.
    *
    * Scale: state is 2 longs per node; every step is a keyed
    * join/min-aggregate with map-side combining (hot roots cost one
    * combiner slot per upstream partition); frontiers and label frames
    * are barriered per round. Rounds: forward fixpoint ∝ class
    * diameter, peels ∝ the condensation's root-peeling depth — like
    * [[bfsHops]], diameter-bounded (web/social graphs: tens).
    *
    * Deep-chain hardening (round 9): the classic killer for label
    * propagation is a long path/ring (diameter ≈ n — the forward
    * fixpoint alone would need n hops). Two escapes run INSIDE the peel
    * loop, no manual prework:
    *  - FUNCTIONAL fast path: whenever the active subgraph has max
    *    out-degree ≤ 1 (or, reversed, max in-degree ≤ 1) it is a
    *    functional graph — every weak component is a ρ (tail + at most
    *    one cycle). Pointer doubling with min-on-path tracking resolves
    *    ALL of it in ⌈log₂ n⌉ keyed self-joins: after 2^K ≥ n steps the
    *    surviving walks land on cycles, the image of the 2^K-successor
    *    is exactly the cycle set, and a cycle node's min-on-path is its
    *    cycle's minimum — the SCC label. Everything else is a
    *    singleton. Chains and rings of ANY depth finish in log rounds.
    *  - BULK TRIM on slow progress: when a peel removed less than half
    *    of the active set, the next peel first drops every active
    *    source/sink/isolated node (no cycle can pass through them) as
    *    singleton SCCs in one shot — the whole top AND bottom layer of
    *    a DAG-heavy region per round, instead of only min-labeled
    *    roots.
    * Deep-condensation fallback (round 10): a condensation that never
    * becomes functional (in- AND out-degree > 1 along a long spine)
    * defeats both escapes — the forward fixpoint alone needs
    * spine-depth hops. When the coloring peel either fails to converge
    * within `maxHops` or exhausts `maxPeels`, the RESIDUAL (what trims
    * + coloring could not resolve — condensation-core-sized by then,
    * never the input graph) is handed to [[sccResidual]]: driver-side
    * iterative Tarjan when the residual carries at most
    * `driverMaxEdges` edges AND nodes (the same documented-threshold
    * convention as `dedup_cluster`'s union-find; the hand-off runs
    * after a fringe trim, so every collected node has in- and
    * out-edges and nodes ≤ edges — at 5M edges the retained driver
    * state is primitive long/int arrays, ≈ 16 B/edge + ~40 B/node ≈
    * 280 MB worst case, one linear pass), and classic FW-BW pivot
    * divide-and-conquer
    * above it (min-node pivot, forward ∩ backward frontier reach = one
    * exact SCC per round, fringe trim between rounds, re-checked
    * against the Tarjan threshold as it shrinks). `scc` therefore
    * completes on EVERY finite graph: each fallback round removes at
    * least the pivot's component.
    */
  def scc(edges: DataFrame, maxPeels: Int = 50,
      maxHops: Int = 200, driverMaxEdges: Long = 5000000L,
      entryHandoff: Boolean = true): DataFrame = {
    require(maxPeels >= 1 && maxHops >= 1)
    val e0 = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    // Entry hand-off (optimization r14): when the WHOLE graph already
    // fits the documented driver budget (the same `driverMaxEdges` bound
    // [[sccResidual]] collects under — primitive arrays, ≈16 B/edge),
    // run iterative Tarjan immediately instead of paying 50-120
    // distributed peel/fixpoint jobs first and handing the residual over
    // anyway. Output-identical by construction: every path (coloring
    // peel, functional doubling, FW-BW, Tarjan) labels an SCC by its
    // minimum node id. Above the threshold — the 100 TB regime — the
    // peel loop below runs unchanged; nodes ≤ 2·edges always, so the
    // edge count alone gates the hand-off, and the node set is derived
    // from the collected endpoints (skipping the distributed
    // distinct-nodes exchange entirely — active = endpoints of e0 by
    // construction). `entryHandoff = false` is a TEST dial: the spec
    // suites force the peel/residual paths on graphs that would
    // otherwise take this shortcut.
    val e0N = e0.count()
    if (entryHandoff && e0N > 0 && e0N <= driverMaxEdges)
      return sccTarjanDriverEdges(e0)
    var active = e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    var eact = e0
    var out: DataFrame = null
    var activeN = active.count()
    var peels = 0
    var lastShrink = 1.0 // fraction of active removed by the last peel

    // Functional-graph resolution: `succ` = (u, t) with ONE row per u.
    // Doubling: after k joins each surviving row is (u, 2^k-successor,
    // min node on that path); walks that fall off the end (successor
    // row absent — the node was a sink) die with their upstream, which
    // is sound: a walk that ever ends cannot lie on a cycle.
    def resolveFunctional(succ: DataFrame, n: Long): DataFrame = {
      var walk = succ
        .select(col("u"), col("t"), least(col("u"), col("t")).as("m"))
        .localCheckpoint(true)
      var len = 1L
      while (len < n) {
        val nxt = walk.select(col("u").as("t"), col("t").as("__t2"),
          col("m").as("__m2"))
        walk = walk.join(nxt, Seq("t"))
          .select(col("u"), col("__t2").as("t"),
            least(col("m"), col("__m2")).as("m"))
          .localCheckpoint(true)
        len *= 2
      }
      // image of the 2^K-successor = the cycle nodes; their min-on-path
      // wraps the whole cycle (2^K ≥ n ≥ cycle length) = the SCC label
      val cyc = walk.select(col("t").as("u")).distinct()
      val onCycle = walk.join(cyc, Seq("u"))
        .select(col("u").as("node"), col("m").as("scc"))
      active.join(onCycle, Seq("node"), "left")
        .select(col("node"), coalesce(col("scc"), col("node")).as("scc"))
    }

    // Residual hand-off: trims + coloring stalled — finish with Tarjan
    // (under threshold) / FW-BW pivots (above). Returns the FULL label
    // set: already-peeled output ∪ the residual's labels.
    def residualFinish(): DataFrame = {
      val res = sccResidual(active, eact, driverMaxEdges)
      if (out == null) res else out.unionByName(res).localCheckpoint(true)
    }

    while (activeN > 0) {
      if (peels >= maxPeels) return residualFinish()
      // (0a) bulk singleton trim, only when the last peel was slow:
      // active nodes without both an in- and an out-edge cannot be on a
      // cycle — peel the whole source/sink fringe at once
      if (lastShrink < 0.5) {
        val both = eact.select(col("src").as("node")).distinct()
          .join(eact.select(col("dst").as("node")).distinct(), Seq("node"))
        val trimmed = active.join(both, Seq("node"), "left_anti")
          .localCheckpoint(true)
        val tN = trimmed.count()
        if (tN > 0) {
          val found = trimmed.select(col("node"), col("node").as("scc"))
          out = if (out == null) found.localCheckpoint(true)
            else out.unionByName(found).localCheckpoint(true)
          active = active.join(trimmed, Seq("node"), "left_anti")
            .localCheckpoint(true)
          activeN -= tN
          if (activeN > 0)
            eact = eact
              .join(trimmed.select(col("node").as("src")), Seq("src"),
                "left_anti")
              .join(trimmed.select(col("node").as("dst")), Seq("dst"),
                "left_anti")
              .localCheckpoint(true)
        }
      }
      if (activeN == 0) return out
      // (0b) functional fast path: resolves chains/rings of any depth
      // in log rounds — the shapes whose diameter breaks the fixpoint
      val maxOut = eact.groupBy("src").agg(count(lit(1)).as("d"))
        .agg(coalesce(max(col("d")), lit(0L))).head().getLong(0)
      val succ =
        if (maxOut <= 1L)
          Some(eact.select(col("src").as("u"), col("dst").as("t")))
        else {
          val maxIn = eact.groupBy("dst").agg(count(lit(1)).as("d"))
            .agg(coalesce(max(col("d")), lit(0L))).head().getLong(0)
          if (maxIn <= 1L)
            Some(eact.select(col("dst").as("u"), col("src").as("t")))
          else None
        }
      succ match {
        case Some(s) =>
          val resolved = resolveFunctional(s, activeN)
          return if (out == null) resolved
            else out.unionByName(resolved).localCheckpoint(true)
        case None => ()
      }
      val beforeN = activeN
      // (1) forward min-label fixpoint over the active subgraph
      var lab = active.select(col("node"), col("node").as("lab"))
        .localCheckpoint(true)
      var hops = 0
      var changed = 1L
      while (changed > 0) {
        if (hops >= maxHops) return residualFinish()
        val pushed = eact
          .join(lab.select(col("node").as("src"), col("lab")), Seq("src"))
          .groupBy(col("dst").as("node")).agg(min(col("lab")).as("__in"))
        val j = lab.join(pushed, Seq("node"), "left")
          .select(col("node"), col("lab"),
            least(col("lab"), coalesce(col("__in"), col("lab"))).as("__nl"))
          .localCheckpoint(true)
        changed = j.where(col("__nl") < col("lab")).count()
        lab = j.select(col("node"), col("__nl").as("lab"))
        hops += 1
      }
      // (2) frontier BFS from each root r over reversed same-label edges
      val labE = eact
        .join(lab.select(col("node").as("src"), col("lab").as("__ls")),
          Seq("src"))
        .join(lab.select(col("node").as("dst"), col("lab").as("__ld")),
          Seq("dst"))
        .where(col("__ls") === col("__ld"))
        .select(col("src"), col("dst"), col("__ls").as("lab"))
        .localCheckpoint(true)
      var marked = lab.where(col("lab") === col("node")).localCheckpoint(true)
      var frontier = marked
      var fN = 1L
      hops = 0
      while (fN > 0) {
        if (hops >= maxHops) return residualFinish()
        val cand = labE
          .join(frontier.select(col("node").as("dst"), col("lab")),
            Seq("dst", "lab"))
          .select(col("src").as("node"), col("lab")).distinct()
        frontier = cand.join(marked, Seq("node"), "left_anti")
          .localCheckpoint(true)
        fN = frontier.count()
        if (fN > 0)
          marked = marked.unionByName(frontier).localCheckpoint(true)
        hops += 1
      }
      val found = marked.select(col("node"), col("lab").as("scc"))
      out = if (out == null) found
        else out.unionByName(found).localCheckpoint(true)
      active = active.join(marked.select("node"), Seq("node"), "left_anti")
        .localCheckpoint(true)
      activeN = active.count()
      if (activeN > 0)
        eact = eact
          .join(marked.select(col("node").as("src")), Seq("src"), "left_anti")
          .join(marked.select(col("node").as("dst")), Seq("dst"), "left_anti")
          .localCheckpoint(true)
      lastShrink = (beforeN - activeN).toDouble / beforeN
      peels += 1
    }
    if (out == null) // edgeless input: nothing to label
      e0.select(col("src").as("node"), col("src").as("scc")).limit(0)
    else out
  }

  /** Finish SCC labeling for the RESIDUAL the coloring peel could not
    * resolve (deep non-functional condensation). Two regimes:
    *  - residual edge count ≤ `driverMaxEdges`: collect the residual to
    *    the driver and run ITERATIVE Tarjan (explicit frame stack — no
    *    recursion, so 100k-deep spines don't blow the JVM stack); one
    *    linear pass, labels broadcast back as a parallelized frame.
    *    The threshold bounds driver memory the same way
    *    `dedup_cluster`'s union-find threshold does.
    *  - above the threshold: classic FW-BW divide-and-conquer, driver
    *    loop: trim the source/sink fringe in bulk (singletons), pick
    *    the MIN active node as pivot (deterministic — its SCC label is
    *    itself), compute forward and backward frontier reach (the
    *    [[bfsHops]] shape, one keyed join per hop), emit F ∩ B as one
    *    exact SCC, drop it, repeat. Every round removes ≥ 1 node, so
    *    termination is unconditional, and the shrinking residual is
    *    re-checked against the Tarjan threshold each round — FW-BW
    *    only ever pays for the condensation core that is genuinely too
    *    big to collect.
    */
  private def sccResidual(active0: DataFrame, eact0: DataFrame,
      driverMaxEdges: Long): DataFrame = {
    var active = active0.localCheckpoint(true)
    var eact = eact0.localCheckpoint(true)
    var out: DataFrame = null
    var activeN = active.count()
    def emit(found: DataFrame): Unit =
      out = if (out == null) found.localCheckpoint(true)
        else out.unionByName(found).localCheckpoint(true)
    while (activeN > 0) {
      // bulk fringe trim FIRST: no cycle passes through a source/sink
      // node, and edge-less nodes are singletons. Running the trim
      // before the driver hand-off check means the residual we collect
      // carries only nodes with BOTH in- and out-edges, so the node
      // count is bounded by the edge count and the threshold genuinely
      // bounds driver memory (ADVICE r10 #1).
      val both = eact.select(col("src").as("node")).distinct()
        .join(eact.select(col("dst").as("node")).distinct(), Seq("node"))
      val trimmed = active.join(both, Seq("node"), "left_anti")
        .localCheckpoint(true)
      val tN = trimmed.count()
      if (tN > 0) {
        emit(trimmed.select(col("node"), col("node").as("scc")))
        active = active.join(trimmed, Seq("node"), "left_anti")
          .localCheckpoint(true)
        activeN -= tN
        if (activeN == 0) return out
        eact = eact
          .join(trimmed.select(col("node").as("src")), Seq("src"),
            "left_anti")
          .join(trimmed.select(col("node").as("dst")), Seq("dst"),
            "left_anti")
          .localCheckpoint(true)
      }
      // post-trim every active node has ≥1 out-edge, so nodes ≤ edges;
      // gate on max anyway — belt and braces on the memory bound
      if (math.max(activeN, eact.count()) <= driverMaxEdges) {
        emit(sccTarjanDriver(active, eact))
        return out
      }
      if (tN.toDouble / (activeN + tN) >= 0.5) {
        // the trim alone is making fast progress — keep trimming
      } else {
        // FW-BW pivot round: F ∩ B from the min node = its exact SCC
        val pivot = active.agg(min(col("node"))).head().getLong(0)
        val fwd = sccReach(eact, pivot, forward = true)
        val bwd = sccReach(eact, pivot, forward = false)
        val comp = fwd.join(bwd, Seq("node")).localCheckpoint(true)
        val cN = comp.count()
        emit(comp.select(col("node"), lit(pivot).as("scc")))
        active = active.join(comp, Seq("node"), "left_anti")
          .localCheckpoint(true)
        activeN -= cN
        if (activeN == 0) return out
        eact = eact
          .join(comp.select(col("node").as("src")), Seq("src"), "left_anti")
          .join(comp.select(col("node").as("dst")), Seq("dst"), "left_anti")
          .localCheckpoint(true)
      }
    }
    out
  }

  /** Frontier reach set from `pivot` over `eact` (reversed when
    * `forward = false`): `(node)` rows, pivot included. Unbounded hop
    * count — each hop strictly grows the seen set or ends the loop, so
    * it terminates in ≤ residual-diameter keyed joins. */
  private def sccReach(eact: DataFrame, pivot: Long,
      forward: Boolean): DataFrame = {
    val e = if (forward) eact
      else eact.select(col("dst").as("src"), col("src").as("dst"))
    var seen = eact.sparkSession.range(1)
      .select(lit(pivot).as("node")).localCheckpoint(true)
    var frontier = seen
    var fN = 1L
    while (fN > 0) {
      val cand = e.join(frontier.select(col("node").as("src")), Seq("src"))
        .select(col("dst").as("node")).distinct()
      frontier = cand.join(seen, Seq("node"), "left_anti")
        .localCheckpoint(true)
      fN = frontier.count()
      if (fN > 0) seen = seen.unionByName(frontier).localCheckpoint(true)
    }
    seen
  }

  /** Driver-side ITERATIVE Tarjan over a residual small enough to
    * collect (caller enforces the edge threshold). Explicit frame
    * stack — no recursion — so arbitrarily deep spines are safe.
    * Returns `(node, scc)` with scc = min node id in the component,
    * matching [[scc]]'s labeling contract. */
  private def sccTarjanDriver(active: DataFrame,
      eact: DataFrame): DataFrame = {
    val nodes = active.select(col("node"))
      .collect().map(_.getLong(0))
    val (esrc, edst) = collectEdges(eact)
    sccTarjanCore(eact.sparkSession, nodes, esrc, edst)
  }

  /** The (src, dst) edges as two primitive long arrays. No boxed tuple
    * array is retained, so driver memory tracks the 16-bytes/edge
    * estimate the hand-off threshold is sized for (ADVICE r10 #1).
    */
  private def collectEdges(eact: DataFrame): (Array[Long], Array[Long]) = {
    val erows = eact.select(col("src"), col("dst")).collect()
    val a = new Array[Long](erows.length)
    val b = new Array[Long](erows.length)
    var j = 0
    while (j < erows.length) {
      a(j) = erows(j).getLong(0); b(j) = erows(j).getLong(1); j += 1
    }
    (a, b) // the Row array is unreachable once this returns
  }

  /** [[sccTarjanDriver]] when the caller has ONLY the edge frame (the
    * entry hand-off of [[scc]]): one collect, node set derived from the
    * endpoints on the driver — the graph's node set IS the endpoint set
    * there (isolated nodes cannot exist in an edge-derived graph). */
  private def sccTarjanDriverEdges(eact: DataFrame): DataFrame = {
    val (esrc, edst) = collectEdges(eact)
    val seen = new java.util.HashSet[java.lang.Long](esrc.length * 2)
    val buf = new scala.collection.mutable.ArrayBuffer[Long](esrc.length)
    var j = 0
    while (j < esrc.length) {
      if (seen.add(esrc(j))) buf += esrc(j)
      if (seen.add(edst(j))) buf += edst(j)
      j += 1
    }
    sccTarjanCore(eact.sparkSession, buf.toArray, esrc, edst)
  }

  private def sccTarjanCore(spark: org.apache.spark.sql.SparkSession,
      nodes: Array[Long], esrc: Array[Long], edst: Array[Long]): DataFrame = {
    val m = esrc.length
    var k = 0
    val n = nodes.length
    val id = new java.util.HashMap[java.lang.Long, Integer](n * 2)
    var i = 0
    while (i < n) { id.put(nodes(i), i); i += 1 }
    // CSR adjacency (edges with a non-active endpoint are impossible by
    // construction — eact is pruned to active×active — but guard anyway)
    val deg = new Array[Int](n)
    k = 0
    while (k < m) {
      val si = id.get(esrc(k)); val di = id.get(edst(k))
      if (si != null && di != null) deg(si.intValue) += 1
      k += 1
    }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Int](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    k = 0
    while (k < m) {
      val si = id.get(esrc(k)); val di = id.get(edst(k))
      if (si != null && di != null) {
        adj(fill(si.intValue)) = di.intValue
        fill(si.intValue) += 1
      }
      k += 1
    }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStk = new Array[Boolean](n)
    val stk = new Array[Int](n); var stkTop = 0
    val comp = Array.fill(n)(-1)
    var counter = 0; var nComp = 0
    // explicit DFS frames: frameV(k) = node, frameE(k) = next adj slot
    val frameV = new Array[Int](n); val frameE = new Array[Int](n)
    var root = 0
    while (root < n) {
      if (index(root) == -1) {
        var top = 0
        frameV(0) = root; frameE(0) = off(root)
        index(root) = counter; low(root) = counter; counter += 1
        stk(stkTop) = root; stkTop += 1; onStk(root) = true
        while (top >= 0) {
          val v = frameV(top)
          if (frameE(top) < off(v + 1)) {
            val w = adj(frameE(top)); frameE(top) += 1
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              stk(stkTop) = w; stkTop += 1; onStk(w) = true
              top += 1; frameV(top) = w; frameE(top) = off(w)
            } else if (onStk(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            if (low(v) == index(v)) {
              var done = false
              while (!done) {
                stkTop -= 1; val w = stk(stkTop); onStk(w) = false
                comp(w) = nComp
                done = w == v
              }
              nComp += 1
            }
            top -= 1
            if (top >= 0 && low(v) < low(frameV(top)))
              low(frameV(top)) = low(v)
          }
        }
      }
      root += 1
    }
    // label = min node id per component
    val compMin = Array.fill(nComp)(Long.MaxValue)
    i = 0
    while (i < n) {
      if (nodes(i) < compMin(comp(i))) compMin(comp(i)) = nodes(i)
      i += 1
    }
    val rows = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { rows(i) = (nodes(i), compMin(comp(i))); i += 1 }
    import spark.implicits._
    val parts = math.max(1, n / 500000)
    spark.sparkContext.parallelize(rows.toIndexedSeq, parts)
      .toDF("node", "scc")
  }

  /** Sampled k-bounded Brandes betweenness centrality over an undirected
    * graph `(a, b)`: for each PINNED seed, count shortest paths (exact
    * integer σ by BFS level) out to `maxHops`, then accumulate path
    * dependencies backward level by level — δ(v) = Σ_{w: succ}
    * σv/σw · (1 + δ(w)) — and report bc(v) = Σ_seeds δ_s(v). The
    * standard "how much traffic routes THROUGH v" curation signal
    * (bridge pages, template hubs); the horizon bound makes it the
    * k-bounded variant every at-scale deployment uses (exact Brandes is
    * O(nm)), and the seed sample is the same sublinear estimator dial
    * as [[harmonicCloseness]].
    *
    * Exactness: σ are exact longs (level-by-level sums); each backward
    * term is rounded by the shared half-away-from-zero scaled-long
    * kernel (the `round6Scaled`/`half6ScaledSql` pair — floor/abs/
    * compare only, immune to engine-version `round()` drift) and
    * per-(seed, node) sums are exact integer sums — order-free, so the
    * whole sweep replays in DuckDB as unrolled level stages. Seeds
    * report no self-dependency (bc excludes depth 0).
    *
    * Scale: state is |seeds| × reach rows by construction — the seed
    * stride is the cost knob, exactly [[harmonicCloseness]]'s contract.
    * Every level (forward and backward) is one node-keyed join + one
    * map-side-combining aggregation; levels are barriered so level N
    * never replays 1..N−1. No global window, no driver state.
    */
  def betweenness(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1)
    val sym = edges
      .select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
      .unionByName(edges
        .select(col("b").cast("long").as("src"), col("a").cast("long").as("dst")))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val s0 = seeds.select(col(seeds.columns.head).cast("long").as("seed"))
      .distinct()
    // forward: exact shortest-path counts per BFS level
    var level: Vector[DataFrame] = Vector(
      s0.select(col("seed"), col("seed").as("node"), lit(1L).as("sigma"))
        .localCheckpoint(true))
    var seen = level(0).select("seed", "node").localCheckpoint(true)
    var d = 0
    while (d < maxHops) {
      val nxt = level(d)
        .join(sym.select(col("src").as("node"), col("dst")), Seq("node"))
        .groupBy(col("seed"), col("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("seed"), col("dst").as("node"), col("sigma"))
        .join(seen, Seq("seed", "node"), "left_anti")
        .localCheckpoint(true)
      level = level :+ nxt
      seen = seen.unionByName(nxt.select("seed", "node")).localCheckpoint(true)
      d += 1
    }
    // backward: δ = 0 at the horizon, then per level one edge join +
    // one exact integer sum of half6-scaled terms (δ carried ×1e6).
    // Same 2^53/1e6 domain bound as Analytics.half6Sql: the argument is
    // a δ·1e6 double, and δ ≤ |seeds|·reach per node — far below 9.0e9
    // at the documented seed stride; a caller raising both dials past
    // that must widen the scaling first.
    def half6(t: String): String =
      s"""CAST(CASE WHEN $t < 0
         |  THEN -(floor(abs($t)) + (CASE WHEN abs($t) - floor(abs($t)) >= 0.5 THEN 1 ELSE 0 END))
         |  ELSE   floor(abs($t)) + (CASE WHEN abs($t) - floor(abs($t)) >= 0.5 THEN 1 ELSE 0 END)
         |END AS BIGINT)""".stripMargin
    var deltaNext = level(maxHops).select(col("seed"), col("node"),
      col("sigma"), lit(0L).as("delta6"))
    var bcParts: List[DataFrame] =
      List(deltaNext.select(col("node"), col("delta6")))
    var dd = maxHops - 1
    while (dd >= 1) {
      val vw = level(dd)
        .select(col("seed"), col("node").as("v"), col("sigma").as("__sv"))
        .join(sym.select(col("src").as("v"), col("dst").as("w")), Seq("v"))
        .join(deltaNext.select(col("seed"), col("node").as("w"),
          col("sigma").as("__sw"), col("delta6").as("__dw6")),
          Seq("seed", "w"))
      val cur = vw
        .withColumn("__t", expr(half6(
          "CAST(__sv AS DOUBLE) / CAST(__sw AS DOUBLE) " +
            "* (1000000.0 + CAST(__dw6 AS DOUBLE))")))
        .groupBy(col("seed"), col("v").as("node"))
        .agg(sum(col("__t")).as("delta6"))
      val full = level(dd).select(col("seed"), col("node"), col("sigma"))
        .join(cur, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sigma"),
          coalesce(col("delta6"), lit(0L)).as("delta6"))
        .localCheckpoint(true)
      bcParts = full.select(col("node"), col("delta6")) :: bcParts
      deltaNext = full
      dd -= 1
    }
    bcParts.reduce(_ unionByName _)
      .groupBy("node")
      .agg((sum(col("delta6")).cast("double") / lit(1000000.0))
        .as("betweenness"))
  }
}
