package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the co-purchase graph (parts linked when they
  * appear in the same order) — the relational-to-graph bridge a training
  * -data curation stack needs for influence ranking (PageRank over a
  * citation/co-occurrence graph) and community density (triangle count /
  * clustering coefficient), and a capability family the reference's
  * linear relay (main.go:103-155) has no analogue for.
  *
  * Scale design:
  *  - **Edge build is in-row, not a self-join**: baskets are collected
  *    per order (`collect_set`, one shuffle) and pairs generated inside
  *    the row with higher-order functions, so the pair stage is map-only
  *    — the classic `ep JOIN ep ON same-order` plan shuffles the
  *    position table twice and materializes the quadratic blow-up in
  *    the join, while here the blow-up is bounded in-row by the basket
  *    cap. Baskets over 16 distinct parts are dropped BEFORE pair
  *    generation (quadratic cost lives there), the same df-capping move
  *    the dedup postings index uses for stop-shingles.
  *  - **The edge list is built once per FIXTURE, durably** — the
  *    basket collapse materializes to a fingerprint-gated parquet
  *    artifact ([[graft.operators.Artifacts]], the IVF-index pattern),
  *    so Verify/Bench/test JVMs adopt one build instead of each paying
  *    the lineitem pass — then hash-partitioned by src and pinned
  *    per (session, fixture): PageRank's three iterations and
  *    both degree aggregations re-scan it without re-shuffling — each
  *    iteration only moves the compact rank vector (one row per node),
  *    which is the Pregel communication lower bound.
  *  - **Rank updates are partial-aggregated**: the per-destination sum
  *    combines map-side, so the iteration shuffle carries one row per
  *    (partition × dst), not per edge.
  *  - Triangle counting uses the canonical `u < v` orientation so each
  *    triangle is counted exactly once without a post-divide; at larger
  *    scale the standard refinement is degree-ordering (orient edges
  *    low-degree → high-degree) which bounds per-vertex join fan-out by
  *    sqrt(E) — noted here, not needed at fixture SFs where the basket
  *    cap already bounds degree.
  */
object GraphQueries extends QueryPack {

  /** Canonical WEIGHTED co-purchase pair table `(src < dst, w)` — w = the
    * number of shared orders — built ONCE per (session, fixture) and
    * pinned: the single lineitem scan + in-row basket-pair generation the
    * whole graph family shares. [[SharedEdges]] derives the symmetric
    * unweighted edge list from it; `graph_components` filters it by the
    * repeat threshold. (Before this memo each query rebuilt the basket
    * collapse from lineitem — 2× the fact scans for identical pairs.)
    */
  private object SharedWeightedPairs {
    private val memo = SessionMemo.frames[String]

    /** The basket-collapse + in-row pair-generation plan — the expensive
      * lineitem pass. Runs ONLY inside the artifact build; the query
      * path reads its parquet output (PlanShapeSpec asserts no Generate
      * / lineitem scan downstream of [[apply]]).
      */
    private[queries] def buildPlan(s: SparkSession, dir: String): DataFrame =
      graft.Tables.table(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(collect_set(col("l_partkey")).as("basket"))
        .filter(size(col("basket")) <= MaxBasket)
        .select(explode(expr(
          """flatten(transform(basket, x ->
               transform(filter(basket, y -> y > x), y ->
                 struct(x AS src, y AS dst))))""")).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))

    private def root(dir: String): java.nio.file.Path =
      graft.operators.Artifacts.fixtureRoot(dir, "edges", s"_b$MaxBasket")

    /** The canonical pair table, served from a DURABLE artifact: the
      * lineitem basket collapse (the graph family's dominant cost —
      * triangles/bfs/pagerank are the three most expensive bench
      * entries, and each JVM used to re-pay the build) runs once per
      * FIXTURE, fingerprint-gated on the source table + build
      * parameters, atomically published, and adopted by every later
      * JVM (Verify, Bench, tests). In-session reuse is unchanged (memo
      * + pin); the persisted frame's lineage now starts at the compact
      * pair parquet instead of the lineitem explode.
      */
    def apply(s: SparkSession, dir: String): DataFrame =
      memo(s, dir) {
        val r = root(dir)
        val fp = graft.operators.Artifacts.tableFingerprint(dir, "lineitem") +
          s"|maxBasket=$MaxBasket|weighted-v1"
        graft.operators.Artifacts.ensureBuilt(r, fp) { tmp =>
          buildPlan(s, dir)
            .write.mode("overwrite").parquet(tmp.resolve("pairs").toString)
        }
        // no repartition: both consumers re-key anyway (SharedEdges
        // builds its own src-partitioned symmetric frame; components
        // shuffles by the label-propagation keys), so hash-distributing
        // the canonical pairs here was one wasted shuffle per pin build
        s.read.parquet(r.resolve("pairs").toString)
      }
  }

  /** Symmetric co-purchase edge list `(src, dst)`, deduped, basket-capped
    * at [[MaxBasket]]; derived from [[SharedWeightedPairs]] (both
    * orientations of each canonical pair — no second fact scan),
    * hash-partitioned by `src` and pinned per (session, fixture) so the
    * iterative consumers never rebuild it.
    */
  private object SharedEdges {
    private val memo = SessionMemo.frames[String]
    def apply(s: SparkSession, dir: String): DataFrame =
      memo(s, dir) {
        val wp = SharedWeightedPairs(s, dir).select("src", "dst")
        val pairs = wp.unionByName(
          wp.select(col("dst").as("src"), col("src").as("dst")))
        pairs.repartition(col("src"))
      }
  }

  /** Out-degree table `(src, outdeg)` of [[SharedEdges]] (symmetric, so
    * out-degree = degree), pinned per (session, fixture): pagerank reads
    * it 4× (init + one per iteration) and triangles twice (orientation +
    * wedge count) — before the memo each reference re-ran the edge
    * groupBy, one shuffle per reference. Node-cardinality rows, so the
    * pin is small at any corpus scale.
    */
  private object SharedDegrees {
    private val memo = SessionMemo.frames[String]
    def apply(s: SparkSession, dir: String): DataFrame =
      memo(s, dir) {
        SharedEdges(s, dir).groupBy("src").agg(count(lit(1)).as("outdeg"))
      }
  }

  private val MaxBasket = 16

  /** BFS depth cap for `graph_bfs` — bounds the iteration count (and
    * the oracle's recursion) on a small-world graph that is fully
    * visited by hop 3-4 regardless. Declared BEFORE `queries`: the
    * oracle string interpolates it at object init.
    */
  private val MaxHops = 4

  /** Test hook: the shared edge-list frame (its ANALYZED plan is the
    * build shape — cache substitution only rewrites optimized plans).
    */
  private[graft] def edgesFor(s: SparkSession, dir: String): DataFrame =
    SharedEdges(s, dir)

  /** Test hook: the artifact BUILD plan (basket collapse + in-row pair
    * explode) — runs on the query path never, in the artifact build
    * once per fixture.
    */
  private[graft] def edgeBuildPlanFor(s: SparkSession, dir: String): DataFrame =
    SharedWeightedPairs.buildPlan(s, dir)

  /** Oracle CTE prefix producing the identical edge list in DuckDB (the
    * oracle states the SEMANTICS relationally; the Spark plan above is
    * the scale-shaped implementation of the same contract).
    */
  private val EdgeSql =
    """ep0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       ok AS (SELECT l_orderkey FROM ep0 GROUP BY 1 HAVING count(*) <= 16),
       ep AS (SELECT ep0.* FROM ep0 JOIN ok USING (l_orderkey)),
       edges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                 FROM ep a JOIN ep b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)"""

  override val queries: Seq[Q] = Seq(

    // PageRank, 3 damped iterations (d = 0.85) over the symmetric
    // co-purchase graph. Node set = nodes with at least one edge, so the
    // symmetrized graph has no dangling mass and the update is exactly
    // pr' = 0.15/n + 0.85 * Σ_in pr/outdeg. Each iteration: one join of
    // the pinned src-partitioned edges with the rank vector (only the
    // vector shuffles) + one partial-aggregated sum by dst. Ranks are
    // reported ×1000 rounded to 6 dp — float noise from engine-specific
    // summation order sits ~1e-10 below the rounding grain, so the
    // top-25 selection (keyed on the rounded rank) is deterministic.
    Q("graph_pagerank",
      (s, dir) => {
        val edges = SharedEdges(s, dir)
        val deg = SharedDegrees(s, dir)
        val nn = broadcast(deg.agg(count(lit(1)).cast("double").as("n"))
          .localCheckpoint(eager = false))
        val r0 = deg.crossJoin(nn)
          .select(col("src").as("id"), (lit(1.0) / col("n")).as("pr"))
        val ranks = (1 to 3).foldLeft(r0) { (r, _) =>
          // contribution = pr/outdeg attaches on the NODE-sized rank
          // vector (one division per node), and only then meets the
          // pinned edge list — the prior shape ran a second EDGE-sized
          // join to carry outdeg onto every edge row before dividing.
          // Same per-edge double (identical operands), one edge join
          // instead of two; the per-dst sum still partial-aggregates.
          val contrib = r.join(deg.withColumnRenamed("src", "id"), "id")
            .select(col("id").as("src"), (col("pr") / col("outdeg")).as("contrib"))
          edges
            .join(contrib, "src")
            .groupBy(col("dst").as("id"))
            .agg(sum(col("contrib")).as("mass"))
            .crossJoin(nn)
            .select(col("id"), (lit(0.15) / col("n") + lit(0.85) * col("mass")).as("pr"))
        }
        ranks
          .select(col("id").as("part_id"), round(col("pr") * 1000, 6).as("pr_k"))
          .orderBy(col("pr_k").desc, col("part_id"))
          .limit(25)
      },
      Some(s"""WITH $EdgeSql,
               deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
               nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
               r0 AS (SELECT src AS id, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
               r1 AS (SELECT e.dst AS id,
                             0.15 / (SELECT n FROM nn) + 0.85 * sum(r.pr / d.outdeg) AS pr
                      FROM edges e JOIN r0 r ON r.id = e.src
                      JOIN deg d ON d.src = e.src GROUP BY e.dst),
               r2 AS (SELECT e.dst AS id,
                             0.15 / (SELECT n FROM nn) + 0.85 * sum(r.pr / d.outdeg) AS pr
                      FROM edges e JOIN r1 r ON r.id = e.src
                      JOIN deg d ON d.src = e.src GROUP BY e.dst),
               r3 AS (SELECT e.dst AS id,
                             0.15 / (SELECT n FROM nn) + 0.85 * sum(r.pr / d.outdeg) AS pr
                      FROM edges e JOIN r2 r ON r.id = e.src
                      JOIN deg d ON d.src = e.src GROUP BY e.dst)
               SELECT id AS part_id, round(pr * 1000, 6) AS pr_k
               FROM r3 ORDER BY pr_k DESC, part_id LIMIT 25""")),

    // Global triangle count + wedge count + clustering coefficient.
    // DEGREE-ORDERED adjacency intersection, not a 3-way edge join: the
    // naive e1⋈e2⋈e3 plan materializes every wedge (Σ out·in ≈ 70M
    // rows at sf0.1 already — quadratic in degree), while here each
    // edge is oriented low→high by (degree, id), out-adjacency lists
    // are collected per node (out-degree ≤ O(√E) by the orientation, a
    // bound the uniform basket cap tightens further), and each arc
    // (a, b) counts |out(a) ∩ out(b)| in-row via `array_intersect` — a
    // hash intersection, linear in the two list lengths, with nothing
    // wider than the node-cardinality adjacency table ever shuffled.
    // Every triangle {x<y<z} is counted exactly once, at arc (x, y).
    // Join strategy is left to Catalyst: at fixture SFs the adjacency
    // table broadcasts; at cluster scale it exceeds the threshold and
    // AQE falls back to a partitioned hash join — both correct.
    // Wedges come from the symmetric degree in exact integer
    // arithmetic; only the final coefficient is a rounded double.
    Q("graph_triangles",
      (s, dir) => {
        val deg = SharedDegrees(s, dir).withColumnRenamed("outdeg", "d")
        val arcs = SharedEdges(s, dir)
          .join(deg.withColumnRenamed("src", "u_id").withColumnRenamed("d", "du"),
            col("src") === col("u_id"))
          .join(deg.withColumnRenamed("src", "v_id").withColumnRenamed("d", "dv"),
            col("dst") === col("v_id"))
          .filter(struct(col("du"), col("src")) < struct(col("dv"), col("dst")))
          .select(col("src").as("a"), col("dst").as("b"))
        // adj is referenced TWICE below (out-list carrier and join probe):
        // a lazy local checkpoint runs the whole arc pipeline (two degree
        // joins + the collect_list shuffle) once instead of once per
        // reference — node-cardinality rows, list lengths bounded by the
        // orientation's O(√E) out-degree.
        val adj = arcs.groupBy(col("a").as("node"))
          .agg(collect_list(col("b")).as("nbrs"))
          .localCheckpoint(eager = false)
        // arcs re-derive from adj by explode (the arc pipeline runs
        // once, for the adj build); arcs whose head has no out-list are
        // dropped by the inner join — they contribute |∅| = 0 anyway
        val tri = adj
          .select(col("node").as("a"), col("nbrs").as("na"),
            explode(col("nbrs")).as("b"))
          .join(adj.withColumnRenamed("node", "b").withColumnRenamed("nbrs", "nb"), "b")
          .agg(sum(size(array_intersect(col("na"), col("nb")))).as("triangles"))
        val wedges = deg.agg(sum(expr("d * (d - 1) div 2")).as("wedges"))
        tri.crossJoin(broadcast(wedges))
          .select(col("triangles"), col("wedges"),
            round(lit(3.0) * col("triangles") / col("wedges"), 6).as("clustering"))
      },
      Some(s"""WITH $EdgeSql,
               e AS (SELECT src AS u, dst AS v FROM edges WHERE src < dst),
               tri AS (SELECT count(*) AS triangles
                       FROM e e1 JOIN e e2 ON e2.u = e1.v
                       JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
               degs AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
               w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges FROM degs)
               SELECT triangles, wedges,
                      round(3.0 * triangles / wedges, 6) AS clustering
               FROM tri, w""")),

    // Connected components over the REPEAT co-purchase graph (parts
    // linked only when they share ≥ MinRepeat orders — the weight
    // threshold is what makes communities real: the unthresholded graph
    // is one giant component, a single repeated co-purchase is noise).
    // Components via the library's checkpointed min-label propagation
    // (`Dedup.duplicateClusters` — the same operator that labels dedup
    // clusters, run here on a part graph): per iteration only the
    // (node, label) vector shuffles, lineage truncates per round, and
    // convergence is REQUIRED, not assumed — a diameter over the round
    // budget throws instead of returning split components. Edges come
    // from the family's pinned [[SharedWeightedPairs]] (in-row basket
    // pairs, map-side-combined counts) with the weight filter on the
    // persisted frame — no extra fact scan. Oracle:
    // DuckDB recursive-CTE transitive closure — the semantic statement
    // of the same contract.
    Q("graph_components",
      (s, dir) => {
        val pairs = SharedWeightedPairs(s, dir)
          .filter(col("w") >= MinRepeat)
          .select(col("src").as("a_id"), col("dst").as("b_id"))
        val labels = graft.dedup.Dedup.duplicateClusters(pairs)
          .select(col("doc_id").as("part_id"), col("cluster_id").as("component_id"))
        val sizes = labels.groupBy("component_id")
          .agg(count(lit(1)).as("component_size"))
        labels.join(broadcast(sizes), "component_id")
          .select("part_id", "component_id", "component_size")
          .orderBy("part_id")
      },
      Some("""WITH RECURSIVE
               ep0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
               ok AS (SELECT l_orderkey FROM ep0 GROUP BY 1 HAVING count(*) <= 16),
               ep AS (SELECT ep0.* FROM ep0 JOIN ok USING (l_orderkey)),
               wpairs AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
                                 count(*) AS w
                          FROM ep a JOIN ep b
                          ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
                          GROUP BY 1, 2),
               edges0 AS (SELECT src, dst FROM wpairs WHERE w >= 3),
               edges AS (SELECT src, dst FROM edges0
                         UNION SELECT dst, src FROM edges0),
               reach(s, d) AS (
                 SELECT src, dst FROM edges
                 UNION
                 SELECT r.s, e.dst FROM reach r JOIN edges e ON r.d = e.src),
               lab AS (SELECT s AS part_id, least(s, min(d)) AS component_id
                       FROM reach GROUP BY s),
               sz AS (SELECT component_id, count(*) AS component_size
                      FROM lab GROUP BY 1)
               SELECT part_id, component_id, component_size
               FROM lab JOIN sz USING (component_id)
               ORDER BY part_id""")),

    // Multi-hop reachability: BFS hop distance from the smallest part id
    // over the symmetric co-purchase graph, depth-capped at MaxHops.
    // The Spark shape is FRONTIER-ONLY expansion (the Pregel BFS) over a
    // single evolving (id, min-hop) state frame: each round joins just
    // the newly-discovered frontier (a map-side filter of the state)
    // against the pinned src-partitioned edges and folds the expansion
    // back into the state with ONE groupBy(id).agg(min(hops)) — dedup,
    // first-hop assignment and closed-set maintenance in a single keyed
    // aggregation instead of the distinct + anti-join + union triplet
    // (whose closed-set broadcast probe was a per-round job barrier
    // locally and outgrows a broadcast at corpus scale). Per round the
    // shuffle carries ≤ |visited| rows (min partial-aggregates
    // map-side) — never the edge list (pinned). Depth-capping bounds
    // the iteration count the way every production multi-hop query does
    // (unbounded BFS on a small-world graph visits everything by hop
    // 3-4 anyway — the cap is the honest contract, not a shortcut).
    // Oracle: DuckDB depth-limited recursive CTE + min-hop aggregation —
    // the semantic statement (min over all ≤MaxHops walks) of the same
    // contract.
    Q("graph_bfs",
      (s, dir) => {
        val edges = SharedEdges(s, dir)
        val seed = edges.agg(min(col("src")).as("id"))
        // dist is the whole BFS state: one (id, min-hop-so-far) row per
        // visited node, re-derived per round by ONE aggregation. The
        // prior shape kept frontier and dist separate and paid three
        // keyed operators per round (anti-join against a broadcast of
        // the growing closed set + distinct + union) — the anti-join's
        // probe build was a per-round job barrier, and at corpus scale
        // the closed set outgrows a broadcast anyway. Folding dedup,
        // hop assignment and closed-set maintenance into groupBy(id).
        // min(hops) is row-identical: a neighbor of a hop-(i-1) node
        // has true hop ≥ i-2, so every candidate the old anti-join
        // dropped is outvoted here by its existing smaller hop, and
        // every genuinely new node first appears with hops = i. The
        // frontier falls out as a map-side filter (hops = i-1) over the
        // checkpointed state — no separate frontier lineage at all.
        var dist = seed.select(col("id"), lit(0L).as("hops"))
          .localCheckpoint(false)
        for (i <- 1 to MaxHops) {
          // expansion stays FRONTIER-ONLY (Σ deg(frontier) across all
          // rounds = 2|E| total): only nodes discovered last round
          // expand. min(hops) partial-aggregates map-side, so the
          // per-round shuffle still carries ≤ |visited| rows, same as
          // the old distinct. dist is referenced twice per round
          // (frontier filter + union) — the lazy localCheckpoint keeps
          // total work linear in MaxHops instead of Fibonacci.
          val frontier = dist.filter(col("hops") === lit((i - 1).toLong))
            .select("id")
          val expansion = edges
            .join(frontier.withColumnRenamed("id", "src"), "src")
            .select(col("dst").as("id"), lit(i.toLong).as("hops"))
          dist = dist.unionByName(expansion)
            .groupBy("id").agg(min("hops").as("hops"))
            .localCheckpoint(false)
        }
        dist.select(col("id").as("part_id"), col("hops"))
          .orderBy("part_id")
      },
      Some(s"""WITH RECURSIVE $EdgeSql,
               seed AS (SELECT min(src) AS id FROM edges),
               walk(id, d) AS (
                 SELECT id, 0 FROM seed
                 UNION
                 SELECT e.dst, w.d + 1
                 FROM walk w JOIN edges e ON e.src = w.id
                 WHERE w.d < $MaxHops),
               dist AS (SELECT id, min(d) AS d FROM walk GROUP BY id)
               SELECT id AS part_id, CAST(d AS BIGINT) AS hops
               FROM dist ORDER BY part_id"""))
  )

  /** Repeat-co-purchase threshold for [[graph_components]]: an edge needs
    * this many shared orders to count as a real community signal.
    */
  private val MinRepeat = 3
}
