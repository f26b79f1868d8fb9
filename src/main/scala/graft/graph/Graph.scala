package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.131 PageRank over the user–item interaction graph — the
  * iterative-shuffle workload class (label propagation's weighted
  * sibling; the reference's events feed ranks dashboards, see
  * spotify-tracks-etl-portfolio's Metabase popularity boards).
  *
  * Graph: click events project to DISTINCT user↔item edges (item = the
  * `k` prop), undirected so no node dangles (every endpoint has ≥ 1
  * out-edge by construction — no rank mass leaks, no dangling-sum
  * correction pass needed). Rank iterates the standard damped update
  *
  *   r'(v) = (1−d)/N + d · Σ_{(u,v)∈E} r(u)/deg(u)
  *
  * a fixed `Iters` rounds from the uniform start.
  *
  * Scale shape: per iteration exactly ONE corpus-sized shuffle — ranks
  * (node-sized) hash-join onto edges by src and partial-sum map-side
  * into the dst groupBy. Edges are built once, projected to (src, dst,
  * deg) and persisted: the expensive distinct over raw events never
  * re-runs, and because every iteration shuffles edges by the SAME key,
  * a bucketed/pre-partitioned edge table makes every round's join
  * exchange-free on the big side (the §2.108 band-index contract
  * applied to graphs). A hot item (power-law degree) is splittable:
  * the join is a shuffle join, so AQE skew-split divides its edge
  * block, and the rank sum recombines in the map-side-combined
  * aggregation. Doubles: contributions are summed in engine-dependent
  * order, so ranks are compared at 6 dp — the tie-break orders on the
  * ROUNDED rank then node id, keeping ranking deterministic on both
  * engines.
  */
object Graph {

  val Damping = 0.85
  val Iters = 5

  /** Undirected distinct user↔item click edges: ("u<id>"|"i<k>"). */
  private def edges(spark: SparkSession, dir: String): DataFrame = {
    // barrier: the adjacency build references uv four times (both
    // union legs on both the deg and join sides) — the distinct's
    // internal exchange is AQE-reusable but the json extraction + final
    // agg re-ran per reference
    val uv = graft.Barrier("graph.click_edges", Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(concat(lit("u"), col("user_id")).as("u"),
        concat(lit("i"), get_json_object(col("props"), "$.k")).as("v"))
      .distinct())
    uv.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(uv.select(col("v").as("src"), col("u").as("dst")))
  }

  /** Adjacency built once per (session, dir) and persisted — the loop
    * references it `Iters` times, and without the persist every round
    * re-scans events and re-runs the distinct (the §2.39 edges.cache
    * pattern, memoized so sibling consumers share; eviction/Bench-rep
    * clearing unpersists). */
  private val adjCache =
    new graft.MemoCache[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, Long)](4)({ case (a, nd, _) =>
      a.unpersist(blocking = false); nd.unpersist(blocking = false)
    })

  /** Cached (src, dst, deg) adjacency + node list + node count —
    * shared by PageRank and label propagation (same cache key, so the
    * expensive events distinct builds once for both). */
  private def adjacency(spark: SparkSession, dir: String) =
    adjCache.getOrElseUpdate(spark, dir) {
      val e = edges(spark, dir)
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val a = e.join(deg, "src") // (src, dst, deg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nd = deg.select(col("src").as("node")) // every node has deg ≥ 1
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (a, nd, nd.count())
    }

  /** All-node ranks after `iters` damped rounds, unrounded —
    * factored out so InvariantCheck can replay round `Iters` from
    * round `Iters − 1` independently at sf1. */
  private[graft] def pagerankRanks(spark: SparkSession, dir: String,
      iters: Int = Iters): DataFrame = {
    val (adj, nodes, n) = adjacency(spark, dir)
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      // undirected ⇒ every node occurs as a dst, so the contribution
      // sum already covers ALL nodes — no per-round join back to the
      // node list (5 joins gone from the plan on both engines)
      ranks = adj.join(ranks, col("src") === col("node"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
        .select(col("dst").as("node"),
          (lit((1.0 - Damping) / n) + lit(Damping) * col("s")).as("rank"))
    }
    ranks
  }

  /** Final ranks of the item nodes after `Iters` damped rounds. */
  def itemPagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankRanks(spark, dir).filter(col("node").startsWith("i"))
      .select(col("node").as("item"), round(col("rank"), 6).as("rank"))
      .orderBy(desc("rank"), asc("item"))

  val itemPagerankSql: String = {
    val iters = (1 to Iters).map { t =>
      s"""r$t AS (SELECT dst AS node,
         |    (CAST(1.0 AS DOUBLE) - $Damping) / (SELECT n FROM nn)
         |      + $Damping * sum(rank / deg) AS rank
         |  FROM adj JOIN r${t - 1} ON adj.src = r${t - 1}.node
         |  GROUP BY dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH uv AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
       |    'i' || CAST(json_extract_string(props, '$$.k') AS VARCHAR) AS v
       |  FROM events WHERE event_type = 'click'),
       |e AS (SELECT u AS src, v AS dst FROM uv
       |      UNION ALL SELECT v AS src, u AS dst FROM uv),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |adj AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
       |nodes AS (SELECT src AS node FROM deg),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
       |       FROM nodes),
       |$iters
       |SELECT node AS item, round(rank, 6) AS rank FROM r$Iters
       |WHERE node LIKE 'i%'
       |ORDER BY round(rank, 6) DESC, item""".stripMargin
  }

  /** Synchronous label-propagation rounds (communities). */
  val LpIters = 3

  /** §2.146 label propagation community detection (Raghavan et al.
    * 2007, the synchronous variant): every node starts as its own
    * label; each round a node adopts the most frequent label among
    * its neighbors, ties broken by SMALLEST label — the
    * determinism-restoring tie-break that makes the usually-random LP
    * replayable on both engines. After `LpIters` rounds, communities
    * are reported by size. On the user↔item click graph this yields
    * item/user co-engagement clusters — the unsupervised sibling of
    * §2.39's connected components (which merge on ANY path; LP merges
    * on DENSE association, splitting bridge-connected clumps).
    *
    * Scale shape: per round ONE corpus-sized shuffle (labels ⋈ edges
    * by src, map-side-combined (dst, lbl) count — the §2.131 pattern),
    * then a dst-partitioned max window + min-label argmax over the
    * vote matrix (≤ edge count, hash-partitioned, hot nodes
    * AQE-splittable). Shares the persisted adjacency with PageRank —
    * the events distinct never re-runs. */
  /** Per-node labels after `iters` synchronous rounds — factored out
    * so InvariantCheck can replay the final round independently. */
  private[graft] def lpLabels(spark: SparkSession, dir: String,
      iters: Int = LpIters): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (adj, nodes, n) = adjacency(spark, dir)
    var labels = nodes.withColumn("lbl", col("node"))
    for (_ <- 1 to iters) {
      val votes = adj.join(labels, col("src") === col("node"))
        .groupBy("dst", "lbl").agg(count(lit(1)).as("c"))
      labels = votes
        .withColumn("mx", max("c").over(org.apache.spark.sql.expressions.Window.partitionBy("dst")))
        .filter(col("c") === col("mx"))
        .groupBy("dst").agg(min("lbl").as("lbl"))
        .select(col("dst").as("node"), col("lbl"))
    }
    labels
  }

  def labelPropagation(spark: SparkSession, dir: String): DataFrame =
    lpLabels(spark, dir).groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
      .select(col("lbl").as("community"), col("n_nodes"))
      .orderBy(desc("n_nodes"), asc("community"))

  /** Minimum co-click support for a §2.148 item–item edge. */
  val TriMinSupport = 2

  /** §2.148 triangle counting over the item co-click graph — the
    * subgraph-enumeration workload class (clustering-coefficient /
    * community-density primitive) the iterative family (§2.39 CC,
    * §2.131 PageRank, §2.146 LP) doesn't cover.
    *
    * Graph: the user↔item click graph is bipartite (no triangles), so
    * edges are its item–item projection — pairs co-clicked by ≥
    * [[TriMinSupport]] distinct users. Baskets (distinct items per
    * user) are bounded, so the projection's pair stream is
    * Σ C(basket,2) ≈ linear in users (the §2.136 market-basket
    * argument), map-side-combined into the ≤ catalog² support matrix.
    *
    * Counting is the degree-ordered orientation algorithm (the
    * MapReduce-era Suri–Vassilvitskii / Cohen recipe): orient every
    * edge from its lexicographically (deg, id)-smaller endpoint to the
    * larger, so each triangle has exactly ONE pivot vertex with two
    * out-edges and is counted once — no ×6 overcount, no distinct.
    * Out-degree under this orientation is bounded by O(√m) whatever
    * the degree skew (a hub's edges point INTO it from its
    * lower-degree neighbors), which bounds the wedge join — the
    * overall O(m^{3/2}) bound — and makes the hot-node wedge
    * explosion structurally impossible rather than AQE-mitigated.
    * Both self-joins hash-partition on the pivot/source key.
    *
    * Output is node-sized: per item, its (projection) degree and the
    * number of triangles it participates in (each triangle credits
    * all three corners via the 3-struct explode). */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    // barriers: without them this query's plan re-derived the events
    // scan + distinct + projection self-join up to 128 times (pairs
    // feeds deg twice and the orientation twice; oriented feeds both
    // wedge legs and the closing-edge join) — 320 Exchanges / 128
    // parquet scans in the compiled plan, and Catalyst itself pays for
    // the 4 800-line tree on every run. Each shared frame now
    // materializes once inside the single action.
    val c = graft.Barrier("triangles.clicks", Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").as("item"))
      .distinct())
    val pairs = graft.Barrier("triangles.pairs",
      c.join(c.select(col("user_id"), col("item").as("item2")), "user_id")
        .filter(col("item") < col("item2"))
        .groupBy(col("item").as("a"), col("item2").as("b"))
        .agg(count(lit(1)).as("supp"))
        .filter(col("supp") >= TriMinSupport)
        .select("a", "b"))
    val deg = graft.Barrier("triangles.deg", pairs.select(col("a").as("node"))
      .unionAll(pairs.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    // orient a—b from the (deg, id)-smaller endpoint; carry the
    // destination's (deg, id) for the wedge ordering below
    val withDeg = pairs
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val fwd = withDeg.filter(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as("src"), col("b").as("dst"), col("db").as("dd"))
    val rev = withDeg.filter(col("db") < col("da") ||
        (col("da") === col("db") && col("b") < col("a")))
      .select(col("b").as("src"), col("a").as("dst"), col("da").as("dd"))
    val oriented = graft.Barrier("triangles.oriented", fwd.unionAll(rev))
    // wedges at pivot s: out-neighbors b <(deg,id)< c; the closing
    // edge, if present, is oriented b -> c by transitivity
    val e1 = oriented.select(col("src").as("s"), col("dst").as("b"),
      col("dd").as("db2"))
    val e2 = oriented.select(col("src").as("s"), col("dst").as("c"),
      col("dd").as("dc2"))
    val wedges = e1.join(e2, "s")
      .filter(col("db2") < col("dc2") ||
        (col("db2") === col("dc2") && col("b") < col("c")))
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    val tris = wedges.join(closing, Seq("b", "c"))
      .select(explode(array(col("s"), col("b"), col("c"))).as("item"))
      .groupBy("item").agg(count(lit(1)).as("triangles"))
    deg.select(col("node").as("item"), col("deg"))
      .join(tris, Seq("item"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .orderBy(desc("triangles"), desc("deg"), asc("item"))
  }

  val trianglesSql: String =
    s"""WITH c AS (SELECT DISTINCT user_id,
       |    CAST(json_extract_string(props, '$$.k') AS VARCHAR) AS item
       |  FROM events WHERE event_type = 'click'),
       |pairs AS (SELECT x.item AS a, y.item AS b
       |  FROM c x JOIN c y ON x.user_id = y.user_id AND x.item < y.item
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
       |deg AS (SELECT node, count(*) AS deg FROM (
       |    SELECT a AS node FROM pairs UNION ALL SELECT b AS node FROM pairs) t
       |  GROUP BY 1),
       |wd AS (SELECT p.a, p.b, x.deg AS da, y.deg AS db FROM pairs p
       |  JOIN deg x ON p.a = x.node JOIN deg y ON p.b = y.node),
       |oriented AS (
       |  SELECT a AS src, b AS dst, db AS dd FROM wd
       |    WHERE da < db OR (da = db AND a < b)
       |  UNION ALL
       |  SELECT b AS src, a AS dst, da AS dd FROM wd
       |    WHERE db < da OR (da = db AND b < a)),
       |tri AS (SELECT e1.dst AS b, e2.dst AS c, e1.src AS s
       |  FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
       |    AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
       |  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
       |cnt AS (SELECT item, count(*) AS triangles FROM (
       |    SELECT s AS item FROM tri UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri) t GROUP BY 1)
       |SELECT deg.node AS item, deg.deg,
       |  coalesce(cnt.triangles, 0) AS triangles
       |FROM deg LEFT JOIN cnt ON deg.node = cnt.item
       |ORDER BY triangles DESC, deg DESC, item""".stripMargin

  /** BFS hop bound and source-set size. */
  val BfsMaxHops = 4
  val BfsSources = 3

  /** §2.152 multi-source k-hop BFS: exact hop distance from the
    * [[BfsSources]] highest-degree item nodes (ties by id) to every
    * node within [[BfsMaxHops]] hops of any of them — the reachability
    * / blast-radius primitive (how much of the graph sits within k
    * hops of the hubs) that the iterative family (§2.131 PageRank,
    * §2.146 LP) doesn't expose.
    *
    * Frontier algorithm: per round, join the CURRENT frontier (nodes
    * first reached last round) onto the shared persisted adjacency,
    * distinct the successors, and anti-join out already-visited nodes
    * — each round is one frontier-sized hash join + one node-sized
    * anti-join, never corpus²; rounds are bounded by the constant
    * [[BfsMaxHops]]. Distances are deterministic (BFS level is
    * order-independent), so no tie-break is needed. The oracle replays
    * with a recursive CTE under UNION (row-dedup) semantics, which is
    * the same frontier iteration. */
  private[graft] def bfsDistances(spark: SparkSession, dir: String,
      hops: Int = BfsMaxHops): DataFrame = {
    val (adj, _, _) = adjacency(spark, dir)
    val srcs = adj.select("src", "deg").distinct()
      .filter(col("src").startsWith("i"))
      .orderBy(desc("deg"), asc("src")).limit(BfsSources)
      .select(col("src").as("node"))
    // a lazy barrier per round: it stops the union's lineage
    // re-deriving earlier frontiers, and materialization happens ONCE
    // inside the caller's single action (no per-round count() job — was
    // ~40 fixed-cost jobs at sf0.1)
    var dist = graft.Barrier("bfs.dist", srcs.withColumn("dist", lit(0L)))
    var frontier = srcs
    for (k <- 1 to hops) {
      // shuffle_hash pinned on the frontier side: the frontier is
      // node-sized but DATA-DEPENDENT — small-frontier stats at test
      // scale would flip this to a broadcast that at 100 TB ships a
      // hundred-million-node frontier to every executor (the
      // interval_overlap stats trap, SURVEY §6 round 5)
      val next = graft.Barrier("bfs.frontier", adj.join(frontier.hint("shuffle_hash"),
          col("src") === col("node"))
        .select(col("dst").as("node")).distinct()
        .join(dist.select("node").hint("shuffle_hash"),
          Seq("node"), "left_anti"))
      dist = graft.Barrier("bfs.dist",
        dist.unionAll(next.withColumn("dist", lit(k.toLong))))
      frontier = next
    }
    dist
  }

  def graphBfs(spark: SparkSession, dir: String): DataFrame =
    bfsDistances(spark, dir).orderBy("dist", "node")

  val graphBfsSql: String =
    s"""WITH RECURSIVE
       |uv AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
       |    'i' || CAST(json_extract_string(props, '$$.k') AS VARCHAR) AS v
       |  FROM events WHERE event_type = 'click'),
       |e AS (SELECT u AS src, v AS dst FROM uv
       |      UNION ALL SELECT v AS src, u AS dst FROM uv),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |srcs AS (SELECT src AS node FROM deg WHERE src LIKE 'i%'
       |  ORDER BY deg DESC, src LIMIT $BfsSources),
       |bfs(node, dist) AS (
       |  SELECT node, 0 FROM srcs
       |  UNION
       |  SELECT e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.node
       |  WHERE bfs.dist < $BfsMaxHops)
       |SELECT node, CAST(min(dist) AS BIGINT) AS dist
       |FROM bfs GROUP BY node ORDER BY dist, node""".stripMargin

  /** Core order (k) and fixed peel rounds for [[graphKcore]]. */
  val KcoreK = 3
  val KcoreRounds = 8

  /** §2.158 k-core extraction: the maximal subgraph where every node
    * keeps ≥ [[KcoreK]] neighbors INSIDE the subgraph (Seidman 1983,
    * "Network structure and minimum degree") — the density primitive
    * behind community cores, spam-farm detection, and graph
    * sparsification that degree alone misstates (a hub touching only
    * leaves has high degree, core 1).
    *
    * Fixed-round peeling: [[KcoreRounds]] synchronous rounds of
    * "recompute degree within survivors, drop nodes under k". Peeling
    * is monotone (survivor set only shrinks; once converged, further
    * rounds are no-ops), so a fixed round count is deterministic and
    * engine-replayable where a converge-loop would diverge from an
    * unrollable SQL oracle; rounds are sized ≳ the corpus's peel depth
    * and InvariantCheck pins fixed-pointedness at sf1 (one more peel
    * removes nothing). Output: every surviving node with its in-core
    * degree.
    *
    * Scale shape: per round ONE corpus-of-edges hash join against the
    * node-sized survivor set (twice: src and dst side) + one map-side
    * combined degree count — never edges²; survivors are pinned
    * shuffle_hash (node-sized but DATA-DEPENDENT — the §6 round-5
    * broadcast trap), and each round's degree frame is one
    * [[graft.Rounds]] cut (`kcore.deg`) whose observed survivor count
    * decides the early exit.
    *
    * Returns the survivors' in-core degrees (src, c) and the rounds run
    * (−1 = `rounds` ran out before the survivor set stopped shrinking);
    * the degrees read the last round's barrier. */
  private[graft] def kcoreSurvivors(spark: SparkSession, dir: String,
      rounds: Int = KcoreRounds): (DataFrame, Int) = {
    val (adj, nodes, n) = adjacency(spark, dir)
    def survivors(deg: DataFrame): DataFrame =
      deg.filter(col("c") >= KcoreK).select(col("src").as("node"))
    def coreDeg(surv: DataFrame): DataFrame =
      adj.join(surv.select(col("node").as("src")).hint("shuffle_hash"), "src")
        .join(surv.select(col("node").as("dst")).hint("shuffle_hash"), "dst")
        .groupBy("src").agg(count(lit(1)).as("c"))
    // early exit on the monotone fixed point: the survivor set only
    // shrinks, so an unchanged COUNT means an unchanged SET and every
    // remaining round is a no-op — the result is bit-identical to the
    // full fixed-round unroll the oracle replays, without paying the
    // no-op rounds (at sf0.1 the whole graph is already a 3-core:
    // 1 real round instead of 8). Round 0 is every node a survivor, read
    // from the persisted node list.
    val (last, peeled) = graft.Rounds("kcore.deg",
        nodes.select(col("node").as("src"), lit(KcoreK.toLong).as("c")), rounds,
        settled = (before, after) => before == after, initRows = Some(n)) { (deg, round) =>
      round.count(coreDeg(survivors(deg)), col("c") >= KcoreK)
    }
    // On the settled exit the final coreDeg is provably the last
    // round's (checkpointed) degree frame: an equal count means an
    // equal survivor SET, so coreDeg(next) == coreDeg(prev) == last,
    // and every row of it with c < k would have shrunk the count.
    // Reusing it drops a whole adj⋈surv⋈surv round from the plan; the
    // rounds-exhausted exit still recomputes, where the sets differ.
    val deg =
      if (peeled >= 0) last.filter(col("c") >= KcoreK)
      else coreDeg(survivors(last))
    (deg, peeled)
  }

  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    kcoreSurvivors(spark, dir)._1.select(col("src").as("node"), col("c").as("deg_core"))
      .orderBy("node")
  }

  val graphKcoreSql: String = {
    // Each survivor set sX is referenced TWICE by the next round (both
    // join legs), so DuckDB's per-reference CTE inlining turned the
    // 8-round peel into a 2^8 recompute tree — past the 60 s sf1
    // guard. MATERIALIZED pins each round to one evaluation (round
    // 13; sf1 98 s-timeout → 0.4 s, byte-identical results).
    val rounds = (1 to KcoreRounds).map { t =>
      s"""d$t AS (SELECT e.src AS node, count(*) AS c FROM e
         |  JOIN s${t - 1} a ON e.src = a.node
         |  JOIN s${t - 1} b ON e.dst = b.node GROUP BY 1),
         |s$t AS MATERIALIZED (SELECT node FROM d$t WHERE c >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH uv AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
       |    'i' || CAST(json_extract_string(props, '$$.k') AS VARCHAR) AS v
       |  FROM events WHERE event_type = 'click'),
       |e AS (SELECT u AS src, v AS dst FROM uv
       |      UNION ALL SELECT v AS src, u AS dst FROM uv),
       |s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
       |$rounds,
       |f AS (SELECT e.src AS node, count(*) AS c FROM e
       |  JOIN s$KcoreRounds a ON e.src = a.node
       |  JOIN s$KcoreRounds b ON e.dst = b.node GROUP BY 1)
       |SELECT node, c AS deg_core FROM f ORDER BY node""".stripMargin
  }

  /** The LP iteration as a reusable WITH-body: CTEs uv/e/deg/adj/nodes/
    * l0…l[[LpIters]] — shared by the §2.146 rollup and the §2.211
    * modularity metric (both engines replay the identical unrolled
    * fixed point, so the community assignment is one definition). */
  private[graft] val lpCtesSql: String = {
    val rounds = (1 to LpIters).map { t =>
      s"""v$t AS (SELECT dst, lbl, count(*) AS c
         |  FROM adj JOIN l${t - 1} ON adj.src = l${t - 1}.node
         |  GROUP BY 1, 2),
         |m$t AS (SELECT dst, lbl, c, max(c) OVER (PARTITION BY dst) AS mx
         |  FROM v$t),
         |l$t AS (SELECT dst AS node, min(lbl) AS lbl FROM m$t
         |  WHERE c = mx GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""uv AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
       |    'i' || CAST(json_extract_string(props, '$$.k') AS VARCHAR) AS v
       |  FROM events WHERE event_type = 'click'),
       |e AS (SELECT u AS src, v AS dst FROM uv
       |      UNION ALL SELECT v AS src, u AS dst FROM uv),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |adj AS (SELECT e.src, e.dst FROM e),
       |nodes AS (SELECT src AS node FROM deg),
       |l0 AS (SELECT node, node AS lbl FROM nodes),
       |$rounds""".stripMargin
  }

  val labelPropagationSql: String =
    s"""WITH $lpCtesSql
       |SELECT lbl AS community, count(*) AS n_nodes FROM l$LpIters
       |GROUP BY 1 ORDER BY n_nodes DESC, community""".stripMargin

  /** §2.211 modularity of the §2.146 label-propagation communities:
    * Q = Σ_c (L_c/m − (D_c/2m)²) — the judge-of-the-judge for
    * community detection (LP always RETURNS a partition; Q says
    * whether it beats random edge placement — natural communities land
    * ≈0.3–0.7, Q≈0 means the partition is noise). Everything is
    * integer arithmetic on the directed edge list (m_dir = 2m,
    * directed within-edges = 2L_c, D_c = Σdeg) until the final
    * per-community divisions; communities are bounded by nodes, the
    * two label joins are node-grain hash joins onto the edge list —
    * same shape class as the LP rounds themselves. */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val (adj, _, _) = adjacency(spark, dir)
    // three joins consume the labels; without the barrier each re-runs
    // the full LP fixed point (3 iterations × 3 consumers)
    val labels = graft.Barrier("modularity.labels", lpLabels(spark, dir))
    val e = adj.select("src", "dst")
    val withL = e
      .join(labels.select(col("node").as("src"), col("lbl").as("la")), "src")
      .join(labels.select(col("node").as("dst"), col("lbl").as("lb")), "dst")
    val mDir = withL.agg(count(lit(1)).as("m_dir"))
    val lIn = withL.filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("l_dir"))
    val dC = adj.select("src", "deg").distinct()
      .join(labels.select(col("node").as("src"), col("lbl")), "src")
      .groupBy("lbl").agg(sum("deg").as("d_c"))
    dC.join(lIn, Seq("lbl"), "left").na.fill(0L, Seq("l_dir"))
      .crossJoin(mDir) // 1-row broadcast
      .select(
        (col("l_dir").cast("double") / col("m_dir") -
          (col("d_c").cast("double") / col("m_dir")) *
          (col("d_c").cast("double") / col("m_dir"))).as("q_c"),
        col("m_dir"))
      .groupBy("m_dir").agg(
        count(lit(1)).as("n_communities"),
        round(sum("q_c"), 6).as("modularity"))
      .select((col("m_dir") / 2).cast("long").as("n_edges"),
        col("n_communities"), col("modularity"))
  }

  val graphModularitySql: String =
    s"""WITH $lpCtesSql,
       |lab AS (SELECT node, lbl FROM l$LpIters),
       |el AS (SELECT a.lbl AS la, b.lbl AS lb FROM e
       |  JOIN lab a ON e.src = a.node JOIN lab b ON e.dst = b.node),
       |m AS (SELECT count(*) AS m_dir FROM el),
       |lin AS (SELECT la AS lbl, count(*) AS l_dir FROM el
       |  WHERE la = lb GROUP BY 1),
       |dc AS (SELECT lab.lbl, CAST(sum(deg.deg) AS BIGINT) AS d_c
       |  FROM deg JOIN lab ON deg.src = lab.node GROUP BY 1),
       |qc AS (SELECT CAST(coalesce(lin.l_dir, 0) AS DOUBLE) / m.m_dir
       |    - (CAST(dc.d_c AS DOUBLE) / m.m_dir)
       |      * (CAST(dc.d_c AS DOUBLE) / m.m_dir) AS q_c, m.m_dir
       |  FROM dc LEFT JOIN lin USING (lbl) CROSS JOIN m)
       |SELECT CAST(m_dir / 2 AS BIGINT) AS n_edges,
       |  count(*) AS n_communities, round(sum(q_c), 6) AS modularity
       |FROM qc GROUP BY m_dir""".stripMargin

  /** §2.223 `graph_assortativity`: degree assortativity of the
    * user↔item click graph — the Pearson correlation of endpoint
    * degrees over all directed edges (Newman 2002), THE one-number
    * answer to "do hubs attach to hubs?" (r<0, typical of bipartite
    * user–item graphs: high-degree users click long-tail items) that
    * decides whether degree-based sampling/salting strategies see
    * correlated or anti-correlated hot spots.
    *
    * Scale shape: reuses the persisted (src, dst, deg) adjacency
    * (§2.131's MemoCache contract); one node-sized degree frame joins
    * back by dst (hash join, AQE-splittable on hub nodes), and the
    * FIVE moment sums collapse map-side in a single aggregate.
    *
    * Determinism: degrees are integers; every moment sums as
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — EXACT whatever the
    * edge count, immune to both overflow and summation order (at
    * 10¹² edges Σd·d′ overflows int64, the §2.140 lesson, but a
    * 128-bit integer sum stays exact where a double sum would go
    * order-dependent). The correlation is then one fixed-sequence
    * double expression of identical integers, rounded at 6 dp. */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val (adj, nodes, n) = adjacency(spark, dir)
    val degD = adj.select("src", "deg").distinct()
    val ed = adj.select(col("dst"), col("deg").as("dx"))
      .join(degD.select(col("src").as("dst"), col("deg").as("dy")), "dst")
    val dec = "decimal(38,0)"
    val s = ed.agg(
      count(lit(1)).as("m_dir"),
      sum(col("dx").cast(dec)).as("sx"),
      sum(col("dy").cast(dec)).as("sy"),
      sum((col("dx").cast(dec) * col("dy").cast(dec)).cast(dec)).as("sxy"),
      sum((col("dx").cast(dec) * col("dx").cast(dec)).cast(dec)).as("sxx"),
      sum((col("dy").cast(dec) * col("dy").cast(dec)).cast(dec)).as("syy"))
    val m = col("m_dir").cast("double")
    def d(c: String) = col(c).cast("double")
    s.crossJoin(broadcast(nodes.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n_nodes"),
        (col("m_dir") / 2).cast("long").as("n_edges"),
        round(d("sx") / m, 4).as("avg_deg"),
        round(try_divide(m * d("sxy") - d("sx") * d("sy"),
          sqrt((m * d("sxx") - d("sx") * d("sx")) *
            (m * d("syy") - d("sy") * d("sy")))), 6).as("assortativity"))
  }

  val graphAssortativitySql: String =
    """WITH uv AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
      |    'i' || CAST(json_extract_string(props, '$.k') AS VARCHAR) AS v
      |  FROM events WHERE event_type = 'click'),
      |e AS (SELECT u AS src, v AS dst FROM uv
      |      UNION ALL SELECT v AS src, u AS dst FROM uv),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |ed AS (SELECT a.deg AS dx, b.deg AS dy
      |  FROM e JOIN deg a ON e.src = a.src JOIN deg b ON e.dst = b.src),
      |s AS (SELECT count(*) AS m_dir,
      |    sum(CAST(dx AS HUGEINT)) AS sx, sum(CAST(dy AS HUGEINT)) AS sy,
      |    sum(CAST(dx AS HUGEINT) * dy) AS sxy,
      |    sum(CAST(dx AS HUGEINT) * dx) AS sxx,
      |    sum(CAST(dy AS HUGEINT) * dy) AS syy
      |  FROM ed),
      |n AS (SELECT count(*) AS n_nodes FROM deg)
      |SELECT n.n_nodes, CAST(m_dir / 2 AS BIGINT) AS n_edges,
      |  round(CAST(sx AS DOUBLE) / CAST(m_dir AS DOUBLE), 4) AS avg_deg,
      |  round((CAST(m_dir AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt((CAST(m_dir AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(m_dir AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |    AS assortativity
      |FROM s CROSS JOIN n""".stripMargin

  /** jaccard_neighbors similarity floor. */
  val MinJaccard = 0.1

  /** §2.173 item–item neighbourhood similarity: Jaccard of the click
    * user sets for every co-clicked item pair above [[MinJaccard]] —
    * the item-based collaborative-filtering kernel (the set-overlap
    * sibling of market_basket's support/lift).
    *
    * Scale shape: DISTINCT (user, item) first (the only corpus-sized
    * shuffle), then pair generation JOINS BY USER — each user
    * contributes C(items_u, 2) pairs, bounded by the per-user activity
    * cap, never by catalog size; a power-law user is splittable because
    * the pair count aggregation is map-side combined on (item_a,
    * item_b). Per-item user counts broadcast onto the bounded pair
    * frame (≤ C(|items|, 2) rows). No all-pairs path: items that share
    * no user never meet. */
  def jaccardNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val ui = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("u"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .distinct()
    val deg = ui.groupBy("item").agg(count(lit(1)).as("n_u"))
    val a = ui.select(col("u"), col("item").as("item_a"))
    val b = ui.select(col("u"), col("item").as("item_b"))
    a.join(b, Seq("u"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_co"))
      .join(broadcast(deg.select(col("item").as("item_a"), col("n_u").as("n_a"))), "item_a")
      .join(broadcast(deg.select(col("item").as("item_b"), col("n_u").as("n_b"))), "item_b")
      .withColumn("jaccard",
        round(col("n_co") / (col("n_a") + col("n_b") - col("n_co")).cast("double"), 6))
      .filter(col("jaccard") >= MinJaccard)
      .select("item_a", "item_b", "n_co", "n_a", "n_b", "jaccard")
      .orderBy(desc("jaccard"), col("item_a"), col("item_b"))
  }

  val jaccardNeighborsSql: String =
    s"""WITH ui AS (SELECT DISTINCT user_id AS u,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
       |  FROM events WHERE event_type = 'click'),
       |deg AS (SELECT item, count(*) AS n_u FROM ui GROUP BY item),
       |co AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_co
       |  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item
       |  GROUP BY 1, 2)
       |SELECT item_a, item_b, n_co, da.n_u AS n_a, db.n_u AS n_b,
       |  round(n_co * 1.0 / (da.n_u + db.n_u - n_co), 6) AS jaccard
       |FROM co JOIN deg da ON item_a = da.item JOIN deg db ON item_b = db.item
       |WHERE round(n_co * 1.0 / (da.n_u + db.n_u - n_co), 6) >= $MinJaccard
       |ORDER BY jaccard DESC, item_a, item_b""".stripMargin

  /** HITS iteration count (unrolled on both engines). */
  val HitsIters = 2

  /** §2.174 HITS hubs-and-authorities over the DIRECTED user→item
    * click bipartite graph: users are pure hubs, items pure
    * authorities. From hub=1, [[HitsIters]] rounds of a(i) = Σ h(u),
    * h(u) = Σ a(i); final authorities L1-normalized. Deterministic
    * across engines: the contribution sums are integer-valued in
    * round 1 and the round-2 doubles are compared at 6 dp after
    * normalization (same argument as PageRank's rounding contract).
    *
    * Scale shape: per half-round exactly ONE shuffle — node-sized
    * score frames hash-join onto the distinct edge list by u or i and
    * partial-sum map-side into the opposite endpoint's groupBy; the
    * edge frame builds once. The L1 norm is a broadcast 1-row
    * aggregate. Same class as PageRank: at 100 TB a bucketed edge
    * table makes every round's big-side exchange-free. */
  def hubAuthority(spark: SparkSession, dir: String): DataFrame = {
    // eager barrier: the 3 per-round joins read stored blocks instead
    // of re-running the events scan + distinct
    val e = graft.Barrier("hits.edges", Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("u"),
        get_json_object(col("props"), "$.k").cast("long").as("i"))
      .distinct(), eager = true)
    // round 1 from hub=1: authority = in-degree
    var auth = e.groupBy("i").agg(count(lit(1)).cast("double").as("auth"))
    for (_ <- 2 to HitsIters) {
      val hub = e.join(auth, "i").groupBy("u").agg(sum("auth").as("hub"))
      auth = e.join(hub, "u").groupBy("i").agg(sum("hub").as("auth"))
    }
    val norm = auth.agg(sum("auth").as("s"))
    auth.crossJoin(broadcast(norm))
      .select(col("i").as("item"), round(col("auth") / col("s"), 6).as("authority"))
      .orderBy(desc("authority"), col("item"))
      .limit(20)
  }

  val hubAuthoritySql: String = {
    // unrolled a1 → (h_t, a_t) chain, mirroring the loop above
    val rounds = (2 to HitsIters).map { t =>
      s"""h${t - 1} AS (SELECT u, sum(auth${t - 1}) AS hub${t - 1}
         |  FROM e JOIN a${t - 1} USING (i) GROUP BY u),
         |a$t AS (SELECT i, sum(hub${t - 1}) AS auth$t
         |  FROM e JOIN h${t - 1} USING (u) GROUP BY i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT user_id AS u,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS i
       |  FROM events WHERE event_type = 'click'),
       |a1 AS (SELECT i, CAST(count(*) AS DOUBLE) AS auth1 FROM e GROUP BY i),
       |$rounds,
       |na AS (SELECT sum(auth$HitsIters) AS s FROM a$HitsIters)
       |SELECT i AS item, round(auth$HitsIters / s, 6) AS authority
       |FROM a$HitsIters, na
       |ORDER BY authority DESC, item LIMIT 20""".stripMargin
  }

  /** §2.290 `graph_clustering`: degree-binned local clustering
    * coefficients + per-bin transitivity over the §2.148 item-item
    * projection — the small-world diagnostic ("does clustering decay
    * with degree?") and the global-structure number (transitivity =
    * closed wedges / wedges) that one scalar triangle count can't
    * separate: a graph can be triangle-rich at hubs and tree-like at
    * the fringe, and corpus-graph sampling decisions (§2.146's
    * label-propagation communities, §2.159's cluster splits) depend
    * on which.
    *
    * Builds directly on §2.148's per-node (item, deg, triangles)
    * output — the oriented-wedge O(m^{3/2}) bound carries over, and
    * the binning pass is node-sized. Degree bins are powers of two
    * computed by INTEGER string-length-of-binary (length(bin(deg))−1
    * on BOTH engines — no libm log2, whose ulp error flips floor at
    * exact powers).
    *
    * Determinism: wedge counts deg·(deg−1)/2 are exact integers
    * (the product is always even); per-node cc = 2·tri/(deg·(deg−1))
    * converts to integer micro-units BEFORE the per-bin sum (the
    * §2.285 cents pattern — no cross-row float sum); transitivity is
    * one division of two exact per-bin integers. */
  def graphClustering(spark: SparkSession, dir: String): DataFrame = {
    val base = triangles(spark, dir) // (item, deg, triangles), node-sized
    val binned = base
      .withColumn("bin", (length(expr("bin(deg)")) - 1).cast("long"))
      .withColumn("wedges", expr("deg * (deg - 1) div 2"))
      .withColumn("micro", expr(
        "CAST(round(CASE WHEN deg >= 2 THEN 2.0 * triangles / " +
          "(deg * (deg - 1)) ELSE 0.0 END * 1000000) AS BIGINT)"))
    binned.groupBy("bin").agg(
      count(lit(1)).as("n_nodes"),
      sum("wedges").cast("long").as("wedges"),
      sum("triangles").as("tri_corners"),
      round(sum("micro").cast("double") / count(lit(1)) / 1e6, 6)
        .as("mean_local_cc"))
      .withColumn("transitivity",
        when(col("wedges") === 0L, lit(0.0)).otherwise(
          round(col("tri_corners").cast("double") / col("wedges"), 6)))
      .orderBy("bin")
  }

  val graphClusteringSql: String =
    s"""WITH base AS ($trianglesSql),
       |b AS (SELECT length(bin(deg)) - 1 AS bin,
       |    deg * (deg - 1) // 2 AS wedges, triangles,
       |    CAST(round(CASE WHEN deg >= 2 THEN 2.0 * triangles /
       |      (deg * (deg - 1)) ELSE 0.0 END * 1000000) AS BIGINT) AS micro
       |  FROM base)
       |SELECT bin, count(*) AS n_nodes,
       |  CAST(sum(wedges) AS BIGINT) AS wedges,
       |  CAST(sum(triangles) AS BIGINT) AS tri_corners,
       |  round(CAST(sum(micro) AS DOUBLE) / count(*) / 1e6, 6)
       |    AS mean_local_cc,
       |  CASE WHEN sum(wedges) = 0 THEN 0.0
       |    ELSE round(CAST(sum(triangles) AS DOUBLE)
       |      / CAST(sum(wedges) AS BIGINT), 6) END AS transitivity
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin
  /** §2.302 `degree_dist`: degree distribution + CCDF of the click
    * graph, split by node kind (user / item) — the structural
    * fingerprint behind every other graph op here: the heavy-tail
    * check that says whether §2.48's salting and AQE skew handling
    * are load-bearing (a power-law item tail at 100 TB means hot
    * vertices by construction), reported as the survival curve
    * P(deg ≥ d) a capacity plan reads off directly (the §2.171 Zipf
    * rank–frequency law, on the graph side).
    *
    * Scale shape: degrees come from the shared persisted §2.131
    * adjacency at node grain (one groupBy); the (kind, deg) cell
    * frame is bounded by the distinct-degree count regardless of
    * corpus size, and the CCDF is a suffix window over those cells
    * partitioned by kind. Nothing after the node-grain groupBy is
    * data-proportional.
    *
    * Determinism: integers end-to-end; the two shares are single
    * divisions of identical integers. */
  def degreeDist(spark: SparkSession, dir: String): DataFrame = {
    val (adj, _, _) = adjacency(spark, dir)
    val deg = adj.groupBy("src").agg(max("deg").as("deg"))
      .select(substring(col("src"), 1, 1).as("kind"), col("deg"))
    val cells = deg.groupBy("kind", "deg")
      .agg(count(lit(1)).as("n_nodes"))
    val wSuf = org.apache.spark.sql.expressions.Window.partitionBy("kind").orderBy("deg")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("kind")
    cells
      .withColumn("n_ge", sum("n_nodes").over(wSuf))
      .withColumn("kind_total", sum("n_nodes").over(wAll))
      .select(col("kind"), col("deg"), col("n_nodes"), col("n_ge"),
        round(col("n_ge").cast("double") / col("kind_total"), 6)
          .as("ccdf"),
        round(col("n_nodes").cast("double") / col("kind_total"), 6)
          .as("pmf"))
      .orderBy("kind", "deg")
  }

  val degreeDistSql: String =
    s"""WITH uv AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
       |    'i' || CAST(json_extract_string(props, '$$.k') AS VARCHAR) AS v
       |  FROM events WHERE event_type = 'click'),
       |e AS (SELECT u AS src, v AS dst FROM uv
       |      UNION ALL SELECT v AS src, u AS dst FROM uv),
       |deg AS (SELECT substr(src, 1, 1) AS kind, count(*) AS deg
       |  FROM e GROUP BY src),
       |cells AS (SELECT kind, deg, count(*) AS n_nodes
       |  FROM deg GROUP BY 1, 2),
       |c AS (SELECT kind, deg, n_nodes,
       |    CAST(sum(n_nodes) OVER (PARTITION BY kind ORDER BY deg
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
       |      AS n_ge,
       |    CAST(sum(n_nodes) OVER (PARTITION BY kind) AS BIGINT)
       |      AS kind_total
       |  FROM cells)
       |SELECT kind, deg, n_nodes, n_ge,
       |  round(CAST(n_ge AS DOUBLE) / kind_total, 6) AS ccdf,
       |  round(CAST(n_nodes AS DOUBLE) / kind_total, 6) AS pmf
       |FROM c ORDER BY kind, deg""".stripMargin
}
