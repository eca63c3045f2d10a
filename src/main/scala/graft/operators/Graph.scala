package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph analytics over the part co-purchase graph and the
  * customer-brand bipartite graph: PageRank, triangles and clustering,
  * k-hop reachability, weighted shortest paths, item-based
  * collaborative filtering and link prediction. The shared edge builder
  * ([[copurchasePairs]]) and the scoring halves the streaming twins reuse
  * live here. Each query carries its DuckDB oracle twin.
  */
object Graph extends OperatorFamily {

  /** Directed co-purchase pair INSTANCES — one (u, v) row per order
    * containing both parts, u != v, both directions — built IN-ROW:
    * one exchange keyed on l_orderkey collapses each order to its
    * distinct part set, then the O(k²) pair fan-out is row-local
    * (baskets are bounded, ~4–7 items at any SF). Replaces the
    * op-self-join edge build the whole graph family shipped with,
    * which exchanged the distinct (order, part) frame on BOTH join
    * sides plus the join key — three corpus-sized exchanges per build
    * — before the pair aggregate. Pair multiset is identical (the
    * self-join of a distinct frame emits exactly one (u, v) row per
    * co-containing order), so every downstream count/distinct matches
    * bit-for-bit. Shared by q105/q107/q125/q130/q197. */
  private def copurchasePairs(
      s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, x -> transform(filter(ps, y -> y != x), " +
          "y -> struct(x AS u, y AS v))))")).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

  /** q197's scoring engine over ANY undirected edge list `(pa, pb)`
    * (deduplicated, pa < pb): every NON-adjacent pair sharing ≥ 1
    * neighbor, scored by common-neighbor count, neighborhood Jaccard,
    * and the fixed-point Resource-Allocation index Σ (10¹² div deg_z)
    * — exact longs, so the per-pair sums are order-insensitive and
    * map-side combinable. The edge frame is materialized once;
    * adjacency, the wedge equi-join, and the existence anti-join all
    * reuse the cut. Property-checked against brute force on random
    * graphs (Round8OpsSpec). At 100 TB, bound wedge fan-out upstream
    * (support floor or degree cap on `edgesIn`).
    */
  def linkPredictionScores(edgesIn: DataFrame,
      materialize: Materialize = Materialize.LocalCheckpoint): DataFrame = {
    val e = materialize(edgesIn.select(col("pa"), col("pb")))
    val esym = e.unionByName(
      e.select(col("pb").as("pa"), col("pa").as("pb")))
    val deg = esym.groupBy(col("pa")).agg(count(lit(1)).as("deg"))
    val wedges = esym.as("l").join(esym.as("r"),
        col("l.pb") === col("r.pb") && col("l.pa") < col("r.pa"))
      .select(col("l.pa").as("a"), col("r.pa").as("b"),
        col("l.pb").as("z"))
    linkPredictionFromWedges(wedges, e, deg)
  }

  /** Scoring half of [[linkPredictionScores]], shared with the
    * streaming twin ([[StreamingOps.wedgeFold]] maintains the wedge
    * set incrementally; this scores it). `wedges` = (a, b, z) rows
    * with a < b, adjacent pairs allowed (anti-joined out here);
    * `e` = the undirected edge list (pa < pb); `deg` = (pa, deg).
    */
  def linkPredictionFromWedges(wedges: DataFrame, e: DataFrame,
      deg: DataFrame): DataFrame = {
    val degz = deg.withColumnRenamed("pa", "z")
      .withColumnRenamed("deg", "deg_z")
    wedges
      .join(e.select(col("pa").as("a"), col("pb").as("b")),
        Seq("a", "b"), "left_anti")
      .join(degz, "z")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("CAST(1000000000000 AS BIGINT) div deg_z")).as("ra_fp"))
      .join(deg.select(col("pa").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("pa").as("b"), col("deg").as("deg_b")), "b")
      .withColumn("jaccard",
        col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"))
      .withColumn("ra", col("ra_fp").cast("double") / lit(1.0e12))
  }

  /** q196's scoring engine over ANY binary user×item matrix
    * `(c, brand)` (deduplicated here, keyed on c — callers pass raw
    * ownership rows): item-item fixed-point squared-cosine
    * affinities sim_fp(i,j) = (co²·10⁹) div (nᵢ·nⱼ), then per-user
    * candidate scores = exact long sums of sim_fp over owned items,
    * for users matching `targetFilter` and candidates the user does
    * NOT own. Returns (c, cand, score_fp, n_terms). The item
    * vocabulary must be BOUNDED (the affinity matrix and the brand
    * dictionary broadcast). `brand` must be non-null: the dedup's
    * `collect_set` silently drops NULL items, so a NULL brand would
    * vanish from the matrix rather than count as an item.
    * Property-checked against brute force on random matrices
    * (Round8OpsSpec). Long-range note: co²·10⁹ needs the
    * DECIMAL(38,0) carrier past ~2e17 (see q196). The matrix is
    * materialized once — it feeds the item counts, both sides of the
    * co-occurrence self-join and the target scan.
    *
    * One-long-key rule: every broadcast hash join here keys on one
    * long, so Spark builds a `LongHashedRelation`, sized to its rows. A
    * string or multi-column key builds an `UnsafeHashedRelation`,
    * whose map pins one whole `spark.buffer.pageSize` page (32 MiB on a
    * 3 GB heap) on every executor for as long as the broadcast lives,
    * even for a 25-row brand table. So the scoring runs on exact long
    * brand ids: the cut numbers the distinct brands by their position
    * in the sorted vocabulary (a dictionary, not a hash, so no two
    * brands can share an id), and the names are re-attached by id at
    * the end.
    */
  def itemCfScores(rMatIn: DataFrame, targetFilter: Column,
      materialize: Materialize = Materialize.LocalCheckpoint)
      : DataFrame = {
    // The matrix is deduplicated HERE, keyed on c (round 13): one
    // c-keyed exchange (collect_set dedups inside the aggregate, then
    // explode restores rows — partitioning-preserving) replaces the
    // caller's (c, brand)-keyed distinct. The cut frame does NOT come
    // out hash-partitioned on c: with AQE on, the checkpointed plan
    // reports UnknownPartitioning(0), so the co-occurrence self-join
    // below still exchanges the matrix on both sides. Measured at
    // sf0.1: matrix build 2.6 s → 1.0 s, co join 1.37 s → 0.57 s. The in-row collect_set pair
    // fan-out (the q84/q197 basket shape) was tried first and measured
    // SLOWER (1.5–2.5 s): the O(k²) fan-out runs as an interpreted HOF
    // lambda over string structs, while the co-partitioned self-join
    // stays whole-stage codegen — guide §1.2 step 2 feeding back into
    // step 1. Pair multiset is unchanged either way.
    val owned = rMatIn.select(col("c"), col("brand"))
      .groupBy(col("c"))
      .agg(sort_array(collect_set(col("brand"))).as("bs"))
    // the brand dictionary, built inside the cut: (bid, brand) with bid
    // the brand's position in the sorted distinct vocabulary (one row
    // before the posexplode; the vocabulary is bounded, see above). The
    // string-keyed join that applies it runs in the cut's own job, and
    // its relation is freed with that job's plan.
    val dict = owned.select(explode(col("bs")).as("brand"))
      .agg(sort_array(collect_set(col("brand"))).as("names"))
      .select(posexplode(col("names")).as(Seq("bid", "brand")))
    val rMat = materialize(
      owned.select(col("c"), explode(col("bs")).as("brand"))
        .join(broadcast(dict), "brand")
        .select(col("c"), col("bid").cast("long").as("bid"),
          col("brand")))
    val ids = rMat.select(col("c"), col("bid").as("brand"))
    // grouped on (bid, brand): one aggregate gives the item counts and
    // the id → name table (brand is a function of bid)
    val counts = rMat.groupBy(col("bid"), col("brand"))
      .agg(count(lit(1)).as("n"))
    val co = ids.as("x").join(ids.as("y"),
        col("x.c") === col("y.c") && col("x.brand") < col("y.brand"))
      .groupBy(col("x.brand").as("bi"), col("y.brand").as("bj"))
      .agg(count(lit(1)).as("co"))
    itemCfScoresFromCounts(ids,
        counts.select(col("bid").as("brand"), col("n")), co, targetFilter)
      .withColumnRenamed("cand", "cand_id")
      .join(broadcast(counts.select(col("bid").as("cand_id"),
        col("brand").as("cand"))), "cand_id")
      .select(col("c"), col("cand"), col("score_fp"), col("n_terms"))
  }

  /** Scoring half of [[itemCfScores]], shared with the streaming twin
    * ([[StreamingOps.cfFold]] maintains `nPer`/`co` incrementally; this
    * scores them). `rMat` = the distinct (c, brand) matrix; `nPer` =
    * (brand, n) item counts; `co` = (bi, bj, co) with bi < bj. The
    * item key may be of any type (the batch surface passes long brand
    * ids, the streaming twin brand names); it is `cand`'s type in the
    * result. Broadcast hash joins key on the item alone, so a long key
    * keeps every one a `LongHashedRelation` (see [[itemCfScores]]):
    * owned candidates are dropped with a per-customer owned set
    * (`array_contains`), not with a (c, cand) anti-join, whose
    * two-column key would build an `UnsafeHashedRelation`.
    */
  def itemCfScoresFromCounts(rMat: DataFrame, nPer: DataFrame,
      co: DataFrame, targetFilter: Column): DataFrame = {
    // NOT cut (round-13 measurement): `simBoth` consumes sim twice
    // (both union branches) and the formatted plan textually repeats
    // the co/nPer subtree — but at runtime ReusedExchange dedups the
    // identical exchanges, so the repeat is FREE; an eager cut here
    // re-ran the subtree in its own job where nothing is reusable
    // (measured: 2.37 s / 10.8 shuffle-MB without the cut vs 2.76 s /
    // 21.8 MB with it). Corollary to the d21 Materialize lesson: a
    // multi-consumer subtree whose consumers sit in ONE plan and end
    // at identical exchanges needs no cut.
    val sim = co
      .join(nPer.withColumnRenamed("brand", "bi")
        .withColumnRenamed("n", "ni"), "bi")
      .join(nPer.withColumnRenamed("brand", "bj")
        .withColumnRenamed("n", "nj"), "bj")
      .withColumn("sim_fp",
        expr("(co * co * CAST(1000000000 AS BIGINT)) div (ni * nj)"))
      .select(col("bi"), col("bj"), col("sim_fp"))
    val simBoth = sim.unionByName(
      sim.select(col("bj").as("bi"), col("bi").as("bj"), col("sim_fp")))
    // one row per target customer with its owned items; the explode
    // keeps the c-partitioning, so the final (c, cand) aggregate needs
    // no second exchange
    rMat.filter(targetFilter)
      .groupBy(col("c")).agg(collect_list(col("brand")).as("owned"))
      .select(col("c"), col("owned"), explode(col("owned")).as("brand"))
      .join(broadcast(simBoth), col("brand") === col("bi"))
      .filter(!array_contains(col("owned"), col("bj")))
      .groupBy(col("c"), col("bj").as("cand"))
      .agg(sum(col("sim_fp")).as("score_fp"),
        count(lit(1)).as("n_terms"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PAGERANK over the part co-purchase graph (two damped iterations,
    // d = 0.85): parts are linked when they ship in the same order, and
    // rank flows along those links — the catalog-centrality score
    // behind "which parts anchor the basket graph" (q70 counts
    // co-occurrence edges; this propagates influence ACROSS them).
    // Ranks ride integer micro-units with truncating division
    // (r div deg, then 150000 + 850*S div 1000), so every iteration is
    // exact long arithmetic — order-independent, engine-independent —
    // and the only doubles are the final projection. Scale shape: the
    // per-order self-join explodes row-locally (baskets are bounded,
    // ~7 items, so O(k^2) stays tiny) with one exchange on l_orderkey;
    // each iteration is the standard Pregel pair — one exchange joining
    // ranks to edge sources, one partial-aggregated exchange summing
    // into destinations — with 8-byte keys and longs on the wire. Hub
    // skew lands on the dst agg, where map-side combine absorbs it;
    // AQE's skew split covers the join side.
    "q105_copurchase_pagerank" -> ((s, d) => {
      // edges feeds deg, both rank iterations, and the final join —
      // and each iteration's ranks feeds the next: without the cuts
      // iteration 2 (and the final join) replays the whole edge build
      // per consumer (the q125/q130 iterative-lineage discipline)
      val edges = Materialize.LocalCheckpoint(
        copurchasePairs(s, d)
          .toDF("src", "dst").distinct())
      val deg = Materialize.LocalCheckpoint(
        edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      var ranks = deg.select(col("src").as("pk"),
        lit(1000000L).as("r"))
      for (_ <- 1 to 2) {
        // ranks and deg are |V|-sized (one row per part — dimension-
        // sized at any SF, the q107 deg-broadcast precedent), but the
        // LocalCheckpoint cuts erase their size stats, so the planner
        // sort-merge-joined them against the edge list: TWO fact-sized
        // src exchanges per iteration. Pre-divide r/deg on the tiny
        // frame (same per-edge arithmetic — r div deg is a function of
        // src alone), then stream the edges through ONE broadcast hash
        // join: the only per-iteration exchange left is the partial-
        // aggregated dst sum.
        val rod = ranks.join(broadcast(deg), ranks("pk") === deg("src"))
          .select(col("src"), expr("r div deg").as("c"))
        val contrib = edges.join(broadcast(rod), "src")
          .select(col("dst"), col("c"))
        ranks = Materialize.LocalCheckpoint(contrib.groupBy(col("dst"))
          .agg(sum(col("c")).as("s"))
          .select(col("dst").as("pk"),
            expr("150000L + (850 * s) div 1000").as("r")))
      }
      ranks.join(broadcast(deg), ranks("pk") === deg("src"))
        .select(col("pk").as("partkey"), col("deg").as("degree"),
          col("r").as("rank_micro"),
          (col("r").cast("double") / lit(1000000.0)).as("rank"))
        .orderBy(col("partkey"))
    }),

    // TRIANGLE COUNT + local clustering coefficient over the part
    // co-purchase graph (the cohesion companion to q105's PageRank:
    // rank says "important", clustering says "embedded in a community").
    // Spark side uses the DEGREE-ORIENTATION trick: orient every
    // undirected edge from its (degree, id)-smaller endpoint to the
    // larger, enumerate wedges only at each vertex's out-neighbours,
    // and close them against the oriented edge set — O(m^1.5) wedge
    // work instead of Σ deg² (the hub vertex never fans out), the
    // standard scale formulation. The oracle uses the simpler
    // id-ordered closure; both enumerate the identical triangle set,
    // and per-vertex counts are orientation-invariant. Scale shape:
    // per-order pairs are basket-local (bounded k² per order), the
    // edge set exchanges on its endpoints for the two joins, and the
    // only wide rows are 3-long triangle triples that explode
    // map-locally into per-vertex counts. Clustering coefficient is a
    // pure function of two exact longs -> bit-identical doubles.
    "q107_triangle_count" -> ((s, d) => {
      // The edge frame feeds degree AND orientation (and, through
      // oriented, both closure branches) — cut it once so the
      // fact-scan + in-row pair fan-out + distinct run a single time
      // (the d21 Materialize lesson; 16 bytes/edge).
      val e = Materialize.LocalCheckpoint(copurchasePairs(s, d)
        .filter(col("u") < col("v"))
        .distinct())
      val deg = e.select(col("u").as("pk"))
        .unionAll(e.select(col("v").as("pk")))
        .groupBy(col("pk")).agg(count(lit(1)).as("degree"))
      // Total order consistent across both joins: ord = degree·1e10 + id
      // (partkeys are far below 1e10 at any TPC-H scale factor).
      val ordOf = (dg: org.apache.spark.sql.Column,
                   id: org.apache.spark.sql.Column) =>
        dg * lit(10000000000L) + id
      val du = deg.select(col("pk").as("u"),
        ordOf(col("degree"), col("pk")).as("ord_u"))
      val dv = deg.select(col("pk").as("v"),
        ordOf(col("degree"), col("pk")).as("ord_v"))
      // deg is one long per part — a dimension-sized frame at any SF,
      // so both orientation lookups broadcast (no fact-sized exchange).
      // oriented is consumed by the adjacency build and the edge scan;
      // the cut keeps it one pass too.
      val oriented = Materialize.LocalCheckpoint(
        e.join(broadcast(du), "u").join(broadcast(dv), "v")
        .select(
          when(col("ord_u") < col("ord_v"), col("u")).otherwise(col("v"))
            .as("src"),
          when(col("ord_u") < col("ord_v"), col("v")).otherwise(col("u"))
            .as("dst"),
          least(col("ord_u"), col("ord_v")).as("ord_src"),
          greatest(col("ord_u"), col("ord_v")).as("ord_dst")))
      // Edge-iterator closure: for each oriented edge (u,v) the
      // triangles through it are N⁺(u) ∩ N⁺(v) — a row-local
      // array_intersect over the two sorted adjacency lists, so the
      // wedge set (Σ outdeg², ~20M rows at sf0.1) never materializes
      // or shuffles; the only exchanges carry the edge list and the
      // ≤O(√m)-bounded adjacency arrays. Each triangle {u,v,w}
      // (u,v = its two order-smaller vertices) is found exactly once,
      // contributing |I| to u and v and 1 to each w.
      val adj = oriented.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      val tri = oriented.select(col("src").as("u"), col("dst").as("v"))
        .join(adj.select(col("src").as("u"), col("nbrs").as("nu")),
          Seq("u"))
        .join(adj.select(col("src").as("v"), col("nbrs").as("nv")),
          Seq("v"))
        .select(col("u"), col("v"),
          array_intersect(col("nu"), col("nv")).as("ws"))
        .filter(size(col("ws")) > 0)
      val tcnt = tri
        .select(explode(concat(
          array(
            struct(col("u").as("pk"), size(col("ws")).cast("long").as("c")),
            struct(col("v").as("pk"), size(col("ws")).cast("long").as("c"))),
          expr("transform(ws, w -> struct(w AS pk, CAST(1 AS BIGINT) AS c)"
            + ")"))).as("e"))
        .select(col("e.pk"), col("e.c"))
        .groupBy(col("pk")).agg(sum(col("c")).as("n_tri"))
      deg.join(tcnt, Seq("pk"), "left")
        .select(col("pk").as("partkey"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
          when(col("degree") > 1,
            (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
              (col("degree") * (col("degree") - 1)).cast("double"))
            .otherwise(lit(0.0)).as("clustering"))
        .orderBy(col("partkey"))
    }),

    // K-HOP BFS REACHABILITY over the part co-purchase graph — the
    // traversal primitive q105 (fixed-iteration PageRank) and q107
    // (closed triangles) bracket but neither exposes: from a seed set
    // (graph nodes with partkey % 200 = 0), the count of nodes whose
    // SHORTEST-PATH distance is exactly h for h in 0..3. The Spark
    // side is the Pregel/GraphX frontier loop expressed in DataFrames:
    // per round, frontier ⋈ edges → candidate set, anti-join the
    // visited set, LOCAL-CHECKPOINT the new frontier (iterative
    // lineage MUST be truncated — without the cut round k replays all
    // k−1 predecessor joins and the plan grows superlinearly; this is
    // the same Materialize discipline q105's rank iterations pin —
    // and only the frontier is cut: visited is the lazy union of the
    // disjoint checkpointed frontiers, so no row materializes twice).
    // The oracle is DuckDB's WITH RECURSIVE with the same hop bound —
    // two independent formulations (frontier loop vs fixpoint CTE),
    // one truth. Scale shape: each round exchanges only the frontier
    // (keyed on partkey) against the edge list; the visited set stays
    // (pk, hop) longs; 3 rounds = 3 bounded joins, the standard
    // multi-hop shape at any corpus size.
    "q125_khop_reachability" -> ((s, d) => {
      val edges = Materialize.LocalCheckpoint(
        copurchasePairs(s, d).distinct())
      // checkpoint each FRONTIER, not the growing visited union: the
      // frontiers are disjoint by construction, so `visited` is their
      // lazy union and round k never re-materializes rounds 0..k−1's
      // rows (the cut cost per round stays proportional to the NEW
      // nodes — the Pregel superstep contract)
      var frontiers = Vector(Materialize.LocalCheckpoint(
        edges.select(col("u").as("pk")).distinct()
          .filter(col("pk") % 200 === 0)
          .withColumn("hop", lit(0))))
      for (h <- 1 to 3) {
        val visited = frontiers.map(_.select(col("pk")))
          .reduce(_.unionAll(_))
        // frontier and visited are ≤|V| single-long frames (dimension-
        // sized at any SF — the q107 deg-broadcast precedent), but the
        // LocalCheckpoint cuts erase their stats and the planner sort-
        // merge-joined them against the edge list — re-exchanging the
        // whole edge frame every round. Broadcasting them streams the
        // edges map-side; the only per-round exchange is the distinct.
        val next = Materialize.LocalCheckpoint(
          edges.join(broadcast(frontiers.last.select(col("pk"))),
              col("u") === col("pk"))
            .select(col("v").as("pk")).distinct()
            .join(broadcast(visited), Seq("pk"), "left_anti")
            .withColumn("hop", lit(h)))
        frontiers = frontiers :+ next
      }
      frontiers.reduce(_.unionAll(_))
        .groupBy(col("hop"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("hop"))
    }),

    // WEIGHTED SHORTEST PATHS (bounded Bellman–Ford) over the part
    // co-purchase graph — the cost generalization of q125's k-hop BFS:
    // edge weight is an integer co-purchase DISTANCE (10⁶ div
    // co-occurrence count — strongly associated parts are near), and
    // the answer is each node's cheapest ≤3-hop cost from the seed
    // set, where a 2-hop chain of strong edges can (and does) beat a
    // weak direct edge — the property hop-counting BFS cannot see.
    // Spark side is the Bellman–Ford relaxation loop in DataFrames:
    // per round, dist ⋈ edges proposes v ← cost+w, then min-merge with
    // the standing dist; each round's dist is LOCAL-CHECKPOINTED (the
    // q105/q125 iterative-lineage discipline — unlike BFS, a weighted
    // frontier cannot be visited-pruned because later rounds may
    // IMPROVE a cost, so the full dist frame rolls forward). The
    // oracle unrolls the same three relaxations as nested CTEs — no
    // recursive CTE, because per-hop min-aggregation inside RECURSIVE
    // would otherwise enumerate every path. Output: the 50 nearest
    // nodes by (cost, pk) — the "recommendation neighborhood" query.
    // Scale shape: each round exchanges dist (≤ |nodes| rows of two
    // longs) keyed on pk against the edge list; weights build on the
    // already-exchanged (u, v) aggregate; 3 rounds = 3 bounded joins.
    "q130_copurchase_distance" -> ((s, d) => {
      val edges = Materialize.LocalCheckpoint(
        copurchasePairs(s, d)
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_co"))
          .select(col("u"), col("v"),
            expr("CAST(1000000 AS BIGINT) div n_co").as("w")))
      // DELTA relaxation (the queue-based Bellman-Ford shape): only
      // nodes IMPROVED last round propose this round — round 1 joins
      // |seeds| rows against the edges instead of the whole dist
      // frame, and later rounds shrink as costs converge. Same
      // fixpoint as full relaxation: a ≤k-edge optimal path improves
      // its prefix nodes no later than round of their position, so
      // every prefix proposes on time (and every proposal IS a real
      // ≤k-edge path cost, so nothing cheaper than the hop bound
      // leaks in).
      var dist = Materialize.LocalCheckpoint(
        edges.select(col("u").as("pk")).distinct()
          .filter(col("pk") % 200 === 0)
          .withColumn("cost", lit(0L)))
      var frontier = dist
      for (_ <- 1 to 3) {
        // the frontier is a ≤|V| (pk, cost) frame (dimension-sized at
        // any SF); the LocalCheckpoint cut erased its stats, so the
        // planner sort-merge-joined it against the edge list — a fact-
        // sized u exchange per round. Broadcasting it streams the
        // edges; the only per-round exchanges left are the partial-
        // aggregated min and the |V|-sized full-outer merge.
        val cand = edges.join(broadcast(frontier), col("u") === col("pk"))
          .select(col("v").as("pk"), (col("cost") + col("w")).as("c"))
          .groupBy(col("pk")).agg(min(col("c")).as("cand"))
        val merged = Materialize.LocalCheckpoint(
          dist.withColumnRenamed("cost", "old")
            .join(cand, Seq("pk"), "full_outer")
            .select(col("pk"),
              least(coalesce(col("old"), col("cand")),
                coalesce(col("cand"), col("old"))).as("cost"),
              (col("old").isNull ||
                (col("cand").isNotNull && col("cand") < col("old")))
                .as("improved")))
        dist = merged.select(col("pk"), col("cost"))
        frontier = merged.filter(col("improved"))
          .select(col("pk"), col("cost"))
      }
      dist.select(col("pk"), col("cost").as("cost_micro"))
        .orderBy(col("cost_micro"), col("pk")).limit(50)
    }),

    // ITEM-BASED COLLABORATIVE FILTERING — recommend unpurchased
    // brands: item-item affinity over the binary customer×brand
    // purchase matrix, scored per (customer, candidate) as the SUM of
    // FIXED-POINT SQUARED-COSINE affinities sim_fp(i,j) =
    // (co²·10⁹) div (nᵢ·nⱼ) — a pure-integer contract, so the
    // per-customer score is an exact long sum (order-insensitive,
    // map-side combinable) instead of a float sum whose value depends
    // on merge order. Long-range note: co²·10⁹ ≤ 2.3e17 at sf0.1;
    // past ~10× that, move the product onto the DECIMAL(38,0)/HUGEINT
    // carrier (integer div semantics preserved — NOT decimal `/` +
    // floor, whose HALF_UP rounding can cross an integer).
    // Emits top-3 candidates for every 10th customer
    // (ties broken by brand). Scale shape: the item vocabulary is
    // BOUNDED (25 brands) — the affinity matrix is ≤ |brands|² rows
    // built from one self-join on customer and BROADCAST back; the
    // per-customer pair fan-out is C(k≤25, 2); candidate exclusion is
    // a per-customer owned set (array_contains), not an anti-join.
    // Everything keys on customer or brand id, and every broadcast join
    // keys on one long (see itemCfScores); brand names come back by id
    // before the window, which breaks ties by name.
    "q196_item_cf_recommend" -> ((s, d) => {
      val rMat = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("c"), col("p_brand").as("brand"))
      val scored = itemCfScores(rMat, col("c") % 10 === 0)
      val wTop = Window.partitionBy(col("c"))
        .orderBy(col("score_fp").desc, col("cand"))
      scored.withColumn("rank", row_number().over(wTop))
        .filter(col("rank") <= 3)
        .select(col("c").as("custkey"), col("rank"),
          col("cand").as("brand"), col("score_fp"), col("n_terms"),
          (col("score_fp").cast("double") / lit(1.0e9)).as("score"))
        .orderBy(col("custkey"), col("rank"))
    }),

    // LINK PREDICTION — which part pairs SHOULD co-sell but don't
    // yet? On the support-≥2 co-purchase graph (edge = two parts
    // bought together in ≥ 2 distinct orders — the support floor
    // makes the graph scale-free-ish: ~2.5k/3.6k/3.9k edges at the
    // three gate SFs), score every non-adjacent pair sharing a
    // neighbor by common-neighbor count, Jaccard of neighborhoods,
    // and the Resource-Allocation index Σ_z 1/deg(z) — carried as the
    // exact fixed-point Σ (10¹² div deg_z) so the sum is an
    // order-insensitive long (same contract as q196). Top-20 by RA.
    // Scale shape: candidates come from the wedge equi-join
    // E(a,z) ⋈ E(b,z) — bounded by Σ_z C(deg_z, 2), never all-pairs;
    // at 100 TB the support floor rises (or a degree cap clips hubs)
    // to bound the wedge fan-out, and existence filtering is an
    // anti-join on the edge key.
    "q197_link_prediction" -> ((s, d) => {
      // the expensive fact self-join collapses to the support-filtered
      // edge list ONCE inside linkPredictionScores; adjacency, wedges,
      // and the existence anti-join all reuse the cut
      // in-row basket pairs (one instance per co-containing order), so
      // count(1) == the old countDistinct(orderkey) support
      val support = copurchasePairs(s, d)
        .filter(col("u") < col("v"))
        .groupBy(col("u").as("pa"), col("v").as("pb"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select(col("pa"), col("pb"))
      linkPredictionScores(support)
        .select(col("a").as("part_a"), col("b").as("part_b"), col("cn"),
          col("deg_a"), col("deg_b"), col("jaccard"), col("ra_fp"),
          col("ra"))
        .orderBy(col("ra_fp").desc, col("part_a"), col("part_b"))
        .limit(20)
    }))

  def oracleSql: Map[String, String] = Map(

    "q105_copurchase_pagerank" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
               FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
               WHERE a.l_partkey <> b.l_partkey),
         deg AS (SELECT src, COUNT(1) AS deg FROM e GROUP BY 1),
         r0 AS (SELECT src AS pk, CAST(1000000 AS BIGINT) AS r FROM deg),
         s1 AS (SELECT e.dst AS pk,
                  CAST(SUM(r0.r // deg.deg) AS BIGINT) AS s
                FROM e JOIN r0 ON e.src = r0.pk
                       JOIN deg ON e.src = deg.src
                GROUP BY 1),
         r1 AS (SELECT pk, CAST(150000 + (850 * s) // 1000 AS BIGINT)
                  AS r FROM s1),
         s2 AS (SELECT e.dst AS pk,
                  CAST(SUM(r1.r // deg.deg) AS BIGINT) AS s
                FROM e JOIN r1 ON e.src = r1.pk
                       JOIN deg ON e.src = deg.src
                GROUP BY 1),
         r2 AS (SELECT pk, CAST(150000 + (850 * s) // 1000 AS BIGINT)
                  AS r FROM s2)
         SELECT pk AS partkey, deg AS degree, r AS rank_micro,
           CAST(r AS DOUBLE) / 1000000.0 AS rank
         FROM r2 JOIN deg ON pk = deg.src
         ORDER BY partkey""",

    "q107_triangle_count" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
               FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey),
         deg AS (SELECT pk, COUNT(1) AS degree FROM
                  (SELECT u AS pk FROM e UNION ALL SELECT v FROM e)
                 GROUP BY 1),
         tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
                 FROM e e1
                 JOIN e e2 ON e1.v = e2.u
                 JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         tc AS (SELECT pk, COUNT(1) AS n_tri FROM
                 (SELECT x AS pk FROM tri UNION ALL
                  SELECT y FROM tri UNION ALL
                  SELECT z FROM tri) GROUP BY 1)
         SELECT deg.pk AS partkey, degree,
           CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_triangles,
           CASE WHEN degree > 1
             THEN CAST(COALESCE(n_tri, 0) * 2 AS DOUBLE)
               / CAST(degree * (degree - 1) AS DOUBLE)
             ELSE 0.0 END AS clustering
         FROM deg LEFT JOIN tc ON deg.pk = tc.pk
         ORDER BY partkey""",

    // fixpoint recursive CTE vs the Spark frontier loop — two
    // independent formulations of min-hop, one truth
    "q125_khop_reachability" ->
      """WITH RECURSIVE
         op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         edges AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey),
         seeds AS (SELECT DISTINCT u AS pk FROM edges WHERE u % 200 = 0),
         reach(pk, hop) AS (
           SELECT pk, 0 FROM seeds
           UNION
           SELECT e.v, r.hop + 1 FROM reach r
           JOIN edges e ON e.u = r.pk WHERE r.hop < 3),
         minhop AS (SELECT pk, MIN(hop) AS hop FROM reach GROUP BY pk)
         SELECT CAST(hop AS INT) AS hop, COUNT(1) AS n_nodes
         FROM minhop GROUP BY hop ORDER BY hop""",

    "q130_copurchase_distance" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |  pc AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
        |      COUNT(1) AS n_co
        |    FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey <> b.l_partkey
        |    GROUP BY 1, 2),
        |  edges AS (SELECT u, v, CAST(1000000 AS BIGINT) // n_co AS w
        |    FROM pc),
        |  d0 AS (SELECT DISTINCT u AS pk, CAST(0 AS BIGINT) AS cost
        |    FROM edges WHERE u % 200 = 0),
        |  d1 AS (SELECT pk, MIN(cost) AS cost FROM (
        |      SELECT pk, cost FROM d0
        |      UNION ALL SELECT e.v, d.cost + e.w FROM d0 d
        |        JOIN edges e ON e.u = d.pk) GROUP BY 1),
        |  d2 AS (SELECT pk, MIN(cost) AS cost FROM (
        |      SELECT pk, cost FROM d1
        |      UNION ALL SELECT e.v, d.cost + e.w FROM d1 d
        |        JOIN edges e ON e.u = d.pk) GROUP BY 1),
        |  d3 AS (SELECT pk, MIN(cost) AS cost FROM (
        |      SELECT pk, cost FROM d2
        |      UNION ALL SELECT e.v, d.cost + e.w FROM d2 d
        |        JOIN edges e ON e.u = d.pk) GROUP BY 1)
        |SELECT pk, cost AS cost_micro FROM d3
        |ORDER BY cost_micro, pk LIMIT 50""".stripMargin,

      "q196_item_cf_recommend" ->
        """WITH rmat AS (SELECT DISTINCT o.o_custkey AS c,
          |    p.p_brand AS brand
          |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          |  JOIN part p ON l.l_partkey = p.p_partkey),
          |  np AS (SELECT brand, CAST(COUNT(1) AS BIGINT) AS n
          |    FROM rmat GROUP BY 1),
          |  co AS (SELECT x.brand AS bi, y.brand AS bj,
          |      CAST(COUNT(1) AS BIGINT) AS co
          |    FROM rmat x JOIN rmat y
          |      ON x.c = y.c AND x.brand < y.brand GROUP BY 1, 2),
          |  sim AS (SELECT bi, bj,
          |      (co * co * CAST(1000000000 AS BIGINT)) //
          |        (ni.n * nj.n) AS sim_fp
          |    FROM co JOIN np ni ON co.bi = ni.brand
          |    JOIN np nj ON co.bj = nj.brand),
          |  simboth AS (SELECT bi, bj, sim_fp FROM sim
          |    UNION ALL SELECT bj, bi, sim_fp FROM sim),
          |  scored AS (SELECT r.c, s.bj AS cand,
          |      CAST(SUM(s.sim_fp) AS BIGINT) AS score_fp,
          |      CAST(COUNT(1) AS BIGINT) AS n_terms
          |    FROM rmat r JOIN simboth s ON r.brand = s.bi
          |    WHERE r.c % 10 = 0 AND NOT EXISTS (SELECT 1 FROM rmat r2
          |      WHERE r2.c = r.c AND r2.brand = s.bj)
          |    GROUP BY 1, 2),
          |  rk AS (SELECT c, cand, score_fp, n_terms,
          |      ROW_NUMBER() OVER (PARTITION BY c
          |        ORDER BY score_fp DESC, cand) AS rank
          |    FROM scored)
          |SELECT c AS custkey, rank, cand AS brand, score_fp, n_terms,
          |  CAST(score_fp AS DOUBLE) / 1e9 AS score
          |FROM rk WHERE rank <= 3 ORDER BY custkey, rank""".stripMargin,

      "q197_link_prediction" ->
        """WITH e AS (SELECT x.l_partkey AS pa, y.l_partkey AS pb
          |  FROM lineitem x JOIN lineitem y
          |    ON x.l_orderkey = y.l_orderkey
          |   AND x.l_partkey < y.l_partkey
          |  GROUP BY 1, 2 HAVING COUNT(DISTINCT x.l_orderkey) >= 2),
          |  esym AS (SELECT pa, pb FROM e
          |    UNION ALL SELECT pb, pa FROM e),
          |  deg AS (SELECT pa, CAST(COUNT(1) AS BIGINT) AS deg
          |    FROM esym GROUP BY 1),
          |  wedges AS (SELECT l.pa AS a, r.pa AS b, l.pb AS z
          |    FROM esym l JOIN esym r
          |      ON l.pb = r.pb AND l.pa < r.pa
          |    WHERE NOT EXISTS (SELECT 1 FROM e
          |      WHERE e.pa = l.pa AND e.pb = r.pa)),
          |  sc AS (SELECT a, b, CAST(COUNT(1) AS BIGINT) AS cn,
          |      CAST(SUM(CAST(1000000000000 AS BIGINT) // dz.deg)
          |        AS BIGINT) AS ra_fp
          |    FROM wedges w JOIN deg dz ON w.z = dz.pa GROUP BY 1, 2),
          |  fin AS (SELECT a AS part_a, b AS part_b, cn,
          |      da.deg AS deg_a, db.deg AS deg_b,
          |      CAST(cn AS DOUBLE) /
          |        CAST(da.deg + db.deg - cn AS DOUBLE) AS jaccard,
          |      ra_fp, CAST(ra_fp AS DOUBLE) / 1e12 AS ra
          |    FROM sc JOIN deg da ON sc.a = da.pa
          |    JOIN deg db ON sc.b = db.pa)
          |SELECT part_a, part_b, cn, deg_a, deg_b, jaccard, ra_fp, ra
          |FROM fin ORDER BY ra_fp DESC, part_a, part_b LIMIT 20"""
          .stripMargin)
}
