package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftShims.{materialize, Claim, Hash, Max}
import org.apache.spark.sql.functions._

/** Graph centrality over edge lists — the link-analysis tier (document
  * graphs, co-purchase graphs, citation webs) next to
  * [[Dedup.connectedComponents]]' clustering.
  *
  * Determinism contract: ranks are exact FIXED-POINT longs (units of
  * 1/`unit`), every division is integer floor division, and every
  * per-node reduction is a sum of longs — which is order-independent, so
  * the result is bit-identical across partitionings, engines, and runs.
  * A double formulation would drift in the last bits with shuffle order
  * and could never hash-match an external oracle. The truncation error
  * is ≤ iters·deg/unit per node — with unit=1e12 that is noise far below
  * any ranking decision.
  */
object Graph {

  /** Fixed-iteration PageRank on a directed edge list (duplicate edges
    * collapse). Per iteration:
    * `r'(v) = ((100-d)·base) div 100 + (d·Σ_{(u,v)∈E} (r(u) div deg(u))) div 100`
    * with `base = unit div N` the uniform teleport mass. Nodes are the
    * union of endpoints; a node with no in-edges keeps the teleport term
    * only (left-join + coalesce).
    *
    * Scale shape — the plan, not a hint: the edge list is hash-
    * partitioned on `src` ONCE and `localCheckpoint`ed (the checkpoint's
    * `LogicalRDD` carries the physical HashPartitioning forward), and the
    * rank table leaves every step hash-partitioned on `node` (the
    * aggregate's own exchange; projects/aliases preserve it). So each
    * iteration is one co-partitioned rank⋈edge join with NO exchange on
    * the |E| side, one |E|→|V| destination aggregate (map-side partial
    * sums — the iteration's single shuffle), and one co-partitioned
    * left join back onto the node set. No |V|-sized broadcast anywhere:
    * at 10⁸–10⁹ nodes a per-iteration rank broadcast is multi-GB —
    * past the broadcast ceiling and a driver OOM.
    *
    * Broadcasting the rank/contribution tables IS still profitable when
    * the graph is genuinely small (it deletes the per-iteration sorts),
    * so it survives as a size-gated optimization: iff the measured node
    * count ≤ `broadcastMaxNodes` (default 2M ≈ tens of MB — inside a
    * sane driver/executor broadcast budget; set 0 to force the
    * shuffle-join plan regardless). The gate reads an eager `count()` —
    * a scalar, and this operator (like every iterative fit) is already
    * eager through its checkpoints.
    *
    * The edge and node tables are materialized ONCE via
    * `localCheckpoint` (the [[Dedup.connectedComponents]] pattern):
    * without it the lazily-composed plan re-derives the edge list in
    * EVERY iteration — measured 8.2 s → 2 s at sf0.1 on the co-purchase
    * graph, and the waste multiplies with both iteration count and
    * edge-derivation cost. At 100 TB you persist the edge list as a
    * table and pass it in pre-derived. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, dampingPct: Int = 85,
      unit: Long = 1000000000000L,
      broadcastMaxNodes: Long = 2000000L): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    require(broadcastMaxNodes >= 0L)
    // both base tables are checkpointed WITH their hash layout pinned
    // (GraftShims.materialize, `Hash`/`Claim` layouts): under AQE a plain
    // localCheckpoint forgets its partitioning, and every iteration
    // would re-exchange the |E| edge table it was just shuffled into
    val p = math.max(
      edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      edges.sparkSession.sparkContext.defaultParallelism)
    // a NULL endpoint is not a node: it would survive the dst-side
    // union into the node set (inflating N and every node's teleport
    // share) while the null-rejecting rank join ignores its edges —
    // an asymmetric, meaningless (NULL, rank) row. Drop such edges.
    //
    // ONE |E| shuffle and ONE |E| materialization (round 14; was two of
    // each): repartition FIRST, then distinct — HashPartitioning(src, p)
    // satisfies the distinct aggregate's ClusteredDistribution(src,dst)
    // (partitioning keys ⊆ grouping keys), so the dedup adds no
    // exchange (the [[hits]] idiom) — and the degree attach happens
    // INSIDE the same materializing query: deg groups the deduped edges
    // on src (exchange-free on the same layout) and joins back
    // co-partitioned, so the checkpoint lands (src, dst, deg) directly.
    // The repartition exchange is planned once (reuse) with the distinct
    // hash-aggregate evaluated on each join side — cheaper than a second
    // |E| copy + checkpoint barrier, measured at sf0.1.
    val eRaw = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(p, col("src"))
      .distinct()
    val deg = eRaw.groupBy("src").agg(count(lit(1)).as("deg"))
    val outEdges = materialize(eRaw.join(deg, "src"), Claim(p, "src"))._1
    // the checkpoint's materializing action counts anyway — reuse it
    // for the size gate instead of a separate whole-table scan job
    val (nodes, n) = materialize(
      outEdges.select(col("src").as("node"))
        .union(outEdges.select(col("dst").as("node"))).distinct(),
      Hash(p, "node"))
    if (n == 0L)
      return nodes.select(col("node"), lit(0L).as("rank_unit"))
    // all-positive integer arithmetic: Scala / == SQL div here, so the
    // driver-side fold of these constants is bit-identical to an
    // engine-side expression tree
    val base = unit / n
    val tele = ((100L - dampingPct) * base) / 100L
    val gate: DataFrame => DataFrame =
      if (n <= broadcastMaxNodes) broadcast else identity
    var ranks = nodes.select(col("node"), lit(base).as("r"))
    (1 to iters).foreach { _ =>
      val contrib = outEdges.join(gate(ranks), col("src") === col("node"))
        .select(col("dst"), expr("r div deg").as("__c"))
        .groupBy("dst").agg(sum(col("__c")).as("__s"))
        .withColumnRenamed("dst", "node")
      ranks = nodes.join(gate(contrib), Seq("node"), "left")
        .select(col("node"),
          (lit(tele) +
            coalesce(expr(s"($dampingPct * __s) div 100"), lit(0L))).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_unit"))
  }

  /** Personalized PageRank / random walk with restart (Page et al.
    * 1999 §6's personalized vector; Jeh & Widom 2003, "Scaling
    * personalized web search" — public): [[pageRank]] with the
    * teleport mass CONCENTRATED on a seed set instead of spread
    * uniformly — `r'(v) = tele(v) + d·Σ (r(u) div deg(u))` where
    * `tele(v) = ((100−d)·unit div |S|) div 100` for seeds and 0
    * elsewhere. Mass diffuses outward from the seeds through the
    * link structure, so the stationary score ranks nodes by
    * PROXIMITY to the seed set — the graph-native "more like these":
    * related-item retrieval from a purchase graph, crawl-frontier
    * expansion from trusted pages, seed-anchored data selection over
    * a document similarity graph (the graph twin of the q169
    * Moore–Lewis lens).
    *
    * Same determinism contract as [[pageRank]] (all-positive
    * fixed-point longs, order-independent sums, Scala `/` == SQL
    * `div` on the driver-folded constants) and the same pinned-
    * checkpoint iteration shape: ONE |E| shuffle up front, per-round
    * co-partitioned gathers, |V| broadcasts only under the gate.
    * Seeds not present in the graph still teleport (they hold rank
    * but contribute nothing); an empty seed∩anything set returns
    * all-zero ranks rather than dividing by zero. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      seedCol: String, srcCol: String, dstCol: String,
      iters: Int, dampingPct: Int = 85,
      unit: Long = 1000000000000L,
      broadcastMaxNodes: Long = 2000000L): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val p = math.max(
      edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      edges.sparkSession.sparkContext.defaultParallelism)
    // same one-shuffle/one-materialization edge+degree build as
    // [[pageRank]] (round 14)
    val eRaw = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(p, col("src"))
      .distinct()
    val deg = eRaw.groupBy("src").agg(count(lit(1)).as("deg"))
    val outEdges = materialize(eRaw.join(deg, "src"), Claim(p, "src"))._1
    // both checkpoints surface their counts — no separate scan jobs
    // for the seed share or the broadcast gate
    val (s, nSeeds) = materialize(
      seeds.select(col(seedCol).cast("long").as("node"))
        .filter(col("node").isNotNull).distinct(),
      Hash(p, "node"))
    val (nodes, nNodes) = materialize(
      outEdges.select(col("src").as("node"))
        .union(outEdges.select(col("dst").as("node")))
        .union(s.select(col("node"))).distinct(),
      Hash(p, "node"))
    if (nSeeds == 0L)
      return nodes.select(col("node"), lit(0L).as("rank_unit"))
    val tele = ((100L - dampingPct) * (unit / nSeeds)) / 100L
    val gate: DataFrame => DataFrame =
      if (nNodes <= broadcastMaxNodes) broadcast else identity
    // tele(v) joins as a seed flag once; r0 = the teleport vector
    val teleCol = when(col("__seed").isNotNull, lit(tele))
      .otherwise(lit(0L))
    val base = materialize(
      nodes.join(gate(s.select(col("node"),
          lit(1).as("__seed"))), Seq("node"), "left")
        .select(col("node"), teleCol.as("tele")),
      Claim(p, "node"))._1
    var ranks = base.select(col("node"), col("tele").as("r"))
    (1 to iters).foreach { _ =>
      val contrib = outEdges.join(gate(ranks), col("src") === col("node"))
        .select(col("dst"), expr("r div deg").as("__c"))
        .groupBy("dst").agg(sum(col("__c")).as("__s"))
        .withColumnRenamed("dst", "node")
      ranks = base.join(gate(contrib), Seq("node"), "left")
        .select(col("node"),
          (col("tele") +
            coalesce(expr(s"($dampingPct * __s) div 100"), lit(0L))).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_unit"))
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
    * in a hyperlinked environment"): fixed mutual-reinforcement rounds
    * over a DIRECTED edge list — `a(v) = Σ_{u→v} h(u)` then
    * `h(u) = Σ_{u→v} a(v)` — the link-analysis complement of
    * [[pageRank]]'s random surfer, and the natural ranking for
    * bipartite interaction graphs (crawl frontiers: authorities are
    * the pages worth fetching, hubs the index pages worth re-crawling;
    * retail: popular parts vs broad-basket customers).
    *
    * Determinism contract: scores are exact fixed-point longs and each
    * FULL round renormalizes by the MAXIMUM raw score (L∞ rather than
    * the textbook L2 — `v·unit div max` stays in integer arithmetic,
    * and the normalization choice rescales without reordering): the
    * authority gather feeds the hub gather RAW (round-14 cadence —
    * normalizing per half-round cost a max-scalar barrier between the
    * two gathers and a |V| zero-fill join per half-round, measured
    * ~12 sequential ~50 ms jobs for 3 rounds), then hub scores rescale
    * once at round end; authorities rescale once at output. Every
    * per-node reduction is a long sum (order-independent), so fixed
    * rounds are bit-identical across engines and partitionings.
    * Bound: the deferred half-round's raw hub mass reaches
    * `indeg_max·outdeg_max·unit`; the rescale runs the exact two-stage
    * ×√unit long-division identity, so the requirement is
    * `indeg_max·outdeg_max·unit·√unit < 2^63` — the default unit=1e6
    * supports `indeg·outdeg ≤ ~9×10⁹` (e.g. a 10⁵-in-degree authority
    * fed by 10⁴-out-degree hubs); drop unit for denser graphs. (A
    * prime `unit` degrades the split to ×1·×unit — use a composite
    * unit.)
    *
    * Scale shape (the [[pageRank]] pattern): TWO pinned edge copies —
    * src-partitioned for the authority gather, dst-partitioned for the
    * hub gather — so each half-round is one co-partitioned score⋈edge
    * join (no exchange on the |E| side) plus one |E|→|V| aggregate
    * with map-side partials; raw gathers are re-pinned via per-round
    * checkpoints (the [[kCore]] idiom, stopping the lazy-plan blowup),
    * and the per-round max is ONE scalar row — a cheap re-aggregate of
    * the just-checkpointed gather, broadcast into the scaling
    * projection (a bounded driver decision, the BPE-trainer shape).
    * Intermediate score tables carry only nodes with nonzero mass
    * (absent = 0 contributes nothing to a gather join); the |V|
    * zero-fill happens exactly once, at the output. |V|-sized
    * broadcasts only under the measured `broadcastMaxNodes` gate. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, unit: Long = 1000000L,
      broadcastMaxNodes: Long = 2000000L): DataFrame = {
    require(rounds >= 1 && unit >= 1L)
    require(broadcastMaxNodes >= 0L)
    val p = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // repartition FIRST, then distinct: HashPartitioning(src, p)
    // satisfies the distinct aggregate's ClusteredDistribution(src,dst)
    // (partitioning keys ⊆ grouping keys), so the dedup runs exchange-
    // free on the target layout and the checkpoint CLAIMS it — one |E|
    // shuffle instead of the distinct-then-repartition two (round 14)
    val eSrc = materialize(
      edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .repartition(p, col("src"))
        .distinct(),
      Claim(p, "src"))._1
    val eDst = materialize(eSrc, Hash(p, "dst"))._1
    val (nodes, n) = materialize(
      eSrc.select(col("src").as("node"))
        .union(eSrc.select(col("dst").as("node"))).distinct(),
      Hash(p, "node"))
    if (n == 0L)
      return nodes.select(col("node"), lit(0L).as("auth_unit"),
        lit(0L).as("hub_unit"))
    val gate: DataFrame => DataFrame =
      if (n <= broadcastMaxNodes) broadcast else identity
    // one RAW gather: co-partitioned join + aggregate, re-pinned on the
    // gather key (the explicit-repartition pin, NOT the layout claim —
    // the aggregate's exchange is AQE-managed and may coalesce, so a
    // claim would be false under the cluster profile). No max barrier,
    // no zero-fill: absent nodes carry 0 and contribute nothing to the
    // next gather's join. The L∞ max comes out of the SAME action that
    // materializes the checkpoint (round 14; it was a separate scalar
    // re-aggregate + broadcast-build job per rescale — ~3 extra driver
    // barriers per round on a ~25 ms/job floor), and folds into the
    // scaling projection as a plan-time literal — bit-identical values.
    def gatherRaw(e: DataFrame, from: String, to: String,
        scores: DataFrame): (DataFrame, Long) =
      materialize(
        e.join(gate(scores), col(from) === col("node"))
          .select(col(to).as("node"), col("v").as("__x"))
          .groupBy("node").agg(sum(col("__x")).as("__s")),
        Hash(p, "node"), Max("__s"))
    // L∞ rescale: `v·unit div max` runs as the exact two-stage ×u1×u2
    // long-division identity (floor(S·u1·u2/W) = (S·u1 div W)·u2 +
    // (S·u1 mod W)·u2 div W — exact for nonnegative longs) so the raw
    // mass only needs ~√unit multiplicative headroom instead of unit:
    // the deferred half-round's indeg·outdeg·unit sums would overflow a
    // single ×unit multiply at the 100× rehearsal scale
    val (u1, u2) = {
      var f = math.sqrt(unit.toDouble).toLong max 1L
      while (f > 1 && unit % f != 0) f -= 1
      (f, unit / f)
    }
    // empty gathers cannot happen on a nonempty graph (h starts at
    // `unit` on every node), but mirror the old crossJoin-with-empty
    // behavior anyway: no rows in, no rows out, whatever the scalar
    def rescale(raw: DataFrame, m: Long): DataFrame = {
      val mm = if (m == Long.MinValue) 1L else m
      raw.select(col("node"),
        expr(s"(__s * $u1 div $mm) * $u2 + " +
          s"(__s * $u1 % $mm) * $u2 div $mm").as("v"))
    }
    var h = nodes.select(col("node"), lit(unit).as("v"))
    var aRaw: DataFrame = null
    var aMax = Long.MinValue
    (1 to rounds).foreach { _ =>
      val (ar, am) = gatherRaw(eSrc, "src", "dst", h)
      aRaw = ar; aMax = am
      val (hr, hm) = gatherRaw(eDst, "dst", "src",
        aRaw.select(col("node"), col("__s").as("v")))
      h = rescale(hr, hm)
    }
    nodes
      .join(gate(rescale(aRaw, aMax).withColumnRenamed("v", "__a")),
        Seq("node"), "left")
      .join(gate(h.withColumnRenamed("v", "__h")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__a"), lit(0L)).as("auth_unit"),
        coalesce(col("__h"), lit(0L)).as("hub_unit"))
  }

  /** Per-node triangle counts on an undirected graph (edge list in
    * either/both directions; duplicates and self-loops collapse). The
    * local clustering signal behind community/cohesion analysis — the
    * counting tier next to [[pageRank]]'s ranking and
    * [[Dedup.connectedComponents]]' clustering.
    *
    * Algorithm: compact-forward edge iterator (Latapy 2008). Each
    * undirected edge is DIRECTED from its lower to its higher endpoint
    * under the total order (degree, id), then each node's FORWARD
    * neighbor set is collected as one sorted array and every directed
    * edge (u,v) emits `N⁺(u) ∩ N⁺(v)` — each triangle surfaces exactly
    * once, at its minimum corner's edge, WITH its third corner, so all
    * three credits come from one intersection. The scale property is
    * the degree ordering: a node with forward-degree k has k forward
    * neighbors of degree ≥ k each, so k ≤ √(2m) for ANY graph — forward
    * adjacency rows are √(2m)-bounded even at a 10⁸-degree hub (where
    * an id-ordering would build a deg-sized row and a deg²-sized
    * fan-out), and total intersection work is O(m^1.5). Count equality
    * against the naive id-ordering is what the oracle checks (its SQL
    * enumerates a<b<c).
    *
    * Plan: canonical-edge distinct and the directed edge table are each
    * materialized ONCE via pinned `localCheckpoint` (the [[pageRank]]
    * pattern — both are consumed by multiple downstream subplans, and
    * lazily composed the whole derivation would re-run for each).
    * Forward adjacency is an exchange-free aggregate on the directed
    * table's pinned `u` layout; the |V|-sized degree and adjacency
    * attaches broadcast only below `broadcastMaxEdges` measured edges
    * (else plain co-hashed shuffle joins, correct at any scale). The
    * intersection itself is a narrow per-row merge — no wedge table
    * ever materializes (Σd⁺² rows ≫ m; the earlier wedge-join form
    * measured 41M wedge rows against 1.2M edges at sf0.1). Isolated
    * and triangle-free nodes report 0 via the left join back onto the
    * node set. */
  /** Canonical edges per task for [[triangleCounts]]' derived frames:
    * calibrated at sf0.1 (1.1M edges, width 8 optimal on 32 cores —
    * r15 interleaved brackets). */
  val TriangleEdgesPerTask: Long = 150000L

  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
      broadcastMaxEdges: Long = 5000000L): DataFrame = {
    require(broadcastMaxEdges >= 0L)
    // Layout width, r15: SCALE-ADAPTIVE rather than a machine-width
    // constant. Round 12 pinned max(shuffle, defaultParallelism)
    // (0.7 s -> 0.2 s on the then-bottleneck tris stage), but after the
    // r14 per-order edge-builder rework the balance flipped: at sf0.1's
    // ~1.1M canonical edges a 32-wide layout measures 0.6-0.8 s WORSE
    // than 8-wide end to end (interleaved quiet-host brackets, r15 —
    // 32 concurrent compute tasks inflate per-task time ~2x on this
    // host while the extra width buys nothing at 150k-row tasks). The
    // canon build runs at the suite shuffle width; the derived frames
    // pick their width from the checkpoint's own |E| count —
    // ~EdgesPerTask canonical edges per task, clamped to
    // [shuffle.partitions, max(shuffle, defaultParallelism)] — so small
    // inputs stay at the cheap suite width and large ones still fan out
    // to the machine (at cluster scale both bounds are cluster-sized).
    val p0 = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val maxP = math.max(p0,
      edges.sparkSession.sparkContext.defaultParallelism)
    // canonical undirected edge (a < b), NULLs and self-loops dropped
    val e0 = edges.select(col(srcCol).cast("long").as("x"),
        col(dstCol).cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
    // repartition FIRST, then distinct (the [[hits]] idiom): one |E|
    // exchange instead of distinct's own + the checkpoint repartition
    val (canon, nCanon) = materialize(
      e0.select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .repartition(p0, col("a"))
        .distinct(),
      Claim(p0, "a"))
    val p = math.min(maxP,
      math.max(p0, (nCanon / TriangleEdgesPerTask).toInt + 1))
    // the broadcast gate reads the checkpoint's own count — a scalar,
    // and this operator is already eager through its checkpoints
    val gate: DataFrame => DataFrame =
      if (nCanon <= broadcastMaxEdges) broadcast else identity
    // undirected degree: |V|-sized from here on. CHECKPOINTED: it is
    // consumed three times (two gated attach sides + the output join),
    // and each gated broadcast build otherwise re-derives the whole
    // 2|E|-row union + aggregate — measured ~0.7 s of q111's 3.9 s as
    // two identical 64-task stages (round 14; alias-renamed broadcast
    // subtrees never hit exchange reuse, the q212 margin lesson)
    val deg = materialize(
      canon.select(col("a").as("node"))
        .union(canon.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d")),
      Hash(p, "node"))._1
    // direct each edge low->high under (degree, id)
    val attached = canon
      .join(gate(deg.select(col("node").as("a"), col("d").as("da"))), "a")
      .join(gate(deg.select(col("node").as("b"), col("d").as("db"))), "b")
    val low = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val fwd = attached.select(
      when(low, col("a")).otherwise(col("b")).as("u"),
      when(low, col("b")).otherwise(col("a")).as("v"))
    // forward adjacency: one array per node, sorted by id so the
    // per-edge intersection is a merge of two sorted runs; every row
    // bounded at sqrt(2m) elements by the degree ordering. This is the
    // ONLY materialized derivative of the directed edges (round 14):
    // fwd itself stays lazy inside this one checkpoint — each directed
    // edge (u, v) is recovered below by EXPLODING u's adjacency row, so
    // the old separate fwd checkpoint (a second |E| copy + barrier) and
    // the u-side adjacency attach join disappear outright.
    val adjF = materialize(
      fwd.repartition(p, col("u"))
        .groupBy("u")
        .agg(array_sort(collect_list(col("v"))).as("nbrs")),
      Claim(p, "u"))._1
    // each directed edge meets both endpoints' forward sets; the
    // intersection members are the triangles' third corners. The edge
    // and its u-side set come from one explode of adjF (v ∈ nbrs(u) BY
    // CONSTRUCTION is exactly the directed edge list); only the v-side
    // set needs an attach join.
    val tris = adjF
      .select(col("u"), col("nbrs").as("__nu"),
        explode(col("nbrs")).as("v"))
      .join(gate(adjF.select(col("u").as("v"), col("nbrs").as("__nv"))),
        Seq("v"))
      .select(col("u"), col("v"),
        explode(array_intersect(col("__nu"), col("__nv"))).as("w"))
    // each triangle credits all three corners; left join keeps 0-nodes
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("__t"))
    deg.select(col("node"), col("d").as("degree"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("__t"), lit(0L)).as("n_triangles"))
  }

  /** Fixed-round k-core peel (Seidman 1983; the distributed peel is
    * Montresor 2013's message formulation) over an undirected edge list —
    * the density-filter tier next to [[labelPropagation]]'s communities:
    * where LPA asks "which dense group", the k-core asks "dense AT ALL?",
    * and the peel is the standard pre-filter before expensive community
    * or embedding passes (a node that can't hold k neighbors after
    * cascade removal is noise to a co-occurrence analysis).
    *
    * Semantics (fixed rounds = defined outcome, the [[labelPropagation]]
    * contract): `rounds` synchronous peels; each round removes every
    * surviving node with fewer than `k` SURVIVING neighbors. A peel on a
    * stable set is a no-op, so if the peel converges within `rounds` the
    * result IS the true k-core; if not, it is the defined partial peel
    * the oracle mirrors round for round. Output: survivors with their
    * in-core degree (neighbors among survivors — recomputed once after
    * the last peel, so a non-converged run can report degrees < k).
    *
    * Scale shape (the [[pageRank]] pattern, one |E|→|V| shuffle per
    * round): the symmetrized edge list is hash-partitioned on the
    * NEIGHBOR end `v` and checkpointed ONCE; the survivor set leaves
    * every round hash-partitioned on `node` (the vote aggregate's own
    * exchange feeds the co-partitioned survivor join). Each round is
    * then: alive-neighbor vote = e⋈s on `v` (co-partitioned, NO exchange
    * on the |E| side) → groupBy `u` count (THE shuffle, map-side
    * partials, |V|-bounded output) → inner join s on `node`
    * (co-partitioned) → `count ≥ k` filter. Survivors are re-pinned via
    * `localCheckpoint` each round — without it the round-r plan nests
    * round-(r-1) TWICE (vote side + membership side) and the lazy tree
    * doubles per round. |V|-sized broadcasts only under the measured
    * `broadcastMaxNodes` gate, same as [[pageRank]]. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int, broadcastMaxNodes: Long = 2000000L): DataFrame = {
    require(k >= 1 && rounds >= 1)
    require(broadcastMaxNodes >= 0L)
    val p = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // symmetrize in ONE pass (the [[Dedup.connectedComponents]] round-14
    // explode form — a union-of-swap evaluates the caller's edge
    // subplan, often a self-join, once per branch), then repartition
    // FIRST and distinct (the [[hits]] idiom): the dedup aggregate runs
    // exchange-free on the target v layout — one |E| shuffle instead of
    // distinct's own + the checkpoint repartition
    val raw = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val e = materialize(
      raw.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("__e"))
        .select(col("__e.u").as("u"), col("__e.v").as("v"))
        .repartition(p, col("v"))
        .distinct(),
      Claim(p, "v"))._1
    val (survivors0, nSurv) = materialize(
      e.select(col("u").as("node")).distinct(), Hash(p, "node"))
    var survivors = survivors0
    val gate: DataFrame => DataFrame =
      if (nSurv <= broadcastMaxNodes) broadcast else identity
    def aliveDeg(s: DataFrame): DataFrame =
      e.join(gate(s), col("v") === col("node"), "left_semi")
        .groupBy("u").agg(count(lit(1)).as("__c"))
    (1 to rounds).foreach { _ =>
      survivors = materialize(
        survivors.join(aliveDeg(survivors), col("node") === col("u"))
          .filter(col("__c") >= k).select("node"),
        Hash(p, "node"))._1
    }
    survivors.join(aliveDeg(survivors), col("node") === col("u"))
      .select(col("node"), col("__c").as("core_degree"))
  }

  /** Synchronous label propagation (Raghavan 2007) over an undirected
    * edge list, fixed `iters` rounds — the community-detection tier next
    * to [[Dedup.connectedComponents]]' reachability clustering: where CC
    * merges anything connected, LPA lets DENSE neighborhoods outvote
    * thin bridges, so two cliques joined by one edge keep separate
    * communities.
    *
    * Determinism contract (what lets an external oracle hash-match an
    * iterative vote): labels are integer node ids; each round every
    * node adopts the label with the HIGHEST COUNT among its neighbors'
    * current labels, ties broken by MINIMUM label — an integer argmax
    * with a total tie order, so the fixed-iteration result is
    * bit-identical across partitionings and engines (synchronous LPA
    * can oscillate on bipartite-ish structures; fixed iterations make
    * that a defined outcome, not a nondeterminism). The argmax is
    * `max(struct(count, -label))` — lexicographic struct max = max
    * count, then max(-label) = min label — one aggregate, no window.
    *
    * Scale shape (the [[pageRank]] pattern): the symmetrized edge list
    * is hash-partitioned on the NEIGHBOR end and checkpointed once, the
    * node set on `node` — each round's label attach is then a
    * co-partitioned join with no exchange on the |E| side (labels leave
    * every round partitioned on `node` from the node-set join), and the
    * vote is one (u,label)-keyed aggregate with map-side partials
    * (input |E|, output ≤ Σdeg distinct pairs) followed by a |V|-sized
    * argmax. |V|-sized broadcasts only under the measured
    * `broadcastMaxNodes` gate, same as pageRank. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, broadcastMaxNodes: Long = 2000000L): DataFrame = {
    require(iters >= 1)
    require(broadcastMaxNodes >= 0L)
    val p = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val raw = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    // one-pass symmetrize + repartition-first distinct — one |E|
    // shuffle, edge subplan evaluated once (see [[kCore]])
    val e = materialize(
      raw.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("__e"))
        .select(col("__e.u").as("u"), col("__e.v").as("v"))
        .repartition(p, col("v"))
        .distinct(),
      Claim(p, "v"))._1
    // symmetric edge list: the u side alone covers every non-isolated
    // node, and isolated nodes have no business in a vote
    val (nodes, n) = materialize(
      e.select(col("u").as("node")).distinct(), Hash(p, "node"))
    if (n == 0L) return nodes.select(col("node"), col("node").as("community"))
    val gate: DataFrame => DataFrame =
      if (n <= broadcastMaxNodes) broadcast else identity
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    (1 to iters).foreach { _ =>
      val votes = e.join(gate(labels), col("v") === col("node"))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy("u")
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("u").as("node"), (-col("m").getField("nl")).as("newl"))
      labels = nodes.join(gate(votes), Seq("node"), "left")
        .select(col("node"), coalesce(col("newl"), col("node")).as("lbl"))
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Adamic–Adar link prediction over a bipartite interaction graph
    * (Adamic & Adar 2003, "Friends and neighbors on the Web" —
    * public): for every pair of left-side nodes sharing a right-side
    * neighbor, `score(u,v) = Σ_{z ∈ Γ(u)∩Γ(v)} 1/ln(deg(z))` — common
    * neighbors weighted by how SELECTIVE they are. The classic
    * link-prediction baseline (recommend-next-part, crawl frontier
    * expansion), and the graph-tier complement of the similarity
    * family: q129/q158 weigh shared SET content, this weighs shared
    * graph structure.
    *
    * Determinism contract: each neighbor's weight is
    * `floor(10⁶/ln(deg) + 0.5)` — one double division of
    * exactly-represented integers, same quantizer family as the LM
    * micro-nats — and pair scores are order-independent long sums, so
    * top-k by (score desc, u, v) is total and bit-identical across
    * engines. deg ≥ 2 always holds for a common neighbor.
    *
    * Scale shape: candidate pairs come from enumerating each
    * right-node's bounded neighbor set — the LSH-bucket shape, never
    * all-pairs — with hub neighbors ABOVE `maxDeg` excluded by the
    * [[graft.functions.BoundedDistinctSet]] cap enforced DURING
    * collection, O(maxDeg) state per group even for a degree-10⁷ hub
    * (the q32/q134 degenerate-bucket guard: a right-node of degree D
    * mints D² pairs while contributing the corpus-minimum 1/ln(D)
    * weight; the cap bounds enumeration at |Z|·maxDeg² and is mirrored
    * in the oracle). Two data exchanges total: one z-keyed aggregate,
    * one pair-keyed aggregate. The final top-k is a TakeOrdered — a
    * per-partition heap + driver merge of k rows, no global sort. */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      maxDeg: Int = 1024, topK: Int = 100,
      packIds: Boolean = false): DataFrame = {
    require(maxDeg >= 2 && topK >= 1)
    val e = edges
      .select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("z"))
      .filter(col("u").isNotNull && col("z").isNotNull)
    // ONE exchange builds every per-z input the pair stage needs: the
    // native BoundedDistinctSet aggregate collects each z's DISTINCT
    // neighbor set with O(maxDeg) per-group state, returning NULL for
    // any z whose degree exceeds the cap — the hub guard enforced
    // DURING collection. The unfused round-9 form spent three extra
    // exchanges (global (u,z) distinct, a separate degree aggregate,
    // and a z-keyed re-join) just to learn, before collect_list, that
    // no group is a hub; the fused form is the same guarantee with one
    // flag bit, and deg == size(set) afterwards for free. Pair
    // enumeration stays the IdPairs generator + codegen'd row-level
    // partial aggregate: the pair multiplicity on real bipartite
    // graphs is ~1.05 (measured at sf0.1: 8.4M instances / 8.0M
    // distinct), so a fancier map-side pair combiner has nothing to
    // combine — round 10 built and measured one (primitive
    // open-addressing per-partition maps) and it lost 3x to this
    // shape on allocation + cache misses over a near-unique key set.
    // Width contract (round 12): both exchanges are written EXPLICITLY
    // at defaultParallelism instead of inheriting
    // spark.sql.shuffle.partitions — the z-agg→pair-explode stage and
    // the pair-agg stage together carry ~10 s of task-sum at sf0.1 and
    // were pinned to 8 tasks on 32 cores by the suite-wide sub-second
    // shuffle sizing (1.8 s → 0.9 s at sf0.1). Same two-exchange plan,
    // just full-width; pair-side map partial aggregation loses nothing
    // because pair multiplicity is ~1.05 (see above).
    // The residual after round 12's width fix is pair-SHUFFLE VOLUME
    // (VERDICT r12): with `packIds` the pair crosses the exchange as
    // ONE `(a<<32)|b` long instead of two — 8 fewer key bytes per row
    // and a single-long group key for the pair aggregate — and
    // unpacking waits until after the top-k (the packed long sorts
    // exactly as the (u_a, u_b) pair, see [[graft.functions
    // .IdPairsPacked]]). Opt-IN, not default: it requires ids in
    // [0, 2^31) and fails loudly outside (never a silent alias), and a
    // library default that can throw hours into a 100 TB job on a
    // 33-bit id is the wrong trade — callers who KNOW their id domain
    // (dense TPC-H-style keys: q171) turn it on; identical results
    // either way, proven in GraphSpec.
    val par = edges.sparkSession.sparkContext.defaultParallelism
    val weighted = e.repartition(par, col("z"))
      .groupBy("z")
      .agg(graft.functions.Native
        .boundedDistinctSet(col("u"), maxDeg).as("__us"))
      .filter(col("__us").isNotNull && size(col("__us")) >= 2)
      .select(
        floor(lit(1000000.0) /
            log(size(col("__us")).cast("double")) + 0.5)
          .cast("long").as("__w"),
        col("__us"))
    if (packIds)
      weighted
        .select(col("__w"),
          graft.functions.Native.idPairsPacked(col("__us")).as("__p"))
        .repartition(par, col("__p"))
        .groupBy("__p")
        .agg(count(lit(1)).as("n_common"), sum(col("__w")).as("aa_micro"))
        .orderBy(col("aa_micro").desc, col("__p"))
        .limit(topK)
        .select(shiftright(col("__p"), 32).as("u_a"),
          (col("__p").bitwiseAND(lit(0xFFFFFFFFL))).as("u_b"),
          col("n_common"), col("aa_micro"))
    else
      weighted
        .select(col("__w"),
          graft.functions.Native.idPairs(col("__us"))
            .as(Seq("u_a", "u_b")))
        .repartition(par, col("u_a"), col("u_b"))
        .groupBy("u_a", "u_b")
        .agg(count(lit(1)).as("n_common"), sum(col("__w")).as("aa_micro"))
        .orderBy(col("aa_micro").desc, col("u_a"), col("u_b"))
        .limit(topK)
  }
}
