package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._

/** T3 graph queries over the co-purchase and customer–part graphs
  * (`Graph`). */
object GraphQueries {
  import Common._

  /** The co-purchase part graph (two parts edge when one order holds
    * both, directed both ways) shared by q84/q173. Round-14 shape: one
    * widened exchange on l_orderkey, per-order DISTINCT part sets, the
    * lazy native pair generator, and a both-orientations explode — the
    * identical edge set the old `wide(li) ⋈ broadcast(li)` self-join
    * produced (IdPairs emits each unordered distinct pair once; the
    * explode restores both directions; the operator's distinct
    * collapses duplicates across orders), minus the second lineitem
    * scan, the 600 k-row broadcast build job and the hashtable probe. */
  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    coPurchasePairs(s, d)
      .select(explode(array(
        struct(col("__x").as("src"), col("__y").as("dst")),
        struct(col("__y").as("src"), col("__x").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** Unordered (x < y) co-purchase part pairs — the undirected form
    * [[coPurchaseEdges]] explodes; q111's triangle counter canonicalizes
    * to (a < b) anyway, so it consumes this directly. */
  private def coPurchasePairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val par = s.sparkContext.defaultParallelism
    Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      .repartition(par, col("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(collect_set(col("l_partkey")).as("__ps"))
      .filter(size(col("__ps")) >= 2)
      .select(graft.functions.Native.idPairs(col("__ps"))
        .as(Seq("__x", "__y")))
  }

  val all: Seq[Query] = Seq(
    // per-node triangle counts on the (undirected) co-purchase graph —
    // compact-forward degree ordering caps wedge fan-out at sqrt(m);
    // the oracle's naive id-ordering must count identically
    Query("q111_triangles", (s, d) => {
      // undirected co-purchase pairs from the shared per-order builder
      // (round 14: one widened orderkey exchange + the lazy pair
      // generator — no broadcast self-join, no second lineitem scan);
      // the operator canonicalizes (a < b) itself, so the unordered
      // x < y pair form is the exact same edge set
      Graph.triangleCounts(coPurchasePairs(s, d), "__x", "__y")
        .select(col("node").as("l_partkey"), col("degree"),
          col("n_triangles"))
    },
      // naive a<b<c enumeration — ordering-invariant exact counts are
      // the cross-check on the engine's degree-ordered direction
      """WITH e0 AS (SELECT DISTINCT
           least(a.l_partkey, b.l_partkey) AS a,
           greatest(a.l_partkey, b.l_partkey) AS b
           FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
           (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
           GROUP BY 1),
         t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e0 e1 JOIN e0 e2 ON e1.a = e2.a AND e1.b < e2.b
           JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b),
         pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM
           (SELECT x AS node FROM t UNION ALL SELECT y FROM t
            UNION ALL SELECT z FROM t) GROUP BY 1)
         SELECT deg.node AS l_partkey, degree,
           coalesce(n_triangles, CAST(0 AS BIGINT)) AS n_triangles
         FROM deg LEFT JOIN pn USING (node)"""),

    // label-propagation communities (4 synchronous rounds, min-label
    // ties) over the simhash near-dup candidate graph — community
    // detection next to q51's reachability components: dense
    // neighborhoods outvote thin bridges
    Query("q114_label_prop", (s, d) =>
      Graph.labelPropagation(
        Dedup.simHashCandidates(Tables.documents(s, d), "doc_id",
          col("text"), maxBucket = SimhashMaxBucket),
        "doc_a", "doc_b", iters = 4)
        .select(col("node").as("doc_id"), col("community")),
      // four synchronous LPA rounds unrolled (the q84 pattern: an
      // iterative fixed point as a CTE chain); argmax-count with min-label
      // ties = filter to the per-node max count, take min(lbl)
      {
      def round(i: Int): String = {
        val prev = s"l${i - 1}"
        s"""v$i AS (SELECT e.u AS u, l.lbl AS lbl, count(*) AS c
           FROM e JOIN $prev l ON e.v = l.node GROUP BY 1, 2),
         m$i AS (SELECT u, min(lbl) AS lbl FROM
           (SELECT u, lbl, c, max(c) OVER (PARTITION BY u) AS mc FROM v$i)
           WHERE c = mc GROUP BY u),
         l$i AS (SELECT n.node, coalesce(m.lbl, n.node) AS lbl
           FROM nodes n LEFT JOIN m$i m ON n.node = m.u)"""
      }
      s"""WITH cand AS ($simhashCandidatesOracle),
         e AS (SELECT doc_a AS u, doc_b AS v FROM cand
               UNION SELECT doc_b, doc_a FROM cand),
         nodes AS (SELECT DISTINCT u AS node FROM e),
         l0 AS (SELECT node, node AS lbl FROM nodes),
         ${(1 to 4).map(round).mkString(",\n         ")}
         SELECT node AS doc_id, CAST(lbl AS BIGINT) AS community FROM l4"""
    }),

    // fixed-round k-core peel (k=3, 6 synchronous rounds) over the
    // high-quantity co-purchase graph — the density pre-filter before
    // community/embedding passes. Probed at sf0.01: the cascade
    // genuinely fires round over round (1274 -> 294 -> 94 -> 53 -> 47
    // -> 45 -> 45 survivors; converged by round 6), so the oracle's
    // unrolled peels each do real work, not a vacuous fixed point
    Query("q157_kcore", (s, d) => {
      // per-order pair builder (the q84/q111 round-14 shape) over the
      // high-quantity slice; kCore symmetrizes internally, so the
      // unordered x < y pairs are the same undirected edge set the old
      // self-join produced
      val par = s.sparkContext.defaultParallelism
      val pairs = Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45)
        .select("l_orderkey", "l_partkey")
        .repartition(par, col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(collect_set(col("l_partkey")).as("__ps"))
        .filter(size(col("__ps")) >= 2)
        .select(graft.functions.Native.idPairs(col("__ps"))
          .as(Seq("__x", "__y")))
      Graph.kCore(pairs, "__x", "__y", k = 3, rounds = 6)
        .select(col("node").as("l_partkey"), col("core_degree"))
    },
      // six synchronous k-core peels unrolled (the q114 pattern); the
      // final degree pass re-counts alive neighbors among survivors
      {
      def peel(i: Int): String =
        s"""s$i AS (SELECT s.node FROM s${i - 1} s JOIN (
             SELECT e.u, count(*) AS c FROM e0 e JOIN s${i - 1} t
             ON e.v = t.node GROUP BY e.u) d
           ON s.node = d.u WHERE d.c >= 3)"""
      s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
           WHERE l_quantity > 45),
         e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey),
         s0 AS (SELECT DISTINCT u AS node FROM e0),
         ${(1 to 6).map(peel).mkString(",\n         ")}
         SELECT s.node AS l_partkey, CAST(d.c AS BIGINT) AS core_degree
         FROM s6 s JOIN (SELECT e.u, count(*) AS c FROM e0 e
           JOIN s6 t ON e.v = t.node GROUP BY e.u) d ON s.node = d.u"""
    }),

    // PageRank centrality over the part co-purchase graph (parts sharing
    // an order are linked): 5 fixed-point iterations — integer micro-rank
    // units so the per-node sums are order-independent and the iterative
    // result hash-matches the oracle's unrolled CTE chain exactly
    Query("q84_pagerank", (s, d) => {
      Graph.pageRank(coPurchaseEdges(s, d), "src", "dst", iters = 5)
        .select(col("node").as("l_partkey"), col("rank_unit"))
    },
      {
      // unrolled fixed-point iterations, every op integer: `//` floor
      // division == Spark's `div` on the all-positive rank mass, sums
      // cast back from DuckDB's HUGEINT to BIGINT
      val unit = "1000000000000"
      val rk = (1 to 5).map { k =>
        s"""r$k AS MATERIALIZED (SELECT n.node AS node,
           (SELECT b FROM base) + coalesce(CAST((85 * s.s) // 100 AS BIGINT), CAST(0 AS BIGINT)) AS r
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, CAST(sum(r${k - 1}.r // deg.deg) AS BIGINT) AS s
             FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
             JOIN deg ON e.src = deg.src GROUP BY 1) s
           ON n.node = s.node)"""
      }.mkString(",\n         ")
      // AS MATERIALIZED: DuckDB inlines plain CTEs, and each unrolled
      // round re-derives the co-purchase self-join edge table — ~20
      // derivations by r5, which spilled >68 GB at the 10x corpus
      // (round 13). Materialization pins one derivation each; results
      // are identical (planning hint only).
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         base AS (SELECT CAST((15 * ($unit // (SELECT n FROM nn))) // 100 AS BIGINT) AS b),
         r0 AS (SELECT node, CAST($unit // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes),
         $rk
         SELECT node AS l_partkey, r AS rank_unit FROM r5"""
    }),

    // HITS hubs/authorities over the DIRECTED bipartite customer->part
    // purchase graph (its natural habitat — the co-purchase graph is
    // symmetric and would degenerate to a = h): 3 mutual-reinforcement
    // rounds, L-infinity integer renormalization once per round (the
    // authority gather feeds the hub gather raw — round-14 cadence).
    // Authorities = widely-bought parts (hub_unit 0), hubs =
    // broad-basket customers (auth_unit 0) — each side fires where the
    // other is zero, and scores vary within each side
    Query("q168_hits", (s, d) => {
      // widen the lineitem scan BEFORE the broadcast join: the 3-row-
      // group parquet otherwise pins the scan+join+partial-distinct to
      // 3 tasks (measured 385 ms wall of the setup, round 14); orders
      // broadcasts explicitly (the smaller side)
      val e = wide(Tables.lineitem(s, d).select("l_orderkey", "l_partkey"))
        .join(broadcast(Tables.orders(s, d)
          .select("o_orderkey", "o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_partkey") + 10000000L).as("dst"))
      Graph.hits(e, "src", "dst", rounds = 3)
    },
      // same graph (partkeys offset out of the custkey id space), three
      // unrolled mutual-reinforcement rounds, round-14 cadence: the
      // authority gather feeds the hub gather RAW, hubs rescale once per
      // round, authorities once at output; the ×unit rescale is the
      // exact two-stage ×1000×1000 long-division identity (mirrors
      // Graph.hits — raw hub mass only needs ×1000 headroom)
      {
      def scaled(v: String, mx: String) =
        s"""CAST(($v * 1000 // ($mx)) * 1000
            + ($v * 1000 % ($mx)) * 1000 // ($mx) AS BIGINT)"""
      val roundCtes = (1 to 3).map { r =>
        val prevH = if (r == 1) "h0" else s"h${r - 1}"
        s"""ar$r AS MATERIALIZED (SELECT e.dst AS node, CAST(sum(p.v) AS BIGINT) AS s
             FROM e JOIN $prevH p ON e.src = p.node GROUP BY 1),
           hr$r AS MATERIALIZED (SELECT e.src AS node, CAST(sum(p.s) AS BIGINT) AS s
             FROM e JOIN ar$r p ON e.dst = p.node GROUP BY 1),
           h$r AS MATERIALIZED (SELECT node,
               ${scaled("s", s"SELECT max(s) FROM hr$r")} AS v
             FROM hr$r)"""
      }.mkString(",\n         ")
      // AS MATERIALIZED: each round references its predecessor
      // TWICE (scalar max + join), so plain-CTE inlining re-derives the
      // e self-join exponentially - the q84 fix
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS src,
             l_partkey + 10000000 AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL),
         nodes AS MATERIALIZED (SELECT src AS node FROM e
                   UNION SELECT dst FROM e),
         h0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS v FROM nodes),
         $roundCtes
         SELECT n.node,
           coalesce(${scaled("a.s", "SELECT max(s) FROM ar3")}, 0) AS auth_unit,
           coalesce(h.v, 0) AS hub_unit
         FROM nodes n LEFT JOIN ar3 a USING (node)
         LEFT JOIN h3 h USING (node)"""
    }),

    // Personalized PageRank from a seed catalog: q84's co-purchase
    // part graph, teleport mass concentrated on the p_partkey % 41
    // seed set (49 of 2000 parts at sf0.01) - ranks parts by graph
    // proximity to the seeds ("more like these"). Probed: seed ranks
    // sit far above non-seeds, and non-seed ranks spread with
    // co-purchase distance rather than collapsing to one value
    Query("q173_ppr", (s, d) => {
      val seeds = Tables.part(s, d).select(col("p_partkey"))
        .filter(col("p_partkey") % 41 === 0)
      Graph.personalizedPageRank(coPurchaseEdges(s, d), seeds,
          "p_partkey", "src", "dst", iters = 5)
        .select(col("node").as("l_partkey"), col("rank_unit"))
    },
      // q84's co-purchase graph with the teleport vector concentrated
      // on the arithmetic seed set; same integer round unrolling
      {
      val unit = "1000000000000"
      val rk = (1 to 5).map { k =>
        s"""r$k AS MATERIALIZED (SELECT b.node,
           b.tele + coalesce(CAST((85 * s.s) // 100 AS BIGINT), CAST(0 AS BIGINT)) AS r
           FROM b LEFT JOIN (
             SELECT e.dst AS node, CAST(sum(r${k - 1}.r // deg.deg) AS BIGINT) AS s
             FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
             JOIN deg ON e.src = deg.src GROUP BY 1) s
           ON b.node = s.node)"""
      }.mkString(",\n         ")
      // AS MATERIALIZED: same >68 GB inlining spill as q84 (round 13)
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         seeds AS MATERIALIZED (SELECT p_partkey AS node FROM part WHERE p_partkey % 41 = 0),
         nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e
                   UNION SELECT node FROM seeds),
         ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seeds),
         tl AS (SELECT CAST((15 * ($unit // (SELECT n FROM ns))) // 100 AS BIGINT) AS t),
         b AS MATERIALIZED (SELECT n.node,
             CASE WHEN s.node IS NOT NULL THEN (SELECT t FROM tl)
                  ELSE CAST(0 AS BIGINT) END AS tele
           FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
         r0 AS (SELECT node, tele AS r FROM b),
         $rk
         SELECT node AS l_partkey, r AS rank_unit FROM r5"""
    }),

    // Adamic-Adar link prediction over the customer-part bipartite
    // graph: customer pairs scored by Sum 1/ln(deg) over shared parts,
    // hub parts above deg 40 excluded before the self-join (the
    // degenerate-bucket guard; trims the top decile at sf0.01 - 188 of
    // 2000 parts), exact micro weights, TakeOrdered top-100
    Query("q171_adamic_adar", (s, d) => {
      val e = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_partkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      // packIds: custkeys/partkeys are dense sub-2^31 keys at every
      // corpus this query runs on (ScaleUp's 1e8 replica stride keeps
      // the 10x rehearsal inside the domain too)
      Graph.adamicAdar(e, "src", "dst", maxDeg = 40, topK = 100,
        packIds = true)
    },
      // same bipartite edges; deg-capped common-neighbor self-join,
      // floor(1e6/ln(deg)+0.5) weights, total-order top-100
      """WITH e AS (SELECT DISTINCT o_custkey AS u, l_partkey AS z
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL),
         w AS (SELECT z, CAST(count(*) AS BIGINT) AS deg
               FROM e GROUP BY 1),
         wk AS (SELECT z, CAST(floor(CAST(1000000 AS DOUBLE) / ln(deg)
                  + 0.5) AS BIGINT) AS w
                FROM w WHERE deg BETWEEN 2 AND 40),
         pr AS (SELECT a.u AS u_a, b.u AS u_b,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(wk.w) AS BIGINT) AS aa_micro
           FROM e a JOIN e b ON a.z = b.z AND a.u < b.u
           JOIN wk ON wk.z = a.z
           GROUP BY 1, 2)
         SELECT u_a, u_b, n_common, aa_micro FROM pr
         ORDER BY aa_micro DESC, u_a, u_b LIMIT 100""")
  )
}
