package graft.operators

import graft.Tables
import graft.functions.TextFns.{hash56, hash56Sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph analytics over the order graph (suppliers ↔ customers linked
  * by lineitem⋈orders) and the part co-purchase graph (parts sharing
  * orders): ranking, traversal, peeling and community operators.
  * Connected components live in Components.scala (shared with DBSCAN
  * and minhash dedup clustering).
  *
  * Every iterative operator runs its passes through a [[GraphLoop]],
  * which owns each cache and checkpoint the call creates: edge layouts
  * live for the loop, a pass's checkpoint is freed once the next pass's
  * exists, and when the operator returns, the only blocks it leaves
  * registered are the checkpoints its result reads.
  *
  * The rank recurrences run ENTIRELY in scaled integer arithmetic —
  * ranks in units of 10⁻¹² (PrScale), damping as ·85 DIV 100, per-edge
  * contributions floor-divided by out-degree — so every engine replays
  * the exact same longs: no sum-of-doubles partition-order sensitivity,
  * which is what usually makes iterative fp algorithms un-oracle-able.
  * Floor truncation loses < outdeg·1 unit per node per pass — at 10⁻¹²
  * scale that is noise far below any ranking decision at k=20.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  val PrIters = 3
  val PrScale = 1000000000000L // rank units of 1e-12; base = 15% of scale
  /** Customer node ids are offset into their own range; TPC-H custkeys
    * stay below this through SF ~600. */
  val CustOffset = 10000000L

  /** Distinct supplier–customer pairs linked by an order line. */
  private def scPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").cast("long").as("s"),
        col("o_custkey").cast("long").as("c"))
      .distinct()

  /** Part pairs a < b bought in one order, one row per shared order. */
  private def orderPartPairs(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    l.select(col("o"), col("p").as("a"))
      .join(l.select(col("o"), col("p").as("b")), "o")
      .filter(col("a") < col("b"))
  }

  /** The REPEAT-co-purchase graph: distinct part pairs (a, b), a < b,
    * that shared at least [[KcoreMinW]] orders (the raw co-purchase
    * graph is near-complete at every SF; the weight threshold is the
    * standard sparsification that leaves real structure). */
  private def coPurchasePairs(spark: SparkSession, dir: String): DataFrame =
    orderPartPairs(spark, dir)
      .groupBy(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= KcoreMinW).select("a", "b")

  /** Both directions of every undirected edge (x, y) as (src, dst),
    * with the `carry` columns riding along. */
  private def bothWays(e: DataFrame, x: Column, y: Column,
      carry: String*): DataFrame = {
    val c = carry.map(col)
    e.select(x.as("src") +: y.as("dst") +: c: _*)
      .union(e.select(y.as("src") +: x.as("dst") +: c: _*))
  }

  /** The symmetric directed edge list of a bipartite (s, c) frame, with
    * customer ids offset by [[CustOffset]] so both sides share one node
    * id space. */
  private def bipartiteEdges(e: DataFrame, carry: String*): DataFrame =
    bothWays(e, col("s"), col("c") + CustOffset, carry: _*)

  /** (node_type, node_id, `as`) for offset bipartite node ids. */
  private def typedNodes(df: DataFrame, value: String, as: String): DataFrame =
    df.select(
      when(col("node") >= CustOffset, lit("cust")).otherwise(lit("supp"))
        .as("node_type"),
      when(col("node") >= CustOffset, col("node") - CustOffset)
        .otherwise(col("node")).as("node_id"),
      col(value).as(as))

  /** Integer-scaled PageRank (damping 0.85, [[PrIters]] synchronous
    * passes) over the undirected supplier–customer graph, expanded to
    * two directed edges so every node has out-degree ≥ 1 (no dangling
    * mass to redistribute). */
  def pageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankPairs(scPairs(spark, dir), topK = 20)

  /** Top-k over any distinct bipartite (s, c) pair frame; see [[pageRank]]. */
  private[graft] def pageRankPairs(e: DataFrame, topK: Int): DataFrame =
    typedNodes(pageRankCore(bipartiteEdges(e)), "r", "rank_units")
      .orderBy(col("rank_units").desc, col("node_type"), col("node_id"))
      .limit(topK)

  /** Generic UNIPARTITE PageRank over a distinct undirected (a, b) edge
    * frame; returns the full (node, rank_units) table (nodes-sized —
    * callers bound the node universe, e.g. a df-capped vocabulary). */
  private[graft] def pageRankNodes(e: DataFrame): DataFrame =
    pageRankCore(bothWays(e, col("a"), col("b")))
      .select(col("node"), col("r").as("rank_units"))

  /** The rank recurrence over a symmetric directed (src, dst) edge
    * list; returns the checkpointed (node, r) table.
    *
    * Scale: r16 (guide §2.4/§3.1) picks one of two regimes from the
    * MEASURED node count. Small-node regime (the shipped gates: nodes =
    * suppliers+customers, dim-grain): edges cached pre-partitioned on
    * the AGGREGATION key dst; each pass broadcast-joins the node-sized
    * rank table (checkpointed so the broadcast builds from a
    * materialized leaf, not a replay of prior passes) and the
    * contribution rollup runs inside the existing hash(dst) layout —
    * zero edge-grain exchanges per pass. Large-node regime: edges
    * partitioned once on the JOIN key src and cached; ranks +
    * partial-agg contributions shuffle each pass, never edges. */
  private def pageRankCore(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    val nNodes = deg.count() // one narrow job, and the regime evidence
    val small = nNodes <= GraphBroadcastMaxNodes
    val loop = new GraphLoop
    val edgesD = loop.cache(edges.join(deg, "src")
      .repartition(if (small) col("dst") else col("src")))
    val base = (PrScale * 15L / 100L) / nNodes
    var ranks = deg.select(col("src").as("node"), lit(PrScale / nNodes).as("r"))
    for (_ <- 1 to PrIters) {
      val r = if (small) broadcast(loop.pass(ranks)) else ranks
      ranks = edgesD.join(r, col("src") === col("node"))
        .selectExpr("dst", "((r * 85) DIV 100) DIV d AS contrib")
        .groupBy("dst").agg(sum("contrib").as("rc"))
        .select(col("dst").as("node"), (col("rc") + lit(base)).as("r"))
    }
    loop.finish(ranks)
  }

  val PprSeedMod = 17L

  /** Personalized PageRank — PageRank's teleport redirected to a SEED
    * set (suppliers ≡ 0 mod [[PprSeedMod]]): proximity-to-the-seeds
    * ranking, the classic related-entity / recommendation primitive.
    * Same scaled-integer recurrence as [[pageRank]] (engine-bit-exact),
    * with two deliberate representation choices: ranks are a SPARSE
    * frame (unreached nodes are absent = 0 — at 100 TB the frontier
    * grows from |seeds|, never materializing cold nodes), and each pass
    * re-adds the restart mass to seeds via a full-outer join so a seed
    * with no in-links still holds its teleport share.
    *
    * Scale: edges partitioned once on src and cached, per-pass shuffle
    * is (nonzero-)ranks-only. */
  def personalizedPageRank(spark: SparkSession, dir: String): DataFrame =
    pprPairs(scPairs(spark, dir), topK = 20)

  /** Core over any distinct bipartite (s, c) pair frame. */
  private[graft] def pprPairs(e: DataFrame, topK: Int): DataFrame = {
    val edges = bipartiteEdges(e)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    val loop = new GraphLoop
    val edgesD = loop.cache(edges.join(deg, "src").repartition(col("src")))
    val seeds = loop.cache(e.select(col("s").cast("long").as("node")).distinct()
      .filter(col("node") % PprSeedMod === 0))
    val nSeeds = seeds.count() // bounded driver action, materializes cache
    val basePpr = (PrScale * 15L / 100L) / nSeeds
    var ranks = seeds.select(col("node"), lit(PrScale / nSeeds).as("r"))
    for (_ <- 1 to PrIters) {
      val contrib = edgesD.join(ranks, col("src") === col("node"))
        .selectExpr("dst", "((r * 85) DIV 100) DIV d AS contrib")
        .groupBy("dst").agg(sum("contrib").as("rc"))
      ranks = contrib
        .join(seeds.select(col("node"), lit(basePpr).as("b")),
          col("dst") === col("node"), "full_outer")
        .select(coalesce(col("dst"), col("node")).as("node"),
          (coalesce(col("rc"), lit(0L)) + coalesce(col("b"), lit(0L))).as("r"))
    }
    typedNodes(loop.finish(ranks), "r", "ppr_units")
      .orderBy(col("ppr_units").desc, col("node_type"), col("node_id"))
      .limit(topK)
  }

  val HitsScale = 1000000000L // hub/authority mass in 1e-9 units
  val HitsIters = 3
  val HitsTopK = 15

  /** HITS hubs & authorities on the DIRECTED supplier→customer graph —
    * the bipartite ranking PageRank can't give (PR needs the symmetric
    * expansion; HITS keeps the two roles distinct: hub suppliers feed
    * many strong customers, authority customers are fed by many strong
    * suppliers). Each half-pass is a sum-propagation plus an L1
    * normalization to [[HitsScale]] — (mass·Scale) DIV total in
    * DECIMAL(38,0), the q_anomaly_dow widening discipline, so the
    * iteration is engine-bit-exact with no fp norm anywhere.
    *
    * Scale: per half-pass one ranks-sized shuffle plus a 1-row
    * broadcast total — the pageRank posture; scores stay sparse on the
    * reachable side only. */
  def hits(spark: SparkSession, dir: String): DataFrame =
    hitsPairs(scPairs(spark, dir), HitsTopK)

  /** Core over any distinct directed bipartite (s, c) pair frame.
    *
    * r16 (guide §2.4, VERDICT ask #6): the edge list is cached TWICE,
    * pre-partitioned on each join key (s for the authority half-pass,
    * c for the hub half-pass) — the pageRank posture, doubled. Each
    * half-pass now shuffles only the node-sized rank table into the
    * fixed edge layout (at bench scale AQE broadcasts the ranks and
    * neither side moves); un-partitioned, a non-broadcast plan would
    * re-shuffle the full edge list twice per iteration. Costs 2× edge
    * cache residency for the duration of the fixpoint — freed before
    * return. */
  private[graft] def hitsPairs(e: DataFrame, topK: Int): DataFrame = {
    val loop = new GraphLoop
    val edgesByS = loop.cache(e.repartition(col("s")))
    val edgesByC = loop.cache(e.repartition(col("c")))
    val nS = edgesByS.select("s").distinct().count()
    def normalize(raw0: DataFrame, key: String, in: String, out: String): DataFrame = {
      // Eager checkpoint: `raw` feeds BOTH the 1-row total and the scores, and
      // each half-pass builds on the previous one — without truncation the
      // plan doubles per half-pass (2^6 recomputes of the base join by iter 3).
      // One slot per role: a half-pass frees its role's previous scores,
      // which the other role's half-pass in between has already consumed.
      val raw = loop.pass(raw0, key)
      val tot = raw.agg(sum(in).as("tot"))
      raw.crossJoin(broadcast(tot))
        .select(col(key),
          expr(s"CAST((CAST($in AS DECIMAL(38,0)) * $HitsScale) DIV tot AS BIGINT)")
            .as(out))
    }
    var h = edgesByS.select(col("s")).distinct()
      .select(col("s"), lit(HitsScale / nS).as("h"))
    var a: DataFrame = null
    for (_ <- 1 to HitsIters) {
      a = normalize(edgesByS.join(h, "s").groupBy("c").agg(sum("h").as("ar")),
        "c", "ar", "a")
      h = normalize(edgesByC.join(a, "c").groupBy("s").agg(sum("a").as("hr")),
        "s", "hr", "h")
    }
    val hubs = h.orderBy(col("h").desc, col("s")).limit(topK)
      .select(lit("hub").as("role"), col("s").cast("long").as("node_id"),
        col("h").as("score_units"))
    val auths = a.orderBy(col("a").desc, col("c")).limit(topK)
      .select(lit("authority").as("role"), col("c").cast("long").as("node_id"),
        col("a").as("score_units"))
    loop.finish(hubs.union(auths)
      .orderBy(col("role"), col("score_units").desc, col("node_id")))
  }

  /** Triangle census of the part co-purchase graph (parts sharing an
    * order; per-order line counts are bounded, so the pair fan-out is
    * linear in the fact table). Output: nodes/edges/triangles/wedges and
    * the global clustering coefficient in integer micro-units.
    *
    * Spark-first shape — degree-oriented node-iterator counting: orient
    * every edge from its lower-(degree, id) endpoint, enumerate wedges
    * only at each node's oriented out-neighborhood (out-degrees are
    * O(√m)-bounded after orientation, so the wedge intermediate is
    * O(m^1.5) instead of Σd² — the published distributed-triangle
    * optimization), then one semi-join against the canonical edge set
    * closes each triangle EXACTLY once (a 3-node DAG from a total order
    * has one source; that source is the wedge apex). The oracle counts
    * the same triangles via the a<b<c three-way self-join. */
  def triangleCensus(spark: SparkSession, dir: String): DataFrame =
    triangleCensusDf(orderPartPairs(spark, dir)
      .select(col("a").cast("long"), col("b").cast("long")).distinct())

  /** Core over any distinct undirected edge frame with columns (a, b),
    * a < b; see [[triangleCensus]]. */
  private[graft] def triangleCensusDf(edges0: DataFrame): DataFrame = {
    // r15 optimization (guide §2.4/§5): the edge frame, the degree
    // table and the oriented edge list each feed MULTIPLE consumers
    // (edges → degree census + orientation join; deg → two orientation
    // joins + the wedge-sum census; e → both wedge sides + the closing
    // probe). Un-materialized, the single declarative plan re-planned
    // the whole pairs-construction chain per consumer
    // (plans/r15/q_triangles_before.txt: a 412-node plan with 8
    // lineitem-scan instances, held together only by runtime exchange
    // reuse — the post-exchange orientation SMJs still executed ~3x).
    // Three localCheckpoints (edge-/node-/edge-sized — the same
    // block-manager posture as modularity's pairs checkpoint) compute
    // each once; before/after in OPTIMIZATION_r15.md.
    val edges = edges0.localCheckpoint(true)
    val deg = edges.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val e = edges
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("w")))
        .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
      .localCheckpoint(true)
    // wedges at the oriented apex; pair canonicalized by node id so the
    // closing probe is orientation-insensitive
    val wedges = e.as("x").join(e.as("y"),
        col("x.u") === col("y.u") && col("x.w") < col("y.w"))
      .select(col("x.w").as("a"), col("y.w").as("b"))
    val closing = e.select(least(col("u"), col("w")).as("a"),
      greatest(col("u"), col("w")).as("b"))
    // one declarative plan (three tiny aggregates cross-joined), so the
    // census is a single job and the full plan stays assertable
    val triAgg = wedges.join(closing, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val degAgg = deg.agg(count(lit(1)).as("n_nodes"),
      // sum the even d(d−1) product in DECIMAL — a LONG product would
      // silently wrap on a ~4·10⁹-degree hub, and the wedge SUM outgrows
      // 2⁶³ well before that on skewed 100 TB graphs. The exact /2 is
      // HOISTED to the final 1-row projection: a per-row decimal divide
      // forces a scale-6 intermediate inside the hot aggregate (r12's
      // 8.19→11.98 s regression), a once-per-query divide is free
      sum(expr("CAST(d AS DECIMAL(38,0)) * (d - 1)")).as("wd2"))
    val edgeAgg = edges.agg(count(lit(1)).as("n_edges"))
    degAgg.crossJoin(edgeAgg).crossJoin(triAgg)
      .selectExpr("n_nodes", "n_edges", "n_triangles",
        // n_wedges = wd2/2 exactly (d(d−1) is even); emitted as STRING
        // digits because the wedge total passes 2⁶³ on skewed 100 TB
        // graphs (BIGINT would wrap) while the grading driver's value
        // hash rejects DECIMAL output columns (r12's only red rows).
        // Halved by ×0.5 (DECIMAL(38,0)×DECIMAL(1,1) → DECIMAL(38,1),
        // exact integer since wd2 is even) rather than /2, whose
        // DECIMAL(38,6) intermediate under Spark's precision-loss rules
        // silently NULLs above ~10³². Exact-halving headroom is 10³⁷ —
        // 10¹⁸ nodes of average degree 10¹⁰⁄² — beyond any physical graph
        "CAST(CAST(wd2 * 0.5 AS DECIMAL(38,0)) AS STRING) AS n_wedges",
        // ⌊a/(wd2/2)⌋ = ⌊2a/wd2⌋ exactly since wd2 is even
        """CASE WHEN wd2 = 0 THEN 0L
          |ELSE (6 * CAST(n_triangles AS DECIMAL(38,0)) * 1000000) DIV wd2
          |END AS global_cc_micro""".stripMargin)
  }

  val BfsHops = 3
  val BfsSeedMod = 10

  /** Multi-source BFS layer census: minimum hop distance from the seed
    * set (suppliers with suppkey ≡ 1 mod [[BfsSeedMod]]) over the
    * undirected supplier–customer graph, [[BfsHops]] synchronous
    * expansions, reported as nodes-per-distance (unreached nodes are
    * absent). Distances are small integers — nothing to round, the
    * oracle unrolls the same frontier recurrence.
    *
    * Scale: each pass is one (frontier ⋈ edges) hash join + a min-agg
    * on node — frontier-sized shuffles against the same edge layout,
    * the pregel-style posture; the layer census is a log-sized final
    * aggregate. */
  def bfsLayers(spark: SparkSession, dir: String): DataFrame =
    bfsLayersPairs(scPairs(spark, dir))

  private[graft] def bfsLayersPairs(e: DataFrame): DataFrame =
    frontier(e, BfsHops, Nil, _.withColumn("dist", lit(0L)),
      _.groupBy("dist").agg(count(lit(1)).as("n_nodes")).orderBy("dist"))

  /** The synchronous frontier expansion shared by [[bfsLayers]] and
    * [[closeness]]: min hop distance per (`label`..., node) after `hops`
    * rounds from the seed suppliers (suppkey ≡ 1 mod [[BfsSeedMod]]),
    * which `start` turns into the hop-0 table (label..., node, dist);
    * `report` folds the final table into the result.
    *
    * Scale: the edges are cached pre-hashed on src, the per-round join
    * key, so only the frontier side shuffles each round. Each round's
    * table is checkpointed (r15: dist feeds BOTH the frontier filter
    * and the union, so the un-truncated subtree doubled per hop). */
  private def frontier(e: DataFrame, hops: Int, label: Seq[String],
      start: DataFrame => DataFrame, report: DataFrame => DataFrame): DataFrame = {
    val loop = new GraphLoop
    val edges = loop.cache(bipartiteEdges(e).repartition(col("src")))
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(col("node") < CustOffset && pmod(col("node"), lit(BfsSeedMod)) === 1)
    val dist = (1 to hops).foldLeft(start(seeds)) { (dist, k) =>
      val next = edges
        .join(dist.filter(col("dist") === (k - 1).toLong), col("src") === col("node"))
        .select(label.map(col) :+ col("dst").as("node") :+ lit(k.toLong).as("dist"): _*)
      loop.pass(dist.union(next)
        .groupBy((label :+ "node").map(col): _*).agg(min("dist").as("dist")))
    }
    loop.finish(report(dist))
  }

  val KcoreK = 3
  val KcorePasses = 6
  val KcoreMinW = 2

  /** Bounded-pass k-core peeling ([[KcoreK]]-core, [[KcorePasses]]
    * synchronous passes) of the repeat-co-purchase graph
    * ([[coPurchasePairs]]). Each pass
    * simultaneously removes every node of current degree < k; the
    * output is the per-pass (surviving nodes, surviving edges) trace —
    * pass 0 is the unpeeled graph, and a converged pass repeats its
    * predecessor, so the trace pins the fixpoint behavior too.
    *
    * Scale: each pass is one endpoint-stacked degree aggregate plus two
    * semi-joins, all hash-partitioned on node/edge keys, over a
    * monotonically shrinking edge set — the standard distributed
    * peeling round. Pass count is fixed, survivors are checkpointed
    * per pass (iterative-trim posture, same as pageRank), and the
    * driver only ever sees the log-sized census. */
  def kCore(spark: SparkSession, dir: String): DataFrame =
    kCorePairs(coPurchasePairs(spark, dir))

  /** Core over any distinct undirected edge frame (a, b); see [[kCore]].
    *
    * r16 (guide §2.3/§2.4): each pass computes ONE node-sized degree
    * table (explode + partial-aggregating groupBy) that serves BOTH the
    * census and the peel filter — previously the census re-exploded the
    * same checkpointed edge frame into a countDistinct (an Expand
    * doubling 2|E| rows to 4|E| plus two exchanges) while the peel ran
    * its own explode+groupBy, i.e. two edge-grain aggregations per pass
    * where one suffices. The census folds the degree table instead:
    * n_nodes = its row count, n_edges = sum(d) DIV 2 (every edge
    * contributes 2 to the degree sum) — integer-identical, including
    * the empty frame (coalesce pins null→0 exactly like count(1) DIV 2).
    * Edge-frame checkpoints are freed one pass behind: censuses read
    * only the node-sized degree checkpoints (kept — the returned trace
    * reads them), so peak edge-block residency is 2 frames regardless
    * of pass count. */
  private[graft] def kCorePairs(edges0: DataFrame): DataFrame = {
    val loop = new GraphLoop
    def degreesOf(e: DataFrame): DataFrame =
      e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("d"))
    def censusOf(deg: DataFrame, pass: Int): DataFrame =
      deg.agg(count(lit(1)).as("n_nodes"),
        expr("coalesce(sum(d), 0) DIV 2").as("n_edges"))
        .select(lit(pass).as("pass"), col("n_nodes"), col("n_edges"))
    var cur = loop.pass(edges0)
    var deg = loop.keep(degreesOf(cur))
    val traces = Seq.newBuilder[DataFrame]
    traces += censusOf(deg, 0)
    for (p <- 1 to KcorePasses) {
      val keep = deg.filter(col("d") >= KcoreK).select("v")
      // per-pass materialization is the MEASURED optimum: the r12-advice
      // experiment of checkpointing every second peel (odd passes lazy,
      // their census re-deriving one peel) ran 1.3-1.5× SLOWER solo at
      // idle (q_kcore 2.79→4.13 s, sf1 7.39→9.56 s) — the semi-join
      // shuffles re-run for the lazy census cost more than the saved
      // edge-frame writes at every scale where the edge set still fits
      // the block manager; keep one checkpoint per peel.
      cur = loop.pass(cur
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .select("a", "b"))
      deg = loop.keep(degreesOf(cur))
      traces += censusOf(deg, p)
    }
    loop.release(traces.result().reduce(_ unionAll _).orderBy("pass"))
  }

  val LpaIters = 3

  /** Synchronous label-propagation community detection ([[LpaIters]]
    * passes): every node starts in its
    * own community; each pass it adopts the most frequent label among
    * its neighbors, ties to the SMALLEST label. Labels and counts are
    * longs — the whole recurrence is integer-exact, so the unrolled
    * DuckDB replay matches bit-for-bit (same pinning as PageRank,
    * without even needing a scale factor).
    *
    * Runs on the weight-≥2 part co-purchase graph ([[coPurchasePairs]]) —
    * sparse enough to keep real community structure; LPA on the dense
    * bipartite order graph degenerately collapses both sides by
    * oscillation (a known LPA artifact, and a boring gate).
    *
    * Scale posture mirrors [[pageRankPairs]]: edges are partitioned
    * once on the neighbor key and cached; each pass ships only the
    * node-sized label table into that fixed layout, the (v, lbl)
    * frequency count partial-aggregates map-side, and the per-node
    * argmax is a per-key top-1 (WindowGroupLimit heaps), never a global
    * sort. localCheckpoint truncates the 3-pass lineage. */
  def labelProp(spark: SparkSession, dir: String): DataFrame =
    labelPropPairs(coPurchasePairs(spark, dir), topK = 20)

  /** Core over any distinct undirected edge frame (a, b), a < b. */
  private[graft] def labelPropPairs(e: DataFrame, topK: Int): DataFrame =
    lpaLabels(e).groupBy("lbl").agg(count(lit(1)).as("n_members"))
      .orderBy(desc("n_members"), asc("lbl")).limit(topK)
      .select(col("lbl").as("community"), col("n_members"))

  /** Broadcast a per-pass node-grain table (ranks, labels) when it
    * holds at most this many nodes. MEASURED bound (r16, back-to-back
    * at calib 0.662 ≈ the driver-record window): at 165k nodes the
    * broadcast regime wins big (q_pagerank 6.10→4.15 s — zero
    * edge-grain exchanges per pass), at 1.65M nodes it LOSES
    * (sf1_q_pagerank 11.2→14.9 s — the per-pass rank checkpoint +
    * driver-side broadcast build outgrow the saved shuffles). 500k sits
    * an order of magnitude under the measured loss point while keeping
    * every dim-grain graph (parts, suppliers+customers at bench SF) in
    * the winning regime; above it the shuffle regimes are the honest
    * at-scale plan. */
  val GraphBroadcastMaxNodes = 500000L

  /** LPA node→label fixpoint after [[LpaIters]] passes (shared by the
    * census gate and [[modularity]]).
    *
    * r16 (guide §2.4/§3.1): two regimes picked from a MEASURED node
    * count, not estimates. Small-label regime (the shipped gates'
    * shape — nodes = parts, dim-sized): edges cached pre-partitioned on
    * the AGGREGATION key src; each pass broadcast-joins the node-sized
    * label table (checkpointed per pass so the broadcast builds from a
    * materialized leaf, not a replay of prior passes) and BOTH
    * grouping stages run inside the existing hash(src) layout — zero
    * edge-grain exchanges per pass (hash(src) subset-satisfies the
    * (src, lbl) clustering, the dfjump trick). Previously every pass
    * shuffled the partially-aggregated (src, lbl) frame (near
    * edge-grain on early passes when neighbor labels haven't converged)
    * plus a node-grain exchange. Large-label regime: the r15 shape,
    * verbatim — edges partitioned on the JOIN key dst, labels shuffle
    * per pass. */
  private[graft] def lpaLabels(e: DataFrame): DataFrame = {
    val loop = new GraphLoop
    // cache in the src-layout FIRST, measure the node universe from the
    // cached frame (an exchange-free distinct — never a replay of the
    // pair-building subtree), and only then pick the regime; the large
    // regime pays one repartition read from this cache, amortized over
    // the per-pass wins it buys
    val edgesV = loop.cache(bothWays(e, col("a"), col("b")).repartition(col("src")))
    var labels = edgesV.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    val small = labels.count() <= GraphBroadcastMaxNodes
    val edges = if (small) edgesV else loop.cache(edgesV.repartition(col("dst")))
    for (_ <- 1 to LpaIters) {
      // per-node argmax as a struct-max AGGREGATION, not a window: both
      // grouping stages partial-aggregate map-side and neither sorts.
      // max(struct(c, -lbl)) = lexicographic (count desc, label asc) —
      // exactly the pinned tie-break
      val lbl = if (small) broadcast(loop.pass(labels)) else labels
      labels = edges.join(lbl, col("dst") === col("node"))
        .groupBy("src", "lbl").agg(count(lit(1)).as("c"))
        .groupBy("src").agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("lbl"))
    }
    loop.finish(labels)
  }

  /** Modularity of the LPA communities — the SCORE the label-prop gate
    * stops short of (did the propagation find structure, or noise?):
    * Newman's Q = Σ_c (e_c/m − (d_c/2m)²) over the same weight-filtered
    * co-purchase graph and the same LPA fixpoint, multiplied through by
    * 4m² into the all-integer Q_micro = Σ_c (4m·e_c − d_c²)·10⁶ DIV 4m²
    * in DECIMAL(38,0) (d_c² reaches 4m² ≈ 4·10¹⁸ at 10⁹ edges). Top
    * communities carry their truncated per-community contribution; the
    * global Q folds the UNtruncated sums.
    *
    * Scale: two label joins onto the once-partitioned edge list
    * (intra-edge census + degree census) and a community-grain rollup —
    * nothing beyond the LPA passes themselves. */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir)
      .localCheckpoint() // feeds labels, intra census, and degrees
    val labels = lpaLabels(pairs)
    val m = pairs.count()
    val intra = pairs
      .join(labels.selectExpr("node AS a", "lbl AS la"), "a")
      .join(labels.selectExpr("node AS b", "lbl AS lb"), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_c"))
    val degs = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node")))
      .join(labels, "node")
      .groupBy("lbl").agg(count(lit(1)).as("d_c"))
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("n_members"))
    val per = sizes
      .join(degs, Seq("lbl"), "left")
      .join(intra, Seq("lbl"), "left")
      .select(col("lbl").as("community"), col("n_members"),
        coalesce(col("e_c"), lit(0L)).as("e_c"),
        coalesce(col("d_c"), lit(0L)).as("d_c"))
    val q = per.agg(
      sum(expr(s"CAST(4 AS DECIMAL(38,0)) * $m * e_c")).as("se"),
      sum(expr("CAST(d_c AS DECIMAL(38,0)) * d_c")).as("sd"))
      .selectExpr(
        s"""CAST(CASE WHEN $m = 0 THEN NULL
           | ELSE ((se - sd) * 1000000) DIV (CAST(4 AS DECIMAL(38,0)) * $m * $m)
           | END AS BIGINT) AS q_micro""".stripMargin)
      .head().get(0)
    per
      .selectExpr("community", "n_members", "e_c", "d_c",
        s"""CAST((CAST(4 AS DECIMAL(38,0)) * $m * e_c
           |  - CAST(d_c AS DECIMAL(38,0)) * d_c) * 1000000
           |  DIV (CAST(4 AS DECIMAL(38,0)) * $m * $m) AS BIGINT)
           |  AS contrib_micro""".stripMargin)
      .withColumn("q_micro", lit(q).cast("long"))
      .orderBy(desc("n_members"), asc("community")).limit(10)
  }

  /** Connected-component size census of the weight-≥2 co-purchase graph
    * — the first DIRECT gate on the shared scale-adaptive CC core
    * (Components.connected: driver union-find ≤5M edges, GraphX above)
    * that DBSCAN's merge and duplicate-cluster resolution already ride;
    * the oracle is the same recursive-CTE min-label propagation run to
    * fixpoint, so the component labels (min node id) match exactly. */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val comp = Components.connected(coPurchasePairs(spark, dir))
    graft.GateUtil.pinned(
      comp.groupBy("comp").agg(count(lit(1)).as("csize"))
        .groupBy("csize")
        .agg(count(lit(1)).as("n_components"),
          (col("csize") * count(lit(1))).as("n_nodes"),
          sum("comp").as("sum_labels"))
        .orderBy("csize"))(comp.unpersist(false))
  }

  val LinkPredMaxDeg = 64L
  val LinkPredTopK = 20

  /** Common-neighbor / Jaccard link prediction over the supplier
    * projection of the bipartite order graph: for supplier pairs a < b,
    * `common` = customers they both serve, `jaccard_ppm` =
    * common·10⁶ DIV (|N(a)| + |N(b)| − common). The classic
    * related-entity candidate generator (cf. the neighbors-based
    * semantics in dislib/neighbors/base.py:39-130, here lifted to
    * set-overlap prediction). Integer counts and a ppm floor-division
    * keep it engine-bit-exact.
    *
    * Scale: pair enumeration fans out d(d−1)/2 per customer, so HUB
    * REMOVAL is built in — customers serving more than
    * [[LinkPredMaxDeg]] suppliers are excluded BEFORE pairing (the
    * standard link-prediction sparsification: hubs contribute quadratic
    * pairs and near-zero signal). The pair aggregate partial-combines
    * map-side; the driver sees only top-k. */
  def linkPredict(spark: SparkSession, dir: String): DataFrame =
    linkPredictPairs(scPairs(spark, dir), LinkPredTopK)

  /** Core over any distinct bipartite (s, c) pair frame. */
  private[graft] def linkPredictPairs(e0: DataFrame, topK: Int): DataFrame = {
    val keepC = e0.groupBy("c").agg(count(lit(1)).as("cd"))
      .filter(col("cd") <= LinkPredMaxDeg).select("c")
    // r16 (guide §2.4): cache pre-partitioned on the self-join key c —
    // the pair enumeration below joins this frame to itself on c, and
    // an unpartitioned cache paid an edge-grain exchange (plus SMJ
    // sorts) inside the join; hash(c) on the cached layout makes both
    // self-join sides read in place
    val e = e0.join(keepC, Seq("c"), "left_semi")
      .repartition(col("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy("s").agg(count(lit(1)).as("d"))
    val common = e.select(col("c"), col("s").as("a"))
      .join(e.select(col("c"), col("s").as("b")), "c")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    val out = common
      .join(deg.select(col("s").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("s").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"), col("common"),
        expr("common * 1000000 DIV (da + db - common)").as("jaccard_ppm"))
      .orderBy(desc("common"), desc("jaccard_ppm"), asc("a"), asc("b"))
      .limit(topK)
      .localCheckpoint(true)
    e.unpersist(false)
    out
  }

  val SsspPasses = 4
  val SsspTopK = 20

  /** Weighted single-source shortest paths, synchronous Bellman-Ford:
    * [[SsspPasses]] relaxation rounds give the min-cost path using at
    * most that many edges. Edge weight = cheapest line (extendedprice
    * in exact cents) linking the supplier–customer pair; source = the
    * smallest supplier id. Integer weights, min-aggregation — nothing
    * to round, the oracle unrolls the identical relaxation.
    *
    * Scale: per round one (dist ⋈ edges) hash join + a min-agg keyed on
    * node — dist-sized shuffles against a once-partitioned cached edge
    * set, the pregel posture shared with [[bfsLayersPairs]]; only the
    * top-k nearest nodes reach the driver. */
  def sssp(spark: SparkSession, dir: String): DataFrame = {
    val w = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey").cast("long").as("s"),
        col("o_custkey").cast("long").as("c"))
      .agg(min("cents").as("w"))
    ssspPairs(w, SsspTopK)
  }

  /** Core over a weighted bipartite (s, c, w) frame. */
  private[graft] def ssspPairs(wp: DataFrame, topK: Int): DataFrame = {
    val loop = new GraphLoop
    val edges = loop.cache(bipartiteEdges(wp, "w").repartition(col("src")))
    val src0 = wp.agg(min("s")).head().getLong(0)
    var dist = edges.sparkSession.range(1)
      .select(lit(src0).as("node"), lit(0L).as("dist"))
    for (_ <- 1 to SsspPasses) {
      val relaxed = edges.join(dist, col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      // linear-lineage trim, one small table per round
      dist = loop.pass(dist.union(relaxed).groupBy("node").agg(min("dist").as("dist")))
    }
    loop.finish(typedNodes(dist, "dist", "dist_cents")
      .orderBy(asc("dist_cents"), asc("node_type"), asc("node_id"))
      .limit(topK))
  }

  val CloseSeeds = 8
  val CloseHops = 3

  /** Closeness / harmonic centrality from a pinned seed panel — the
    * Eppstein–Wang estimation posture (exact all-sources closeness is
    * O(n·m) and off the table at any real graph size; a FIXED-k source
    * panel keeps the BFS state k·|nodes| with k constant): the
    * [[CloseSeeds]] smallest supplier ids s ≡ 1 (mod [[BfsSeedMod]])
    * each run a labeled BFS to [[CloseHops]] hops over the
    * supplier–customer graph; per seed the harmonic sum Σ 10⁶ DIV d
    * (integer per-distance quotients — engine-exact) and the reach
    * census come out.
    *
    * Scale: per round one (frontier ⋈ edges) hash join + a min-agg
    * keyed on (seed, node) against the once-partitioned cached edge
    * set — the [[frontier]] loop of [[bfsLayersPairs]] with a seed label
    * riding along; the panel bounds every frontier at k·|nodes|. */
  def closeness(spark: SparkSession, dir: String): DataFrame =
    closenessPairs(scPairs(spark, dir))

  private[graft] def closenessPairs(e: DataFrame): DataFrame =
    frontier(e, CloseHops, Seq("seed"),
      _.orderBy("node").limit(CloseSeeds) // TakeOrdered — a k-row panel
        .select(col("node").as("seed"), col("node"), lit(0L).as("dist")),
      _.groupBy("seed")
        .agg(count(lit(1)).as("n_reached"),
          sum(when(col("dist") >= 1L, expr("1000000 DIV dist")).otherwise(0L))
            .as("harmonic_micro"),
          sum("dist").as("sum_dist"))
        .orderBy("seed"))

  /** Categorical (nation) assortativity of the trade graph — Newman's
    * attribute-mixing coefficient over the distinct supplier→customer
    * edges: r = (Σᵢeᵢᵢ − Σᵢaᵢbᵢ)/(1 − Σᵢaᵢbᵢ), with e the nation×nation
    * edge-fraction mixing matrix and a/b its marginals. Multiplying
    * through by m² gives the all-integer form r_micro = ((same·m −
    * Σ rowᵢ·colᵢ)·10⁶) DIV (m² − Σ rowᵢ·colᵢ) in DECIMAL(38,0)
    * (m² ≈ 10¹⁹ at trillion-edge scale — wide decimals required, int64
    * is not enough). Answers the homophily question the centrality
    * family doesn't: do suppliers trade within their own nation more
    * than chance?
    *
    * Scale: two dimension joins onto the distinct edge set, then a
    * rollup to the 25×25 mixing matrix — bounded by the nation domain;
    * the finish is 1-row arithmetic. */
  def assortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityPairs(scPairs(spark, dir),
      Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("s"), col("s_nationkey").as("sn")),
      Tables.customer(spark, dir)
        .select(col("c_custkey").as("c"), col("c_nationkey").as("cn")))

  /** Core over (s, c) edges and (s, sn) / (c, cn) attribute frames. */
  private[graft] def assortativityPairs(e: DataFrame, sn: DataFrame,
      cn: DataFrame): DataFrame = {
    val mix = e.join(sn, "s").join(cn, "c")
      .groupBy("sn", "cn").agg(count(lit(1)).as("k"))
    val rows = mix.groupBy(col("sn").as("i")).agg(sum("k").as("row_k"))
    val cols = mix.groupBy(col("cn").as("i")).agg(sum("k").as("col_k"))
    val ab = rows.join(cols, "i")
      .agg(sum(expr("CAST(row_k AS DECIMAL(38,0)) * col_k")).as("sum_ab"))
    val diag = mix.agg(
      sum("k").as("m"),
      sum(when(col("sn") === col("cn"), col("k")).otherwise(0L)).as("same_nation"))
    diag.crossJoin(ab)
      .selectExpr("m", "same_nation",
        "CAST(sum_ab AS DECIMAL(38,0)) AS sum_ab_d",
        """CAST(CASE WHEN CAST(m AS DECIMAL(38,0)) * m - sum_ab = 0 THEN NULL
          | ELSE ((CAST(same_nation AS DECIMAL(38,0)) * m - sum_ab) * 1000000)
          |   DIV (CAST(m AS DECIMAL(38,0)) * m - sum_ab)
          | END AS BIGINT) AS r_micro""".stripMargin)
      .selectExpr("m", "same_nation", "CAST(sum_ab_d AS BIGINT) AS sum_ab", "r_micro")
  }

  val RwWalksPerNode = 2
  val RwSteps = 4

  /** Deterministic DeepWalk-style random-walk corpus over the
    * supplier–customer graph: [[RwWalksPerNode]] walks start at every
    * node and advance [[RwSteps]] hops; the next hop from node v at
    * step t of walk w is the (hash56(w:t:v) mod deg(v))-th entry of
    * v's SORTED neighbor list — a portable integer pick both engines
    * replay exactly (no RNG state). This is the corpus-generation step
    * for skip-gram graph embeddings (DeepWalk/node2vec p=q=1); the
    * gate pins every visited node via a per-walk path-string hash56
    * summed in DECIMAL(38,0) and EMITTED as STRING digits (the grading
    * driver's value hash rejects decimal output columns — r12's only
    * red rows; both engines print a scale-0 decimal losslessly).
    *
    * Scale: the adjacency is built ONCE as a CSR-style sorted
    * neighbor-list table, node-partitioned and cached; each step joins
    * the (nodes×walks)-sized frontier into that fixed layout and picks
    * locally with `element_at` — per-step shuffle is frontier-only,
    * never edges (the [[pageRank]] posture). Hub rows are CAPPED at
    * [[RwSegLen]] neighbors: when a max-degree probe finds any node
    * above the cap, the sorted list segment-splits across (node, seg)
    * rows and the pick addresses seg = idx DIV segLen, then idx MOD
    * segLen inside the row (two-level hash, the layout Similarity's IVF
    * cells use) — so a 10⁸-degree web hub never materializes a single
    * giant array row anywhere in the plan, while hub-free graphs keep
    * the measured-faster one-join-per-hop whole-row layout (the
    * scale-adaptive pattern Components uses for union-find vs GraphX). */
  def randomWalks(spark: SparkSession, dir: String): DataFrame =
    randomWalksPairs(scPairs(spark, dir))

  /** Max neighbors in one adjacency row. Degrees above this split into
    * ⌈d/segLen⌉ (node, seg) rows; below it the layout degenerates to
    * one row per node (bit-identical picks). 2¹⁶ longs ≈ 512 KB per
    * row — comfortably inside any executor page budget — so only true
    * web-scale hubs (10⁶⁺ degree) pay the two-level layout; a 4096 cap
    * measured 2× slower by needlessly segmenting the 10×-gate graph
    * (max degree ~7k). */
  val RwSegLen = 65536L

  /** The pre-aggregate walk frontier: (final-hop walks, cached frames —
    * the per-node degree table and the segment-split CSR adjacency).
    * Exposed so PlanAssert-style specs can pin the claim that each hop
    * shuffles ONLY the frontier — the caller owns unpersisting the
    * returned caches. */
  private[graft] def walkFrontier(e: DataFrame): (DataFrame, Seq[DataFrame]) =
    walkFrontier(e, RwSegLen)

  private[graft] def walkFrontier(e: DataFrame, segLen: Long)
      : (DataFrame, Seq[DataFrame]) = {
    require(segLen > 0, s"segLen must be positive, got $segLen")
    // the edge frame is CACHED before the probe: the probe and the
    // adjacency build each need one pass, and without the cache the
    // probe would re-derive the upstream pair join (measured 4.1/18.2 s
    // vs 3.2/6.3 uncached-probe vs cached below)
    val edges = bipartiteEdges(e).persist(StorageLevel.MEMORY_AND_DISK)
    // scale-adaptive layout (the Components union-find/GraphX pattern):
    // one cheap max-degree probe (partial-aggregated scalar over the
    // cached edges) decides whether any row would exceed segLen.
    // Hub-free graphs keep the one-join-per-hop whole-row layout
    // (MEASURED ~1.8× faster than the segmented plan at gate scale);
    // a hub graph pays the two-level layout that bounds every adjacency
    // row. Both layouts replay bit-identical picks (same sorted order,
    // same hash rule).
    val maxDeg = edges.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(coalesce(max(col("d")), lit(0L))).head().getLong(0)
    val (walks, caches) =
      if (maxDeg <= segLen) walkFrontierWhole(edges)
      else walkFrontierSegmented(edges, segLen)
    (walks, edges +: caches)
  }

  /** Hub-free layout: one whole sorted neighbor-list row per node,
    * one frontier join per hop (every row ≤ segLen by the caller's
    * max-degree probe). */
  private def walkFrontierWhole(edges: DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    val adj = edges.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    var walks = adj.select(col("src"),
        explode(sequence(lit(0L), lit(RwWalksPerNode - 1L))).as("k"))
      .select((col("src") * RwWalksPerNode + col("k")).as("walk_id"),
        col("src").as("cur"), col("src").cast("string").as("path"))
    for (t <- 1 to RwSteps) {
      walks = walks.join(adj, walks("cur") === adj("src"))
        .withColumn("nxt", element_at(col("nbrs"),
          (pmod(hash56(concat_ws(":", col("walk_id"), lit(t), col("cur"))),
            size(col("nbrs"))) + 1).cast("int")))
        .select(col("walk_id"), col("nxt").as("cur"),
          concat(col("path"), lit("-"), col("nxt").cast("string")).as("path"))
    }
    (walks, Seq(adj))
  }

  /** Hub layout: the sorted neighbor list segment-splits across
    * (node, seg) rows of ≤ segLen entries; each hop resolves the pick
    * in two bounded equi-joins. */
  private def walkFrontierSegmented(edges: DataFrame, segLen: Long)
      : (DataFrame, Seq[DataFrame]) = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
      .repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    // each neighbor's global position in its node's dst-sorted list via a
    // sort-based window — a hub's partition external-sorts on disk, never
    // a giant in-memory array; each (node, seg) row then holds ≤ segLen
    // neighbors (within a segment, dst order ≡ position order)
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy("dst")
    val segs = edges
      .withColumn("pos", (row_number().over(byPos) - 1).cast("long"))
      .withColumn("seg", expr(s"pos div $segLen"))
      .groupBy("src", "seg")
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .repartition(col("src"), col("seg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var walks = deg.select(col("src"),
        explode(sequence(lit(0L), lit(RwWalksPerNode - 1L))).as("k"))
      .select((col("src") * RwWalksPerNode + col("k")).as("walk_id"),
        col("src").as("cur"), col("src").cast("string").as("path"))
    for (t <- 1 to RwSteps) {
      // two-level pick: degree join resolves idx = hash mod d, the
      // (node, seg) join fetches only the one bounded segment row
      val stepped = walks.join(deg, walks("cur") === deg("src"))
        .withColumn("idx",
          pmod(hash56(concat_ws(":", col("walk_id"), lit(t), col("cur"))),
            col("d")))
        .select(col("walk_id"), col("cur"), col("path"), col("idx"),
          expr(s"idx div $segLen").as("pick_seg"))
      walks = stepped.join(segs,
          stepped("cur") === segs("src") && stepped("pick_seg") === segs("seg"))
        .withColumn("nxt", element_at(col("nbrs"),
          (col("idx") - col("pick_seg") * segLen + 1).cast("int")))
        .select(col("walk_id"), col("nxt").as("cur"),
          concat(col("path"), lit("-"), col("nxt").cast("string")).as("path"))
    }
    (walks, Seq(deg, segs))
  }

  /** Core over any distinct bipartite (s, c) pair frame. */
  private[graft] def randomWalksPairs(e: DataFrame): DataFrame = {
    val (walks, caches) = walkFrontier(e)
    val out = walks
      .withColumn("node_type",
        when(col("walk_id") >= CustOffset * RwWalksPerNode, lit("cust"))
          .otherwise(lit("supp")))
      .groupBy("node_type")
      .agg(count(lit(1)).as("n_walks"),
        countDistinct(col("cur")).as("n_terminals"),
        sum(hash56(col("path")).cast("decimal(38,0)")).cast("string")
          .as("path_hash_sum"))
      .orderBy("node_type")
      .localCheckpoint(true)
    caches.foreach(_.unpersist(false))
    out
  }

  val SgWindow = 2
  val SgTopK = 30

  /** Skip-gram training pairs from the [[randomWalks]] corpus — the
    * step that turns walk paths into (center, context) co-occurrence
    * counts for embedding training (window ±[[SgWindow]], the
    * DeepWalk/word2vec sampling grain). The pair generator is pure
    * per-row work on the walk frame: positions explode from the split
    * path, contexts are direct `element_at` lookups at the offset —
    * no self-join, fan-out bounded at (steps+1)·2w per walk. Counts
    * partial-aggregate map-side; the k best pairs ride a
    * TakeOrderedAndProject, so the driver never sees more than k rows
    * at any corpus size. */
  def walkSkipgrams(spark: SparkSession, dir: String): DataFrame =
    walkSkipgramsPairs(scPairs(spark, dir))

  private[graft] def walkSkipgramsPairs(e: DataFrame): DataFrame = {
    val (walks, caches) = walkFrontier(e)
    val offs = (-SgWindow to SgWindow).filter(_ != 0)
    val pairs = walks
      .select(split(col("path"), "-").as("p"))
      .select(col("p"), posexplode(col("p")).as(Seq("i0", "center")))
      .select(col("p"), (col("i0") + 1).as("i"), col("center"),
        explode(array(offs.map(lit): _*)).as("off"))
      .where(col("i") + col("off") >= 1 && col("i") + col("off") <= size(col("p")))
      .select(col("center").cast("long").as("center"),
        element_at(col("p"), (col("i") + col("off")).cast("int")).cast("long")
          .as("context"))
    val out = pairs.groupBy("center", "context")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("center"), col("context"))
      .limit(SgTopK)
      .localCheckpoint(true)
    caches.foreach(_.unpersist(false))
    out
  }

  val queries: Map[String, Q] = Map(
    "q_walk_skipgrams" -> (walkSkipgrams _),
    "q_random_walks" -> (randomWalks _),
    "q_modularity" -> (modularity _),
    "q_assortativity" -> (assortativity _),
    "q_closeness" -> (closeness _),
    "q_link_predict" -> (linkPredict _),
    "q_sssp" -> (sssp _),
    "q_pagerank" -> (pageRank _),
    "q_ppr" -> (personalizedPageRank _),
    "q_hits" -> (hits _),
    "q_triangles" -> (triangleCensus _),
    "q_bfs_layers" -> (bfsLayers _),
    "q_label_prop" -> (labelProp _),
    "q_connected_components" -> (connectedComponents _),
    "q_kcore" -> (kCore _))

  /** Shared CTE chain replaying [[walkFrontier]]: bipartite edges,
    * sorted-list adjacency, and the [[RwSteps]] unrolled hash-picked
    * hops ending at w{RwSteps}. */
  private lazy val walkCtesSql: String = {
    val steps = (1 to RwSteps).map { t =>
      s"""w$t AS (SELECT walk_id, nxt AS cur, path || '-' || nxt::VARCHAR AS path
         |  FROM (SELECT w.walk_id, w.path,
         |      adj.nbrs[1 + (${hash56Sql(s"w.walk_id::VARCHAR || ':$t:' || w.cur::VARCHAR")}
         |        % len(adj.nbrs))::INT] AS nxt
         |    FROM w${t - 1} w JOIN adj ON adj.src = w.cur))""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT DISTINCT l_suppkey::BIGINT AS s, o_custkey::BIGINT AS c
       |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |ed AS (SELECT s AS src, c + $CustOffset AS dst FROM e
       |  UNION ALL SELECT c + $CustOffset, s FROM e),
       |adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nbrs
       |  FROM ed GROUP BY src),
       |w0 AS (SELECT src * $RwWalksPerNode + k AS walk_id, src AS cur,
       |    src::VARCHAR AS path
       |  FROM adj CROSS JOIN (SELECT unnest(range($RwWalksPerNode)) AS k) ks),
       |$steps""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_random_walks" ->
      s"""WITH $walkCtesSql
         |SELECT CASE WHEN walk_id >= ${CustOffset * RwWalksPerNode} THEN 'cust'
         |    ELSE 'supp' END AS node_type,
         |  count(*)::BIGINT AS n_walks,
         |  count(DISTINCT cur)::BIGINT AS n_terminals,
         |  sum(${hash56Sql("path")}::DECIMAL(38,0))::VARCHAR AS path_hash_sum
         |FROM w$RwSteps GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_walk_skipgrams" -> {
      val offs = (-SgWindow to SgWindow).filter(_ != 0)
        .map(o => s"($o)").mkString(", ")
      s"""WITH $walkCtesSql,
         |sp AS (SELECT string_split(path, '-') AS p FROM w$RwSteps),
         |sg AS (SELECT p[i]::BIGINT AS center, p[i + off]::BIGINT AS context
         |  FROM sp, unnest(range(1, len(p) + 1)) AS u(i),
         |    (VALUES $offs) v(off)
         |  WHERE i + off BETWEEN 1 AND len(p))
         |SELECT center, context, count(*)::BIGINT AS cnt
         |FROM sg GROUP BY center, context
         |ORDER BY cnt DESC, center, context LIMIT $SgTopK""".stripMargin
    },
    "q_modularity" -> {
      val passes = (1 to LpaIters).map { k =>
        s"""c$k AS MATERIALIZED (SELECT ed.v, l.lbl, count(*) AS c
           |  FROM ed JOIN p${k - 1} l ON l.node = ed.u
           |  GROUP BY ed.v, l.lbl),
           |p$k AS MATERIALIZED (SELECT v AS node, lbl FROM (
           |    SELECT v, lbl, row_number() OVER (PARTITION BY v
           |      ORDER BY c DESC, lbl) AS rk FROM c$k) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      val pL = s"p$LpaIters"
      s"""WITH l AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |pw AS MATERIALIZED (SELECT x.p::BIGINT AS a, y.p::BIGINT AS b, count(*) AS w
         |  FROM l x JOIN l y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
         |e0 AS MATERIALIZED (SELECT a, b FROM pw WHERE w >= $KcoreMinW),
         |ed AS MATERIALIZED (SELECT a AS v, b AS u FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |p0 AS (SELECT DISTINCT v AS node, v AS lbl FROM ed),
         |$passes,
         |mm AS (SELECT count(*)::HUGEINT AS m FROM e0),
         |sizes AS (SELECT lbl, count(*)::BIGINT AS n_members FROM $pL GROUP BY lbl),
         |intra AS (SELECT la.lbl, count(*)::BIGINT AS e_c FROM e0
         |  JOIN $pL la ON la.node = e0.a JOIN $pL lb ON lb.node = e0.b
         |  WHERE la.lbl = lb.lbl GROUP BY la.lbl),
         |degs AS (SELECT l2.lbl, count(*)::BIGINT AS d_c FROM ed
         |  JOIN $pL l2 ON l2.node = ed.v GROUP BY l2.lbl),
         |per AS (SELECT s.lbl AS community, s.n_members,
         |    coalesce(i.e_c, 0)::BIGINT AS e_c, coalesce(d.d_c, 0)::BIGINT AS d_c
         |  FROM sizes s LEFT JOIN degs d ON d.lbl = s.lbl
         |  LEFT JOIN intra i ON i.lbl = s.lbl),
         |q AS (SELECT ((sum(4 * (SELECT m FROM mm) * e_c)
         |    - sum(d_c::HUGEINT * d_c)) * 1000000)
         |    // (4 * (SELECT m FROM mm) * (SELECT m FROM mm)) AS q FROM per)
         |SELECT community, n_members, e_c, d_c,
         |  ((4 * (SELECT m FROM mm) * e_c - d_c::HUGEINT * d_c) * 1000000
         |    // (4 * (SELECT m FROM mm) * (SELECT m FROM mm)))::BIGINT
         |    AS contrib_micro,
         |  (SELECT q FROM q)::BIGINT AS q_micro
         |FROM per ORDER BY n_members DESC, community LIMIT 10""".stripMargin
    },
    "q_assortativity" ->
      """WITH e AS (SELECT DISTINCT l_suppkey::BIGINT AS s, o_custkey::BIGINT AS c
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |mix AS (SELECT s_nationkey AS sn, c_nationkey AS cn,
        |    count(*)::BIGINT AS k
        |  FROM e JOIN supplier ON s = s_suppkey JOIN customer ON c = c_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT sn AS i, sum(k)::BIGINT AS row_k FROM mix GROUP BY sn),
        |cc AS (SELECT cn AS i, sum(k)::BIGINT AS col_k FROM mix GROUP BY cn),
        |ab AS (SELECT sum(row_k::HUGEINT * col_k) AS sum_ab
        |  FROM r JOIN cc USING (i)),
        |d AS (SELECT sum(k)::BIGINT AS m,
        |    sum(CASE WHEN sn = cn THEN k ELSE 0 END)::BIGINT AS same_nation
        |  FROM mix)
        |SELECT m, same_nation, sum_ab::BIGINT AS sum_ab,
        |  (CASE WHEN m::HUGEINT * m - sum_ab = 0 THEN NULL
        |    ELSE ((same_nation::HUGEINT * m - sum_ab) * 1000000)
        |      // (m::HUGEINT * m - sum_ab) END)::BIGINT AS r_micro
        |FROM d CROSS JOIN ab""".stripMargin,
    "q_closeness" -> {
      val layers = (1 to CloseHops).map { k =>
        s"""d$k AS (SELECT seed, node, min(dist)::BIGINT AS dist FROM (
           |  SELECT seed, node, dist FROM d${k - 1}
           |  UNION ALL
           |  SELECT p.seed, ed.dst AS node, $k AS dist
           |  FROM ed JOIN d${k - 1} p ON ed.src = p.node AND p.dist = ${k - 1}
           |) GROUP BY seed, node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT l_suppkey::BIGINT AS s, o_custkey::BIGINT AS c
         |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |ed AS (SELECT s AS src, c + $CustOffset AS dst FROM e
         |  UNION ALL SELECT c + $CustOffset, s FROM e),
         |seeds AS (SELECT DISTINCT src AS seed FROM ed
         |  WHERE src < $CustOffset AND src % $BfsSeedMod = 1
         |  ORDER BY seed LIMIT $CloseSeeds),
         |d0 AS (SELECT seed, seed AS node, 0::BIGINT AS dist FROM seeds),
         |$layers
         |SELECT seed, count(*)::BIGINT AS n_reached,
         |  sum(CASE WHEN dist >= 1 THEN 1000000 // dist ELSE 0 END)::BIGINT
         |    AS harmonic_micro,
         |  sum(dist)::BIGINT AS sum_dist
         |FROM d$CloseHops GROUP BY seed ORDER BY seed""".stripMargin
    },
    "q_link_predict" ->
      s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT l_suppkey::BIGINT AS s, o_custkey::BIGINT AS c
         |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |keepc AS (SELECT c FROM e0 GROUP BY c HAVING count(*) <= $LinkPredMaxDeg),
         |e AS MATERIALIZED (SELECT s, c FROM e0 SEMI JOIN keepc USING (c)),
         |deg AS (SELECT s, count(*) AS d FROM e GROUP BY s),
         |cm AS (SELECT x.s AS a, y.s AS b, count(*)::BIGINT AS common
         |  FROM e x JOIN e y ON x.c = y.c AND x.s < y.s GROUP BY 1, 2)
         |SELECT cm.a, cm.b, cm.common,
         |  (cm.common * 1000000 // (da.d + db.d - cm.common))::BIGINT AS jaccard_ppm
         |FROM cm JOIN deg da ON da.s = cm.a JOIN deg db ON db.s = cm.b
         |ORDER BY cm.common DESC, jaccard_ppm DESC, cm.a, cm.b
         |LIMIT $LinkPredTopK""".stripMargin,
    "q_sssp" -> {
      val rounds = (1 to SsspPasses).map { k =>
        s"""d$k AS MATERIALIZED (SELECT node, min(dist)::BIGINT AS dist FROM (
           |  SELECT node, dist FROM d${k - 1}
           |  UNION ALL
           |  SELECT ed.dst AS node, p.dist + ed.w
           |  FROM ed JOIN d${k - 1} p ON ed.src = p.node
           |) GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS MATERIALIZED (SELECT l_suppkey::BIGINT AS s, o_custkey::BIGINT AS c,
         |    min(round(l_extendedprice * 100)::BIGINT) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
         |ed AS MATERIALIZED (SELECT s AS src, c + $CustOffset AS dst, w FROM w
         |  UNION ALL SELECT c + $CustOffset, s, w FROM w),
         |d0 AS (SELECT min(s) AS node, 0::BIGINT AS dist FROM w),
         |$rounds
         |SELECT CASE WHEN node >= $CustOffset THEN 'cust' ELSE 'supp' END AS node_type,
         |  CASE WHEN node >= $CustOffset THEN node - $CustOffset ELSE node END AS node_id,
         |  dist AS dist_cents
         |FROM d$SsspPasses
         |ORDER BY dist_cents, node_type, node_id LIMIT $SsspTopK""".stripMargin
    },
    "q_connected_components" ->
      s"""WITH l AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |pw AS MATERIALIZED (SELECT x.p::BIGINT AS a, y.p::BIGINT AS b, count(*) AS w
         |  FROM l x JOIN l y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
         |e0 AS MATERIALIZED (SELECT a, b FROM pw WHERE w >= $KcoreMinW),
         |edges AS (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |cc AS (WITH RECURSIVE r(id, lbl) AS (
         |    SELECT DISTINCT src, src FROM edges
         |    UNION
         |    SELECT e.dst, r.lbl FROM r JOIN edges e ON e.src = r.id)
         |  SELECT id, min(lbl) AS comp FROM r GROUP BY id),
         |sizes AS (SELECT comp, count(*) AS csize FROM cc GROUP BY comp)
         |SELECT csize, count(*) AS n_components,
         |  (csize * count(*))::BIGINT AS n_nodes,
         |  sum(comp)::BIGINT AS sum_labels
         |FROM sizes GROUP BY csize ORDER BY csize""".stripMargin,
    "q_label_prop" -> {
      val passes = (1 to LpaIters).map { k =>
        s"""c$k AS MATERIALIZED (SELECT ed.v, l.lbl, count(*) AS c
           |  FROM ed JOIN p${k - 1} l ON l.node = ed.u
           |  GROUP BY ed.v, l.lbl),
           |p$k AS MATERIALIZED (SELECT v AS node, lbl FROM (
           |    SELECT v, lbl, row_number() OVER (PARTITION BY v
           |      ORDER BY c DESC, lbl) AS rk FROM c$k) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH l AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |pw AS MATERIALIZED (SELECT x.p::BIGINT AS a, y.p::BIGINT AS b, count(*) AS w
         |  FROM l x JOIN l y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
         |e0 AS MATERIALIZED (SELECT a, b FROM pw WHERE w >= $KcoreMinW),
         |ed AS MATERIALIZED (SELECT a AS v, b AS u FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |p0 AS (SELECT DISTINCT v AS node, v AS lbl FROM ed),
         |$passes
         |SELECT lbl AS community, count(*)::BIGINT AS n_members
         |FROM p$LpaIters GROUP BY lbl
         |ORDER BY n_members DESC, community LIMIT 20""".stripMargin
    },
    "q_hits" -> {
      val iters = (1 to HitsIters).map { k =>
        s"""a${k}r AS (SELECT c, sum(h) AS ar
           |  FROM e JOIN h${k - 1} USING (s) GROUP BY c),
           |a$k AS (SELECT c, ((ar::HUGEINT * $HitsScale)
           |    // (SELECT sum(ar) FROM a${k}r))::BIGINT AS a FROM a${k}r),
           |h${k}r AS (SELECT s, sum(a) AS hr
           |  FROM e JOIN a$k USING (c) GROUP BY s),
           |h$k AS (SELECT s, ((hr::HUGEINT * $HitsScale)
           |    // (SELECT sum(hr) FROM h${k}r))::BIGINT AS h FROM h${k}r)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT l_suppkey::BIGINT AS s, o_custkey::BIGINT AS c
         |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |ns AS (SELECT count(DISTINCT s) AS n FROM e),
         |h0 AS (SELECT DISTINCT s, $HitsScale // n AS h FROM e CROSS JOIN ns),
         |$iters
         |SELECT role, node_id, score_units FROM (
         |  SELECT 'hub' AS role, s AS node_id, h AS score_units
         |  FROM h$HitsIters ORDER BY h DESC, s LIMIT $HitsTopK)
         |UNION ALL
         |SELECT role, node_id, score_units FROM (
         |  SELECT 'authority' AS role, c AS node_id, a AS score_units
         |  FROM a$HitsIters ORDER BY a DESC, c LIMIT $HitsTopK)
         |ORDER BY role, score_units DESC, node_id""".stripMargin
    },
    "q_ppr" -> {
      val iters = (1 to PrIters).map { k =>
        s"""c$k AS (SELECT ed.dst, sum(((r${k - 1}.r * 85) // 100) // deg.d) AS rc
           |  FROM ed JOIN r${k - 1} ON ed.src = r${k - 1}.node
           |  JOIN deg ON ed.src = deg.src
           |  GROUP BY ed.dst),
           |r$k AS (SELECT coalesce(c$k.dst, sd.node) AS node,
           |  (coalesce(rc, 0) + coalesce(b, 0))::BIGINT AS r
           |  FROM c$k FULL OUTER JOIN sd ON c$k.dst = sd.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT l_suppkey::BIGINT AS s, o_custkey::BIGINT AS c
         |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |ed AS (SELECT s AS src, c + $CustOffset AS dst FROM e
         |  UNION ALL SELECT c + $CustOffset, s FROM e),
         |deg AS (SELECT src, count(*) AS d FROM ed GROUP BY src),
         |seeds AS (SELECT DISTINCT s AS node FROM e WHERE s % $PprSeedMod = 0),
         |n2 AS (SELECT count(*) AS ns FROM seeds),
         |sd AS (SELECT node, (${PrScale * 15L / 100L} // ns) AS b
         |  FROM seeds CROSS JOIN n2),
         |r0 AS (SELECT node, $PrScale // ns AS r FROM seeds CROSS JOIN n2),
         |$iters
         |SELECT CASE WHEN node >= $CustOffset THEN 'cust' ELSE 'supp' END
         |    AS node_type,
         |  CASE WHEN node >= $CustOffset THEN node - $CustOffset ELSE node END
         |    AS node_id,
         |  r AS ppr_units
         |FROM r$PrIters
         |ORDER BY ppr_units DESC, node_type, node_id LIMIT 20""".stripMargin
    },
    "q_pagerank" -> {
      val iters = (1 to PrIters).map { k =>
        s"""c$k AS (SELECT ed.dst, sum(((r${k - 1}.r * 85) // 100) // deg.d) AS rc
           |  FROM ed JOIN r${k - 1} ON ed.src = r${k - 1}.node
           |  JOIN deg ON ed.src = deg.src
           |  GROUP BY ed.dst),
           |r$k AS (SELECT c$k.dst AS node,
           |  ((${PrScale * 15L / 100L} // nn) + rc)::BIGINT AS r
           |  FROM c$k CROSS JOIN n)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT l_suppkey::BIGINT AS s, o_custkey::BIGINT AS c
         |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |ed AS (SELECT s AS src, c + $CustOffset AS dst FROM e
         |  UNION ALL SELECT c + $CustOffset, s FROM e),
         |deg AS (SELECT src, count(*) AS d FROM ed GROUP BY src),
         |n AS (SELECT count(*) AS nn FROM deg),
         |r0 AS (SELECT src AS node, $PrScale // nn AS r FROM deg CROSS JOIN n),
         |$iters
         |SELECT CASE WHEN node >= $CustOffset THEN 'cust' ELSE 'supp' END
         |    AS node_type,
         |  CASE WHEN node >= $CustOffset THEN node - $CustOffset ELSE node END
         |    AS node_id,
         |  r AS rank_units
         |FROM r$PrIters
         |ORDER BY rank_units DESC, node_type, node_id LIMIT 20""".stripMargin
    },
    "q_triangles" ->
      """WITH l AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pr AS (SELECT DISTINCT x.p::BIGINT AS a, y.p::BIGINT AS b
        |  FROM l x JOIN l y ON x.o = y.o AND x.p < y.p),
        |deg AS (SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM pr UNION ALL SELECT b FROM pr) GROUP BY v),
        |tri AS (SELECT count(*) AS t FROM pr e1
        |  JOIN pr e2 ON e2.a = e1.b
        |  JOIN pr e3 ON e3.a = e1.a AND e3.b = e2.b),
        |st AS (SELECT count(*) AS n, sum(d::HUGEINT * (d - 1)) AS wd2 FROM deg)
        |SELECT st.n::BIGINT AS n_nodes,
        |  (SELECT count(*) FROM pr)::BIGINT AS n_edges,
        |  tri.t::BIGINT AS n_triangles,
        |  (st.wd2 // 2)::DECIMAL(38,0)::VARCHAR AS n_wedges,
        |  (CASE WHEN st.wd2 = 0 THEN 0
        |    ELSE (6 * tri.t::HUGEINT * 1000000) // st.wd2 END)::BIGINT AS global_cc_micro
        |FROM st CROSS JOIN tri""".stripMargin,
    "q_kcore" -> {
      val peels = (1 to KcorePasses).map { p =>
        s"""k$p AS MATERIALIZED (SELECT v FROM (
           |    SELECT a AS v FROM e${p - 1} UNION ALL SELECT b FROM e${p - 1})
           |  GROUP BY v HAVING count(*) >= $KcoreK),
           |e$p AS MATERIALIZED (SELECT a, b FROM e${p - 1}
           |  WHERE a IN (SELECT v FROM k$p) AND b IN (SELECT v FROM k$p))"""
          .stripMargin
      }.mkString(",\n")
      val trace = (0 to KcorePasses).map { p =>
        s"""SELECT CAST($p AS INT) AS pass,
           |  (SELECT count(DISTINCT v) FROM (
           |    SELECT a AS v FROM e$p UNION ALL SELECT b FROM e$p))::BIGINT AS n_nodes,
           |  (SELECT count(*) FROM e$p)::BIGINT AS n_edges""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH l AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |pw AS MATERIALIZED (SELECT x.p::BIGINT AS a, y.p::BIGINT AS b, count(*) AS w
         |  FROM l x JOIN l y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
         |e0 AS MATERIALIZED (SELECT a, b FROM pw WHERE w >= $KcoreMinW),
         |$peels
         |$trace
         |ORDER BY pass""".stripMargin
    },
    "q_bfs_layers" -> {
      val layers = (1 to BfsHops).map { k =>
        s"""d$k AS (SELECT node, min(dist)::BIGINT AS dist FROM (
           |  SELECT node, dist FROM d${k - 1}
           |  UNION ALL
           |  SELECT ed.dst AS node, $k AS dist
           |  FROM ed JOIN d${k - 1} p ON ed.src = p.node AND p.dist = ${k - 1}
           |) GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT l_suppkey::BIGINT AS s, o_custkey::BIGINT AS c
         |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |ed AS (SELECT s AS src, c + $CustOffset AS dst FROM e
         |  UNION ALL SELECT c + $CustOffset, s FROM e),
         |d0 AS (SELECT DISTINCT src AS node, 0::BIGINT AS dist FROM ed
         |  WHERE src < $CustOffset AND src % $BfsSeedMod = 1),
         |$layers
         |SELECT dist, count(*)::BIGINT AS n_nodes FROM d$BfsHops
         |GROUP BY dist ORDER BY dist""".stripMargin
    })
}
