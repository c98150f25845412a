package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Stages

/** Iterative link analysis over plain (src, dst) edge lists — the graph
  * layer a curation pipeline builds ON TOP of the kNN /near-dup
  * machinery (centrality over [[Similarity.knnGraph]] edges ranks
  * "representative" documents in embedding space; the same scores
  * drive graph-based data selection).
  *
  * Deliberately DataFrame-shaped, not a graph framework: each PageRank
  * iteration is one hash equi-join (ranks × edges on src) plus one
  * hash aggregation (contributions by dst) — the exact shape Spark
  * already scales (map-side partial sums, AQE-handled skew). Lineage is
  * truncated per iteration with [[Stages.stage]], so
  * the plan stays iteration-sized instead of growing by one join+agg
  * per round; at cluster scale you'd pre-bucket the staged edge list by
  * `src` so the per-iteration join is co-located.
  *
  * Determinism contract (what makes it oracle-checkable): ranks are
  * rounded to 9 decimals after EVERY iteration — both engines then feed
  * bit-identical inputs into the next round, and the ≤1e-15
  * summation-order skew of a single iteration's Σ(rank/outdeg) can
  * never reach the 9th decimal. Final output rounds to the repo-wide 6.
  */
object Graph {

  /** Damped PageRank, `iters` synchronous rounds from a uniform 1/N
    * start. Node set = src ∪ dst (a dst-only node — possible on
    * general edge lists, never on a kNN graph — keeps receiving rank
    * but contributes none; dangling mass is NOT redistributed, and the
    * DuckDB oracle mirrors exactly that).
    * Output: (node, pagerank), one row per node. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5, damping: Double = 0.85): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, None, iters, damping)

  /** PageRank with edge weights: a node's outflow splits ∝ weight
    * instead of uniformly (on a [[Similarity.knnGraph]] the natural
    * weight is `cos_sim` — strong neighbors inherit more rank, weak
    * tail edges almost none). Per-source weight sums are rounded to 9
    * decimals so the per-edge transition probabilities — the inputs to
    * the next iteration — are bit-identical across engines; weights
    * must be non-negative with a positive per-source sum. */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iters: Int = 5,
                       damping: Double = 0.85): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, Some(weightCol), iters, damping)

  /** Personalized PageRank (random walk with restart): the teleport
    * mass lands ONLY on `seeds` — rank measures proximity to the seed
    * set, the "expand from curated seed documents" selection score.
    * Seeds: one column of node ids (deduped; ids absent from the graph
    * contribute nothing). Start vector = uniform over seeds∩nodes. Same
    * per-iteration join+agg shape and 9-decimal rounding as
    * [[pageRank]]; the seed membership flag rides the node frame as one
    * broadcast-joined bit. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int = 5, damping: Double = 0.85): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, None, iters, damping,
      Some(seeds.select(col(seedCol).as("node")).distinct()))

  /** Exact triangle counting + local clustering coefficients over an
    * edge list treated as UNDIRECTED (direction and duplicates
    * collapse to canonical a<b pairs; self-loops dropped). On a kNN
    * graph the coefficient separates tight near-dup clusters
    * (neighbors-of-neighbors interconnect, coeff → 1) from hub-like
    * boilerplate nodes (high degree, sparse neighborhoods).
    *
    * Compact-forward algorithm as three hash equi-joins: canonical
    * edges sharing their LOWER endpoint form wedges (b, c | a, b<c),
    * closed by an equi-probe of (b, c) against the edge list — each
    * triangle a<b<c counted exactly once. Wedge fan-out is
    * Σ_a lowdeg(a)², bounded by k²·n on a k-NN graph, never n²; the
    * b<c residual rides an a=a equi-join, so no nested loop anywhere.
    * Integer counts end to end; the coefficient 2T/(d(d−1)) is one
    * exact-integer division rounded to 6 (null for degree < 2).
    * Output: (node, degree, n_triangles, clustering_coeff). */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = Stages.stage(edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct())
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val wedges = und.as("w1")
      .join(und.as("w2"),
        col("w1.a") === col("w2.a") && col("w1.b") < col("w2.b"))
      .select(col("w1.a").as("a"), col("w1.b").as("b"), col("w2.b").as("c"))
      .as("w")
    val tri = wedges
      .join(und.as("e"),
        col("w.b") === col("e.a") && col("w.c") === col("e.b"))
      .select(col("w.a").as("a"), col("w.b").as("b"), col("w.c").as("c"))
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round((lit(2) * coalesce(col("n_triangles"), lit(0L))).cast("double") /
            (col("degree") * (col("degree") - 1)), 6)).as("clustering_coeff"))
  }

  /** Common-neighbor link prediction over an edge list treated as
    * UNDIRECTED (direction/duplicates collapse, self-loops dropped):
    * for every NON-adjacent pair (u, v) sharing at least `minCommon`
    * neighbors, emit the common-neighbor count and the neighborhood
    * Jaccard cn / (deg(u) + deg(v) − cn). On a kNN graph this is the
    * "missing near-dup edge" detector — two documents whose
    * neighborhoods interlock but whose own edge fell below k are the
    * first candidates for cluster merging (and the classic
    * link-prediction baseline, Liben-Nowell & Kleinberg 2003).
    *
    * One self-join of the doubled adjacency list on the SHARED
    * neighbor (u < v keeps each pair once), so each (u, v, x) wedge is
    * produced exactly once and fan-out is Σ_x deg(x)² — k²·n on a kNN
    * graph, never n². The `minCommon` filter runs on the counted
    * aggregate BEFORE the degree joins and the adjacency anti-join, so
    * the expensive joins see only the surviving pairs. Integer counts;
    * the Jaccard is one exact-integer division rounded to 6.
    * Output: (u, v, common_neighbors, jaccard), u < v. */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     minCommon: Int = 2): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val und = Stages.stage(edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct())
    val adj = Stages.stage(
      und.select(col("a").as("u"), col("b").as("x"))
        .unionAll(und.select(col("b").as("u"), col("a").as("x"))))
    val deg = adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("degree"))
    val cn = adj.as("l")
      .join(adj.as("r"), col("l.x") === col("r.x") && col("l.u") < col("r.u"))
      .groupBy(col("l.u").as("u"), col("r.u").as("v"))
      .agg(count(lit(1)).as("common_neighbors"))
      .filter(col("common_neighbors") >= minCommon)
    val open = cn.join(und,
      cn("u") === und("a") && cn("v") === und("b"), "left_anti")
    open
      .join(deg.select(col("node").as("u"), col("degree").as("__du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("degree").as("__dv")), Seq("v"))
      .select(col("u"), col("v"), col("common_neighbors"),
        round(col("common_neighbors").cast("double") /
          (col("__du") + col("__dv") - col("common_neighbors")), 6).as("jaccard"))
  }

  /** k-core peeling over an edge list treated as UNDIRECTED: `rounds`
    * synchronous peel steps, each dropping every node whose CURRENT
    * degree is below k (and the edges touching it). The surviving
    * subgraph after enough rounds is the k-core — on a kNN graph the
    * dense near-dup cluster interiors, with hub/satellite fringe
    * peeled away (the density-based companion of gr04's clustering
    * coefficient).
    *
    * `rounds` is a fixed synchronous budget — the same mirrorable
    * contract as PageRank's iteration count (an unbounded
    * peel-to-fixpoint cannot be expressed as layered SQL; on
    * bounded-degree graphs the fixpoint is reached in a handful of
    * rounds, and a run where round `rounds` still peeled nodes is
    * detectable from the output degrees). Per round: one degree
    * aggregation + two semi-joins against the surviving node set —
    * integer counts end to end, lineage truncated per round.
    * Output: (node, core_degree) for nodes surviving all rounds,
    * with their degree INSIDE the surviving subgraph. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var und = Stages.stage(edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct())
    for (_ <- 1 to rounds) {
      val keep = und.select(col("a").as("node"))
        .unionAll(und.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select(col("node"))
      und = Stages.stage(und
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi"))
    }
    und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
  }

  /** Multi-source BFS hop distances: `maxHops` synchronous frontier
    * rounds over a DIRECTED edge list; dist(v) = length of the
    * shortest edge path from ANY seed (0 for seeds), reported only
    * for nodes reached within `maxHops`. The curation-radius
    * primitive over [[Similarity.knnGraph]]: which documents sit
    * within h hops of a curated seed set (seed expansion /
    * contamination blast-radius).
    *
    * Pregel-shaped but frontier-sized: each round hash-equi-joins
    * only the NEWLY settled nodes against the staged edge list (on
    * src), anti-joins the already-settled set, and admits survivors
    * at distance h — work per round is O(frontier·outdeg), total
    * O(edges of the reached subgraph), never nodes × rounds. An
    * empty frontier makes remaining rounds no-ops over empty staged
    * frames. Integer distances end to end — no float drift, so no
    * rounding contract is needed; lineage is truncated per round
    * like the PageRank loop. Output: (node, hops). */
  def hopDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String,
                   maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val e = Stages.stage(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    var settled = Stages.stage(
      seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("hops", lit(0)))
    var frontier = settled
    for (h <- 1 to maxHops) {
      val reached = frontier.select(col("node").as("src"))
        .join(e, Seq("src"))
        .select(col("dst").as("node")).distinct()
      frontier = Stages.stage(
        reached.join(settled, Seq("node"), "left_anti")
          .withColumn("hops", lit(h)))
      settled = Stages.stage(settled.unionAll(frontier))
    }
    settled
  }

  /** Semi-supervised label propagation: seed nodes carry fixed labels;
    * each synchronous round every OTHER node adopts the majority label
    * of its labeled in-neighbors (ties → smallest label; unlabeled
    * neighbors don't vote; a node with no labeled in-neighbors stays
    * unlabeled this round). The curation classifier over
    * [[Similarity.knnGraph]]: spread a handful of human quality/topic
    * labels through embedding space — the discrete companion of gr03's
    * PPR score (class assignment instead of proximity mass).
    *
    * Determinism contract: votes are integer counts and the argmax
    * tie-break is total ((count desc, label asc)), so every round — and
    * therefore the fixpoint trajectory — is exactly reproducible
    * cross-engine with no rounding contract. Per round: one hash
    * equi-join (labels × edges on src) + one count agg + one argmax agg
    * + a seed-pinning anti-join — all map-side-combinable, lineage
    * truncated per round like the PageRank loop.
    * Output: (node, label) for every node labeled within `iters`. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       seeds: DataFrame, seedNodeCol: String,
                       seedLabelCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = Stages.stage(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    // A node seeded with TWO different labels would silently vote (and
    // be emitted) twice — the same silent-contract class as
    // pageRankWeighted's weight-sum guard. Fail loudly instead.
    val seed = Stages.stage(seeds
      .select(col(seedNodeCol).as("node"), col(seedLabelCol).as("label"))
      .distinct()
      .groupBy(col("node"))
      .agg(min(col("label")).as("__lab"), count(lit(1)).as("__nl"))
      .select(col("node"),
        when(col("__nl") > 1,
          raise_error(format_string(
            "labelPropagation: seed node %s carries %s conflicting labels",
            col("node").cast("string"), col("__nl").cast("string"))))
          .otherwise(col("__lab")).as("label")))
    var lab = seed
    for (_ <- 1 to iters) {
      val votes = lab.select(col("node").as("src"), col("label"))
        .join(e, Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val winners = votes.groupBy(col("node"))
        .agg(min_by(col("label"), struct((-col("__c")).as("nc"), col("label")))
          .as("label"))
      lab = Stages.stage(
        seed.unionAll(winners.join(seed, Seq("node"), "left_anti")))
    }
    lab
  }

  private def pageRankImpl(edges: DataFrame, srcCol: String, dstCol: String,
                           weightCol: Option[String], iters: Int,
                           damping: Double,
                           seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    val e = Stages.stage(edges.select(
      col(srcCol).as("__src") +: col(dstCol).as("__dst") +:
        weightCol.map(w => col(w).cast("double").as("__w")).toSeq: _*))
    val nodes0 = e.select(col("__src").as("node"))
      .unionAll(e.select(col("__dst").as("node"))).distinct()
    // seed flag joined once; nodes carry (node, __seed)
    val nodes = Stages.stage(seeds match {
      case Some(sd) => nodes0
        .join(broadcast(sd.withColumn("__seed", lit(true))), Seq("node"), "left")
        .select(col("node"), coalesce(col("__seed"), lit(false)).as("__seed"))
      case None => nodes0.withColumn("__seed", lit(true))
    })
    // uniform: share = 1/outdeg; weighted: share = w / round(Σw, 9).
    // The weighted denominator must be strictly positive — a zero or
    // negative rounded Σw divides to null/inverted shares that sum()
    // silently drops, deflating rank mass with no error (e.g. a
    // 1+cos_sim weight is exactly 0 at cos_sim = −1). Fail loudly.
    val deg = weightCol match {
      case Some(_) =>
        e.groupBy(col("__src")).agg(round(sum(col("__w")), 9).as("__od0"))
          .select(col("__src"),
            when(col("__od0").isNull || col("__od0") <= 0,
                raise_error(format_string(
                  "pageRankWeighted: per-source weight sum must be > 0 " +
                    "(src=%s, sum=%s)",
                  col("__src").cast("string"), col("__od0").cast("string"))))
              .otherwise(col("__od0")).as("__od"))
      case None => e.groupBy(col("__src")).agg(count(lit(1)).as("__od"))
    }
    // Fold the (static) outflow denominator into the staged edge list
    // ONCE: `deg` never changes across rounds, so joining it inside the
    // loop paid one extra hash join per iteration for nothing. The
    // share expression is untouched (__r * __w / __od term order), so
    // the arithmetic — and the 9-decimal-rounded ranks — are
    // bit-identical to the two-join form.
    val eDeg = Stages.stage(e.join(deg, Seq("__src")))
    val share = weightCol match {
      case Some(_) => col("__r") * col("__w") / col("__od")
      case None => col("__r") / col("__od")
    }
    val n = nodes.count()
    if (n == 0)
      return nodes.select(col("node"), lit(0.0).as("pagerank")).limit(0)
    // teleport base count: all nodes (plain PR) or the in-graph seeds
    val nT = if (seeds.isEmpty) n
             else nodes.filter(col("__seed")).count()
    require(nT > 0, "personalized PageRank needs >= 1 seed present in the graph")
    val teleport = when(col("__seed"), lit((1.0 - damping) / nT))
      .otherwise(lit(0.0))
    var r = nodes.select(col("node"), col("__seed"),
      when(col("__seed"), round(lit(1.0 / nT), 9)).otherwise(lit(0.0)).as("__r"))
    for (_ <- 1 to iters) {
      r = Stages.stage(prRound(eDeg, nodes, r, share, teleport, damping))
    }
    r.select(col("node"), round(col("__r"), 6).as("pagerank"))
  }

  /** One synchronous PageRank round over the denominator-carrying
    * staged edge list: exactly ONE hash equi-join against the rank
    * vector (the outflow denominator rides `eDeg`, pre-joined once
    * outside the loop), one map-side-combined aggregation by `__dst`,
    * and the teleport left-join back onto the node frame.
    * Package-private so PlanSpec can gate the per-iteration join count
    * — the shape that multiplies by `iters` at 100 TB. */
  private[graft] def prRound(eDeg: DataFrame, nodes: DataFrame,
                             r: DataFrame, share: org.apache.spark.sql.Column,
                             teleport: org.apache.spark.sql.Column,
                             damping: Double): DataFrame = {
    val contrib = eDeg
      .join(r.select(col("node").as("__src"), col("__r")), Seq("__src"))
      .groupBy(col("__dst").as("node"))
      .agg(sum(share).as("__m"))
    nodes.join(contrib, Seq("node"), "left")
      .select(col("node"), col("__seed"),
        round(teleport +
          lit(damping) * coalesce(col("__m"), lit(0.0)), 9).as("__r"))
  }

  /** Transitive ancestor closure of a FOREST (each node at most one
    * parent; roots carry a NULL parent): one row per (node, ancestor)
    * pair, self included — the "explode the hierarchy" primitive
    * behind org-chart and bill-of-materials rollups (the recursive-CTE
    * read Spark has no native operator for).
    *
    * Pointer doubling, not per-level climbing: round k extends every
    * node's known ancestor PATH by the path already known at its
    * frontier ancestor, so `rounds` joins cover any depth BELOW
    * 2^rounds (the frontier pointer — the convergence witness — nulls
    * out one round after the path completes, so depth ≤ 2^rounds - 1;
    * 63 at the default, deeper than any real hierarchy) instead of one
    * join per level. Each round is ONE self-join keyed by the frontier
    * id; state per node is its ancestor path, O(depth) ids — never
    * corpus-sized. A parent id with no node row is treated as a root
    * boundary (the path stops there, keeping the known prefix).
    * Raises if any frontier survives `rounds` doublings — depth ≥
    * 2^rounds, or a cycle (a cycle is unbounded depth). */
  def ancestorClosure(edges: DataFrame, childCol: String, parentCol: String,
                      rounds: Int = 6): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1,16] (depth 2^rounds), got $rounds")
    val empty = typedLit(Seq.empty[Long])
    var st = edges.select(
      col(childCol).cast("long").as("node"),
      when(col(parentCol).isNotNull, array(col(parentCol).cast("long")))
        .otherwise(empty).as("path"),
      col(parentCol).cast("long").as("top"))
    for (_ <- 1 to rounds) {
      // stage() per round: each doubling reads the previous state
      // TWICE (as probe and as build side) — without truncation the
      // plan itself would double per round (2^rounds scans).
      st = Stages.stage(st)
      val other = st.select(col("node").as("__onode"),
        col("path").as("__opath"), col("top").as("__otop"))
      st = st.join(other, st("top") === other("__onode"), "left")
        .select(col("node"),
          concat(col("path"), coalesce(col("__opath"), empty)).as("path"),
          col("__otop").as("top"))
    }
    if (!st.filter(col("top").isNotNull).isEmpty)
      throw new IllegalStateException(
        s"hierarchy deeper than 2^$rounds or cyclic — raise `rounds`")
    st.select(col("node"), explode(col("path")).as("anc"))
      .unionByName(edges.select(col(childCol).cast("long").as("node"),
        col(childCol).cast("long").as("anc")))
  }

  /** Hierarchical subtree rollup over a forest: for every node, the
    * count of nodes in its subtree (self included) and the
    * money-rounded sum of `valueCol` over that subtree — computed as
    * [[ancestorClosure]] (N×depth pairs, linear-with-a-log-factor,
    * never a per-level shuffle chain) followed by ONE node-keyed value
    * join and ONE hash aggregation on the ancestor id.
    *
    * Phantom ancestors: a parent id that has no child row of its own
    * (present only in `parentCol` — a root recorded implicitly) STILL
    * gets a rollup row, aggregating its descendants' values; but since
    * it has no row in `values` under its own id, its OWN value is not
    * part of its `subtree_total` and it does not count itself in
    * `n_desc`. BOM-style consumers who store a value for every node
    * should materialize explicit root rows (NULL parent) instead of
    * relying on implicit ones. Behavior is pinned by GraphSpec. */
  def subtreeRollup(edges: DataFrame, childCol: String, parentCol: String,
                    values: DataFrame, nodeCol: String, valueCol: String,
                    rounds: Int = 6): DataFrame =
    ancestorClosure(edges, childCol, parentCol, rounds)
      .join(values.select(col(nodeCol).cast("long").as("node"),
        col(valueCol).as("__v")), Seq("node"))
      .groupBy(col("anc").as("node"))
      .agg(count(lit(1)).as("n_desc"),
        round(sum(col("__v").cast("decimal(18,2)")).cast("double"), 2)
          .as("subtree_total"))
}
