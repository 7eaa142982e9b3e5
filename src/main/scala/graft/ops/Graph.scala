package graft.ops

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms as bounded rounds of co-partitioned joins —
  * the Pregel-style "think like a vertex" pattern expressed relationally
  * (SURVEY.md §2.7 graph family; connected components lives in
  * [[Dedup.connectedComponents]] next to its dup-cluster use case).
  *
  * Scale posture (100 TB): every round is ONE join of the rank frame
  * against the edge frame on the same key (AQE co-partitions the repeated
  * shuffle), a map-side-combinable sum, and a left join back to the node
  * set; per-round state is 16 bytes/node. No adjacency lists are ever
  * collected, no driver-side graph exists, and lineage is cut per round so
  * the plan stays O(1) deep regardless of iteration count.
  */
object Graph {

  /** PageRank in EXACT integer parts-per-million — every engine-dependent
    * float fold is eliminated, so an iteration count fixed up front yields
    * bit-identical ranks on any engine that can floor-divide (the property
    * the cross-engine oracle certifies).
    *
    * Semantics per round, all in bigint ppm (initial rank 1 000 000):
    *   rank'(v) = (10⁶ − damping) + damping · Σ_{u→v} (rank(u) div outdeg(u)) div 10⁶
    * Dangling mass (nodes with no out-edges) evaporates rather than
    * redistributing — documented, deterministic, and the common choice when
    * the damping term already guarantees convergence.
    *
    * @param nodes single-column frame of vertex ids (column `node`)
    * @param edges two-column frame (`src`, `dst`); parallel edges should be
    *              de-duplicated upstream if unweighted semantics are wanted
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 5,
               dampingPpm: Long = 850000L): DataFrame = {
    val basePpm = 1000000L - dampingPpm
    val e = Materialize.once(edges, "pageRank degree agg + degree join")
    val n = Materialize.once(nodes.select(col("node")), "pageRank rounds")
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = Materialize.once(e.join(deg, "src"), "pageRank rounds")
    var ranks = n.select(col("node"), lit(1000000L).as("rank_ppm"))
    for (_ <- 1 to iters) {
      val contrib = ranks
        .join(withDeg, ranks("node") === withDeg("src"))
        .select(col("dst").as("node"), expr("rank_ppm DIV outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      ranks = Materialize.once(n
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(basePpm) +
            expr(s"($dampingPpm * coalesce(s, 0L)) DIV 1000000")).as("rank_ppm")),
        "pageRank next round")
    }
    ranks
  }

  /** Triangle count + local clustering coefficient per node over an
    * undirected pair graph — the density signal that separates a tight
    * duplicate clique (every pair near-dup, cc→1) from a star-shaped
    * template family (one hub matching many spokes that don't match each
    * other, cc→0), which connected components alone cannot see.
    *
    * Algorithm: degree orientation (Schank–Wagner / Suri–Vassilvitskii).
    * Each edge is oriented from its lower-(degree, id) endpoint to the
    * higher; every triangle then has exactly one apex with two out-edges,
    * so wedges built from out-edge pairs joined back against the oriented
    * edge set count each triangle exactly once. The wedge fan-out per node
    * is bounded by its OUT-degree, which degree orientation caps at
    * O(√m) on any graph (arboricity bound) — the reason this survives
    * power-law skew at 100 TB where a naive undirected wedge join on a hub
    * node explodes quadratically. Three co-partitioned hash joins total;
    * the coefficient is exact integer ppm (`2·10⁶·t div d(d−1)`), so the
    * cross-engine oracle matches bit-for-bit.
    *
    * @param pairs two-column frame (`id_a`, `id_b`), one row per undirected
    *              edge with `id_a < id_b` (the [[Dedup.ngramJaccardPairs]]
    *              contract); duplicates are dropped defensively
    * @return (node, degree, triangles, cc_ppm), one row per node with ≥ 1 edge
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val e = Materialize.once(
      pairs.select(col("id_a").as("a"), col("id_b").as("b")).distinct(),
      "triangleCounts degree + wedge sides")
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val oriented = Materialize.once(e
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("b")).otherwise(col("a")).as("dst")),
      "triangleCounts wedges + closing join")
    // wedges carry both (v,w) orders; the oriented v–w edge exists in
    // exactly one of them, so the join matches each triangle once
    val wedges = oriented.select(col("src"), col("dst").as("v"))
      .join(oriented.select(col("src"), col("dst").as("w")), "src")
      .filter(col("v") =!= col("w"))
    val tri = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val perNode = tri
      .select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          expr("(2000000 * coalesce(triangles, 0L)) DIV (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("cc_ppm"))
  }

  /** k-core decomposition (fixed k): the maximal subgraph in which every
    * node keeps degree ≥ k, found by iterative peeling — drop every node
    * whose degree within the surviving set is < k, recompute, repeat to
    * fixpoint. On a duplicate-pair graph the 2-core separates genuinely
    * interlinked duplicate families from chains and stars that components
    * merge indistinguishably (a star hub survives, its degree-1 spokes
    * peel away); the standard cohesion primitive next to
    * [[triangleCounts]].
    *
    * Each peel is one co-partitioned edge⋈nodes join + a map-side-combined
    * degree count — never an adjacency collect. The FIRST peel needs no
    * node-join at all (every endpoint is trivially present), so it is a
    * plain degree aggregation over the edge frame — the two most expensive
    * joins of the old shape (full edge set ⋈ full node set, twice) never
    * happen. The loop then runs SINGLE-peel rounds, each lazily
    * checkpointed, but probes the count only every SECOND peel: the count
    * action was the round-serial cost, so pairing probes halves the action
    * overhead, while per-peel checkpoints keep the un-checkpointed plan
    * segment one peel deep (round 8 showed a two-peel-deep segment costs
    * MORE than the action it saves — AQE can't size the inner node frame,
    * so the second peel's joins can't broadcast the shrunken set).
    * Monotone shrink means "count unchanged across a double peel" still
    * certifies the fixpoint, and the last probe's recomputed degree IS the
    * in-core degree (the confirming probe removes nothing). `maxRounds`
    * bounds the number of SHRINKING peels only; the confirming probe is
    * free, so a graph whose peel fixpoint lands exactly on round
    * `maxRounds` converges instead of throwing (the round-7 ADVICE
    * off-by-one). If the set still shrinks beyond `maxRounds` effective
    * peels, THROWS rather than returning a not-yet-core set. Peel depth is
    * data-dependent but tiny on dup graphs (a path of length L needs L/2
    * rounds — the spec pins that pathology).
    *
    * @param pairs undirected edges (`id_a`, `id_b`), `id_a < id_b`
    * @param uniquePairs caller asserts `pairs` is already duplicate-free
    *   with the `id_a < id_b` invariant (true for every blocked-pair
    *   producer in [[Dedup]], which all end in a groupBy on the pair) —
    *   the two symmetrized branches are then provably disjoint and the
    *   dedup shuffle over the full edge frame is skipped entirely
    * @return (id, deg) — the k-core members with their in-core degree
    */
  def kCore(pairs: DataFrame, k: Int, maxRounds: Int = 8,
            uniquePairs: Boolean = false): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val p = Materialize.once(pairs.select(col("id_a"), col("id_b")),
      "kCore symmetrizing union")
    val symRaw = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    val sym = Materialize.once(if (uniquePairs) symRaw else symRaw.distinct(),
      "kCore peels")
    def peel(nodes: DataFrame): DataFrame = sym
      .join(nodes.select(col("id").as("src")), Seq("src"))
      .join(nodes.select(col("id").as("dst")), Seq("dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select(col("src").as("id"), col("deg"))
    // Peel 1 degenerates to a bare degree count: with all nodes present the
    // two node-joins are identities, so skip them on the largest frame.
    var cur = Materialize.once(sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select(col("src").as("id"), col("deg")), "kCore probe count + next peel")
    var nCur = cur.count()
    var converged = false
    // The degree-init peel is BUDGET-FREE (it replaces the old free initial
    // node-build): counting it unconditionally would charge one peel the
    // loop can't verify shrank, making a graph whose fixpoint lands exactly
    // on `maxRounds` throw — the documented-converging boundary (round-9
    // review). `maxRounds` therefore bounds post-init shrinking peels, at
    // the same ±2 probe granularity as always.
    var shrinkPeels = 0
    while (!converged) {
      // Two single-peel rounds per probe; checkpoint EACH so the count
      // materializes two shallow segments (and AQE sees the mid frame's
      // size), not one double-deep one.
      val next = Materialize.once(
        peel(Materialize.once(peel(cur), "kCore mid peel")),
        "kCore probe count + next peel")
      val nNext = next.count()
      converged = nNext == nCur // monotone shrink: equal count = fixpoint
      if (!converged) {
        shrinkPeels += 2 // a non-converged probe spent at most 2 shrinking peels
        if (shrinkPeels > maxRounds)
          throw new IllegalStateException(
            s"kCore(k=$k) did not converge within $maxRounds peel rounds")
      }
      cur = next
      nCur = nNext
    }
    cur
  }
}
