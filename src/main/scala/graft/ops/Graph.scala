package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists — the link-structure family a
  * training-data pipeline runs beside connected components (Dedup.scala):
  * centrality for source/domain weighting, co-occurrence graphs for
  * curriculum mixing. Everything here is expressed as equi-joins and
  * hash aggregations on the node key — the only shapes that survive a
  * 100 TB edge list — and all rank arithmetic is integer fixed-point so
  * results are bit-identical across engines and partitionings
  * (floating-point PageRank sums are order-dependent; integer sums are
  * associative-commutative exactly).
  */
object Graph {

  /** Directed co-purchase edges from a lineitem-shaped fact table: one
    * edge src→dst per pair of line items in the same order with the
    * source's line number strictly below the destination's (sequential
    * add-to-basket order — the item-graph construction behind
    * co-occurrence recommenders). Self-loops (the same part appearing
    * twice in an order) are dropped; parallel edges from different order
    * pairs are KEPT — edge multiplicity is the co-purchase weight.
    *
    * Scale shape: a self-equi-join on the order key — at 100 TB the
    * orders co-partition on one shuffle of each side, and the per-order
    * pair fan-out is bounded by order size squared (TPC-H order lines
    * ≤ 7; a retail basket is similarly tens, never corpus-scale). */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val a = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("src"), col("l_linenumber").as("sn"))
    val b = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("dst"), col("l_linenumber").as("dn"))
    a.join(b, Seq("ok"))
      .filter(col("sn") < col("dn") && col("src") =!= col("dst"))
      .select("src", "dst")
  }

  /** Fixed-iteration PageRank in integer fixed-point (rank scaled by
    * `scale`, damping 0.85 as the exact rational 85/100, all division
    * integral) — deterministic to the bit on any engine, which is what
    * lets a DuckDB oracle replay it. Fixed `iters` rather than an
    * epsilon fixpoint: production web-graph PageRank runs a fixed round
    * budget too (convergence tests cost a driver-synchronized job per
    * round — the round-8 star-CC lesson), and the oracle needs a
    * compile-time unroll depth.
    *
    * Semantics: rank₀ = scale for every node appearing as an endpoint;
    * each round every edge carries ⌊rank(src)/outdeg(src)⌋ (parallel
    * edges carry it once each — multiplicity is weight), and
    * rank' = ⌊scale·15/100⌋ + ⌊85·Σin/100⌋. Mass parked on dangling
    * nodes (no out-edges) is dropped, the standard simplification —
    * ranks are relative weights here, not a strict probability
    * distribution.
    *
    * Scale shape per round: ONE shuffle join of the edge list with the
    * rank frame on src (outdeg rides the rank frame, so the join is
    * single) + one hash-agg on dst with map-side combine; the rank frame
    * is node-sized, the edge frame dominates and is checkpointed once.
    * Rounds localCheckpoint with exact release ([[Dedup.releaseCheckpoint]])
    * so a round's blocks die when the next is materialized. */
  def pageRank(edges: DataFrame, iters: Int = 3,
               scale: Long = 1000000L): DataFrame = {
    // Round 21 (guide §2.4 — share one exchange): the edge list is the
    // corpus-sized frame here and every round equi-joins it ON src, so
    // hash-partition it by src ONCE before the checkpoint (localCheckpoint
    // preserves the physical partitioning through LogicalRDD). The outdeg
    // aggregation and every round's contrib join then reuse that one
    // exchange instead of re-shuffling (and re-sorting, under sort-merge)
    // the edges per round; only the node-sized rank frame moves each round.
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).localCheckpoint()
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("odeg"))
    val base = scale * 15L / 100L
    // Round 21 (guide §2.4; the r20 verdict's unroll warning): round 20's
    // lazy loop rebuilt each round's ranks FROM the previous ranks frame,
    // referencing it twice (contrib + the rebuild join) — 2^iters logical
    // copies, and runtime stage reuse recovered only part of the
    // duplicated execution (profile: 51 s of summed task time for a
    // 3-round rank over the 1.5M-edge co-purchase graph). The rank
    // recurrence pr' = base + 85·insum/100 needs nothing from the old
    // ranks except odeg, so each round now rebuilds from this FIXED
    // checkpointed (node, odeg) frame and references the previous ranks
    // exactly ONCE (inside contrib): plan and execution are linear in
    // iters for ANY iters, with zero per-round driver synchronizations.
    val nodesOdeg = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .join(outdeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("odeg"), lit(0L)).as("odeg"))
      .localCheckpoint()
    var ranks = nodesOdeg
      .select(col("node"), lit(scale).as("pr"), col("odeg"))
    val midCheckpoints = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var i = 0
    while (i < iters) {
      // shuffle_hash with the node-sized rank frame as BUILD side: the
      // pre-partitioned edge list streams with zero per-round exchange or
      // sort (sort-merge would re-sort the edges every round). The build
      // side is one rank partition — node-scale/partitions, never
      // edge-scale, so the hash table is the smallest thing in the round.
      val contrib = e.join(ranks.withColumnRenamed("node", "src")
          .filter(col("odeg") > 0).hint("shuffle_hash"), Seq("src"))
        .select(col("dst").as("node"), expr("pr div odeg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("insum"))
      ranks = nodesOdeg.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"85 * coalesce(insum, 0L) div 100").cast("long"))
            .as("pr"),
          col("odeg"))
      i += 1
      // Depth guard for large public iters: the linear unroll still grows
      // analysis cost per round, so truncate lineage every 8 rounds (one
      // driver sync per 8 — never per round). The default iters=3 never
      // pays it.
      if (i % 8 == 0 && i < iters) {
        ranks = ranks.localCheckpoint()
        midCheckpoints += ranks
      }
    }
    // Only the FINAL frame checkpoints: it truncates the whole loop's
    // lineage for the callers that probe the rank table repeatedly (the
    // prior contract); e and nodesOdeg can be released once it is
    // materialized.
    val out = ranks.select(col("node"), col("pr")).localCheckpoint()
    (Seq(e, nodesOdeg) ++ midCheckpoints).foreach(Dedup.releaseCheckpoint)
    out
  }

  /** Redirect-chain resolution by POINTER DOUBLING: given `(src, dst)`
    * redirect edges, map every source to the node `maxHops` hops
    * downstream (or the chain's end, whichever comes first) in
    * ⌈log₂ maxHops⌉ self-joins instead of `maxHops` sequential ones —
    * the difference between 3 shuffles and 8 at crawl scale, where the
    * redirect map is |urls|-sized and can never broadcast. Each round
    * composes the mapping with ITSELF (`m' = m ∘ m`): after round k a
    * source points min(2ᵏ, chain length) hops ahead and `hops` counts
    * the hops actually traveled. `resolved` is true iff the final node
    * is not itself a redirect source — a CYCLE (a real crawl pathology)
    * never resolves and surfaces as `resolved = false` with a
    * deterministic landing point, never an infinite loop. Real chains
    * are short (browsers cap ~20, crawlers 5–10), so the default 8
    * resolves anything legitimate.
    *
    * `maxHops` is a ROUND budget, rounded UP to the next power of two:
    * the loop composes ⌈log₂ maxHops⌉ times, so maxHops = 5 runs 3
    * rounds and resolves (and counts `hops`) up to 8 hops — the
    * doubling can overshoot a non-power-of-two cap, never undershoot
    * it. Pass a power of two (the default is) when the exact hop
    * ceiling matters.
    *
    * Scale shape per round: one equi-join of the mapping with itself on
    * the chase key — both sides |redirects|-sized (far below page
    * scale), co-partitioned after the first round's shuffle; the final
    * resolved-flag probe is one more equi-join against the distinct
    * source set. No iteration-count data dependence: the unroll depth
    * is compile-time, which is also what lets a DuckDB oracle replay
    * the exact same 3-join plan.
    *
    * CONTRACT: `src` must be unique (a URL redirects to ONE place —
    * the HTTP Location header's shape). A duplicate source would fan
    * out every composition join multiplicatively; dedupe upstream
    * (e.g. latest-fetch-wins) before calling. */
  def resolveChains(edges: DataFrame, maxHops: Int = 8): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // checkpoint ONCE (the pageRank pattern): the doubling references the
    // mapping 2^rounds times, and without lineage truncation every round
    // re-plans and re-executes the upstream edge derivation that many
    // times — measured 64.7 s vs 3.7 s on linkDiscoverResolved's
    // expression-heavy redirect fixture. The map is |redirects|-sized;
    // the returned frame reads the checkpoint, so it is NOT released
    // here (Bench's inter-query leak fence reclaims it).
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    var m = e.select(col("src"), col("dst"), lit(1L).as("hops"))
    var reach = 1
    while (reach < maxHops) {
      val r = m.select(col("src").as("_s2"), col("dst").as("_d2"),
        col("hops").as("_h2"))
      m = m.join(r, m("dst") === r("_s2"), "left")
        .select(m("src"),
          coalesce(col("_d2"), m("dst")).as("dst"),
          (m("hops") + coalesce(col("_h2"), lit(0L))).as("hops"))
      reach *= 2
    }
    val sinks = e.select(col("src").as("dst")).distinct()
      .withColumn("_more", lit(true))
    m.join(sinks, Seq("dst"), "left")
      .select(col("src"), col("dst").as("final_url"), col("hops"),
        col("_more").isNull.as("resolved"))
  }
}
