package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics beyond connected components (`dedup/Dedup`): node
  * importance over graphs the lake already contains.
  *
  * PageRank here is EXACT fixed-point integer arithmetic, not float:
  * ranks carry as ×1e12 longs, every division is integer floor (`div`),
  * the damping multiply is `(m * 85) div 100`. Floors make each
  * iteration a pure integer function of the previous one, so Spark and
  * the DuckDB oracle (which unrolls the same iterations as CTEs — the
  * Lloyd-unroll pattern from the IVF oracles) agree bit-for-bit, and
  * the driver hash check covers the whole iteration, not just the
  * final projection. Total mass shrinks by < n per iteration to floor
  * loss — irrelevant to ranking, essential to determinism.
  *
  * Scale shape: the canonical distributed PageRank — the edge table
  * shuffles once to build degrees, then each iteration is one
  * partial-aggregated shuffle of (dst, contribution) keyed by node.
  * Iterations are a fixed small constant; edges and degrees are pinned
  * (`Staging.pin`) so the scan and degree shuffle are paid once, not
  * per iteration. No driver-side collect anywhere: the node count
  * rides as a broadcast one-row frame.
  */
object GraphAnalytics {

  /** PageRank over the undirected customer↔supplier graph induced by
    * line items (edge = "this customer bought from this supplier").
    * Supplier node ids are offset by 1e12 to keep the id spaces
    * disjoint — the id envelope: valid while max(o_custkey) < 1e12,
    * i.e. up to ~SF 6.6M (TPC-H customers = 150k×SF; the old 1e6
    * offset silently merged id spaces from ~SF 7). Offset ids stay
    * < 1e12 + 1e7 ≪ 2^63. Every node has degree ≥ 1 by construction,
    * so there are no dangling nodes and every node is present in every
    * iteration.
    */
  def supplierCustomerPageRank(spark: SparkSession, dir: String,
      iters: Int = 3): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val e0 = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + lit(1000000000000L)).as("dst"))
      .distinct()
    pageRank(e0, iters)
  }

  /** PageRank over an arbitrary undirected edge list — `e0` holds one
    * row per unordered edge (src, dst); both directions are derived
    * here. Extracted so scale probes can run the identical iteration
    * kernel over synthesized edge tables of any size.
    *
    * `convergeEps` > 0 adds an exact-integer delta stop: at every pin
    * point (every 2nd iteration — the places a lineage snapshot exists
    * anyway) compute max |pr − pr_prev| against the previous snapshot
    * and stop once it is ≤ eps; `iters` stays the hard fallback bound.
    * The check is one scalar aggregate per pin (a one-row join+max —
    * the only driver-visible value, same envelope as the AutoRerank m̂
    * lookup), so a converged graph pays 2 iterations per check instead
    * of running blind to the constant. Because ranks are exact ×1e12
    * integers, "converged" is an exact property, not a float tolerance
    * — reruns stop at the SAME iteration every time. eps = 0 (default)
    * disables the check and preserves the historical fixed-iteration
    * behavior bit-for-bit (the driver's q_pagerank contract).
    */
  def pageRank(e0: DataFrame, iters: Int, convergeEps: Long = 0L): DataFrame =
    pageRankConverged(e0, iters, convergeEps)._1

  /** [[pageRank]] plus the number of iterations actually executed —
    * the observable the convergence spec (and an operator dashboard)
    * needs.
    */
  def pageRankConverged(e0: DataFrame, iters: Int,
      convergeEps: Long = 0L): (DataFrame, Int) = {
    val edges = graft.Staging.pin(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))))
    val deg = graft.Staging.pin(
      edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("id"), col("deg")))
    // node count as a broadcast one-row param frame — no driver collect
    val nRow = deg.agg(count(lit(1)).as("n"))
    val scale = 1000000000000L // ranks are ×1e12 longs
    var pr = deg.crossJoin(broadcast(nRow))
      .select(col("id"), expr(s"${scale}L div n").as("pr"))
    // last snapshot the delta check compared against (the initial
    // uniform vector first — it is cheap, rebuilt from pinned deg)
    var prev = pr
    // the previous intra-loop pin, released as soon as a newer pin
    // materializes: each pin is an eager leaf, so nothing references the
    // snapshot it superseded — without the release, a deep iteration
    // accumulates one unevictable snapshot per 2 rounds and starves
    // execution memory on small heaps (the 100×/4 GB memory-envelope
    // probe hit UNABLE_TO_ACQUIRE_MEMORY exactly here)
    var lastPinned: DataFrame = null
    var k = 1
    var done = 0
    while (k <= iters && done == 0) {
      // pre-join pr ⋈ deg at NODE scale, then ONE edge-scale join: the
      // per-node out-share `pr div deg` is the same integer for every
      // out-edge of a node, so hoisting it out of the edge join is
      // bit-identical while halving the per-iteration edge-scale join
      // work (the old shape joined the full edge table twice on src).
      // Both inputs of the node-scale join are already hash-partitioned
      // on the node id (pr by the previous round's groupBy("dst"), deg
      // by its own groupBy) — Catalyst plans it without a fresh
      // edge-sized shuffle.
      // At ×100 this pre-join shape measured 82.4 s against 97.9 s for
      // the historical one (SURVEY).
      val outShare = pr.join(deg, "id")
        .select(col("id"), expr("pr div deg").as("c"))
      val contrib = edges
        .join(outShare, edges("src") === outShare("id"))
        .select(col("dst"), col("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      pr = contrib.crossJoin(broadcast(nRow))
        .select(col("dst").as("id"),
          expr(s"(${15 * (scale / 100)}L div n) + ((m * 85L) div 100L)").as("pr"))
      // pin every 2nd iteration: each round nests the previous plan under
      // two more joins, and Catalyst's size-only stats MULTIPLY across the
      // nested subtrees — by ~6 unpinned iterations the driver burns
      // minutes in BigInteger multiplication inside
      // SizeInBytesOnlyStatsPlanVisitor (the round-6 CC failure mode).
      // Values are exact integers, so pinning never changes the result.
      if (k % 2 == 0 && (k < iters || convergeEps > 0)) {
        pr = graft.Staging.pin(pr)
        if (convergeEps > 0) {
          // delta check BEFORE releasing the superseded snapshot — prev
          // may be (or be built on) the frame about to be unpinned
          val dRow = pr.join(prev.withColumnRenamed("pr", "pr0"), "id")
            .agg(max(abs(col("pr") - col("pr0")))).head()
          if (!dRow.isNullAt(0) && dRow.getLong(0) <= convergeEps) done = k
          prev = pr
        }
        if (lastPinned ne null) graft.Staging.unpin(lastPinned)
        lastPinned = pr
      }
      k += 1
    }
    (pr.select(col("id").as("node_id"), col("pr")),
      if (done > 0) done else iters)
  }
}
