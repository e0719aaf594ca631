package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph operators over DataFrames — the capability class a
  * webtext pipeline needs for domain ranking (PageRank over the link
  * graph) and duplicate clustering (connected components over near-dup
  * candidate pairs).
  *
  * Both run in EXACT INTEGER arithmetic: floating-point power iteration
  * sums contributions in nondeterministic order, so cross-engine (and
  * cross-run) bit-equality would be unattainable; integer micro-units
  * with explicit DIV rounding make every iteration order-independent and
  * oracle-exact. Iteration counts are fixed (bounded plans, checkpoint-
  * friendly); each round is one equi-join + one aggregation, the shape
  * AQE re-plans freely.
  */
object Graph {

  /** Integer PageRank: ranks in micro-units (total mass ~10^12), uniform
    * teleport, fixed `iters` power iterations. `edges` must have columns
    * (src, dst); every src's out-degree is taken from the edge table.
    * Returns (id, rank). Nodes come from `nodes` (single `id` column) so
    * sinks with no in-edges keep their teleport share.
    *
    * Needs `spark.sql.adaptive.enabled`: the rounds' job saving below
    * assumes AQE runs each round's shuffle stages, so with AQE off the call
    * is refused rather than run in a shape nobody measured. */
  def pageRank(
      nodes: DataFrame, edges: DataFrame, iters: Int,
      nodeCount: Option[Long] = None): DataFrame = {
    val aqe = "spark.sql.adaptive.enabled"
    require(nodes.sparkSession.conf.get(aqe, "true").toBoolean,
      s"pageRank needs $aqe=true: each round's shuffle stages must run under AQE")
    val n = nodeCount.getOrElse(nodes.count()) // pass when already known
    require(n > 0, "pageRank needs a non-empty node set")
    val base = 1000000000000L / n // initial/teleport mass per node
    // materialize the edge table ONCE: every power iteration joins against
    // it, and an unpersisted `edges` re-evaluates its full lineage per
    // round — at 10^12 edges that is `iters` re-scans of the source (plus
    // whatever derivation produced the edges). The rank side is already
    // materialized each round by localCheckpoint; with the persist, each
    // iteration's contribs join reads the cached edge blocks, nothing
    // upstream of them. MEMORY_AND_DISK: an edge set larger than cluster
    // memory spills instead of recomputing.
    val e = edges.select("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val outDeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      // out-degree rides along with the rank table so the per-iteration
      // join is rank-table x edges only
      var ranks = nodes
        .join(outDeg, nodes("id") === outDeg("src"), "left")
        .select(col("id"), lit(base).as("rank"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      (1 to iters).foreach { i =>
        val contribs = e
          .join(ranks, e("src") === ranks("id"))
          .select(col("dst"), expr("rank DIV outdeg").as("c"))
          .groupBy("dst").agg(sum("c").as("s"))
        ranks = ranks
          .join(contribs, ranks("id") === contribs("dst"), "left")
          .select(col("id"),
            (lit(15L * base / 100L) + expr("85 * coalesce(s, 0L) DIV 100")).as("rank"),
            col("outdeg"))
          // truncate the per-iteration plan nesting; only the LAST round
          // materializes eagerly (it must complete before the edge cache
          // is unpersisted below) — intermediate rounds' result stages run
          // lazily inside the next round's job, saving iters-1 driver
          // jobs (r7; AQE still runs each round's shuffle stages at plan
          // time, so this only removes the per-round cache-materialize
          // job, not any shuffle)
          .localCheckpoint(i == iters)
      }
      ranks.select("id", "rank")
    } finally e.unpersist(false) // async: the returned ranks are already materialized
  }

  /** Connected components by min-label propagation: labels start as the
    * node id; each round every node takes the min of its own label and
    * its neighbours' (edges treated as undirected). A fixed `iters`
    * bounds the plan; components with diameter < iters converge to their
    * minimum member id — the right tool for near-dup clusters (tiny
    * diameters). For arbitrary-diameter graphs use
    * `connectedComponentsStar`, which converges in O(log n) rounds.
    * Returns (id, component). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    // undirected: propagate along both directions of every edge —
    // persisted once for the same reason as pageRank's edge persist (one
    // materialization instead of `iters` lineage re-evaluations)
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = nodes.select(col("id"), col("id").as("component"))
      (1 to iters).foreach { _ =>
        val neighborMin = und
          .join(labels, und("b") === labels("id"))
          .groupBy("a").agg(min("component").as("nmin"))
        labels = labels
          .join(neighborMin, labels("id") === neighborMin("a"), "left")
          .select(col("id"), least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
          .localCheckpoint(true) // truncate the per-iteration plan nesting
      }
      labels
    } finally und.unpersist(false)
  }

  /** Scale-path connected components: the published alternating
    * large-star / small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") on DataFrames. Each round
    * rewires the parent-pointer forest —
    *   large-star: every node's LARGER neighbours attach to its minimum
    *   neighbour-or-self; small-star: smaller-or-equal neighbours do —
    * and the edge set converges to a star per component in O(log n)
    * rounds for ANY diameter (a 10^9-node chain needs ~30 rounds, where
    * label propagation would need 10^9). Rounds run until the parent
    * assignment reaches a fixpoint (checked via a cheap count, bounded
    * by `maxRounds`). Returns (id, component = min member id). */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    // parent-pointer multiset, seeded with both edge directions plus a
    // self-loop per node (keeps isolated nodes in the computation)
    // localCheckpoint(eager = false) + the sig() aggregation right after:
    // the signature job materializes the checkpoint blocks as a side
    // effect (LocalRDDCheckpointData caches every partition the job
    // computes and truncates lineage at job end), so each round costs ONE
    // job instead of an eager-materialize job PLUS a signature job (r7,
    // the "fused fixpoint" item; results are unaffected — the arithmetic
    // is order-independent integer/xor work either way).
    var pairs = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(edges.select(col("dst").as("u"), col("src").as("v")))
      .unionByName(nodes.select(col("id").as("u"), col("id").as("v")))
      .distinct()
      .localCheckpoint(false)
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prevSig = sig(pairs)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // large-star over the SYMMETRIZED neighbourhoods (the published
      // operator works on undirected N(u)): every neighbour v > u
      // attaches to m(u) = min(N(u) ∪ {u})
      val sym = pairs
        .unionByName(pairs.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .distinct()
      // small-star over edges ORIENTED from their larger endpoint:
      // every (smaller) neighbour attaches to m(u)
      val oriented = large.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins2 = oriented.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      // localCheckpoint: truncate the plan each round — without it the
      // logical tree nests per iteration and analysis blows up long
      // before the data does (the standard iterative-DataFrame pattern);
      // materialization is fused into the fixpoint signature job (see the
      // seed checkpoint above)
      val next = oriented.join(mins2, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins2.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(false) // materialized by the sig() job below (see seed)
      // fixpoint test: (count, order-independent xor-fingerprint) of the
      // pair SET — ONE cheap agg per round (bit_xor never overflows,
      // unlike a hash SUM under ANSI); the previous round's fingerprint
      // is remembered, not recomputed
      val nextSig = sig(next)
      converged = nextSig == prevSig
      prevSig = nextSig
      pairs = next
      round += 1
    }
    // an intermediate state would silently split components — refuse it
    require(converged,
      s"connectedComponentsStar did not converge in $maxRounds rounds (raise maxRounds)")
    // at the fixpoint every node points at its component minimum
    pairs.groupBy("u").agg(min("v").as("component"))
      .select(col("u").as("id"), col("component"))
  }
}
