package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components via alternating large-star / small-star
  * (the standard O(log n)-round MapReduce CC algorithm; see Kiveris
  * et al., "Connected Components in MapReduce and Beyond", SOCC'14 —
  * public literature, re-derived here in DataFrame algebra).
  *
  * Why next to Dedup's min-label propagation: propagation needs
  * diameter(G) rounds — perfect for near-dup cliques (diameter 1-2),
  * hopeless for adversarial chains (a 10⁶-long chain needs 10⁶
  * rounds). Star operations contract chains doubly-logarithmically:
  * each large-star hangs every node under its neighborhood minimum,
  * each small-star flattens the resulting trees, and the edge set
  * converges to star graphs centered at component minima in O(log n)
  * rounds regardless of shape. Each round is the SAME join shape as a
  * propagation round (groupBy-min + join on the edge set), so the
  * 100 TB cost model is unchanged — only the round count shrinks.
  *
  * Both algorithms are oracle-checked against the identical DuckDB
  * recursive-CTE closure (q46/q55) and property-tested against a
  * driver-side union-find on random graphs.
  */
object ConnectedComponents {

  /** One large-star round: for every node u, hang each STRICTLY
    * LARGER neighbor v under m = min(Γ(u) ∪ {u}). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val nm = sym.groupBy(col("u"))
      .agg(min(col("v")).as("minv"))
      .select(col("u"), least(col("u"), col("minv")).as("m"))
    sym.join(nm, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One small-star round: point edges downhill (u > v), then hang
    * every smaller neighbor — and u itself — under m = min Γ(u). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val down = edges.select(
      greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val nm = down.groupBy(col("u")).agg(min(col("v")).as("m"))
    down.join(nm, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(nm.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Component assignment for every node of the (undirected) edge
    * list: (node, component) with component = the component's min
    * node id. Input columns: (u, v); self-loops ignored.
    */
  def assign(edgesIn: DataFrame): DataFrame = assignCounted(edgesIn)._1

  /** [[assign]] plus the number of contraction rounds it took — the
    * quantity the O(log n) claim is about; surfaced for the q46/q55
    * laws of graft.Scale and convergence monitoring. */
  def assignCounted(edgesIn: DataFrame): (DataFrame, Int) = {
    // localCheckpoint (eager) per round: truncates the logical plan,
    // which otherwise NESTS per round (two unions + agg + join each) —
    // by ~10 rounds analysis blows the stack. The checkpointed RDDs
    // are reclaimed by ContextCleaner when the frames are dropped.
    // Seed DOWNHILL (u > v) — both star outputs are downhill too, so
    // every round's frames share one orientation and set comparison
    // needs no canonicalization.
    var edges = edgesIn
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(true)
    var prevCount = edges.count()
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds <= 60, "star contraction failed to converge")
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      // both sides are distinct, identically-oriented sets, so
      // |next| == |prev| ∧ next ⊆ prev ⟺ equal — one count (the
      // previous round's is carried) + one except job per round
      val nextCount = next.count()
      converged = nextCount == prevCount && next.except(edges).isEmpty
      prevCount = nextCount
      edges = next
    }
    // fixpoint edges are stars (member, center) with member > center
    val members = edges.select(
      greatest(col("u"), col("v")).as("node"),
      least(col("u"), col("v")).as("component"))
    val centers = members.select(col("component")).distinct()
      .select(col("component").as("node"), col("component"))
    (members.unionByName(centers).distinct(), rounds)
  }
}
