package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row}
import org.apache.spark.sql.functions._

/** Distributed graph primitives for the dedup pipeline.
  *
  * Near-dup detection emits PAIRS (minhash band collisions, winnowing
  * fingerprint matches, within-cluster cosine hits); keep-one dedup needs
  * GROUPS. The stage between them is connected components over the pair
  * graph: every document in a component is transitively a near-duplicate
  * of every other, and the canonical representative is the component's
  * minimum id. The reference has no analog (its corpus fits one process);
  * at 100 TB this is the standard MapReduce-CC problem.
  *
  * Algorithm: contract locally, then iterate globally over what is left
  * — the two-phase shape of the large-star/small-star family (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC 2014).
  *
  *  1. Local contraction. One narrow, shuffle-free pass over the
  *     caller's edge partitions runs an in-memory union-find (root =
  *     minimum id) and emits a star forest: each vertex the partition
  *     touches, linked to its local root. The forest has exactly the
  *     components of the input, and a dense near-dup clique — whose pair
  *     count grows with the square of its size — shrinks to about one
  *     row per (member, partition).
  *  2. Label rounds on the forest. Labels start at each vertex's minimum
  *     local root; each round is min-neighbor propagation followed by
  *     pointer jumping (label ← label(label)) — the Hash-to-Min family
  *     (Rastogi et al., "Finding Connected Components in Map-Reduce in
  *     Logarithmic Rounds"). Neighbor-min alone needs O(diameter) rounds
  *     (a chain split across partitions is the worst case); the pointer
  *     jump halves the remaining label paths, so convergence takes
  *     O(log n) rounds for any component shape. A component that one
  *     partition holds whole is labeled before the first round, which
  *     then only confirms it.
  *
  * Jobs: the forest is checkpointed lazily, so the first round's jobs
  * build it. Each round is one `localCheckpoint` whose plan has four
  * shuffles of 8-byte vertex ids (under adaptive execution each runs as
  * its own job, so a round is five jobs); the number of moved labels is
  * observed on that same job ([[org.apache.spark.sql.Observation]]), so
  * the convergence test adds none. The checkpoint cuts the lineage,
  * which otherwise grows with every round and re-runs every prior round
  * per action. Labels are always vertex ids and only ever decrease, so
  * the fixpoint — each vertex labeled with its component's minimum id —
  * does not depend on partitioning or round count.
  */
object Graph {

  /** Connected components of the undirected graph whose edges are
    * `(srcCol, dstCol)` rows: one output row `(id, component_id)` per
    * DISTINCT non-null vertex appearing in any edge, where
    * `component_id` is the minimum vertex id reachable from `id`.
    * Isolated vertices never appear in the edge list and are their own
    * trivial components — callers wanting them keep `anti_join`-ing the
    * vertex table.
    *
    * Null endpoints and self-loops: an edge with a null endpoint joins
    * nothing, but its non-null end is still a vertex (its own component
    * unless other edges connect it); an edge with both ends null is
    * dropped; a self-loop `(x, x)` makes `x` a vertex of its own
    * component. Edges `(1,null), (5,5), (7,8), (null,9)` give exactly
    * `(1,1), (5,5), (7,7), (8,7), (9,9)`.
    *
    * Memory: the local contraction holds one union-find entry per
    * distinct vertex of ONE input partition (a `LongMap` plus a key
    * array, a few tens of bytes per vertex), so the caller's edge
    * partitioning bounds it; everything else runs in Spark's own
    * operators.
    *
    * Jobs: five per round (see [[Graph]]); the last round is the one
    * that moves no label.
    *
    * `maxRounds` is a safety bound, not a tuning knob: pointer jumping
    * converges in O(log n) rounds (25 covers any graph that fits in 2⁶³
    * ids ~ 2 rounds of slack over log₂); hitting the bound without
    * convergence raises rather than returning partial labels. */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRounds: Int = 25): DataFrame = {
    val e = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
    // phase 1: the contracted graph as symmetric (u, v) rows plus a self
    // row per vertex. Lazy: the first round's jobs build it, later
    // rounds read the saved blocks.
    val sym = e.mapPartitions(contract)(
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("u", "v")
      .localCheckpoint(eager = false)

    // a vertex's rows reach itself, its local roots (each below it) and
    // the vertices it roots (each above it): their min is its minimum
    // local root
    var labels = sym.groupBy(col("u").as("id")).agg(min("v").as("label"))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // neighbor-min over u's rows, its own label (self row) included;
      // the pre-round label rides along from the self row. Sort-merge
      // joins: at contracted sizes adaptive execution would turn a side
      // into a broadcast after shuffling it, one more job per join.
      val propagated = sym
        .join(labels.select(col("id").as("v"), col("label").as("l")).hint("merge"), "v")
        .groupBy("u")
        .agg(min(when(col("u") === col("v"), col("l"))).as("old"), min("l").as("m"))
      // pointer jump: label ← m(m). Every label is a vertex id (a local
      // root is a touched vertex; a min over vertex ids stays one), so
      // the self-join is total.
      val target = propagated.toDF("m", "m_old", "label")
      val changed = Observation()
      labels = propagated.join(target.hint("merge"), "m")
        // rows where u's label moved, or m's neighbor-min did (label is
        // m's min, m_old its label). label ≤ m ≤ old, so when no label
        // moves no neighbor-min moves either: 0 ⟺ the labels are final.
        // Reading m_old keeps all three target columns, so both join
        // sides are one plan and the aggregate runs once.
        .observe(changed, count(when(
          col("label") =!= col("old") || col("label") =!= col("m_old"), 1)).as("n"))
        .select(col("u").as("id"), col("label"))
        .localCheckpoint()
      converged = changed.get("n") == 0L
      round += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxRounds rounds")
    labels.select(col("id"), col("label").as("component_id"))
  }

  /** Union-find over one partition's `(src, dst)` rows, root = minimum
    * id. For every non-null vertex `x` the rows touch, with root `r`,
    * emits `(x, x)` and, when `r ≠ x`, `(x, r)` and `(r, x)`. */
  private def contract(rows: Iterator[Row]): Iterator[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val p = parent(y); parent(y) = r; y = p }
      r
    }
    rows.foreach { row =>
      (row.isNullAt(0), row.isNullAt(1)) match {
        case (false, false) =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        case (false, true) => find(row.getLong(0))
        case (true, false) => find(row.getLong(1))
        case _ =>
      }
    }
    parent.keys.toArray.iterator.flatMap { x =>
      val r = find(x)
      if (r == x) Iterator((x, x)) else Iterator((x, x), (x, r), (r, x))
    }
  }

  /** Components annotated with their size — the dedup decision input
    * (`csize = 1` ⇒ unique; keeper = `id == component_id`). */
  def componentSizes(components: DataFrame): DataFrame = {
    val sizes = components.groupBy("component_id")
      .agg(count(lit(1)).as("csize"))
    components.join(sizes, "component_id")
      .select(col("id"), col("component_id"), col("csize"))
  }
}
