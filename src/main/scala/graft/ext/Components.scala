package graft.ext

import Stages.StageOps
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions.{col, lit, min}
import org.apache.spark.sql.types.DecimalType

/** Distributed connected components over a near-duplicate pair graph.
  *
  * The dedup pipelines (x54/x57/x63) emit PAIRS; turning pairs into
  * dedup GROUPS (keep one representative per component) needs the
  * transitive closure, which no single join can express. This operator
  * computes it with iterated min-label propagation:
  *
  *   label(v) <- min(label(v), min over neighbours u of label(u))
  *
  * run until a fixpoint. r16 shape (guide §2.4 "remove shuffles/passes
  * outright"; was 2 joins + 1 aggregate + a separate convergence-count
  * job per iteration):
  *  - the symmetrized edge set carries a SELF-LOOP per vertex, so "keep
  *    your own label" folds into the same grouped `min` as the
  *    neighbour pull — each iteration is ONE shuffle join + ONE
  *    partial-aggregated groupBy, no join back to the previous labels;
  *  - labels only ever DECREASE and rows are only ever ADDED (a vertex
  *    seen only in `edges` gets its row once a labelled neighbour
  *    reaches it), so a round that changes anything either adds a row
  *    or, adding none, lowers the exact DECIMAL(38,0) sum of all labels.
  *    The sum alone is not enough: an added row can cancel an equal
  *    label drop. Row count and sum ride the materialization job via one
  *    `Dataset.observe` (CollectMetrics accumulates in the same tasks
  *    that write the checkpoint), and both unchanged IS convergence —
  *    zero extra jobs, two scalars of driver traffic per iteration;
  *  - `localCheckpoint()` (cluster: reliable checkpoint) truncates the
  *    lineage so the plan does not grow with the iteration count.
  *
  * Convergence: the iteration count is bounded by the eccentricity of the
  * min-id vertex within each component. Near-duplicate graphs are unions
  * of dense LSH/threshold clusters (diameter 1-3 in practice), so the
  * loop terminates in a handful of rounds; `maxIters` is a loud upper
  * bound (IllegalStateException, never a silently-wrong result). For
  * adversarial path-shaped graphs at planetary scale the classic
  * log-diameter alternating small-star/large-star contraction would
  * replace the body; the driver-facing corpus graphs never need it.
  *
  * Reference context: hqt/dust has no graph surface at all (SURVEY.md §0;
  * its SQL layer delegates to SQLite) — this is part of the
  * training-data-pipeline mandate, not a port.
  */
object Components {

  /** Exact label sum: labels are doc ids (longs), so DECIMAL(38,0) can
    * never overflow at any corpus scale. */
  private val labelSum =
    F.sum(col("label").cast(DecimalType(38, 0))).as("lsum")
  private val labelRows = F.count(lit(1)).as("rows")

  private def asBig(v: Any): java.math.BigDecimal = v match {
    case null => null
    case b: java.math.BigDecimal => b
    case b: scala.math.BigDecimal => b.bigDecimal
    case n: Number => new java.math.BigDecimal(n.toString)
  }

  private def sumsEqual(a: java.math.BigDecimal,
                        b: java.math.BigDecimal): Boolean =
    (a == null && b == null) || (a != null && b != null && a.compareTo(b) == 0)

  /** Vertices that appear only in `edges` are not filtered out: such a
    * vertex gets a row once its component holds a vertex of `nodes` (a
    * component made only of edge-only vertices gets none), labelled with
    * its component's minimum `nodes` id. Duplicate `nodes` ids are
    * deduplicated: every id appears once in the output.
    *
    * @param nodes one column `id` (every vertex, including singletons)
    * @param edges two columns (undirected pairs; symmetrized internally)
    * @return `id, label` where label = min id reachable (component id)
    */
  def minLabelPropagation(nodes: DataFrame, edges: DataFrame,
                          srcCol: String, dstCol: String,
                          maxIters: Int = 50): DataFrame = {
    val e = edges.select(col(srcCol).as("s"), col(dstCol).as("t"))
    // Symmetrize + self-loop once: propagation must flow both directions,
    // and the self edge keeps every vertex (and its current label) in the
    // grouped min without a second join.
    val sym = e.union(e.select(col("t").as("s"), col("s").as("t")))
      .union(nodes.select(col("id").as("s"), col("id").as("t")))
      .stageMaterialize

    val obs0 = org.apache.spark.sql.Observation("graft-cc-init")
    var labels = nodes.select(col("id"), col("id").as("label"))
      .observe(obs0, labelSum, labelRows)
      .stageMaterialize
    var prevSum = asBig(obs0.get("lsum"))
    var prevRows = obs0.get("rows")
    var iter = 0
    var changed = true
    while (changed) {
      if (iter >= maxIters)
        throw new IllegalStateException(
          s"connected components did not converge in $maxIters iterations")
      // Each vertex pulls the smallest label in its closed neighbourhood
      // (self-loop included). The groupBy(min) runs with a map-side
      // partial aggregate, so the shuffle carries one candidate row per
      // (vertex, map partition); the label-sum and row-count metrics are
      // collected by the same tasks that write the checkpoint.
      val obs = org.apache.spark.sql.Observation(s"graft-cc-iter-$iter")
      val next = sym.join(labels, sym("t") === labels("id"))
        .groupBy(sym("s").as("id"))
        .agg(min("label").as("label"))
        .observe(obs, labelSum, labelRows)
        .stageMaterialize
      val s = asBig(obs.get("lsum"))
      val rows = obs.get("rows")
      changed = !sumsEqual(s, prevSum) || rows != prevRows
      prevSum = s
      prevRows = rows
      labels.unpersist()
      labels = next
      iter += 1
    }
    labels
  }

  /** Component summary used by dedup reporting: one row per component with
    * its size and representative (= the component id, the minimum doc id —
    * the standard "keep first" retention rule). */
  def componentSizes(labels: DataFrame): DataFrame =
    labels.groupBy(col("label").as("comp"))
      .agg(F.count(lit(1)).as("csize"))
}
