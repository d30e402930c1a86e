package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list: the second,
  * independent engine the specs compare [[StarComponents]] against
  * (production labels through StarComponents only).
  *
  * Algorithm: min-label propagation with pointer jumping. Every node
  * starts labeled with its own id; each round a node adopts the minimum
  * label among itself and its neighbors (one join against the edges),
  * then labels shortcut through themselves (comp ← comp's comp — one
  * join of the label table with itself), which halves remaining label
  * distances and makes convergence O(log diameter) instead of
  * O(diameter): a 64-node chain converges in ~7 rounds, not 63.
  * Fixpoint when no label changes. All steps are plain shuffle joins
  * that shard across executors; `localCheckpoint` truncates the
  * iterative lineage each round (a cluster deployment would use
  * reliable `checkpoint`).
  */
object Components {

  /** @param edges two long columns `src`, `dst` (undirected, self-loops
    *              and duplicates tolerated)
    * @return (id, comp) — every node labeled with its component's
    *         minimum node id
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the edge list ONCE — without this every round's two
    // joins re-evaluate the upstream pair pipeline (e.g. the whole
    // MinHash candidate generation), multiplying its cost by 2×rounds
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    // convergence via the exact label sum: propagation is monotone
    // (comp only ever decreases), so the sum strictly decreases until
    // the fixpoint — one narrow aggregation per round instead of a
    // labels×next comparison join. decimal(38,0) keeps the sum exact
    // for arbitrary 64-bit id ranges.
    def labelSum(df: DataFrame): BigDecimal =
      Option(df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0))
        .map(BigDecimal(_)).getOrElse(BigDecimal(0)) // empty graph → NULL sum
    var prevSum = labelSum(labels)
    var converged = labels.isEmpty // no edges: already at the fixpoint
    var i = 0
    while (!converged && i < maxIter) {
      val neigh = sym.join(labels.withColumnRenamed("id", "nid"), col("dst") === col("nid"))
        .groupBy(col("src")).agg(min(col("comp")).as("neigh_comp"))
      val prop = labels.join(neigh, labels("id") === neigh("src"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("neigh_comp"), col("comp"))).as("comp"))
        // materialize: prop feeds BOTH sides of the jump join below —
        // unmaterialized, the propagate join would execute twice a round
        .localCheckpoint(true)
      // pointer jump: comp ← label(comp), shortcutting chains
      val next = prop.as("l")
        .join(prop.select(col("id").as("jid"), col("comp").as("jcomp")),
          col("l.comp") === col("jid"), "left")
        .select(col("l.id").as("id"),
          least(col("l.comp"), coalesce(col("jcomp"), col("l.comp"))).as("comp"))
        .localCheckpoint(true)
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      labels = next
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }
}
