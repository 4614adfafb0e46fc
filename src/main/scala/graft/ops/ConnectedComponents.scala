package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed CONNECTED COMPONENTS over a pair list — the step that turns
  * near-dup PAIRS (LSH/banded join output: q19/q50/q54/q61/q62) into
  * dedup CLUSTERS with a deterministic keeper (component = min member id,
  * which IS the keeper id under the engine's min-id-keeper convention).
  *
  * Min-label propagation with a POINTER-JUMPING shortcut each round
  * (hash-to-min family, cf. Kiveris et al. "Connected Components in
  * MapReduce and Beyond", SOCC 2014): every round each vertex takes the
  * min of (its label, its neighbors' labels) and then follows the label
  * table `JUMPS` times (the classic doubling at JUMPS = 1) — convergence
  * in O(log diameter) rounds instead of O(diameter), so a long near-dup
  * CHAIN (a~b~c~…) doesn't need one Spark job per hop. Each round is
  * two hash joins + an aggregation on (edges + labels)-sized data.
  *
  * Round shape: each round is ONE eager localCheckpoint (lineage stays
  * flat), and its changed-vertex count rides that checkpoint as an
  * observe() metric, so no count() runs. A lazy checkpoint plus count()
  * is not one job under AQE: the count plans its own exchange and job,
  * and with the label table sort-merged (a checkpoint carries no size
  * estimate) a round ran five or six jobs. When the label table fits
  * under `spark.sql.autoBroadcastJoinThreshold`, both joins of a round
  * broadcast it, and the round runs three jobs: the broadcast, the
  * aggregation's exchange and the checkpoint's result stage (geobench
  * `geoq_stream_neardup`: 18 → 8 jobs a call, 0.71 → 0.54 s). A round
  * with no exchange at all was not possible: on Spark 4.1.2 a
  * localCheckpoint of `repartition(col("dst"))` reports
  * `UnknownPartitioning(0)`, so a later `groupBy("dst")` exchanges again.
  *
  * Deterministic: the fixpoint (every vertex labeled with its component's
  * min id) is unique, so the result is hash-gateable. Throws loudly if
  * maxRounds is reached without convergence (a silently unconverged
  * labeling would be plausible-but-wrong clusters); 30 rounds cover any
  * graph a driver can hold (2^30-hop chains after doubling). */
object ConnectedComponents {

  /** Label-table jumps per round — contraction ~(JUMPS+1)^rounds on
    * chains. MEASURED before choosing (10M-edge ScaleSmoke graph,
    * interleaved runs): JUMPS=2 cuts the planted 10k-hop chain from 15
    * to 11 rounds and JUMPS=3 to 9, but each extra jump shuffles the
    * full |V|-row label table once more per round — at |V| ≈ |E| (the
    * chain-heavy worst case) the per-round cost rose ~18 → ~24 s and
    * total wall stayed flat (332 vs 384 s, inside host spread), while on
    * the gate corpus graph (|E| ≈ 18|V|) round count did not drop AT ALL
    * (9 both ways — its convergence is limited by min-id scatter through
    * the blob, not by pointer-chain depth). 1 jump minimizes per-round
    * stages and loses nothing measured; the knob stays for graphs whose
    * labels are far smaller than their edges. */
  private val JUMPS = 1

  /** Name of each round's observe() metric: (changed, rows). */
  private[graft] val METRIC = "graft_cc_round"

  /** Bytes a label-table row (two longs) counts against the broadcast
    * threshold: Spark's `EstimationUtils.getSizePerRow` for it (8 bytes of
    * row overhead + 8 per long). */
  private val ROW_BYTES = 24L

  /** Drop a localCheckpoint's persisted RDD blocks NOW: `Dataset
    * .unpersist` only talks to the CacheManager, which never saw a
    * checkpoint, so superseded label copies would otherwise sit in
    * block-manager storage until GC-driven cleanup — up to maxRounds full
    * label tables on a big graph. */
  private[graft] def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** vertices: (id); edges: (src, dst) — undirected (symmetrized here),
    * ids must be members of `vertices`. Returns (id, component) with
    * component = min id reachable from the vertex (its own id for
    * singletons). */
  def run(vertices: DataFrame, edges: DataFrame, maxRounds: Int = 30): DataFrame =
    run(vertices, edges, maxRounds, (_, _, _) => ())

  /** As [[run]], with a per-round observer `(round, seconds, changed)` —
    * the measurement hook ScaleSmoke uses to report rounds taken and
    * per-round wall time at 10M+ edges (no behavior change; the default
    * overload passes a no-op). */
  def run(vertices: DataFrame, edges: DataFrame, maxRounds: Int,
          onRound: (Int, Double, Long) => Unit): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true) // reread every round; never recompute the pair join
    // Round 1 reads `vertices` directly: its labels are the identity map,
    // so there is nothing to checkpoint before the first aggregation.
    var labels = vertices.select(col("id"), col("id").as("component"))
    var labelsCk: DataFrame = null
    // A checkpoint carries no size estimate, so the planner would
    // sort-merge the label table every round. Round 1 counts the vertices;
    // when the table (ROW_BYTES a row, Spark's own per-row estimate for
    // two longs) fits under the session's broadcast threshold, later
    // rounds broadcast it to both joins. Above it they keep the shuffle
    // join.
    var bcast = false
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val roundT0 = System.nanoTime()
      val lab = if (bcast) broadcast(labels) else labels
      // min over {own label} ∪ {neighbors' labels} in ONE aggregation: the
      // self row rides the same groupBy (every vertex has exactly one, so
      // max-ignoring-nulls recovers the old label for the changed count) —
      // this fuses the former nbrMin groupBy + left-join-back into a single
      // exchange of (neighbor rows + |V| self rows), removing a join and an
      // exchange of the label table from every round.
      // Round 1 runs against IDENTITY labels (component == id): a
      // neighbor's label IS its id, so the label join is skipped and the
      // neighbor rows come straight from the edge list; likewise the
      // pointer jump below is the identity map and is skipped.
      val nbrRows =
        if (round == 0)
          sym.select(col("dst").as("id"), col("src").as("lab"),
            lit(null).cast("long").as("own"))
        else
          sym.join(lab, sym("src") === lab("id"))
            .select(col("dst").as("id"), col("component").as("lab"),
              lit(null).cast("long").as("own"))
      val selfRows = labels.select(col("id"), col("component").as("lab"),
        col("component").as("own"))
      val stepped = selfRows.unionByName(nbrRows)
        .groupBy("id")
        .agg(min("lab").as("c"), max("own").as("component"))
        .select(col("id"), col("component"), col("c"))
      // pointer jumping: follow the label table JUMPS times (component is
      // a vertex id, so it has a row in `labels`). The build side stays
      // the RAW labels plan — canonically identical to the neighbor join's
      // build subtree, so a broadcast label table is built ONCE per round
      // and reused by both joins. The stream side is aliased instead,
      // which also keeps the self-lineage attributes unambiguous.
      val jumped =
        if (round == 0) stepped // identity pointer table: the jump is a no-op
        else (1 to JUMPS).foldLeft(stepped) { (cur, j) =>
          cur.as("cur").join(lab.as(s"ptr$j"),
              col("cur.c") === col(s"ptr$j.id"), "left")
            .select(col("cur.id").as("id"), col("cur.component").as("component"),
              least(col("cur.c"),
                coalesce(col(s"ptr$j.component"), col("cur.c"))).as("c"))
        }
      // ONE eager checkpoint; its changed and row counts ride it as an
      // observe() metric, read from the observed plan once it returns
      val observed = jumped.withColumnRenamed("c", "newComp")
        .observe(METRIC,
          count(when(col("newComp") < col("component"), 1)).as("changed"),
          count(lit(1)).as("rows"))
      val doubled = observed.localCheckpoint(true)
      // The metric sits at the root of the checkpointed plan, above every
      // node AQE's empty-relation rule can replace, so an empty round
      // still reports 0 changed. A missing metric fails loudly: reading it
      // as 0 would stop on a plausible-but-wrong labeling.
      val (changed, rows) = observed.queryExecution.observedMetrics.get(METRIC)
        .map(r => (r.getLong(0), r.getLong(1)))
        .getOrElse(throw new IllegalStateException(
          s"ConnectedComponents round ${round + 1} reported no $METRIC metric"))
      if (round == 0)
        bcast = rows * ROW_BYTES <=
          vertices.queryExecution.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      // the new checkpoint is materialized — the superseded one can go
      if (labelsCk != null) dropCheckpoint(labelsCk)
      labelsCk = doubled
      labels = doubled.select(col("id"), col("newComp").as("component"))
      converged = changed == 0
      round += 1
      onRound(round, (System.nanoTime() - roundT0) / 1e9, changed)
    }
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents did not converge in $maxRounds rounds — " +
          "the labeling would be plausible-but-wrong clusters; raise maxRounds")
    // the final labels checkpoint is materialized and self-contained — the
    // symmetrized edge copy would otherwise sit in block-manager storage
    // until session end, accumulating across invocations
    dropCheckpoint(sym)
    labels
  }
}
