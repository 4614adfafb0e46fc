package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed CONNECTED COMPONENTS over a pair list — the step that turns
  * near-dup PAIRS (LSH/banded join output: q19/q50/q54/q61/q62) into
  * dedup CLUSTERS with a deterministic keeper (component = min member id,
  * which IS the keeper id under the engine's min-id-keeper convention).
  *
  * Two paths, placed by [[graft.plans.DriverPath.place]] on the edge
  * list, each row counted twice (the rounds read both directions):
  *  - driver path: the placement run is its one Spark execution (one job
  *    over a materialized edge list); [[unionFind]] labels the rows and the non-identity labels
  *    become a broadcast table;
  *  - round path: the placement run, the edge checkpoint, then one
  *    checkpoint per round. The rounds read the placement's kept rows, so
  *    the edge plan (typically a pair join) is evaluated once.
  *
  * Min-label propagation with a POINTER-JUMPING shortcut each
  * round (hash-to-min family, cf. Kiveris et al. "Connected Components in
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
  * aggregation's exchange and the checkpoint's result stage. A round
  * with no exchange at all was not possible: on Spark 4.1.2 a
  * localCheckpoint of `repartition(col("dst"))` reports
  * `UnknownPartitioning(0)`, so a later `groupBy("dst")` exchanges again.
  *
  * Deterministic: the fixpoint (every vertex labeled with its component's
  * min id) is unique and both paths compute it, so the result is
  * hash-gateable whichever path ran. The round path throws loudly if
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

  /** Name of the edge-count observe() metric: (rows), the input's edge
    * rows, one direction as given. The placement run reports it; on the
    * round path the edge checkpoint reports it again. */
  private[graft] val EDGE_METRIC = "graft_cc_edges"

  /** Name of the path's observe() metric: (round = 0) on the placement
    * run, then (round, changed, rows) on each round's checkpoint. Its
    * first column, the last value the bench's observed map keeps, is the
    * path taken: 0 = labeled on the driver, N = N rounds. */
  private[graft] val METRIC = "graft_cc_round"

  /** Bytes a label-table row of two longs counts against the broadcast
    * threshold when the rounds choose their join strategy: Spark's
    * `EstimationUtils.getSizePerRow` for it (8 bytes of row overhead + 8
    * per long). */
  private val ROW_BYTES = 24L

  /** Drop the persisted RDD blocks under a localCheckpoint NOW:
    * `Dataset.unpersist` only talks to the CacheManager, which never saw
    * them, so superseded label copies would otherwise sit in block-manager
    * storage until GC-driven cleanup — up to maxRounds full
    * label tables on a big graph. */
  private[graft] def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** The `name` metric of an executed plan. A missing metric fails
    * loudly: reading it as 0 would stop the rounds on a
    * plausible-but-wrong labeling. Each metric sits at the root of its
    * plan, above every node AQE's empty-relation rule can replace, so an
    * empty input still reports it. */
  private def metric(df: DataFrame, name: String, where: String): Row =
    df.queryExecution.observedMetrics.getOrElse(name,
      throw new IllegalStateException(s"ConnectedComponents $where reported no $name metric"))

  /** vertices: (id), distinct ids; edges: (src, dst) — undirected, ids
    * must be members of `vertices`. Returns (id, component) with component
    * = min id reachable from the vertex (its own id for singletons). */
  def run(vertices: DataFrame, edges: DataFrame, maxRounds: Int = 30): DataFrame =
    run(vertices, edges, maxRounds, (_, _, _) => ())

  /** As [[run]], with a per-round observer `(round, seconds, changed)` —
    * the measurement hook ScaleSmoke uses to report rounds taken and
    * per-round wall time at 10M+ edges (no behavior change; the default
    * overload passes a no-op). The driver path runs no rounds: it calls
    * neither `onRound` nor checks `maxRounds`. */
  def run(vertices: DataFrame, edges: DataFrame, maxRounds: Int,
          onRound: (Int, Double, Long) => Unit): DataFrame =
    vertices.select(col("id"))
      .join(labels(vertices, edges, maxRounds, onRound), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))

  /** The non-identity labels: (id, component) for exactly the vertices
    * whose component is not their own id; every other vertex is its own
    * component. Same inputs as [[run]], which left-joins the vertices to
    * this table; a caller that holds its own vertex-keyed rows can join
    * them to it directly.
    *
    * The edge list is placed (see the object doc): labeled on the driver,
    * or by the rounds over the placement's kept rows. */
  def labels(vertices: DataFrame, edges: DataFrame, maxRounds: Int = 30,
             onRound: (Int, Double, Long) => Unit = (_, _, _) => ()): DataFrame =
    graft.plans.DriverPath.place(edges.select(col("src").cast("long"), col("dst").cast("long")),
      copies = 2, metrics = _.observe(EDGE_METRIC, count(lit(1)).as("rows"))
        .observe(METRIC, lit(0L).as("round")))(
      driverLabels(vertices.sparkSession, _))(rounds(vertices, _, maxRounds, onRound))

  /** Labels the collected edge rows by union-find ([[unionFind]]); only
    * ids whose label is not their own enter the (broadcast) table. */
  private def driverLabels(spark: SparkSession, es: Array[InternalRow]): DataFrame = {
    val (ids, components) = unionFind(es.map(_.getLong(0)), es.map(_.getLong(1)))
    val labels = new java.util.ArrayList[Row](ids.length)
    ids.indices.foreach(i => labels.add(Row(ids(i), components(i))))
    broadcast(spark.createDataFrame(labels,
      StructType(Seq(StructField("id", LongType, false), StructField("component", LongType, false)))))
  }

  /** Union-find over an undirected edge list given as two parallel id
    * arrays. Returns the non-identity labels as parallel arrays: every
    * edge end whose component (the min id it reaches) is not its own id,
    * in ascending id order, with that component. Ids map to their rank
    * among the sorted distinct edge ends, so linking the larger root under
    * the smaller keeps every root its component's min id. */
  private[graft] def unionFind(src: Array[Long], dst: Array[Long]): (Array[Long], Array[Long]) = {
    val ends = src ++ dst
    java.util.Arrays.sort(ends)
    var m = 0
    var i = 0
    while (i < ends.length) {
      if (m == 0 || ends(i) != ends(m - 1)) { ends(m) = ends(i); m += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(ends, m)
    val parent = Array.range(0, ids.length)
    def find(v: Int): Int = {
      var x = v
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    i = 0
    while (i < src.length) {
      val a = find(java.util.Arrays.binarySearch(ids, src(i)))
      val b = find(java.util.Arrays.binarySearch(ids, dst(i)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 1
    }
    val labeled = Array.range(0, m).filter(v => find(v) != v)
    (labeled.map(ids(_)), labeled.map(v => ids(find(v))))
  }

  /** The round path: symmetrizes the edges into one checkpoint, read by
    * every round and dropped once the labels are materialized, and returns
    * the non-identity labels. */
  private def rounds(vertices: DataFrame, edges: DataFrame, maxRounds: Int,
                     onRound: (Int, Double, Long) => Unit): DataFrame = {
    // both directions from ONE read of the edges; the input's row count
    // (half the symmetrized rows) rides the checkpoint's root
    val symObs = edges
      .select(explode(array(struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .observe(EDGE_METRIC, (count(lit(1)) / 2).cast("long").as("rows"))
    val sym = symObs.localCheckpoint(true)
    try propagate(vertices, sym, maxRounds, onRound)
      .filter(col("component") =!= col("id"))
    finally dropCheckpoint(sym)
  }

  private def propagate(vertices: DataFrame, sym: DataFrame, maxRounds: Int,
                        onRound: (Int, Double, Long) => Unit): DataFrame = {
    val threshold =
      vertices.queryExecution.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    // Round 1 reads `vertices` directly: its labels are the identity map,
    // so there is nothing to checkpoint before the first aggregation.
    var labels = vertices.select(col("id"), col("id").as("component"))
    var labelsCk: DataFrame = null
    // A checkpoint carries no size estimate, so the planner would
    // sort-merge the label table every round. Round 1 counts the vertices;
    // when the table (ROW_BYTES a row) fits under the session's broadcast
    // threshold, later rounds broadcast it to both joins. Above it they
    // keep the shuffle join.
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
        .observe(METRIC, lit(round + 1L).as("round"),
          count(when(col("newComp") < col("component"), 1)).as("changed"),
          count(lit(1)).as("rows"))
      val doubled = observed.localCheckpoint(true)
      val m = metric(observed, METRIC, s"round ${round + 1}")
      val changed = m.getAs[Long]("changed")
      if (round == 0) bcast = m.getAs[Long]("rows") * ROW_BYTES <= threshold
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
    labels
  }
}
