package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The END-TO-END dedup pipeline — the production composition a corpus
  * operator actually calls, wiring the gated pieces in their scale
  * order: normalize (q74) → exact-dup collapse → 64-bit SimHash
  * fingerprint over the NORMALIZED text → pigeonhole-banded Hamming
  * candidates with exact popcount refine (q61) → connected components
  * (q63) → min-id keeper per ORIGINAL row.
  *
  * Why this order at 100 TB:
  *   1. Exact dups collapse FIRST on a hash key (one shuffle of
  *      (md5, id) pairs): boilerplate-heavy web corpora are routinely
  *      30-50% byte-identical after normalization, and every collapsed
  *      row is a row the quadratic-family similarity join never sees.
  *      The group representative is the group's min id, so the final
  *      min-over-component keeper is the GLOBAL cluster min — reps
  *      don't bias the keeper choice.
  *   2. Fingerprints are computed once per representative over the
  *      normalized text (fingerprint-after-normalize is the
  *      CCNet/RefinedWeb order — case and punctuation noise must not
  *      perturb Hamming distances).
  *   3. The banded join is provably complete for Hamming ≤ k
  *      (SimilarityJoin pigeonhole), so the pair graph — and therefore
  *      the clusters — are exact, not LSH-probabilistic.
  *   4. Components give transitive closure: near-dup CHAINS (a~b~c
  *      where a,c are not themselves within k) still collapse to one
  *      keeper, which pairwise dedup silently misses. A pair graph that
  *      fits the broadcast threshold is labeled on the driver in one
  *      job; a larger one runs the distributed rounds
  *      (ConnectedComponents).
  *
  * Returns one row per INPUT row: (idCol, keeper) with
  * keeper = min id over the row's full dedup cluster (exact group ∪
  * transitive near-dup closure). `keeper == id` marks the survivor set.
  */
object DedupPipeline {

  /** Three Spark executions, counting the caller's action:
    *   1. one eager checkpoint of (id, rep, sim): the normalized key and
    *      the per-key min-id rep in ONE shuffle (window min, no
    *      self-join), with the fingerprint computed only on rep rows
    *      (id == rep) and the text dropped. The Hamming join reads its
    *      (id, sim) rows as a column subset of this materialization, so it
    *      takes no checkpoint of its own; the keeper join reads (id, rep).
    *   2. connected components' bounded collect of the pair list
    *      ([[ConnectedComponents.labels]]), which evaluates the Hamming
    *      join; above the broadcast threshold the rounds follow.
    *   3. the caller's action on the result: each row's rep left-joined to
    *      the non-identity label table, keeper = coalesce(component, rep).
    */
  def run(docs: DataFrame, idCol: String, textCol: String, k: Int = 3,
          metricName: String = "dedup_pipeline_band_rows"): DataFrame = {
    val sh = udf((t: String) => graft.Queries.simhash64(t))
    val withRep = Normalize.withKey(
        docs.select(col(idCol).as("id"), col(textCol).as("text")), "text")
      .withColumn("rep", min(col("id")).over(Window.partitionBy("key_md5")))
      .select(col("id"), col("rep"),
        // one fingerprint per exact-dup group, over the normalized text
        when(col("id") === col("rep"), sh(Normalize.normKey(col("text")))).as("sim"))
      .localCheckpoint(true)
    val sims = withRep.filter(col("id") === col("rep")).select(col("id"), col("sim"))
    val pairs = graft.join.SimilarityJoin
      .simhashHammingJoin(sims, k = k, bits = 64, bands = 4,
        metricName = metricName)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val labels = ConnectedComponents.labels(sims.select("id"), pairs)
      .withColumnRenamed("id", "rep")
    withRep.join(labels, Seq("rep"), "left")
      .select(col("id").as(idCol), coalesce(col("component"), col("rep")).as("keeper"))
  }
}
