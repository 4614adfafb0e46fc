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

  def run(docs: DataFrame, idCol: String, textCol: String, k: Int = 3,
          metricName: String = "dedup_pipeline_band_rows"): DataFrame = {
    val sh = udf((t: String) => graft.Queries.simhash64(t))
    // normalized key + per-key min-id rep in ONE shuffle (window min,
    // no self-join); materialized once — read again by the final join
    val withRep = Normalize.withKey(
        docs.select(col(idCol).as("id"), col(textCol).as("text")), "text")
      .withColumn("rep", min(col("id")).over(Window.partitionBy("key_md5")))
      .localCheckpoint(true)
    // one fingerprint per exact-dup group, over the normalized text
    val sims = withRep.filter(col("id") === col("rep"))
      .select(col("id"), sh(Normalize.normKey(col("text"))).as("sim"))
    val pairs = graft.join.SimilarityJoin
      .simhashHammingJoin(sims, k = k, bits = 64, bands = 4,
        metricName = metricName)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val comps = ConnectedComponents.run(sims.select("id"), pairs)
      .withColumnRenamed("id", "rep")
    withRep.select(col("id"), col("rep"))
      .join(comps, "rep")
      .select(col("id").as(idCol), col("component").as("keeper"))
  }
}
