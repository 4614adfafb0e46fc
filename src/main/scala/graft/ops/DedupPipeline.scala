package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
  *      keeper, which pairwise dedup silently misses.
  *
  * Returns one row per INPUT row: (idCol, keeper) with
  * keeper = min id over the row's full dedup cluster (exact group ∪
  * transitive near-dup closure). `keeper == id` marks the survivor set.
  *
  * Two paths, placed by [[graft.plans.DriverPath.place]] on the
  * fingerprint rows (id, key_md5, sim): the normalized-key md5 and the
  * SimHash of the normalized text, computed in tasks for every row. A
  * non-integral id column always runs distributed. Both paths return the
  * same rows under the same schema, and both report the banded join's
  * candidate rows under `metricName`.
  *
  * Driver path, two Spark executions counting the caller's action:
  *   1. the placement run, whose rows come to the driver. There the min id
  *      per key is the rep, [[graft.join.SimilarityJoin.driverHammingPairs]]
  *      joins the reps' fingerprints (the distributed join's bands and
  *      candidates) and [[ConnectedComponents.unionFind]] labels the pair
  *      graph.
  *   2. the caller's action on the returned local DataFrame. It carries
  *      the band-row metric as an observe() of a literal, so this action,
  *      not one inside `run`, reports it.
  *
  * Distributed path, four Spark executions counting the caller's action
  * (three at threshold −1, where nothing is placed):
  *   1. the placement run, whose rows stay in its kept blocks;
  *   2. one eager checkpoint of (id, rep, sim) over them: the per-key
  *      min-id rep in ONE shuffle (window min, no self-join), with the
  *      fingerprint kept only on rep rows (id == rep). The Hamming join
  *      reads its (id, sim) rows as a column subset of this
  *      materialization, so it takes no checkpoint of its own; the keeper
  *      join reads (id, rep).
  *   3. connected components' placement run on the pair list
  *      ([[ConnectedComponents.labels]]), which evaluates the Hamming join
  *      and reports its band rows; a pair graph that fits is labeled on
  *      the driver, a larger one runs the rounds.
  *   4. the caller's action on the result: each row's rep left-joined to
  *      the non-identity label table, keeper = coalesce(component, rep).
  */
object DedupPipeline {

  private val simhash = udf((t: String) => graft.Queries.simhash64(t))

  def run(docs: DataFrame, idCol: String, textCol: String, k: Int = 3,
          metricName: String = "dedup_pipeline_band_rows"): DataFrame = {
    val side = fingerprints(docs, idCol, textCol)
    if (Seq(ByteType, ShortType, IntegerType, LongType).contains(side.schema("id").dataType))
      graft.plans.DriverPath.place(side)(
        driver(_, side, idCol, k, metricName))(distributed(_, idCol, k, metricName))
    else distributed(side, idCol, k, metricName)
  }

  /** The placed side: (id, key_md5, sim) for every row of `docs`. */
  private[graft] def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Normalize.withKey(docs.select(col(idCol).as("id"), col(textCol).as("text")), "text")
      .select(col("id"), col("key_md5"), simhash(Normalize.normKey(col("text"))).as("sim"))

  private def driver(rows: Array[InternalRow], side: DataFrame, idCol: String, k: Int,
                     metricName: String): DataFrame = {
    val id = side.schema("id")
    val ids = rows.map(r => if (r.isNullAt(0)) 0L else r.get(0, id.dataType).asInstanceOf[Number].longValue)
    // the row holding each key's min id; a row with a null id is no rep
    val repRow = scala.collection.mutable.HashMap.empty[UTF8String, Int]
    rows.indices.foreach { i =>
      if (!rows(i).isNullAt(0)) {
        val key = rows(i).getUTF8String(1)
        if (repRow.get(key).forall(j => ids(i) < ids(j))) repRow(key) = i
      }
    }
    val reps = repRow.values.toArray
    val pairs = graft.join.SimilarityJoin.driverHammingPairs(
      reps.map(ids), reps.map(rows(_).getLong(2)), k, bits = 64, bands = 4)
    val (labeled, components) = ConnectedComponents.unionFind(pairs.idA, pairs.idB)
    val out = rows.map { r =>
      val keeper = repRow.get(r.getUTF8String(1)).map { j =>
        val l = java.util.Arrays.binarySearch(labeled, ids(j))
        if (l >= 0) components(l) else ids(j)
      }
      InternalRow(r.get(0, id.dataType), keeper.getOrElse(null))
    }
    // the distributed path's schema: the input's id field, and a nullable
    // keeper (there it is coalesced from a window min)
    org.apache.spark.sql.graft.bridge.localFrame(side.sparkSession, StructType(Seq(
        StructField(idCol, id.dataType, id.nullable), StructField("keeper", LongType, true))), out.toSeq)
      .observe(metricName, lit(pairs.bandRows).as("rows"))
  }

  private def distributed(fingerprints: DataFrame, idCol: String, k: Int, metricName: String): DataFrame = {
    val withRep = fingerprints
      .withColumn("rep", min(col("id")).over(Window.partitionBy("key_md5")))
      // one fingerprint per exact-dup group
      .select(col("id"), col("rep"), when(col("id") === col("rep"), col("sim")).as("sim"))
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
