package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE synthetic text corpus every ScaleSmoke measurement runs on — one
  * definition, so the smoke entries and the standalone exact-Hamming runs
  * on the same corpus (OPTIMIZATION_r08.md §2 and "Banded joins: band
  * rows via ONE explode", cross-quoted by BASELINE.md) measure the same
  * rows. 1000-word vocab with MIX-based selection:
  * a linear (id·A + k·B) derivation collapses the corpus to ~1000
  * distinct 3-grams — every doc's grams form one arithmetic progression
  * mod 1000 (measured in round 7: 100% of docs flagged contaminated;
  * the HLL progression trap in text form). mix32(id·31 + k)
  * equidistributes, giving a 10⁹-gram space and a realistic sub-percent
  * contamination rate. */
object SmokeCorpus {

  /** (vec_id, embedding: array<double>) — synthetic unit-range vectors,
    * dims values in (−0.5, 0.5) derived per (id, dim) from the same mix
    * family as the text corpus; uncached. */
  def vectors(spark: SparkSession, n: Long, dims: Int = 64): DataFrame = {
    val dimCols = (0 until dims).map { d =>
      ((graft.ops.Sampling.mix32(col("id") * lit(131L) + lit(d.toLong))
        % lit(1000000L)).cast("double") / lit(1000000.0) - lit(0.5))
    }
    spark.range(n)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id").as("vec_id"), array(dimCols: _*).as("embedding"))
  }

  /** (id, text, domain) — uncached; callers decide caching. */
  def docs(spark: SparkSession, docN: Long): DataFrame = {
    val vocabArr = array((0 until 1000).map(i => lit(s"w$i")): _*)
    val wordCols = (0 until 30).map { k =>
      element_at(vocabArr,
        (graft.ops.Sampling.mix32(col("id") * lit(31L) + lit(k.toLong))
          % lit(1000L) + lit(1L)).cast("int"))
    }
    spark.range(docN)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id"), concat_ws(" ", wordCols: _*).as("text"),
        (col("id") % 64).as("domain"))
  }
}
