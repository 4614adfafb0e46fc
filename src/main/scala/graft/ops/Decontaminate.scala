package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{BloomAgg, BloomAggregator}

/** Benchmark DECONTAMINATION — the pretraining-pipeline step that flags
  * (for removal or audit) every training document sharing a word n-gram
  * with an evaluation set, so benchmark answers don't leak into the
  * training corpus.
  *
  * Scale design (corpus = 100 TB, eval set = small by nature):
  *   1. The eval set's distinct n-grams reduce to ONE fixed 8 KiB Bloom
  *      bitset (functions/BloomAgg — map-side partial agg, OR-merge),
  *      collected once on the driver (bounded: 2048 words regardless of
  *      eval size) and broadcast to every executor.
  *   2. The corpus is scanned ONCE with a row-local candidate filter:
  *      each doc's n-grams probe the broadcast filter in place. No
  *      corpus shuffle, no join, no row amplification for the clean
  *      majority — a doc with zero candidate grams exits the pipeline
  *      inside the same codegen stage.
  *   3. Bloom false positives (bounded by fill^K) are removed by an
  *      exact broadcast equi-join of the surviving (doc, gram) pairs —
  *      a tiny fraction of the corpus — against the real eval grams.
  * No false negatives by construction (a present gram always probes set
  * bits), so the result EXACTLY equals the full join — which is what
  * the driver-gate oracle computes (q69).
  */
object Decontaminate {

  /** Word n-grams of a space-tokenized text column, as codegen'd
    * built-ins (split → transform over a window index → concat_ws).
    * Fewer than n tokens → empty array (the `when` guard keeps
    * `sequence` from descending on a negative stop). */
  def wordNgrams(textCol: Column, n: Int): Column = {
    require(n >= 1, s"wordNgrams: n must be >= 1, got $n")
    val w = split(textCol, " ")
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - lit(n)),
        i => concat_ws(" ", slice(w, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Build the row-local candidate filter for a gram set: reduce
    * `evalGrams` ("g": string) to the 8 KiB Bloom bitset (one bounded
    * driver action — 2048 words no matter the eval size, like the join
    * stats jobs), broadcast it, and return a UDF mapping a gram array
    * to the subset that probes set bits. Shared by the batch operator
    * and the streaming ingest twin, so both drive the SAME probe path. */
  def candidateGramFilter(evalGrams: DataFrame)
  : org.apache.spark.sql.expressions.UserDefinedFunction = {
    // SIZE the filter to the eval set: bits ≈ 16× members (fill ≈ 0.22,
    // FPR bound ≈ 2e-3 at K = 4), floored at the 8 KiB gate default and
    // capped at 2 MiB of broadcast. The round-7 sweep measured why: a
    // 56k-gram eval set fills the fixed 2^16 filter to 97% (FPR bound
    // 0.87), silently exploding ~25 candidate rows per clean doc.
    val nGrams = evalGrams.count()
    val bitsPow = math.max(BloomAgg.BITS_POW, math.min(24,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nGrams) * 16 - 1)))
    val hashUdf = udf((s: String) => BloomAgg.hashString(s))
    val bloomAgg = udaf(new BloomAggregator(bitsPow),
      org.apache.spark.sql.Encoders.scalaLong)
    val words = evalGrams.agg(bloomAgg(hashUdf(col("g"))).as("w"))
      .head().getAs[scala.collection.Seq[Long]]("w").toArray
    val bc = evalGrams.sparkSession.sparkContext.broadcast(words)
    udf((grams: scala.collection.Seq[String]) =>
      grams.filter(g => BloomAgg.mayContain(bc.value, BloomAgg.hashString(g))))
  }

  /** Flag corpus docs sharing any word n-gram with `evalDocs`.
    * Returns one row per CONTAMINATED doc: (idCol, n_hits) where
    * n_hits = number of distinct eval n-grams the doc contains.
    * `metricName` names the post-bloom candidate-row observe() metric
    * (the q50 pattern — Bench and QBench print it through
    * bench.Observed, so a bloom-fill regression shows up as a cost
    * number, not a guess); callers running more than one
    * decontamination per session pass distinct names.
    * Note: the eval gram set is localCheckpoint'd (read twice: bloom
    * build + exact refine); its blocks live until session end, so a
    * long-lived session auditing MANY eval sets should bound them by
    * reusing one session per audit batch — per-call state is 8 KiB of
    * bloom plus the distinct grams of one (small) eval set. */
  def contaminatedDocs(corpus: DataFrame, evalDocs: DataFrame,
                       idCol: String, textCol: String, n: Int,
                       metricName: String = "decontam_cand_rows"): DataFrame = {
    // localCheckpoint: the gram set is read twice (bloom build + exact
    // refine) — materialize once instead of re-scanning the eval docs
    val evalGrams = evalDocs
      .select(explode(wordNgrams(col(textCol), n)).as("g"))
      .distinct()
      .localCheckpoint()

    // row-local candidate filter: only grams that probe the broadcast
    // filter survive to the explode, so clean docs never amplify
    val candUdf = candidateGramFilter(evalGrams)
    val cands = corpus.select(col(idCol),
      explode(candUdf(wordNgrams(col(textCol), n))).as("g"))

    // exact refine: false positives die on the broadcast equi-join; the
    // observe sits below the agg's exchange, so it executes once per run
    cands.observe(metricName, count(lit(1)).as("rows"))
      .join(broadcast(evalGrams), "g")
      .groupBy(idCol)
      .agg(countDistinct(col("g")).as("n_hits"))
  }
}
