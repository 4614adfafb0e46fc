package graft.join

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact similarity JOINS for the dedup family — both with PROVABLY
  * complete candidate generation (unlike LSH, which is probabilistic for
  * non-planted pairs, these two never miss a qualifying pair):
  *
  *  - [[simhashHammingJoin]]: all pairs within Hamming distance k of a
  *    b-bit fingerprint, by the PIGEONHOLE banding — split the bits into
  *    `bands` > k disjoint bands; ≤ k differing bits cannot touch every
  *    band, so some band matches exactly ⇒ the banded equi-join is a
  *    complete candidate set, refined by the exact popcount.
  *  - [[jaccardJoin]]: all pairs with set-Jaccard ≥ τ, by the AllPairs /
  *    PPJoin PREFIX FILTER (Bayardo et al. 2007; Xiao et al. 2008): under
  *    ANY global total order of elements, if J(A,B) ≥ τ then the SMALLEST
  *    shared element sits within the first |A|−⌈τ|A|⌉+1 elements of A and
  *    likewise for B (fewer than ⌈τ·n⌉ elements may follow it on either
  *    side, while the overlap is ≥ ⌈τ·n⌉) — so indexing only each set's
  *    prefix still yields every qualifying pair. The order used is
  *    (global frequency, value) ascending, which puts the RAREST elements
  *    in the prefixes and keeps the inverted-index buckets small — the
  *    measured full inverted index over the documents table priced 1.5e9
  *    joined rows at sf0.1; the prefix index is the difference between a
  *    textbook exact join and an unusable one at 100 TB.
  */
object SimilarityJoin {

  /** sims: (id, sim) with `sim` a fingerprint in the low `bits` bits.
    * Returns (id_a, id_b, hamming) for all pairs with hamming ≤ k.
    * Requires bands > k (the pigeonhole) and bands | bits. `metricName`
    * names the pre-refine candidate-row observe() metric — callers that
    * run MORE THAN ONE hamming join per session must pass distinct names
    * (the bench's metric map keeps the last value per name, so a shared
    * name silently clobbers the other join's cost signal). */
  def simhashHammingJoin(sims: DataFrame, k: Int,
                         bits: Int = 32, bands: Int = 4,
                         metricName: String = "simhash_join_band_rows"): DataFrame = {
    require(bands > k, s"pigeonhole needs bands ($bands) > k ($k)")
    require(bits % bands == 0, s"bands must divide bits")
    val w = bits / bands
    val mask = (1L << w) - 1
    bandedHammingJoin(sims, simCols = Seq("sim"), nBands = bands,
      bandKey = (b, c) => shiftright(c("sim"), b * w).bitwiseAND(lit(mask)),
      hamming = (a, b) => bit_count(a("sim").bitwiseXOR(b("sim"))),
      k = k, metricName = metricName)
  }

  /** Shared banded-pigeonhole core of the exact Hamming joins: checkpoint
    * the fingerprint table once unless it is already a column subset of a
    * materialization ([[materialized]]), explode to (id, band, 16-bit key)
    * rows that carry the fingerprint words, equi-join on (band, key) with
    * id_a < id_b, observe the candidate count, then refine with the exact
    * distance and the minimal-band guard (see the inline comment), so each
    * qualifying pair comes out exactly once with no Distinct. Parameterized
    * over the word columns and the per-band key/distance expressions (each
    * given a resolver from word name to column) so one body serves every
    * fingerprint width (32/64-bit single-long, 128-bit two-long, and the
    * next rung for free). */
  private def bandedHammingJoin(sims: DataFrame, simCols: Seq[String], nBands: Int,
      bandKey: (Int, String => org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      hamming: (String => org.apache.spark.sql.Column, String => org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      k: Int, metricName: String): DataFrame = {
    // the self-join reads the fingerprints twice; an un-materialized input
    // would re-run the caller's fingerprint UDF and source scan per read.
    // Checkpointed blocks live until session end (a lazy result can't drop
    // them itself — callers running MANY joins per session own that
    // hygiene; cf. ConnectedComponents.dropCheckpoint).
    val cols = sims.select((col("id") +: simCols.map(col)): _*)
    val s = if (materialized(cols)) cols else cols.localCheckpoint(true)
    // the fingerprint words RIDE the band rows (8-16 bytes each, on a
    // table of n×bands rows) instead of being fetched back by id joins:
    // the former two fetch joins each EXCHANGED the candidate table — the
    // biggest intermediate in the whole join (225M rows at the 2M-doc
    // smoke) — twice, by id_a then id_b; carried words let the exact
    // refine run map-side in the same stage as the band equi-join, so the
    // candidate table is never exchanged at all.
    // Band rows via ONE explode pass (the HammingJoinRewrite shape), not
    // an nBands-way union: the union multiplied the checkpoint's
    // partitions by nBands on BOTH join sides (8 bands × 32 partitions =
    // 256 probe tasks + 256 broadcast-build tasks of ~600 rows each at
    // sf0.1 — measured as the dominant share of q86's join stage, pure
    // task-launch overhead). Same rows, same candidates; one scan. The
    // posexplode of the band keys yields (band, key) in one projection.
    val banded = s.select((col("id") +:
      posexplode(array((0 until nBands).map(bandKey(_, col)): _*)).as(Seq("band", "bkey")) +:
      simCols.map(col)): _*)
    // no explicit repartition here: at gate scale the planner broadcasts
    // one banded side (BHJ — zero exchanges), and the probe side inherits
    // the checkpoint's parallel partitions, so the candidate enumeration +
    // popcount refine is already spread; a pinned REPARTITION_BY_NUM was
    // measured STRICTLY slower on both the 4-band and 8-band shapes
    // (interleaved A/B, min-of-4: 0.66 vs 1.40 s and 3.43 vs 4.28 s at
    // sf0.1). At sizes past the broadcast threshold the join's own
    // ENSURE_REQUIREMENTS exchanges partition by (band, bkey) and AQE
    // sizes the partitions to the data.
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select((col("a.id").as("id_a") +: col("b.id").as("id_b") +: col("a.band").as("__band") +:
        (simCols.map(c => col(s"a.$c").as(s"__a_$c")) ++
         simCols.map(c => col(s"b.$c").as(s"__b_$c")))): _*)
      .observe(metricName, count(lit(1)).as("rows"))
    // a pair agreeing on several bands is a candidate once per band; keep
    // it only from its FIRST agreeing band (no earlier band key agrees,
    // checked on the carried words, the HammingJoinRewrite guard), so each
    // pair survives exactly once. This replaces a Distinct after the
    // refine, whose exchange was a job of its own at every size.
    val firstBand = (0 until nBands - 1).map { b =>
      col("__band") <= b ||
        bandKey(b, c => col(s"__a_$c")) =!= bandKey(b, c => col(s"__b_$c"))
    }.foldLeft(lit(true))(_ && _)
    val dist = hamming(c => col(s"__a_$c"), c => col(s"__b_$c"))
    cand.filter(dist <= k && firstBand).select(col("id_a"), col("id_b"), dist.as("hamming"))
  }

  /** Whether `df` is a column subset of a materialization: every leaf is
    * a checkpoint (`LogicalRDD`) or a cached relation, with only filters
    * and attribute-only projections (renames included) above it. Reading
    * such a plan twice rescans stored rows and computes nothing again, so
    * the join needs no checkpoint of its own (DedupPipeline's and q63's
    * fingerprints are checkpointed by their callers; q61/q86 compute
    * theirs in a projection and keep the join's checkpoint). */
  private def materialized(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    def stored(p: LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.LogicalRDD |
           _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case f: Filter => stored(f.child)
      case pr: Project => pr.projectList.forall {
          case _: Attribute => true
          case Alias(_: Attribute, _) => true
          case _ => false
        } && stored(pr.child)
      case _ => false
    }
    stored(df.queryExecution.withCachedData)
  }

  /** 128-bit EXACT Hamming join — the rung above [[simhashHammingJoin]]
    * for corpora where k ≤ 3 is too tight: 8 disjoint 16-bit bands (4 per
    * long half) give the pigeonhole guarantee up to k ≤ 7, and the
    * random-pair distance doubles (≈ 64 on mixed fingerprints) so the
    * exact refine rejects non-dups far harder at the same band-key
    * width. sims: (id, lo, hi) — two longs per the engine's simhash128.
    * Returns (id_a, id_b, hamming) for all pairs with
    * popcount(lo⊕lo′) + popcount(hi⊕hi′) ≤ k. Same plan shape as the
    * 64-bit join: band explode → equi-join on (band, key) → observe →
    * exact refine with the first-band guard; candidates are PROVABLY
    * complete. */
  def simhash128HammingJoin(sims: DataFrame, k: Int,
                            metricName: String = "simhash128_join_band_rows"): DataFrame = {
    val bands = 8
    require(bands > k && k >= 0, s"pigeonhole needs bands ($bands) > k ($k) >= 0")
    val mask = (1L << 16) - 1
    bandedHammingJoin(sims, simCols = Seq("lo", "hi"), nBands = bands,
      bandKey = (b, c) => shiftright(if (b < 4) c("lo") else c("hi"), (b % 4) * 16)
        .bitwiseAND(lit(mask)),
      hamming = (a, b) => bit_count(a("lo").bitwiseXOR(b("lo"))) +
        bit_count(a("hi").bitwiseXOR(b("hi"))),
      k = k, metricName = metricName)
  }

  /** Exact two-pointer intersection count over SORTED long arrays with
    * the PPJoin-style early abort: once the remaining elements cannot
    * reach `oreq` the pair is provably below threshold and the scan stops
    * (-1). The candidate corpus is template-heavy — most candidates fail,
    * and they fail after ~(n − oreq) mismatches instead of a full
    * hash-set intersection. */
  private[graft] def primitiveLongs(s: Seq[Long]): Array[Long] = s match {
    // catalyst hands primitive arrays as ArraySeq.ofLong — unwrap, or the
    // generic Seq.apply boxes every element of every candidate pair
    case a: scala.collection.immutable.ArraySeq.ofLong => a.unsafeArray
    case other => other.toArray
  }

  private val sharedCountUdf = udf((as: Seq[Long], bs: Seq[Long], oreq: Int) => {
    val a = primitiveLongs(as); val b = primitiveLongs(bs)
    val na = a.length; val nb = b.length
    var i = 0; var j = 0; var shared = 0
    var alive = true
    while (alive && i < na && j < nb) {
      val x = a(i); val y = b(j)
      if (x == y) { shared += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
      if (shared + math.min(na - i, nb - j) < oreq) alive = false
    }
    if (alive && shared >= oreq) shared else -1
  })

  /** docs: (id, shs) with `shs` an array<long> of elements (deduped and
    * sorted internally — set semantics are enforced, not assumed).
    * Returns (id_a, id_b, shared) for ALL pairs with
    * |A∩B| / |A∪B| ≥ tauNum/tauDen — exact (integer cross-multiplied:
    * shared ≥ oreq = ⌈num·(|A|+|B|)/(num+den)⌉, equivalent to
    * (num+den)·shared ≥ num·(|A|+|B|)).
    *
    * Candidate pruning, all completeness-preserving (the smallest shared
    * element s₁ generates a hit that provably survives every filter —
    * in A, the other shared elements all follow s₁, so
    * 1 + (|A| − rank_A(s₁)) ≥ o ≥ every bound below; likewise B):
    *  1. prefix filter: only the first |X| − ⌈τ|X|⌉ + 1 elements index;
    *  2. size filter: τ·|B| ≤ |A| ≤ |B|/τ (o ≤ min and o ≥ τ·max);
    *  3. positional filter: a hit at ranks (rₐ, r_b) is kept only if
    *     1 + min(|A|−rₐ, |B|−r_b) ≥ oreq — the max overlap this hit
    *     still allows.
    * The exact refine decides membership for every surviving candidate. */
  def jaccardJoin(docs: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauNum < tauDen, "need 0 < tau < 1")
    // set semantics are ENFORCED here (dedup + sort), not left as a doc
    // contract: duplicate elements would silently inflate |A| and the
    // two-pointer count, flipping threshold decisions with no error.
    // Materialized once (eager): the exploded index reads it twice (freq
    // agg + prefix window) and the refine twice more.
    val ds = docs.select(col("id"),
        sort_array(array_distinct(col("shs"))).as("shs"))
      .withColumn("nsh", size(col("shs")))
      .localCheckpoint(true)
    val ex = ds.select(col("id"), col("nsh"), explode(col("shs")).as("sh"))
    // global order = (frequency, value) ascending: one bounded agg job;
    // rarest elements land in the prefixes
    val freq = ex.groupBy("sh").agg(count(lit(1)).as("__cnt"))
    // prefix length n − ⌈τ·n⌉ + 1 (⌈a/b⌉ = (a+b−1) div b, all integer)
    val ceilTauN = ((col("nsh") * tauNum + tauDen - 1) / tauDen).cast("int")
    val wOrd = Window.partitionBy("id").orderBy(col("__cnt").asc, col("sh").asc)
    // materialized once (eager): the prefix index feeds BOTH sides of the
    // candidate self-join, and the un-materialized plan re-ran the whole
    // explode → frequency join → rank window chain per side (measured 2×
    // ~0.9 s at sf0.1). The prefix table is a strict subset of the
    // exploded index (≤ n−⌈τn⌉+1 rows per set), so pinning it costs less
    // than one of the two passes it replaces.
    val prefix = ex.join(freq, Seq("sh"))
      .withColumn("__rk", row_number().over(wOrd))
      .filter(col("__rk") <= col("nsh") - ceilTauN + 1)
      .select("id", "nsh", "__rk", "sh")
      .localCheckpoint(true)
    // Spark `/` is DOUBLE division — floor explicitly, or the ceil becomes
    // the raw quotient and the positional filter turns stricter than the
    // completeness proof allows
    def oreq(naCol: org.apache.spark.sql.Column, nbCol: org.apache.spark.sql.Column) =
      floor(((naCol + nbCol) * tauNum + tauNum + tauDen - 1) / (tauNum + tauDen)).cast("int")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
          col("a.nsh") * tauDen >= col("b.nsh") * tauNum &&
          col("b.nsh") * tauDen >= col("a.nsh") * tauNum &&
          lit(1) + least(col("a.nsh") - col("a.__rk"), col("b.nsh") - col("b.__rk")) >=
            oreq(col("a.nsh"), col("b.nsh")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .observe("jaccard_join_hit_rows", count(lit(1)).as("rows")) // below the dedup exchange: executes once
      .distinct()
      // spread the deduped pairs BEFORE the exact refine: the candidate
      // table is a few MB of id pairs, so AQE coalesces the dedup exchange
      // to one partition — and then the two-pointer intersection UDF (the
      // expensive part of the whole join) runs single-threaded (measured
      // ~4 s of the ~5 s total at sf0.1). An explicit round-robin exchange
      // of the narrow pair table is noise next to the refine CPU it
      // parallelizes, at every scale.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    cand
      .join(ds.select(col("id").as("id_a"), col("shs").as("__A"), col("nsh").as("__na")), Seq("id_a"))
      .join(ds.select(col("id").as("id_b"), col("shs").as("__B"), col("nsh").as("__nb")), Seq("id_b"))
      .withColumn("shared",
        sharedCountUdf(col("__A"), col("__B"), oreq(col("__na"), col("__nb")).cast("int")))
      .filter(col("shared") >= oreq(col("__na"), col("__nb")))
      .select("id_a", "id_b", "shared")
  }
}
