package graft

import graft.geom.{Geo, Vincenty}
import graft.index.{Geohash, Hilbert}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's verifiable query surface (driver contract).
  *
  * Input derivation: every geo query runs over deterministic points derived
  * from `events.event_id` by multiplicative hashing — exact BIGINT math and
  * a single exact division, so the DuckDB oracle reproduces the coordinates
  * bit-for-bit (see OracleSql.PTS_CTE). Geometry/tiling decisions then flow
  * through the engine's real kernels (Geohash/Hilbert/JTS/Vincenty) while
  * the oracle recomputes them in pure SQL.
  *
  * Compute-once guard: eleven queries end an expensive kernel segment
  * with an eager `.localCheckpoint(true)` before their trailing orderBy.
  * The sort's range partitioner SAMPLES its child to pick bounds, which
  * would otherwise re-execute every kernel in that segment; with the
  * guard the kernels run once and the sample and the sort read blocks
  * (q38 1.67 → 0.41 s; the guarded set was pruned by A/B measurement —
  * OPTIMIZATION_r08.md "The sort's range-sample re-executes the pre-sort
  * segment").
  */
object Queries {

  // -- shared derived-point table (mirror of OracleSql.PTS_CTE) --
  // The events file is single-digit MB even at sf0.1 — one scan split —
  // so consumers that run EXPENSIVE per-row geometry/format kernels
  // (JTS predicates, H3 coverings, WKT/GeoJSON writers: ≥ µs/row) fan
  // the rows out to every core first via `pts`. Consumers whose per-row
  // work is a handful of codegen'd arithmetic ops take `ptsNarrow`: the
  // fan-out exchange costs ~0.4 s at bench scale (interleaved A/B,
  // OPTIMIZATION_r08.md "the scan fan-out audit") while their whole
  // serial kernel is < 50 ms — and at 100 TB that repartition is a
  // full-table shuffle ahead of a map, pure waste at every scale for
  // cheap kernels.
  def pts(spark: SparkSession, dir: String): DataFrame =
    ptsFrom(tbl(spark, dir, "events.parquet")
      .repartition(spark.sparkContext.defaultParallelism))

  /** As [[pts]] without the fan-out exchange — for column-native/cheap
    * per-row consumers where the repartition costs more than the compute
    * it would parallelize (at any scale). */
  def ptsNarrow(spark: SparkSession, dir: String): DataFrame =
    ptsFrom(tbl(spark, dir, "events.parquet"))

  /** Resolved-relation memo, one per (session, dir, file): a bare
    * `spark.read.parquet(path)` re-resolves the datasource EVERY call —
    * file listing + parquet footer schema read — a measured ~0.11 s of
    * driver time per call at bench scale (OPTIMIZATION_r08.md "The
    * per-rep planning floor"; it is the dominant share of the cheap
    * queries' planning floor, re-paid on every rep because Bench times
    * construction). The memo holds only the RESOLVED RELATION (schema +
    * file index) — no rows, no results: every execution still scans the
    * parquet files. Session-scoped like sigCache/embCache (the bench's
    * documented steady-state contract), keyed by dir so different SFs
    * never mix. At production scale this is the same reason catalogs/
    * table formats hold resolved metadata — re-listing a large table per
    * query is pure driver cost (guide §6).
    *
    * Staleness contract: a `dir` is IMMUTABLE for the life of every
    * session that has read it. The file index is listed once, at the
    * first read; files later added under `dir` are not seen, and files
    * rewritten or deleted there fail the scan or are read against the
    * old listing. To read a rewritten directory, use a new session (the
    * key carries the session UUID) or a new path. */
  private val relCache = new SessionCache[DataFrame](64, _ => ())
  private[graft] def tbl(spark: SparkSession, dir: String, file: String): DataFrame =
    relCache.getOrElseUpdate(
      s"${org.apache.spark.sql.graft.bridge.sessionUUID(spark)}|$dir|$file",
      spark.read.parquet(s"$dir/$file"))

  private def ptsFrom(raw: DataFrame): DataFrame =
    raw.select(
      col("event_id").as("id"),
      (lit(-90.0) + lit(180.0) *
        (((col("event_id") * lit(2654435761L)) % lit(4294967296L)) / lit(4294967296.0))).as("lat"),
      (lit(-180.0) + lit(360.0) *
        (((col("event_id") * lit(2246822519L)) % lit(4294967296L)) / lit(4294967296.0))).as("lon"))

  /** floor(((x + off) / ext) * 2^bits) clamped BOTH ways — identical float
    * op order to OracleSql.lonIdxSql/latIdxSql (the GREATEST lower clamp is
    * a no-op for in-domain world coordinates, so oracle parity holds; it
    * keeps out-of-domain inputs from producing negative indices where the
    * arithmetic-vs-logical shift paths of ghCol/fromIndices diverge). */
  def lonIdxCol(len: Int): Column = {
    val cells = 1L << Geohash.lonBitsFor(len)
    greatest(
      least(floor(((col("lon") + lit(180.0)) / lit(360.0)) * lit(cells.toDouble)), lit(cells - 1)),
      lit(0L))
  }
  def latIdxCol(len: Int): Column = {
    val cells = 1L << Geohash.latBitsFor(len)
    greatest(
      least(floor(((col("lat") + lit(90.0)) / lit(180.0)) * lit(cells.toDouble)), lit(cells - 1)),
      lit(0L))
  }

  /** Codegen'd column mirror of `Geohash.fromIndices` (differentially
    * pinned to the kernel in KernelSpec) — the UDF version paid per-row
    * boxing and split the codegen span on the q02/q05 key paths. */
  private def ghCol2(len: Int)(lonIdx: Column, latIdx: Column): Column =
    graft.functions.GeoCols.ghCol(lonIdx.cast("long"), latIdx.cast("long"), len)

  // ---------------- geo core ----------------

  /** Canary: plain agg with exact double sums (l_quantity is integral). */
  def q01Agg(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem.parquet")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  /** gh point: cell encode at precision 5 (reference `gh point <level>`). */
  def q02GhEncode(spark: SparkSession, dir: String): DataFrame =
    ptsNarrow(spark, dir)
      .withColumn("gh", ghCol2(5)(lonIdxCol(5), latIdxCol(5)))
      .select("id", "gh").orderBy("id")

  /** gh children explode over the distinct level-3 tiles (reference
    * `gh children`). Column-native form (explode over the 32 base32
    * suffixes + concat — whole-stage codegen; the typed flatMap pushed
    * every output row through Dataset encoders). Pinned to the kernel
    * `Geohash.children` by KernelSpec's differential test, same pattern
    * as the ghCol2 encode mirror. */
  def q03GhChildren(spark: SparkSession, dir: String): DataFrame = {
    val suffixes = "0123456789bcdefghjkmnpqrstuvwxyz".map(c => lit(c.toString))
    // sort BEFORE the ×32 explode: the range exchange moves the distinct
    // parents (n rows), not the children (32n). The rows come out in
    // (gh, child) order in practice — children share their parent's
    // prefix and the suffix array is ascending — but Spark guarantees no
    // global order after explode/project, so this is not a contract. The
    // gate does not need one: the oracle compares rows order-insensitively
    // (tools/check_oracle.py sorts both sides before comparing).
    ptsNarrow(spark, dir)
      .withColumn("gh", ghCol2(3)(lonIdxCol(3), latIdxCol(3)))
      .select("gh").distinct()
      .orderBy("gh")
      .withColumn("c", explode(array(suffixes: _*)))
      .select(col("gh"), concat(col("gh"), col("c")).as("child"))
  }

  /** gh neighbors via the table-based adjacency (reference `gh neighbors`);
    * pole rows excluded (the reference panics there). */
  def q04GhNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val latCells = 1L << Geohash.latBitsFor(5)
    val nbrUdf = udf((gh: String) => {
      val n = Geohash.neighbors(gh, includeSelf = false)
      (n(0), n(1), n(2), n(3), n(4), n(5), n(6), n(7))
    })
    pts(spark, dir)
      .withColumn("latidx", latIdxCol(5))
      .filter(col("latidx") >= 1 && col("latidx") <= lit(latCells - 2))
      .withColumn("gh", ghCol2(5)(lonIdxCol(5), col("latidx")))
      .withColumn("nb", nbrUdf(col("gh")))
      .select(col("id"), col("gh"),
        col("nb._1").as("n"), col("nb._2").as("ne"), col("nb._3").as("e"),
        col("nb._4").as("se"), col("nb._5").as("s"), col("nb._6").as("sw"),
        col("nb._7").as("w"), col("nb._8").as("nw"))

      .orderBy("id")
  }

  /** Tile assignment + per-tile counts (covering of a point = its cell;
    * reference `gh covering` + tiling). */
  def q05TileCounts(spark: SparkSession, dir: String): DataFrame =
    ptsNarrow(spark, dir)
      .withColumn("tile", ghCol2(3)(lonIdxCol(3), latIdxCol(3)))
      .groupBy("tile").agg(count(lit(1)).as("n_points"))
      .orderBy("tile")

  /** filter intersects against geohash cell 9 (lon [-135,-90], lat [0,45]) —
    * real JTS predicate versus the oracle's range test (exact for
    * axis-aligned cells). */
  def q06FilterIntersects(spark: SparkSession, dir: String): DataFrame = {
    val cellWkb = Geo.toWkb(Geohash.bboxPolygon("9"))
    val hit = udf((lon: Double, lat: Double) =>
      Geo.fromWkb(cellWkb).intersects(Geo.point(lon, lat)))
    pts(spark, dir).filter(hit(col("lon"), col("lat"))).select("id")
      .orderBy("id")
  }

  /** filter contains with the golden query polygon (strict interior,
    * reference `filter contains`, `tests/cli_test.rs:614-633`). */
  def q07FilterContains(spark: SparkSession, dir: String): DataFrame = {
    val polyWkb = Geo.toWkb(Geo.boxPolyBL(-50.0, 0.0, 30.0, 50.0))
    val hit = udf((lon: Double, lat: Double) =>
      graft.geom.Relations.containsPoly(
        Geo.fromWkb(polyWkb).asInstanceOf[org.locationtech.jts.geom.Polygon],
        Geo.point(lon, lat)))
    pts(spark, dir).filter(hit(col("lon"), col("lat"))).select("id")
      .orderBy("id")
  }

  val DW_LON = -118.2437; val DW_LAT = 34.0522; val DW_RADIUS = 2000000.0

  /** filter dwithin: keep points with Vincenty distance < 2,000 km of LA
    * (reference `filter dwithin`); oracle unrolls the same fixed-iteration
    * Vincenty. */
  def q08Dwithin(spark: SparkSession, dir: String): DataFrame = {
    val hit = udf((lon: Double, lat: Double) =>
      Vincenty.distanceFixed(lon, lat, DW_LON, DW_LAT) < DW_RADIUS)
    ptsNarrow(spark, dir).filter(hit(col("lon"), col("lat"))).select("id")
      .localCheckpoint(true) // compute-once guard (object doc)
      .orderBy("id")
  }

  /** measure distance: whole meters to the LA query point. */
  def q09MeasureDistance(spark: SparkSession, dir: String): DataFrame = {
    val dist = udf((lon: Double, lat: Double) =>
      math.round(Vincenty.distanceFixed(lon, lat, DW_LON, DW_LAT)))
    pts(spark, dir)
      .withColumn("meters", dist(col("lon"), col("lat")))
      .select("id", "meters")
      .orderBy("id")
  }

  /** bbox --all: 4-way min/max aggregation. */
  def q10BboxAll(spark: SparkSession, dir: String): DataFrame =
    ptsNarrow(spark, dir).agg(
      min("lon").as("minx"), min("lat").as("miny"),
      max("lon").as("maxx"), max("lat").as("maxy"))

  /** Hilbert spatial ordering (reference fgb hilbert sort): index each point
    * on the u32 curve over the world extent; the engine's clustered-write
    * order. */
  def q11Hilbert(spark: SparkSession, dir: String): DataFrame = {
    val h = udf((x: Long, y: Long) => Hilbert.hilbertUnsigned(x.toInt, y.toInt))
    ptsNarrow(spark, dir)
      .withColumn("x", floor((lit(65535.0) * (col("lon") - lit(-180.0))) / lit(360.0)))
      .withColumn("y", floor((lit(65535.0) * (col("lat") - lit(-90.0))) / lit(180.0)))
      .withColumn("h", h(col("x"), col("y")))
      .select("id", "h").orderBy("h", "id")
  }

  /** WKT writer through the engine formatter (integral coords so the oracle
    * can string-build the exact same text). */
  def q12WktPoint(spark: SparkSession, dir: String): DataFrame = {
    val wkt = udf((lonI: Long, latI: Long) => Geo.toWkt(Geo.point(lonI.toDouble, latI.toDouble)))
    ptsNarrow(spark, dir)
      .withColumn("loni", col("id") % 360 - 180)
      .withColumn("lati", col("id") % 180 - 90)
      .withColumn("wkt", wkt(col("loni"), col("lati")))
      .select("id", "wkt")
      .orderBy("id")
  }

  /** GeoJSON writer (canonical form, `.0` floats) on integral coords. */
  def q13GjPoint(spark: SparkSession, dir: String): DataFrame = {
    val gj = udf((lonI: Long, latI: Long) =>
      Geo.geometryJsonString(Geo.point(lonI.toDouble, latI.toDouble)))
    ptsNarrow(spark, dir)
      .withColumn("loni", col("id") % 360 - 180)
      .withColumn("lati", col("id") % 180 - 90)
      .withColumn("gj", gj(col("loni"), col("lati")))
      .select("id", "gj")
      .orderBy("id")
  }

  // ---------------- text / training-data pipeline ----------------

  def docs(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)

  /** As [[docs]] without the fan-out exchange — same rule as
    * [[ptsNarrow]]: for consumers whose per-row work (built-in string
    * functions, hash arithmetic) is far cheaper than the exchange. The
    * heavy per-doc kernels (BPE, redaction regex chains, fingerprints
    * feeding banded joins) keep the fan-out. */
  def docsNarrow(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents.parquet")

  /** Whitespace token counting. */
  def q14TokenCount(spark: SparkSession, dir: String): DataFrame =
    docsNarrow(spark, dir)
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      .orderBy("doc_id")

  /** Quality stats: integer char-class counts + integer-threshold flag. */
  def q15TextStats(spark: SparkSession, dir: String): DataFrame =
    docsNarrow(spark, dir).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("n_alpha"),
      (length(col("text")) - length(call_function("replace", col("text"), lit(" ")))).as("n_spaces"),
      length(regexp_replace(col("text"), "[^A-Z]", "")).as("n_upper"),
      (length(regexp_replace(col("text"), "[^A-Za-z]", "")) * 100 >=
        length(col("text")) * 70).as("quality_ok"))

      .localCheckpoint(true) // compute-once guard (object doc)
      .orderBy("doc_id")

  private val LANG_MARKERS: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " is "),
    "de" -> Seq(" der ", " und ", " ist "),
    "fr" -> Seq(" le ", " et ", " est "),
    "es" -> Seq(" el ", " y ", " es "))

  /** Language-ID heuristic: marker-word occurrence scores + argmax. */
  def q16LangScores(spark: SparkSession, dir: String): DataFrame = {
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    // literal (non-regex) replace, same as the oracle's replace(); counts are
    // exact ints, the final `/` is double division of exact ints in both
    // engines (occurrences × |m| is divisible by |m| → integral double).
    def score(markers: Seq[String]): Column =
      markers.map { m =>
        (length(padded) - length(call_function("replace", padded, lit(m)))) / lit(m.length)
      }.reduce(_ + _)
    val withScores = LANG_MARKERS.foldLeft(docsNarrow(spark, dir)) { case (df, (lang, ms)) =>
      df.withColumn(s"s_$lang", score(ms))
    }
    val pred = when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") && col("s_en") >= col("s_es"), "en")
      .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
      .when(col("s_fr") >= col("s_es"), "fr")
      .otherwise("es")
    withScores.select(col("doc_id"), col("s_en"), col("s_de"), col("s_fr"), col("s_es"),
      pred.as("pred"))
      .orderBy("doc_id")
  }

  /** Exact dedup on a 32-char prefix key: hash-groupBy, keeper = min id. */
  def q17DedupExact(spark: SparkSession, dir: String): DataFrame =
    docsNarrow(spark, dir)
      .select(col("doc_id"), md5(substring(col("text"), 1, 32)).as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keeper"))
      .orderBy("k")

  // -- minhash family: 31-bit modular arithmetic shared with the oracle --
  val MH_PRIME = 2147483647L
  val MH_SHINGLE = 4
  val MH_PREFIX = 256
  /** (a, b) coefficient pairs; a < 2^20 keeps a*h < 2^51 (BIGINT-safe). */
  val MH_COEF: Seq[(Long, Long)] = Seq(
    (824633L, 1L), (624713L, 7237L), (553105L, 91023L), (982451L, 3571L),
    (741809L, 29173L), (460811L, 60041L), (329401L, 83777L), (202409L, 11251L))

  def shingleHashes(text: String): Array[Long] = {
    val t = text.substring(0, math.min(text.length, MH_PREFIX)).toLowerCase
    if (t.length < MH_SHINGLE) return Array(0L)
    val out = new Array[Long](t.length - MH_SHINGLE + 1)
    var i = 0
    while (i + MH_SHINGLE <= t.length) {
      var h = 0L
      var k = 0
      while (k < MH_SHINGLE) {
        h = (h * 31L + t.charAt(i + k).toLong) % MH_PRIME
        k += 1
      }
      out(i) = h
      i += 1
    }
    out
  }

  def minhashSig(text: String): Array[Long] = {
    val hs = shingleHashes(text)
    MH_COEF.map { case (a, b) =>
      var m = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val v = (a * hs(i) + b) % MH_PRIME
        if (v < m) m = v
        i += 1
      }
      m
    }.toArray
  }

  /** MinHash signatures (k=8, 4-char shingles over the first 256 lowercased
    * chars) — near-dup dedup building block. */
  def q18MinhashSig(spark: SparkSession, dir: String): DataFrame = {
    val sig = udf((text: String) => {
      val s = minhashSig(text)
      (s(0), s(1), s(2), s(3), s(4), s(5), s(6), s(7))
    })
    docs(spark, dir)
      .withColumn("sig", sig(col("text")))
      .select(col("doc_id"),
        col("sig._1").as("m0"), col("sig._2").as("m1"), col("sig._3").as("m2"),
        col("sig._4").as("m3"), col("sig._5").as("m4"), col("sig._6").as("m5"),
        col("sig._7").as("m6"), col("sig._8").as("m7"))
      .orderBy("doc_id")
  }

  /** Tiny bounded memo for cached DataFrames, keyed by (session UUID, dir)
    * strings (the UUID is genuinely unique — identity hash codes can recur
    * after GC). LRU-evicts beyond `cap` ENTRIES, unpersisting the evicted
    * plan, so a long-lived multi-session driver neither collides keys nor
    * pins stopped sessions' caches forever; the cap counts entries, not
    * sessions, so it sits well above any realistic (session × dir) working
    * set. Eviction is best-effort (a stopped context makes unpersist
    * throw; NonFatal swallowed).
    *
    * The builder `f` runs OUTSIDE the map monitor, via a per-key lazy
    * holder: the map lock only covers the get/put of the holder, so a slow
    * builder (driver-side parquet listing, plan analysis) blocks only
    * same-key callers — unrelated keys never serialize on each other.
    * `onEvict` ALSO runs outside the monitor (evictions drain into a
    * pending list under the lock and execute after release): an evictor
    * that runs Spark jobs or deletes files must not block every unrelated
    * cache user for its duration. A holder evicted WHILE another thread is
    * still computing its value is marked, and the completing thread
    * RE-INSERTS it instead of destroying it: the caller is about to USE
    * the value, so running a destructive evictor (bucketedCache DROPs
    * catalog tables) would hand back a dead handle; the freshly computed
    * value is also exactly what LRU wants resident. The re-insert may
    * evict an older entry, which drains through the same pending path. */
  private[graft] final class SessionCache[V](cap: Int, onEvict: V => Unit) {
    private final class Holder(f: () => V) {
      lazy val value: V = f() // at most once; same-key callers block here
      var forced = false  // value known computed  (guarded by m.synchronized)
      var evicted = false // evicted from the map  (guarded by m.synchronized)
      var cleaned = false // onEvict already ran   (guarded by m.synchronized)
    }
    private var pending: List[Holder] = Nil // guarded by m.synchronized
    private val m = new java.util.LinkedHashMap[String, Holder](cap * 2, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Holder]): Boolean =
        if (size > cap) {
          val h = e.getValue
          h.evicted = true
          // a not-yet-forced holder may still be computing (or was never
          // used): its completing thread sees `evicted` and re-inserts
          if (h.forced && !h.cleaned) { h.cleaned = true; pending ::= h }
          true
        } else false
    }
    private def runEvict(h: Holder): Unit =
      try onEvict(h.value)
      catch { case scala.util.control.NonFatal(_) => () }
    def getOrElseUpdate(k: String, f: => V): V = {
      var toEvict: List[Holder] = Nil
      val h = m.synchronized {
        val cur = m.get(k)
        val res =
          if (cur != null) cur
          else { val nh = new Holder(() => f); m.put(k, nh); nh }
        toEvict = pending; pending = Nil
        res
      }
      toEvict.foreach(runEvict) // outside the monitor
      val v = h.value           // builder outside the monitor
      val toEvict2 = m.synchronized {
        h.forced = true
        if (h.evicted && !h.cleaned) {
          // evicted while computing: put the fresh value back (the caller
          // is about to use it; destroying it would hand back a dead
          // handle) — the re-insert may evict an older entry. If another
          // thread already installed a NEWER holder for the key, leave it
          // (this value stays usable but uncached — rare double-race leak,
          // the pre-round-6 behavior for the whole race).
          h.evicted = false
          if (!m.containsKey(k)) m.put(k, h)
        }
        val p = pending; pending = Nil; p
      }
      toEvict2.foreach(runEvict)
      v
    }
  }

  // one cached signature table per (session, dir), shared by q19 and q34
  // (a second .cache() on an identical plan leaks a CacheManager entry and
  // warns; memoizing gives both consumers the same handle). Input mutation
  // under a cached dir serves the cached snapshot — standard Spark cache
  // semantics.
  private val sigCache = new SessionCache[DataFrame](32, _.unpersist(false))

  /** MinHash LSH near-dup pairs: 2 bands × 4 rows; candidate pairs where any
    * band collides, with the signature-agreement count (est. Jaccard × 8).
    * The LSH band join is the scale path: equi-join on (band, hash-tuple)
    * keys instead of an O(n²) similarity scan. 4-row bands keep the
    * candidate set near-dup-only (2-row bands admitted quadratic noise on
    * template-heavy text). */
  def q19MinhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // signatures feed the band keys AND both sides of the agreement join —
    // cache so the shingle/minhash UDF chain runs once, not 4×. (At 100 TB
    // signatures are a persisted column, not a recomputed expression.)
    val sigs = sigCache.getOrElseUpdate(
      s"${org.apache.spark.sql.graft.bridge.sessionUUID(spark)}|$dir",
      q18MinhashSig(spark, dir).cache())
    // the 8 signature columns RIDE the band rows (64 bytes on a 2n-row
    // table) instead of being fetched back by two id equi-joins — the
    // same carried-payload shape as the banded hamming core: the
    // agreement count is computed in the band-join stage and the
    // candidate pair table is never exchanged for a payload fetch.
    // n_agree is functionally determined by the pair, so the post-count
    // Distinct yields the identical unique-pair result.
    val mcols = (0 until 8).map(i => s"m$i")
    // one explode pass, not a per-band union (the SimilarityJoin finding:
    // a union multiplies the cached table's partitions by the band count
    // on both join sides — task-launch overhead, same rows either way)
    def bandConcat(b: Int) = concat_ws(":", col(s"m${4 * b}"),
      col(s"m${4 * b + 1}"), col(s"m${4 * b + 2}"), col(s"m${4 * b + 3}"))
    val bands = sigs
      .withColumn("band", explode(array(lit(0), lit(1))))
      .select((col("doc_id") +: col("band") +:
        when(col("band") === 0, bandConcat(0))
          .when(col("band") === 1, bandConcat(1)).as("bkey") +:
        mcols.map(col)): _*)
    val agree = (0 until 8).map(i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0)).reduce(_ + _)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        agree.as("n_agree"))
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Compiled whitespace splitter for the row-local fingerprint kernels:
    * `String.split("\\s+")` recompiles the pattern on EVERY call (the JDK
    * fast path only covers single-char literals), which the per-row UDFs
    * of q20/q61/q63/q76/q79/q84/q86 paid once per document. Semantics are
    * identical — String.split delegates to Pattern.split. */
  private val WS_SPLIT: java.util.regex.Pattern =
    java.util.regex.Pattern.compile("\\s+")

  /** SimHash (32-bit) over whitespace tokens with the 31-bit polynomial
    * token hash — integer-only, oracle-reproducible. */
  def simhash32(text: String): Long = {
    val tokens = WS_SPLIT.split(text.trim)
    val acc = new Array[Int](32)
    tokens.foreach { tok =>
      var h = 0L
      var k = 0
      while (k < tok.length) { h = (h * 31L + tok.charAt(k).toLong) % MH_PRIME; k += 1 }
      var b = 0
      while (b < 32) {
        acc(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (acc(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** SimHash (64-bit) — the SCALE fingerprint for Hamming joins. The
    * 31-bit polynomial token hash (q20's kernel) finalized through the
    * engine's TWO nonlinear multiply–xorshift–multiply mixes (the
    * HLL/Bloom hash pair, already SQL-mirrored for q60/q68) gives two
    * independent 32-bit halves. The mix is load-bearing twice over:
    *  - a RAW polynomial hash of short tokens never reaches the high
    *    bits (poly31 of a 4-char word < 2²², so bits 22..31 vote −1 on
    *    EVERY token) — measured on the 200k-doc smoke corpus, the two
    *    high bands collapsed to ONE key (2·10¹⁰ candidate pairs, a
    *    full cross product smuggled through "banding");
    *  - the 31-bit poly keeps every DuckDB product under 2⁶³, so the
    *    oracle renders the identical mix constant-for-constant.
    * Why 64 bits and not q20's 32: the pigeonhole band key for k ≤ 3 is
    * bits/4 wide, and an 8-bit key space (256 values) caps banding at
    * Θ(n²/256) candidates regardless of corpus — measured at sf0.1,
    * 99.7% of all pairs survived 4×8 banding. 4×16 bands give a
    * 65,536-value key space; same pigeonhole proof, same exact refine. */
  def simhash64(text: String): Long = {
    val tokens = WS_SPLIT.split(text.trim)
    val acc = new Array[Int](64)
    tokens.foreach { tok =>
      var v = 0L
      var k = 0
      while (k < tok.length) { v = (v * 31L + tok.charAt(k).toLong) % MH_PRIME; k += 1 }
      val h1 = graft.functions.HllAgg.mix(v, 2654435761L, 49979693L)
      val h2 = graft.functions.HllAgg.mix(v, 2246822519L, 57885161L)
      var b = 0
      while (b < 32) {
        acc(b) += (if (((h1 >> b) & 1L) == 1L) 1 else -1)
        acc(b + 32) += (if (((h2 >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** SimHash (128-bit, as two longs (lo, hi)) — the next RUNG above the
    * 64-bit fingerprint: with 8×16-bit pigeonhole bands the EXACT
    * Hamming join reaches k ≤ 7 (64-bit 4×16 caps at k ≤ 3) while the
    * random-pair distance doubles (≈ 64), so the refine rejects
    * non-dups far harder at the same band-key width. Four 32-bit words
    * = the same 31-bit polynomial token hash finalized through FOUR
    * multiply–xorshift–multiply mixes — the q60/q68 pair plus two more
    * (m1 from the xxhash32/murmur2 families, m2 < 2²⁶ so the SQL
    * mirror's products stay inside BIGINT, same proof as HllAgg.mix). */
  def simhash128(text: String): Array[Long] = {
    val tokens = WS_SPLIT.split(text.trim)
    val acc = new Array[Int](128)
    tokens.foreach { tok =>
      var v = 0L
      var k = 0
      while (k < tok.length) { v = (v * 31L + tok.charAt(k).toLong) % MH_PRIME; k += 1 }
      val hs = Array(
        graft.functions.HllAgg.mix(v, 2654435761L, 49979693L),
        graft.functions.HllAgg.mix(v, 2246822519L, 57885161L),
        graft.functions.HllAgg.mix(v, 3266489917L, 39916801L),
        graft.functions.HllAgg.mix(v, 1540483477L, 23456789L))
      var w = 0
      while (w < 4) {
        var b = 0
        while (b < 32) {
          acc(w * 32 + b) += (if (((hs(w) >> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
        w += 1
      }
    }
    val out = new Array[Long](2)
    var b = 0
    while (b < 128) {
      if (acc(b) >= 0) out(b / 64) |= (1L << (b % 64))
      b += 1
    }
    out
  }

  def q20Simhash(spark: SparkSession, dir: String): DataFrame = {
    val sh = udf((text: String) => simhash32(text))
    docsNarrow(spark, dir).select(col("doc_id"), sh(col("text")).as("simhash")).orderBy("doc_id")
  }

  /** Document fingerprint: min shingle hash (winnowing-lite) — content id
    * stable under small edits at the tail. */
  def q21Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fp = udf((text: String) => shingleHashes(text).min)
    docsNarrow(spark, dir).select(col("doc_id"), fp(col("text")).as("fp")).orderBy("doc_id")
  }

  // ---------------- embeddings / ANN ----------------

  /** Brute-force cosine (dot on unit-agnostic doubles) top-3 neighbors for
    * the first 20 vectors; sequential left-fold dot product so the oracle's
    * list_dot_product matches bitwise. */
  def q22AnnTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val dot = udf((a: Seq[Double], b: Seq[Double]) => {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    })
    val scored = queries.join(broadcast(emb), col("vec_id") =!= col("query_id"))
      .withColumn("dot", dot(col("qv"), col("v")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Embedding-cosine near-dup detection at scale: random-hyperplane LSH
    * (16 sign bits from deterministic ±1 hyperplanes, 2 bands × 8 bits) →
    * banded equi-join candidates → exact cosine refine (≥ 0.999). The
    * input is the embeddings table plus ×2.0-scaled copies of every 7th
    * vector (the "re-encoded content" near-dups): doubling is EXACT in
    * IEEE floats, so a scaled copy provably carries the identical sign
    * signature as its source and LSH recall on the planted pairs is exactly
    * 100% — which the oracle CHECKS, because it brute-forces all O(n²)
    * cosines and any pair the banded join missed hash-fails. Cosine parity:
    * left-fold dot ≡ list_dot_product (q22-proven), IEEE sqrt and the
    * division chain are identical on both engines.
    * Scale shape: signatures are per-row; candidates come from a banded
    * equi-join (never all-pairs); vectors re-join by id for the refine. */
  /** Planted-copy id offset — far above any test-scale vec_id (sf0.1 tops
    * out at 1,999; the first colliding scale factor would need 1M vectors).
    * Mirrored verbatim in the oracle SQL. */
  val EMB_OFFSET = 1000000L

  /** Deterministic BALANCED ±1 hyperplanes for the sign-bit LSH: plane j
    * over dimension D has exactly ⌊D/2⌋ minus entries, placed by a
    * splitmix64-seeded Fisher–Yates shuffle — no aliasing between planes
    * at ANY dimension (the round-5 stride fix), and zero response to a
    * constant component mean: the synthetic embeddings' components share a
    * positive mean μ, so an UNBALANCED plane's dot product is dominated by
    * h·μ ≈ ±(imbalance)·μ·√D and many sign bits come out near-constant
    * across vectors — measured 342k banded candidate rows at sf0.1 (max
    * bucket 411 of 2,286). Exact balance makes h·μ = 0, the bits ~uniform,
    * and the candidate set collapses toward the uniform-bucket bound.
    * Cached per (plane, dim); cheap, bounded (16 planes × observed dims). */
  private[graft] object BalancedPlanes {
    private val cache = new java.util.concurrent.ConcurrentHashMap[Long, Array[Double]]()
    private def splitmix64(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    def plane(j: Int, dim: Int): Array[Double] =
      cache.computeIfAbsent(j.toLong << 32 | dim.toLong, { (key: Long) =>
        val jj = (key >> 32).toInt; val d = (key & 0xFFFFFFFFL).toInt
        val idx = Array.tabulate(d)(identity)
        var seed = splitmix64(jj.toLong)
        var i = d - 1
        while (i > 0) {
          seed = splitmix64(seed)
          val k = ((seed >>> 1) % (i + 1)).toInt
          val t = idx(i); idx(i) = idx(k); idx(k) = t
          i -= 1
        }
        val out = Array.fill(d)(1.0)
        var m = 0
        while (m < d / 2) { out(idx(m)) = -1.0; m += 1 }
        out
      })
  }

  /** 16 balanced-hyperplane sign bits ([[BalancedPlanes]]). Banded-LSH
    * recall is exactly 100% for the PLANTED scaled copies under ANY plane
    * scheme (positive scaling preserves every sign, so the signature is
    * identical); for arbitrary near-dup pairs it is probabilistic, as with
    * any LSH — the plane scheme only moves candidate COST. */
  private[graft] val embSigUdf = udf((v: Seq[Double]) => {
    var out = 0L
    val d = v.length
    var j = 0
    while (j < 16) {
      val h = BalancedPlanes.plane(j, d)
      var s = 0.0
      var i = 0
      while (i < d) { s += v(i) * h(i); i += 1 }
      if (s >= 0.0) out |= (1L << j)
      j += 1
    }
    out
  })

  // memoized (vectors, signatures) per (session, dir) — both cached, same
  // rationale and lifecycle as sigCache: the sig UDF (16 sign-bit dot
  // products over 64 dims per row) would otherwise recompute on each of
  // the four band branches and both refine joins, and bench reps would
  // leak duplicate CacheManager entries
  private val embCache = new SessionCache[(DataFrame, DataFrame)](32,
    { case (a, s) => a.unpersist(false); s.unpersist(false) })

  def q50EmbedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val (all, sigs) = embCache.getOrElseUpdate(
      s"${org.apache.spark.sql.graft.bridge.sessionUUID(spark)}|$dir", {
        val emb = tbl(spark, dir, "embeddings.parquet")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val scaled = emb.filter(col("vec_id") % 7 === 0)
          .select((col("vec_id") + EMB_OFFSET).as("vec_id"),
            transform(col("v"), x => x * lit(2.0)).as("v"))
        val a = emb.unionByName(scaled).cache()
        (a, a.select(col("vec_id"), embSigUdf(col("v")).as("sig")).cache())
      })
    // one explode pass, not a per-band union (the SimilarityJoin finding:
    // a union multiplies the cached table's partitions by the band count
    // on both join sides — task-launch overhead, same rows either way)
    val bands = sigs
      .withColumn("band", explode(array(lit(0), lit(1))))
      .select(col("vec_id"), col("band"),
        when(col("band") === 0, shiftright(col("sig"), 0))
          .when(col("band") === 1, shiftright(col("sig"), 8))
          .bitwiseAND(lit(255L)).as("bkey"))
    // candidate-count observability (plane-scheme changes move the band
    // keys, hence this count — a silent cost lever the round-5 stride fix
    // pulled by accident, 148k → 342k banded rows, recorded in STATUS.md):
    // CollectMetrics rides the existing pass (no extra job); Bench and
    // QBench (same session config) print `q50_band_rows` through
    // bench.Observed (pre-dedup banded-join rows, the priced cost) per
    // run, so candidate growth is measured, not guessed. Observed BELOW
    // the dedup shuffle deliberately: nodes above it sit in the segment
    // the final orderBy's range-partitioning SAMPLE pass re-executes,
    // which double-counts.
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .observe("q50_band_rows", count(lit(1)).as("rows"))
      .distinct()
    // refine: NATIVE zip_with/aggregate dot product (whole-stage codegen,
    // no per-pair Seq boxing — a UDF here cost ~6× on skewed band buckets)
    // summing in array order, exactly like the oracle's list_dot_product;
    // per-vector norms are computed ONCE, not per candidate pair
    def dotCol(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val withNorm = all.withColumn("norm", sqrt(dotCol(col("v"), col("v"))))
    cand
      .join(withNorm.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("norm").as("na")), Seq("id_a"))
      .join(withNorm.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("norm").as("nb")), Seq("id_b"))
      .filter(dotCol(col("va"), col("vb")) / col("na") / col("nb") >= 0.999)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }

  // ---------------- scale-path spatial join / kNN ----------------

  /** Deterministic query boxes derived from nation keys (exact integer →
    * double math, mirrored in the oracle). */
  def nationBoxes(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "nation.parquet").select(
      col("n_nationkey").cast("long").as("rid"),
      (lit(-180.0) + (col("n_nationkey") * 67 % 300).cast("double")).as("minx"),
      (lit(-90.0) + (col("n_nationkey") * 37 % 150).cast("double")).as("miny"),
      (lit(-180.0) + (col("n_nationkey") * 67 % 300).cast("double") +
        (col("n_nationkey") % 13 + 10).cast("double")).as("maxx"),
      (lit(-90.0) + (col("n_nationkey") * 37 % 150).cast("double") +
        (col("n_nationkey") % 11 + 5).cast("double")).as("maxy"))

  /** Spatial join at scale: points × nation boxes via the cell-keyed
    * equi-join + exact refine; per-box hit counts. */
  def q26SpatialJoin(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.join.SpatialJoin.joinPointsInBoxes(
      pts(spark, dir), nationBoxes(spark, dir))
    pairs.groupBy("rid").agg(count(lit(1)).as("n_points")).orderBy("rid")
  }

  /** The q26 join written the NATURAL way — four range predicates — with
    * the [[graft.plans.SpatialJoinRewrite]] optimizer rule enabled: the
    * rule must turn the would-be nested-loop join into the cell-keyed
    * equi-join AND produce hash-identical results (same oracle as q26).
    * This puts the Catalyst rewrite itself under the driver gate. */
  def q43NaturalJoin(spark: SparkSession, dir: String): DataFrame = {
    // enable the rewrite in a CHILD session (separate session state, shared
    // SparkContext) so the extra optimizer rule never leaks into the plans
    // of unrelated queries running on the caller's session
    val s2 = spark.newSession()
    graft.plans.SpatialPlanner.enable(s2)
    val joined = pts(s2, dir).join(nationBoxes(s2, dir),
      col("lon") >= col("minx") && col("lon") <= col("maxx") &&
        col("lat") >= col("miny") && col("lat") <= col("maxy"))
    joined.groupBy("rid").agg(count(lit(1)).as("n_points")).orderBy("rid")
  }

  /** The q43 natural join NEGATED — a LEFT ANTI with the same four range
    * predicates, through the [[graft.plans.SpatialJoinRewrite]] optimizer
    * rule (the reference's `--negate` filter semantics at scale,
    * `commands/filter.rs:110-119`). The rule must rewrite the anti join to
    * the cell-keyed form without duplicating or dropping rows; the oracle
    * is the plain NOT EXISTS. Same child-session isolation as q43. */
  def q51NaturalAnti(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    graft.plans.SpatialPlanner.enable(s2)
    pts(s2, dir).join(nationBoxes(s2, dir),
      col("lon") >= col("minx") && col("lon") <= col("maxx") &&
        col("lat") >= col("miny") && col("lat") <= col("maxy"), "left_anti")
      .select("id").orderBy("id")
  }

  val DJ_RADIUS = 750000.0

  /** Distance (geofence) join under the driver gate: all points within
    * 750 km (Vincenty, strict <) of ~10 query points drawn from the table.
    * The engine runs the cell-keyed candidate path (conservative
    * spherical-cap boxes, ±180 split) + exact refine; the oracle
    * brute-forces the full cross product through the unrolled
    * fixed-iteration Vincenty SQL — any candidate-insufficiency or
    * margin bug hash-fails. */
  def q45DwithinJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = pts(spark, dir)
    val qs = p.filter(col("id") % 211 === 0 &&
        col("lat") > -80.0 && col("lat") < 80.0 &&
        col("lon") > -170.0 && col("lon") < 170.0)
      .select(col("id").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
    graft.join.SpatialJoin.dwithinJoin(p, qs, DJ_RADIUS)
      .orderBy("qid", "id")
  }

  /** Dense clustered points — the same multiplicative-hash fractions as
    * [[pts]] mapped into a 2°×2° box at the origin (mirror of
    * OracleSql CPTS): ~0.2 points/km² at sf0.01, the city-density regime
    * where a SMALL geofence radius against a fixed 620 km candidate grid
    * would put every point and every query in the same one or two cells. */
  def clusteredPts(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("event_id").as("id"),
        (lit(2.0) *
          (((col("event_id") * lit(2654435761L)) % lit(4294967296L)) / lit(4294967296.0))).as("lat"),
        (lit(2.0) *
          (((col("event_id") * lit(2246822519L)) % lit(4294967296L)) / lit(4294967296.0))).as("lon"))

  val CL_RADIUS = 5000.0

  /** Small-radius geofence join under the driver gate: all clustered points
    * within 5 km (Vincenty, strict <) of ~1-in-211 query points drawn from
    * the same set. This is the regime where the RADIUS-ADAPTIVE candidate
    * grid matters (auto bits ≈ 11 → ~10 km cells vs the old fixed 620 km
    * cells — SpatialJoinSpec asserts the candidate-count gap); the oracle
    * is the same cross-product-through-unrolled-Vincenty as q45, so any
    * candidate insufficiency at the fine grid hash-fails. */
  def q48DwithinSmall(spark: SparkSession, dir: String): DataFrame = {
    val p = clusteredPts(spark, dir)
    val qs = p.filter(col("id") % 211 === 0)
      .select(col("id").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
    graft.join.SpatialJoin.dwithinJoin(p, qs, CL_RADIUS)
      .orderBy("qid", "id")
  }

  /** Sub-degree query boxes inside the clustered 2°×2° regime, derived
    * from nation keys by exact dyadic math (every constant is k/2^7 or
    * k/2^5 scaled — all float ops exact, mirrored in the oracle). Extents
    * 0.0625–0.1875° × 0.046875–0.109375°: the regime where a fixed 64×64
    * world grid (620 km cells) collapses the whole cluster into 1-2 cells. */
  def clusterBoxes(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "nation.parquet").select(
      col("n_nationkey").cast("long").as("rid"),
      (lit(2.0) * ((col("n_nationkey") * 67 % 128).cast("double") / lit(128.0))).as("minx"),
      (lit(2.0) * ((col("n_nationkey") * 37 % 128).cast("double") / lit(128.0))).as("miny"),
      (lit(2.0) * ((col("n_nationkey") * 67 % 128).cast("double") / lit(128.0)) +
        lit(0.0625) + (col("n_nationkey") % 5).cast("double") * lit(0.03125)).as("maxx"),
      (lit(2.0) * ((col("n_nationkey") * 37 % 128).cast("double") / lit(128.0)) +
        lit(0.046875) + (col("n_nationkey") % 3).cast("double") * lit(0.03125)).as("maxy"))

  /** The NATURAL range-predicate join in the SUB-DEGREE-box regime through
    * the [[graft.plans.SpatialJoinRewrite]] rule with the grid left on
    * `auto` — the driver gate for the rewrite's ADAPTIVE grid (round-4
    * closed this regime for the DataFrame API via q48; this closes it for
    * the SQL surface): clustered points × 0.05-0.2° boxes would collapse
    * into 1-2 cells of the old fixed 64×64 grid, while the sampled-extent
    * derivation picks the fine clamp (bits=12, asserted ≥ bitsForBoxes in
    * SpatialJoinSpec). The oracle is the plain range join. Same
    * child-session isolation as q43/q51. */
  def q56NaturalSmall(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    graft.plans.SpatialPlanner.enable(s2)
    clusteredPts(s2, dir).join(clusterBoxes(s2, dir),
      col("lon") >= col("minx") && col("lon") <= col("maxx") &&
        col("lat") >= col("miny") && col("lat") <= col("maxy"))
      .select("id", "rid").orderBy("id", "rid")
  }

  /** Rectangle × rectangle intersection join under the driver gate: small
    * per-event boxes against the nation boxes through the both-sides-
    * exploded cell join (+ candidate dedupe); the oracle is the plain SQL
    * range-intersection join. */
  def q47BoxJoin(spark: SparkSession, dir: String): DataFrame = {
    val a = pts(spark, dir)
      .filter(col("id") % 17 === 0 &&
        col("lat") > -85.0 && col("lat") < 85.0 &&
        col("lon") > -175.0 && col("lon") < 175.0)
      .select(col("id"), col("lon").as("minx"), col("lat").as("miny"),
        (col("lon") + lit(1.0) + (col("id") % 4) * lit(0.5)).as("maxx"),
        (col("lat") + lit(0.8) + (col("id") % 3) * lit(0.5)).as("maxy"))
    graft.join.SpatialJoin.joinBoxesBoxes(a, nationBoxes(spark, dir))
      .orderBy("id", "rid")
  }

  // one bucketed-table pair per (session, dir): the writes are a Spark
  // job, so they run once per key (builders execute outside the cache
  // monitor) and every bench rep / repeated call reuses the tables.
  // Eviction DROPS the catalog tables (runs outside the cache monitor —
  // SessionCache drains evictors after releasing the lock, so the DROP's
  // Spark command never blocks unrelated cache users) and DEFERS the
  // on-disk deletion: a q57 scan already executing against the evicted
  // entry in another thread must not have its parquet files yanked
  // mid-read. The deferred queue is BOUNDED (grace window of 8 evictions,
  // then oldest-first deletion — a scan still running 8 evictions after
  // its entry left the cache has outlived any realistic query) with a
  // JVM-exit sweep for the tail, so a long-lived driver cycling many
  // (session × dir) keys cannot accumulate unbounded temp copies.
  private val deferredDeletes = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private val DEFER_GRACE = 8
  private lazy val deleteHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = deferredDeletes.poll()
      while (p != null) { deleteRecursively(p); p = deferredDeletes.poll() }
    }))
  private val bucketedCache =
    new SessionCache[(SparkSession, String, String, java.nio.file.Path)](8, {
      case (sess, na, nb, base) =>
        try { sess.sql(s"DROP TABLE IF EXISTS $na"); sess.sql(s"DROP TABLE IF EXISTS $nb") }
        catch { case scala.util.control.NonFatal(_) => () }
        deleteHookInstalled
        deferredDeletes.add(base)
        while (deferredDeletes.size > DEFER_GRACE) {
          val old = deferredDeletes.poll()
          if (old != null) deleteRecursively(old)
        }
    })

  val BKT_BITS = 6
  val BKT_BUCKETS = 8

  /** The cell-BUCKETED co-located join under the driver HASH gate: both
    * point snapshots round-trip through [[graft.sources.TableIO
    * .writeBucketedByCell]] (external parquet tables bucketed+sorted by
    * the packed grid-cell key) and join back out of the catalog on that
    * key — per-cell pair counts. The oracle recomputes the identical cell
    * key with the shared floor arithmetic and replays the join in SQL, so
    * a row lost or re-keyed anywhere in the write→bucket→read→join path
    * hash-fails. The PLAN property (zero Exchange on either side — the
    * point of the layout) is asserted in TableIOSpec; this gate pins the
    * results. */
  def q57BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (_, ta, tb, _) = bucketedCache.getOrElseUpdate(
      s"${org.apache.spark.sql.graft.bridge.sessionUUID(spark)}|$dir", {
        // table names carry BOTH a dir digest and a session digest: the
        // catalog is shared across sessions of one context, so names
        // scoped only by dir would let two sessions overwrite each
        // other's tables (and a dir-hash collision would silently serve
        // the wrong dir's data to the hash gate)
        def digest(x: String): String =
          java.security.MessageDigest.getInstance("MD5")
            .digest(x.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
        val suffix = digest(dir) + "_" +
          digest(org.apache.spark.sql.graft.bridge.sessionUUID(spark))
        val base = java.nio.file.Files.createTempDirectory("graft_bkt")
        val a = pts(spark, dir)
        val b = a.filter(col("id") % 3 === 0)
        val na = s"bkt57_a_$suffix"; val nb = s"bkt57_b_$suffix"
        graft.sources.TableIO.writeBucketedByCell(
          a, na, s"$base/a", "lon", "lat", BKT_BITS, BKT_BUCKETS)
        graft.sources.TableIO.writeBucketedByCell(
          b, nb, s"$base/b", "lon", "lat", BKT_BITS, BKT_BUCKETS)
        (spark, na, nb, base)
      })
    spark.table(ta).select(col("cell"))
      .join(spark.table(tb).select(col("cell")), Seq("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n_pairs"))
      .orderBy("cell")
  }

  /** BACKWARD AS-OF JOIN under the driver gate: every event looks up the
    * latest "update" row (every 13th event, per user) at or before its
    * own timestamp — the point-in-time feature-store lookup. The engine
    * side is [[graft.join.AsOf.joinBackward]] (tag → union → one
    * last-non-null window per user: ONE shuffle, no amplification); the
    * oracle is DuckDB's native `ASOF JOIN`, so the two independent
    * implementations of the semantics must agree row-for-row.
    * (user_id, ts) is distinct at every tier — no tie ambiguity. */
  def q58AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events.parquet")
      .select(col("event_id"), col("user_id"), col("ts"))
    val updates = ev.filter(col("event_id") % 13 === 0)
      .select(col("user_id"), col("ts").as("uts"), col("event_id").as("update_id"))
    graft.join.AsOf.joinBackward(ev, updates, "user_id", "ts", "uts")
      .select("event_id", "update_id")
      .orderBy("event_id")
  }

  /** 1-D INTERVAL (time-range) join under the driver gate: events ×
    * nation-derived validity windows (start hour = 29·key mod 720 from
    * 2024-01-01, length 3–21 h — all exact epoch-microsecond integer
    * arithmetic, mirrored by make_timestamp in the oracle) through the
    * bucket-keyed [[graft.join.IntervalJoin]]; the oracle is the plain
    * range-predicate join. A pair matches exactly once (the event keys to
    * ONE bucket), so no dedupe step exists to hide candidate bugs. */
  def q59IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = 1704067200000000L // 2024-01-01T00:00:00Z µs
    val hour = 3600000000L
    val startH = col("n_nationkey") * 29 % 720
    val lenH = (col("n_nationkey") % 7 + 1) * 3
    val ivs = tbl(spark, dir, "nation.parquet").select(
      col("n_nationkey").cast("long").as("rid"),
      timestamp_micros(lit(base) + startH.cast("long") * hour).as("start"),
      timestamp_micros(lit(base) + (startH + lenH).cast("long") * hour).as("end"))
    val pts = tbl(spark, dir, "events.parquet")
      .select(col("event_id").as("id"), col("ts").as("t"))
    graft.join.IntervalJoin.joinPointsInIntervals(pts, ivs)
      .orderBy("id", "rid")
  }

  /** HLL distinct-count sketch under the driver gate — the gate hashes
    * ALL 256 REGISTERS (integer-exact; the oracle recomputes register and
    * rank per distinct value with the same 32-bit multiplicative hashes
    * and an unrolled leading-zeros CASE), not the float estimate, so one
    * flipped register bit anywhere in reduce/merge/partial-agg fails the
    * hash. Input: (event_id·37) mod 2²⁰ — tier-dependent cardinality with
    * wraparound collisions at sf0.1. The float estimate is unit-tested
    * against planted true cardinalities in KernelSpec instead. */
  def q60HllSketch(spark: SparkSession, dir: String): DataFrame = {
    val hll = udaf(new graft.functions.HllAggregator, org.apache.spark.sql.Encoders.scalaLong)
    val regsRow = tbl(spark, dir, "events.parquet")
      .select((col("event_id") * 37 % 1048576).as("v"))
      .agg(hll(col("v")).as("regs"))
    val toArr = udf((b: Array[Byte]) => b.map(x => x & 0xFF))
    regsRow.select(posexplode(toArr(col("regs"))))
      .select(col("pos").as("register"), col("col").as("rank"))
      .orderBy("register")
  }

  /** SimHash Hamming-distance join under the driver gate: all document
    * pairs within Hamming distance 3 of the 64-BIT simhash, via the
    * PIGEONHOLE banding (4×16 bits — ≤3 differing bits can't touch all 4
    * bands, so candidates are PROVABLY complete, not LSH-probabilistic);
    * exact popcount refine. 64/16 and not the round-5 32/8: 8-bit band
    * keys cap the key space at 256 values, Θ(n²/256) candidates at ANY
    * corpus — its own observe metric read 12.46M of 12.5M pairs surviving
    * banding at sf0.1. Oracle: brute-force all-pairs over the same
    * SQL-mirrored fingerprint, hamming as the sum of the two 32-bit
    * halves' popcounts (DuckDB can't build the 64-bit word — BIGINT
    * `1 << 63` overflows — but XOR-popcount distributes over disjoint
    * halves, so the halves ARE the exact 64-bit hamming). */
  def q61SimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = udf((text: String) => simhash64(text))
    val sims = docs(spark, dir).select(col("doc_id").as("id"), sh(col("text")).as("sim"))
    graft.join.SimilarityJoin.simhashHammingJoin(sims, k = 3, bits = 64, bands = 4)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** EXACT n-gram Jaccard join (≥ 4/5) under the driver gate through the
    * AllPairs/PPJoin prefix filter — the exact counterpart of q19's
    * MinHash approximation. Shingle SETS are the distinct 4-gram hashes
    * (q18's kernel); the threshold is integer cross-multiplied
    * (9·shared ≥ 4·(|A|+|B|)) so both engines compare exactly. The oracle
    * brute-forces ALL pairs with list_intersect, so a prefix-filter
    * candidate miss — not just a refine bug — hash-fails.
    *
    * The gated input is the deterministic doc_id % 4 == 0 quarter of the
    * corpus — MEASURED reason, not convenience: on this template-heavy
    * synthetic corpus 2.85M of 12.5M possible pairs at sf0.1 survive even
    * the provably-tight prefix+size+positional filters (≈23% of all pairs
    * are genuine near-qualifiers), so EXACT set-similarity is inherently
    * near-quadratic on it regardless of algorithm. That is the honest
    * division of labor this engine ships: banded LSH (q19/q50) is the
    * 100 TB DISCOVERY path; the exact join is the refinement tool for
    * bounded partitions — which is exactly how the gate exercises it. */
  def q62JaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val shSet = udf((text: String) => shingleHashes(text).distinct.sorted)
    val ds = docs(spark, dir).filter(col("doc_id") % 4 === 0)
      .select(col("doc_id").as("id"), shSet(col("text")).as("shs"))
    graft.join.SimilarityJoin.jaccardJoin(ds, tauNum = 4, tauDen = 5)
      .select(col("id_a"), col("id_b"), col("shared"))
      .orderBy("id_a", "id_b")
  }

  /** The NATURAL temporal range join through the
    * [[graft.plans.IntervalJoinRewrite]] Catalyst rule — the SQL surface
    * of q59: a user writes `ts >= start AND ts < end` (which vanilla
    * Spark can only nested-loop) and the rule rewrites it to the
    * bucket-keyed equi-join with a stats-derived width at optimize time.
    * Same windows and oracle as q59, same child-session isolation as
    * q43/q51/q56; the spec asserts the rewritten plan shape. */
  def q64NaturalInterval(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    graft.plans.SpatialPlanner.enable(s2)
    val base = 1704067200000000L
    val hour = 3600000000L
    val startH = col("n_nationkey") * 29 % 720
    val lenH = (col("n_nationkey") % 7 + 1) * 3
    val ivs = s2.read.parquet(s"$dir/nation.parquet").select(
      col("n_nationkey").cast("long").as("rid"),
      timestamp_micros(lit(base) + startH.cast("long") * hour).as("start"),
      timestamp_micros(lit(base) + (startH + lenH).cast("long") * hour).as("end"))
    val pts = s2.read.parquet(s"$dir/events.parquet")
      .select(col("event_id").as("id"), col("ts").as("t"))
    pts.join(ivs, col("t") >= col("start") && col("t") < col("end"))
      .select(col("id"), col("rid"))
      .orderBy("id", "rid")
  }

  /** CONNECTED COMPONENTS over the q61 hamming pairs under the driver
    * gate — the step that turns near-dup PAIRS into dedup CLUSTERS with a
    * deterministic keeper (component = min member id). The engine side is
    * union-find on the driver when the pair list fits the broadcast
    * threshold, else min-label propagation with pointer doubling
    * (O(log diameter) rounds, loud failure on non-convergence); the oracle
    * computes the same fixpoint INDEPENDENTLY via a recursive CTE (min id
    * over the reachability closure), so a labeling bug anywhere — a missed
    * round, a one-directional edge, a shortcut or linking error —
    * hash-fails. */
  def q63Components(spark: SparkSession, dir: String): DataFrame = {
    val sh = udf((text: String) => simhash32(text))
    // materialize once: both the pair join AND the vertex list read it —
    // an unmaterialized plan re-scans documents.parquet for the vertices.
    // The Hamming join reads this checkpoint as is and takes none of its own.
    val sims = docs(spark, dir).select(col("doc_id").as("id"), sh(col("text")).as("sim"))
      .localCheckpoint(true)
    // hamming <= 1 via 2x16-bit bands (pigeonhole needs bands > k): the
    // <=3 graph on this corpus is one 96% blob — structureless; <=1 gives
    // hundreds of components with a 261-member cluster spanned by only
    // ~900 edges at sf0.01, i.e. real multi-hop propagation depth.
    // Distinct metric name: q61 owns the default, and the bench metric
    // map keeps the last value per name
    val pairs = graft.join.SimilarityJoin.simhashHammingJoin(sims, k = 1, bands = 2,
        metricName = "q63_band_rows")
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    graft.ops.ConnectedComponents.run(sims.select("id"), pairs)
      .select(col("id").as("doc_id"), col("component"))
      .orderBy("doc_id")
  }

  /** Exact GEODESIC kNN (k=5, Vincenty meters) via radius rounds with the
    * completeness proof + a world-radius final round — the geodesic
    * counterpart of q25's euclidean kNN. Oracle: full cross product
    * through the unrolled Vincenty, ranked by (meters, id). */
  def q46KnnGeodesic(spark: SparkSession, dir: String): DataFrame = {
    val p = pts(spark, dir)
    val qs = p.filter(col("id") % 211 === 0 &&
        col("lat") > -80.0 && col("lat") < 80.0 &&
        col("lon") > -170.0 && col("lon") < 170.0)
      .select(col("id").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
    graft.join.SpatialJoin.knnGeodesic(p, qs, k = 5)
      .orderBy("qid", "rank")
  }

  /** Exact kNN (k=5, squared-euclidean-degrees) via the same radius
    * rounds over the planar cell grid + a world-degree final round. */
  def q25Knn(spark: SparkSession, dir: String): DataFrame = {
    val p = pts(spark, dir)
    val qs = p.filter(col("id") % 101 === 0)
      .select(col("id").as("query_id"), col("lon").as("qlon"), col("lat").as("qlat"))
    graft.join.SpatialJoin.knn(p, qs, k = 5)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  // ---------------- image table (north-rule payload) ----------------

  import graft.img.{ImageRow, Images}

  /** Deterministic synthetic image+caption table; row count fixed per query
    * so outputs are reproducible (rows-only driver check — phash depends on
    * pixels, not SQL-expressible). No fan-out exchange: spark.range already
    * yields defaultParallelism BALANCED contiguous partitions, so the former
    * repartition redistributed an already-balanced input — a by-value no-op
    * that cost a full shuffle stage per materialization (measured ~0.35 s at
    * bench scale, OPTIMIZATION_r08.md "Multimodal tables"; same for the
    * video/audio tables). */
  def imageTable(spark: SparkSession, n: Long): org.apache.spark.sql.Dataset[ImageRow] = {
    import spark.implicits._
    spark.range(n).map(r => Images.generate(r))
  }

  val IMG_N = 2000L

  /** Parquet path for the persisted image-anchor table — the bridge
    * that puts the image queries under the driver HASH gate: the engine
    * derives (image_id, phash, lon, lat) through the REAL pipeline
    * (render → encode → decode → phash → anchor), persists it, and both
    * engines compute the downstream geometry from the STORED columns. The
    * oracle inner-joins the expected id set, so a missing/malformed row
    * diverges the counts and hash-fails. Overridable via GRAFT_ANCHORS_DIR
    * (relocated checkouts); the oracle SQL interpolates the same value at
    * dump time, so both engines always read one path. */
  val ANCHORS_PATH: String =
    sys.env.getOrElse("GRAFT_ANCHORS_DIR", "/root/repo/.oracle_aux/img_anchors")

  // Publish the anchor table ONCE, atomically (q27, q29, bench reps, and
  // any CONCURRENT verify/bench JVM all share it): content is
  // deterministic, so any complete copy is interchangeable. Protocol:
  // a directory containing Spark's _SUCCESS marker is complete and final
  // (never rewritten — a still-cached reader in another JVM is safe); a
  // marker-less directory is a crashed partial and is replaced. Writers
  // write to a unique tmp dir, then atomically rename into place; losing
  // a rename race just means another JVM published the identical bytes.
  @volatile private var anchorsWritten = false
  private val anchorLock = new Object

  /** Best-effort recursive delete. The _SUCCESS marker is removed FIRST
    * (the plain reverse-lexicographic walk deletes part-files before
    * '_SUCCESS', so an aborted delete could otherwise leave a
    * marker-bearing directory missing data files — which the publish
    * protocol would trust forever); once the marker is gone, any abort
    * leaves a marker-less partial the protocol correctly treats as
    * crashed. */
  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    try {
      Files.deleteIfExists(p.resolve("_SUCCESS"))
      if (Files.exists(p)) {
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => Files.deleteIfExists(q))
        finally s.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  private def imgAnchors(spark: SparkSession): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    if (!anchorsWritten) anchorLock.synchronized {
      if (!anchorsWritten) {
        val fin = Paths.get(ANCHORS_PATH)
        if (!Files.exists(fin.resolve("_SUCCESS"))) {
          import spark.implicits._
          val tmp = Paths.get(ANCHORS_PATH + ".tmp-" + java.util.UUID.randomUUID())
          imageTable(spark, IMG_N)
            .map(r => (r.image_id, r.phash, Images.anchorLon(r.phash), Images.anchorLat(r.phash)))
            .toDF("image_id", "phash", "lon", "lat")
            .write.mode("overwrite").parquet(tmp.toString)
          // Cross-JVM publish protocol: a directory carrying _SUCCESS is
          // complete and immutable; only marker-less crashed partials may
          // be cleared, and ONLY under the exclusive lock file (atomic
          // createFile), so check-then-delete is mutually excluded — a
          // racer that published during our multi-second write is seen
          // under the lock and never deleted out from under its readers.
          // A stale lock (crashed holder) is broken after 120 s. If the
          // loop times out without publishing or finding a complete copy,
          // FAIL LOUDLY instead of silently reading a partial (the tmp
          // copy is kept for diagnosis).
          val lock = Paths.get(ANCHORS_PATH + ".lock")
          def tryLock(): Boolean =
            try { Files.createFile(lock); true }
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                try {
                  val age = System.currentTimeMillis() -
                    Files.getLastModifiedTime(lock).toMillis
                  if (age > 120000L) Files.deleteIfExists(lock)
                } catch { case scala.util.control.NonFatal(_) => () }
                false
              case scala.util.control.NonFatal(_) => false
            }
          var done = false
          val deadline = System.currentTimeMillis() + 120000L
          while (!done && System.currentTimeMillis() < deadline) {
            if (Files.exists(fin.resolve("_SUCCESS"))) {
              deleteRecursively(tmp)
              done = true
            } else if (tryLock()) {
              try {
                if (Files.exists(fin.resolve("_SUCCESS"))) deleteRecursively(tmp)
                else {
                  deleteRecursively(fin) // marker-less crashed partial
                  Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
                }
                done = true
              } catch {
                case scala.util.control.NonFatal(_) => () // re-loop; tmp kept
              } finally {
                try Files.deleteIfExists(lock)
                catch { case scala.util.control.NonFatal(_) => () }
              }
            } else Thread.sleep(200L)
          }
          if (!done)
            throw graft.core.GeoqException(
              s"could not publish anchor table to $ANCHORS_PATH " +
                s"(lock contention or undeletable partial; tmp kept at $tmp)")
        }
        anchorsWritten = true
      }
    }
    // same resolved-relation memo as [[tbl]]: the anchor table is
    // published once and immutable, so re-resolving it per query
    // construction (q27/q29, every bench rep) was pure driver cost
    relCache.getOrElseUpdate(
      s"${org.apache.spark.sql.graft.bridge.sessionUUID(spark)}|$ANCHORS_PATH",
      spark.read.parquet(ANCHORS_PATH))
  }

  /** Tile assignment of images by phash-derived anchor → per-tile counts
    * (the north rule's raster→vector tiling over the image table). The
    * kernel bisection encoder and the oracle's floor mirror agree exactly:
    * anchor coords are dyadic rationals (k/2^32 scalings), so every float
    * op in both chains is exact. */
  def q27ImgTiles(spark: SparkSession, dir: String): DataFrame = {
    val tile = udf((lat: Double, lon: Double) => graft.index.Geohash.encode(lat, lon, 2))
    imgAnchors(spark)
      .withColumn("tile", tile(col("lat"), col("lon")))
      .groupBy("tile").agg(count(lit(1)).as("n_images"))
      .orderBy("tile")
  }

  /** Decode → re-encode → decode round-trip invariants: PSNR ≥ 40 dB for
    * jpeg, bit-exact for png; caption byte-equality (north-rule per-row
    * invariant). */
  def q28ImgRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageTable(spark, IMG_N).map { r =>
      val img0 = Images.decode(r.bytes)
      val re = Images.encode(img0, r.fmt)
      val img1 = Images.decode(re)
      val p = Images.psnr(img0, img1)
      val psnrOk = if (r.fmt == "png") p.isInfinite else p >= 40.0
      val capOk = r.caption == Images.caption(r.image_id.stripPrefix("img").toLong)
      (r.image_id, r.fmt, if (p.isInfinite) 999L else math.floor(p).toLong, psnrOk, capOk)
    }.toDF("image_id", "fmt", "psnr_floor_db", "psnr_ok", "caption_ok")

      .localCheckpoint(true) // compute-once guard (object doc)
      .orderBy("image_id")
  }

  /** q28's round-trip invariants with ONLY oracle-predictable columns, so
    * the real multimodal machinery (ImageIO decode → re-encode → decode →
    * PSNR, caption regeneration) runs under the driver HASH gate: the full
    * id set plus two per-row booleans that are constants iff the machinery
    * is correct (PSNR ≥ 40 dB jpeg / bit-exact png; caption byte-equality).
    * q28 keeps the informative pixel-derived PSNR floors as rows-only. */
  def q44ImgInvariants(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageTable(spark, IMG_N).map { r =>
      val img0 = Images.decode(r.bytes)
      val re = Images.encode(img0, r.fmt)
      val img1 = Images.decode(re)
      val p = Images.psnr(img0, img1)
      val psnrOk = if (r.fmt == "png") p.isInfinite else p >= 40.0
      val capOk = r.caption == Images.caption(r.image_id.stripPrefix("img").toLong)
      (r.image_id, psnrOk, capOk)
    }.toDF("image_id", "psnr_ok", "caption_ok")

      .localCheckpoint(true) // compute-once guard (object doc)
      .orderBy("image_id")
  }

  /** Images joined to the nation boxes through their anchors — the
    * image-table spatial join of the north rule. Runs the cell-keyed
    * equi-join over the PERSISTED anchor table; the oracle replays the
    * plain range join from the stored columns. */
  def q29ImgBoxJoin(spark: SparkSession, dir: String): DataFrame = {
    val anchors = imgAnchors(spark)
      .select(col("image_id").as("id"), col("lon"), col("lat"))
    graft.join.SpatialJoin.joinPointsInBoxes(anchors, nationBoxes(spark, dir))
      .groupBy("rid").agg(count(lit(1)).as("n_images"))
      .orderBy("rid")
  }

  // ---------------- video frame-sampling (multimodal) ----------------

  import graft.img.{VideoRow, Videos}

  val VID_N = 500L
  val VID_STRIDE = 3

  def videoTable(spark: SparkSession, n: Long): org.apache.spark.sql.Dataset[VideoRow] = {
    import spark.implicits._
    // range partitions are already balanced — see imageTable
    spark.range(n).map(r => Videos.generate(r))
  }

  /** Frame-sample over the synthetic video table under the driver HASH
    * gate: every 3rd frame of each container is parsed out and DECODED
    * through the real ImageIO path; since the frames are PNG (lossless),
    * each decoded frame must be BIT-IDENTICAL to its deterministic
    * re-render — `frames_ok` is constant-true iff the container parse,
    * the sampling arithmetic, and the decode are all correct. `n_frames`
    * comes from the same multiplicative-hash expression the oracle
    * evaluates, and `n_sampled` must equal ceil(n_frames / 3). */
  def q52VideoSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    videoTable(spark, VID_N).map { v =>
      val idx = v.video_id.stripPrefix("vid").toLong
      val sampled = Videos.sampleFrames(v.bytes, VID_STRIDE)
      val ok = sampled.forall { case (f, img) =>
        img.getWidth == v.w && img.getHeight == v.h &&
          Images.psnr(img, Images.renderPixels(Videos.frameSeed(idx, f), v.w, v.h)).isInfinite
      }
      (v.video_id, v.n_frames.toLong, sampled.size.toLong, ok)
    }.toDF("video_id", "n_frames", "n_sampled", "frames_ok")

      .localCheckpoint(true) // compute-once guard (object doc)
      .orderBy("video_id")
  }

  // ---------------- video near-dup (multimodal similarity) ----------------

  /** Video table plus planted near-dup twins of every 5th video
    * ([[Videos.twin]]: re-encoded through the real ImageIO path, last
    * frame dropped). */
  def videoNearDupTable(spark: SparkSession, n: Long): org.apache.spark.sql.Dataset[VideoRow] = {
    import spark.implicits._
    // every range partition keeps ~1/5 of its contiguous ids, so the
    // filtered input stays balanced without a fan-out exchange
    val twins = spark.range(n).filter(col("id") % 5 === 0)
      .as[Long].map(i => Videos.twin(Videos.generate(i), i))
    videoTable(spark, n).unionByName(twins)
  }

  // memoized per-frame feature table (vid, fidx, fhash, pix, nf) — feeds
  // both LSH band branches and both sides of the refine join; same cache
  // rationale/lifecycle as embCache (decode+phash per frame is the
  // expensive kernel, run once)
  private val vidFrameCache = new SessionCache[DataFrame](32, _.unpersist(false))

  /** VIDEO-level near-dup detection at scale (the similarity op for the
    * multimodal axis): explode videos to per-frame features through the
    * REAL container-parse → ImageIO-decode path (fhash = aHash of decoded
    * pixels, pix = MD5 of the decoded pixel field), bucket by the leading
    * two frame hashes (banded equi-join — every video has ≥ 4 frames, and
    * a twin provably shares frames 0 and 1 bit-exactly because PNG is
    * lossless, so planted recall is 100%), then refine EXACTLY: count
    * frame positions whose decoded pixels match (pix equality) and keep
    * pairs sharing ≥ 75% of the longer video's frames. The planted twins
    * share exactly n-1 of n frames (4·(n-1) ≥ 3·n for n ≥ 4); any
    * non-planted candidate pair would need bit-identical decoded frames
    * across distinct render seeds — the oracle therefore predicts the
    * planted pairs and their n_shared from the shared integer hash alone.
    * Scale shape: frame explode is row-local; candidates come from a
    * banded equi-join (never all-pairs); the refine joins per-frame rows
    * by (pair, frame index). */
  def q54VideoNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frames = vidFrameCache.getOrElseUpdate(
      s"${org.apache.spark.sql.graft.bridge.sessionUUID(spark)}|videos", {
        videoNearDupTable(spark, VID_N).flatMap { v =>
          Videos.frames(v.bytes).zipWithIndex.map { case (b, i) =>
            val img = Images.decode(b)
            (v.video_id, i, Images.phash(img), Images.pixelMd5(img), v.n_frames)
          }
        }.toDF("vid", "fidx", "fhash", "pix", "nf").cache()
      })
    val bands = frames.filter(col("fidx") < 2)
      .select(col("vid"), col("fidx").as("band"), col("fhash").as("bkey"), col("nf"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        col("a.nf").as("nfa"), col("b.nf").as("nfb"))
      .distinct()
    val fa = frames.select(col("vid").as("id_a"), col("fidx"), col("pix").as("pa"))
    val fb = frames.select(col("vid").as("id_b"), col("fidx"), col("pix").as("pb"))
    cand.join(fa, Seq("id_a"))
      .join(fb, Seq("id_b", "fidx"))
      .groupBy("id_a", "id_b", "nfa", "nfb")
      .agg(sum(when(col("pa") === col("pb"), 1L).otherwise(0L)).as("n_shared"))
      .filter(col("n_shared") * 4 >= greatest(col("nfa"), col("nfb")) * 3)
      .select(col("id_a"), col("id_b"), col("n_shared"))
      .orderBy("id_a", "id_b")
  }

  // ---------------- audio features (multimodal) ----------------

  import graft.img.{Audio, AudioRow}

  val AUD_N = 500L

  def audioTable(spark: SparkSession, n: Long): org.apache.spark.sql.Dataset[AudioRow] = {
    import spark.implicits._
    // range partitions are already balanced — see imageTable
    spark.range(n).map(r => Audio.generate(r))
  }

  /** Audio feature extraction under the driver HASH gate: each row's REAL
    * WAV bytes (RIFF/PCM16 mono, written byte-level) are parsed back and
    * the features (sample count, Σ|amplitude|, strict zero crossings) are
    * computed from the DECODED samples. Sample values are pure integer
    * hash derivations, so the oracle recomputes every feature exactly —
    * one mangled byte in the encode or parse diverges the sums. */
  def q53AudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioTable(spark, AUD_N).map { a =>
      val (rate, samples) = Audio.decodeWav(a.bytes)
      val (n, sumAbs, zc) = Audio.features(samples)
      val ok = rate == a.sample_rate && n == a.n_samples
      (a.audio_id, n, sumAbs, zc, ok)
    }.toDF("audio_id", "n_samples", "sum_abs", "n_zero_cross", "wav_ok")

      .localCheckpoint(true) // compute-once guard (object doc)
      .orderBy("audio_id")
  }

  // ---------------- entity pipeline / munge / simplify ----------------

  /** json munge through ALL FOUR ordered heuristics (ref `commands/json.rs:
    * 61-130`): id % 4 picks the branch — 0: lat/lon number keys, 1: WKT
    * string under `wkt`, 2: GeoJSON geometry STRING under `geojson`,
    * 3: GeoJSON geometry OBJECT under `geometry`. Every branch normalizes
    * to the identical Point feature (JTS coords are doubles whatever the
    * input's lexical form), so ONE oracle expression gates all four; the
    * `branch` tag column row-represents each heuristic in the gate.
    * Integer coords keep the output string oracle-reconstructable. */
  def q31Munge(spark: SparkSession, dir: String): DataFrame = {
    val mungeUdf = udf((line: String) => graft.ops.Munge.mungeLine(line))
    val tail = concat(lit("\"name\": \"evt"), col("id"), lit("\"}"))
    pts(spark, dir)
      .withColumn("loni", col("id") % 360 - 180)
      .withColumn("lati", col("id") % 180 - 90)
      .withColumn("branch", col("id") % 4)
      .withColumn("line",
        when(col("branch") === 0, concat(lit("{\"lat\": "), col("lati"),
          lit(", \"lon\": "), col("loni"), lit(", "), tail))
        .when(col("branch") === 1, concat(lit("{\"wkt\": \"POINT ("),
          col("loni"), lit(" "), col("lati"), lit(")\", "), tail))
        .when(col("branch") === 2, concat(
          lit("{\"geojson\": \"{\\\"type\\\": \\\"Point\\\", \\\"coordinates\\\": ["),
          col("loni"), lit(", "), col("lati"), lit("]}\", "), tail))
        .otherwise(concat(lit("{\"geometry\": {\"type\": \"Point\", \"coordinates\": ["),
          col("loni"), lit(", "), col("lati"), lit("]}, "), tail)))
      .withColumn("feature", mungeUdf(col("line")))
      .select("id", "branch", "feature")
      .orderBy("id")
  }

  /** Full sniff → parse → convert path on WKT lines (format detection,
    * WKT reader, canonical writers). */
  def q32ParseWkt(spark: SparkSession, dir: String): DataFrame = {
    val parseUdf = udf((line: String) => {
      val e = graft.core.Entity.parseLine(line).head
      (e.kind, e.raw, Geo.geometryJsonString(e.geom))
    })
    pts(spark, dir)
      .withColumn("loni", col("id") % 360 - 180)
      .withColumn("lati", col("id") % 180 - 90)
      .withColumn("line", concat(lit("POINT ("), col("loni"), lit(" "), col("lati"), lit(")")))
      .withColumn("p", parseUdf(col("line")))
      .select(col("id"), col("p._1").as("kind"), col("p._2").as("wkt"),
        col("p._3").as("gj"))

      .orderBy("id")
  }

  /** VW-preserve simplify over deterministic zigzag polylines (kernel
    * goldens in OpsSpec; rows-only driver check — VW is not SQL-
    * expressible). Outputs coord counts before/after + retained-vertex
    * checksum. */
  def q30Simplify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lines = pts(spark, dir)
      .withColumn("g", col("id") % 100)
      .groupBy("g")
      .agg(sort_array(collect_list(struct(col("id"), col("lon"), col("lat")))).as("pts"))
    lines.as[(Long, Seq[(Long, Double, Double)])].map { case (g, ps) =>
      val coords = ps.map(p => new org.locationtech.jts.geom.Coordinate(p._2, p._3)).toArray
      val ls = Geo.factory.createLineString(coords)
      val simp = graft.ops.Simplify.simplify(ls, 1.0)
      val kept = simp.getCoordinates.map(c => c.x + c.y).sum
      (g, ls.getNumPoints, simp.getNumPoints, math.floor(kept * 1000).toLong)
    }.toDF("g", "n_before", "n_after", "kept_checksum")

      .orderBy("g")
  }

  /** VW-preserve simplify under the driver HASH gate (q30 stays rows-only
    * for arbitrary inputs): constructed integer polylines make the
    * Visvalingam–Whyatt elimination CLOSED-FORM, so the surviving vertex
    * set is pure SQL. Per event: 17 vertices at x = 0..16; anchors at even
    * x on the convex parabola y = 100x² (effective area ≥ 150 in EVERY
    * neighbor configuration — never eliminated at ε = 4.5); teeth at odd x
    * at y = 100(x²+1) + d with d ∈ 1..8 from hash bits. A tooth's
    * effective triangle area is exactly d (integer cross products, exact
    * in doubles), teeth are pairwise non-adjacent, and a removed tooth
    * only changes its anchor neighbors' areas (which stay ≥ 150) — so
    * eliminations never interact and the survivors are exactly
    * {anchors} ∪ {teeth with d ≥ 5}, independent of heap order. The
    * x-monotone chain also guarantees the topology-preservation guard
    * never fires (shortcuts only share endpoints with other segments).
    * The REAL kernel (ops/Simplify, ref `commands/simplify.rs:5-28`) runs
    * on the Spark side; the oracle predicts (n_after, kept coordinate
    * checksum) from the same integer hash math — any elimination-order,
    * area, or topology defect hash-fails. */
  def q49SimplifyVw(spark: SparkSession, dir: String): DataFrame = {
    val run = udf((id: Long) => {
      val h = (id * 2654435761L) % 4294967296L
      val coords = (0 to 16).map { i =>
        val y =
          if (i % 2 == 0) 100L * i * i
          else 100L * (i * i + 1) + (1L + ((h >> (3 * ((i - 1) / 2))) % 8L))
        new org.locationtech.jts.geom.Coordinate(i.toDouble, y.toDouble)
      }.toArray
      val simp = graft.ops.Simplify.simplify(
        Geo.factory.createLineString(coords), 4.5)
      val kept = simp.getCoordinates
      (kept.length.toLong, kept.map(c => c.x.toLong * 1000000L + c.y.toLong).sum)
    })
    tbl(spark, dir, "events.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("event_id").as("id"))
      .withColumn("r", run(col("id")))
      .select(col("id"), lit(17L).as("n_before"),
        col("r._1").as("n_after"), col("r._2").as("kept_sum"))

      .orderBy("id")
  }

  /** IVF-style ANN — the scale path for similarity search: partition vectors
    * into coarse buckets (nearest of 16 seed centroids by dot product),
    * probe the 4 best buckets per query, exact top-3 within probed buckets.
    * Deterministic (seed centroids = vec_id < 16, ties by id), so the oracle
    * recomputes it exactly; at 100 TB the bucket assignment becomes the
    * table's partition key and each query touches nprobe partitions instead
    * of a full scan. */
  def q33AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = tbl(spark, dir, "embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val dot = udf((a: Seq[Double], b: Seq[Double]) => {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    })
    // bucket assignment: nearest centroid by dot (ties → smaller cent_id).
    // argmax via max_by aggregation — partial (map-side) aggregation shrinks
    // the 16×-replicated join output before the shuffle, where the previous
    // row_number window shuffled and sorted all of it.
    val assigned = emb.join(broadcast(cents))
      .withColumn("cdot", dot(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cent_id"), struct(col("cdot"), (-col("cent_id")).as("nc"))).as("bucket"),
        first(col("v")).as("v")) // v is constant within the group
      .select(col("vec_id"), col("v"), col("bucket"))

    // query probes: 4 nearest centroids per query
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("cdot").desc, col("cent_id").asc)
    val probes = queries.join(broadcast(cents))
      .withColumn("cdot", dot(col("qv"), col("cv")))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= 4)
      .select(col("query_id"), col("qv"), col("cent_id").as("bucket"))

    // search only probed buckets (equi-join on bucket = partition pruning);
    // the probe side is small — broadcast it so the vector table is never
    // shuffled (at 100 TB it is bucket-partitioned storage, scanned in place)
    val wTop = Window.partitionBy("query_id").orderBy(col("qdot").desc, col("vec_id").asc)
    broadcast(probes).join(assigned, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("qdot", dot(col("qv"), col("v")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** End-to-end training-data curation pipeline over documents — the
    * composition the 100 TB pipeline runs: exact dedup (32-char-prefix key,
    * keep min doc_id) → near-dup removal via MinHash LSH (drop the larger
    * id of every candidate pair with ≥6/8 signature agreement) → quality
    * gate (≥70% alpha) → per-doc verdict with stage attribution. Every
    * stage is individually oracle-verified (q17/q19/q15); this query
    * verifies the composition. */
  def q34CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val keyed = d.select(col("doc_id"), md5(substring(col("text"), 1, 32)).as("k"))
    val exactKeepers = keyed.groupBy("k").agg(min("doc_id").as("keeper"))
    val exactSurvivors = keyed.join(exactKeepers,
      keyed("k") === exactKeepers("k") && keyed("doc_id") === exactKeepers("keeper"))
      .select(col("doc_id"))

    val nearDupLosers = q19MinhashPairs(spark, dir)
      .filter(col("n_agree") >= 6)
      .select(col("id_b").as("doc_id")).distinct()

    // gate at 80% alpha: the corpus's alpha ratio spans ~79-86%, so this
    // threshold actually discriminates (70% would pass everything)
    val quality = docs(spark, dir).select(col("doc_id"),
      (length(regexp_replace(col("text"), "[^A-Za-z]", "")) * 100 >=
        length(col("text")) * 80).as("quality_ok"))

    d.select(col("doc_id"))
      .join(exactSurvivors.withColumn("exact_kept", lit(true)), Seq("doc_id"), "left")
      .join(nearDupLosers.withColumn("near_dup", lit(true)), Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"))
      .select(col("doc_id"),
        coalesce(col("exact_kept"), lit(false)).as("exact_kept"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"),
        col("quality_ok"),
        (coalesce(col("exact_kept"), lit(false)) &&
          !coalesce(col("near_dup"), lit(false)) && col("quality_ok")).as("kept"))
      .orderBy("doc_id")
  }

  // ---------------- events: windows / sessions ----------------

  /** Tumbling 1-hour windows per event type (batch twin of the streaming
    * path; exact aggregates only — count/min/max). */
  def q23WindowCounts(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events.parquet")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), min("value").as("min_v"), max("value").as("max_v"))
      .select(unix_timestamp(col("w.start")).as("win_start"), col("event_type"),
        col("n"), col("min_v"), col("max_v"))
      .orderBy("win_start", "event_type")

  /** Sessionization: 30-minute-gap sessions per user via window functions. */
  def q24Sessions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tbl(spark, dir, "events.parquet")
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
      .withColumn("sess_id", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id")
      .agg(max("sess_id").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  // ---------------- H3 geometry queries ----------------

  /** Deterministic valid H3 cells (pure integer construction shared
    * verbatim with the oracle — OracleSql.H3_CELL_EXPR). */
  private def h3Cells(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("event_id").as("id"),
        expr(OracleSql.H3_CELL_EXPR).as("cell"),
        expr(OracleSql.H3_RES_EXPR).cast("int").as("res"))

  /** h3 encode/decode round-trip: re-encoding a cell's decoded center at its
    * own res must return the cell; at res-1 it must return the bit-level
    * parent (cell centers sit well inside their parents). The oracle mirrors
    * both with pure integer bit math — any geometry error hash-fails. */
  def q35H3Encode(spark: SparkSession, dir: String): DataFrame = {
    val rt = udf((cell: Long, res: Int) => {
      val (la, ln) = graft.index.H3Geo.cellToLatLng(cell)
      (java.lang.Long.toHexString(graft.index.H3Geo.latLngToCell(la, ln, res)),
        java.lang.Long.toHexString(graft.index.H3Geo.latLngToCell(la, ln, res - 1)))
    })
    h3Cells(spark, dir)
      .withColumn("r", rt(col("cell"), col("res")))
      .select(col("id"), lower(hex(col("cell"))).as("cell_str"),
        col("r._1").as("rt_str"), col("r._2").as("parent_str"), col("res"))

      .orderBy("id")
  }

  /** h3 grid-disk invariants, all integer-predictable for hexagon cells:
    * |disk(c,1)| = 7, 6 mutual neighbors, every member's center re-encodes
    * to itself, every member's boundary polygon touches c's. */
  def q36H3GridDisk(spark: SparkSession, dir: String): DataFrame = {
    val diskStats = udf((cell: Long, res: Int) => {
      import graft.index.{H3Geo}
      val disk = H3Geo.gridDisk(cell, 1)
      val members = disk.filter(_ != cell)
      // mutual adjacency via the INDEPENDENT geodesic probe (one boundary
      // per member): the disk comes from the integer lattice kernel, so the
      // probe cross-validates lattice adjacency against raw geometry — a
      // lattice defect that is merely self-consistent still hash-fails here
      val nMutual = members.count(m => H3Geo.probeToward(m, cell) == cell)
      val nRt = disk.count { m =>
        val (la, ln) = H3Geo.cellToLatLng(m)
        H3Geo.latLngToCell(la, ln, res) == m
      }
      // ε-tolerant touch test: adjacent hexagons share (at least) the two
      // topological vertices of their common edge; vertices of adjacent
      // cells are computed in different face projections, so a shared
      // vertex carries ~1e-12 of float jitter either way. Vertex sharing
      // IS polygon touching for a hex tiling, at a fraction of the JTS
      // polygon-distance cost (this is the bench's hottest member loop).
      // The lon delta is scaled by cos(lat) (pole-safe: lon jitter for the
      // same geometric vertex is amplified by 1/cos(lat) near the poles)
      // and taken mod 360 so an antimeridian-straddling edge still matches.
      val bc = H3Geo.cellBoundary(cell)
      val nTouch = members.count { m =>
        H3Geo.cellBoundary(m).exists { case (la, ln) =>
          bc.exists { case (bla, bln) =>
            val dLon = math.abs(ln - bln)
            math.abs(la - bla) < 1e-6 &&
              math.min(dLon, 360.0 - dLon) * math.cos(math.toRadians(bla)) < 1e-6
          }
        }
      }
      (disk.size, nMutual, nRt, nTouch)
    })
    h3Cells(spark, dir)
      .withColumn("s", diskStats(col("cell"), col("res")))
      .select(col("id"), lower(hex(col("cell"))).as("cell_str"),
        col("s._1").as("n_disk"), col("s._2").as("n_mutual"),
        col("s._3").as("n_rt"), col("s._4").as("n_touch"))

      .localCheckpoint(true) // compute-once guard (object doc)
      .orderBy("id")
  }

  /** h3 covering invariants, integer-predictable for hexagon cells:
    * polyfill of the cell's own hexagon at its own res = exactly {cell}
    * (neighbors' centers fall outside), and the BFS line covering between
    * the cell center and a neighbor's center contains both endpoint cells. */
  def q38H3Covering(spark: SparkSession, dir: String): DataFrame = {
    val cover = udf((cell: Long, res: Int) => {
      import graft.index.{H3Cover, H3Geo}
      val selfCover = H3Cover.polygonCells(H3Geo.cellPolygon(cell), res)
      val n = H3Geo.neighborsCached(cell).head
      val (cla, cln) = H3Geo.cellToLatLng(cell)
      val (nla, nln) = H3Geo.cellToLatLng(n)
      val line = Geo.factory.createLineString(Array(
        new org.locationtech.jts.geom.Coordinate(cln, cla),
        new org.locationtech.jts.geom.Coordinate(nln, nla)))
      val lineCover = H3Cover.lineCells(line, res)
      (selfCover.size, selfCover == Set(cell),
        lineCover.contains(cell), lineCover.contains(n))
    })
    h3Cells(spark, dir)
      .withColumn("c", cover(col("cell"), col("res")))
      .select(col("id"), lower(hex(col("cell"))).as("cell_str"),
        col("c._1").as("n_self_cover"), col("c._2").as("self_exact"),
        col("c._3").as("line_has_a"), col("c._4").as("line_has_b"))

      .localCheckpoint(true) // compute-once guard (object doc)
      .orderBy("id")
  }

  /** Pentagon invariants under the driver hash gate (pentagons were only
    * unit-tested through round 2): 12 pentagon base cells × res 5..7 with
    * all-zero digits; each must report 5 neighbors, a 1-ring disk of 6,
    * 6 children that compact back to the cell, an exact center round-trip,
    * and 5 boundary verts at Class II / 10 (icosa-edge distortion on every
    * edge) at Class III. All constants — the oracle mirrors them from res
    * alone, so any deleted-K-subsequence or distortion defect hash-fails. */
  def q39H3Pentagon(spark: SparkSession, dir: String): DataFrame = {
    val stats = udf((cell: Long, res: Int) => {
      import graft.index.{H3, H3Cover, H3Geo}
      val nNeighbors = H3Geo.neighbors(cell).size
      val nDisk = H3Geo.gridDisk(cell, 1).size
      val kids = H3.cellToChildren(cell, res + 1)
      val rtOk = {
        val (la, ln) = H3Geo.cellToLatLng(cell)
        H3Geo.latLngToCell(la, ln, res) == cell
      }
      val nVerts = H3Geo.cellBoundary(cell).length
      val compactOk = H3Cover.compact(kids.toSet) == Set(cell)
      (nNeighbors, nDisk, kids.size, rtOk, nVerts, compactOk)
    })
    tbl(spark, dir, "events.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("event_id").as("id"),
        expr(OracleSql.H3_PENT_CELL_EXPR).as("cell"),
        expr(OracleSql.H3_RES_EXPR).cast("int").as("res"))
      .withColumn("s", stats(col("cell"), col("res")))
      .select(col("id"), lower(hex(col("cell"))).as("cell_str"),
        col("s._1").as("n_neighbors"), col("s._2").as("n_disk"),
        col("s._3").as("n_children"), col("s._4").as("rt_ok"),
        col("s._5").as("n_verts"), col("s._6").as("compact_ok"))

      .orderBy("id")
  }

  /** gh covering under the driver hash gate (it only had golden-order CLI
    * coverage): per-event axis-aligned boxes run through the REAL DFS
    * covering (JTS intersects against cell bboxes); the oracle recomputes
    * the covering as pure interval arithmetic — floor-divide the box
    * corners into level-3 cell index ranges and emit the index rectangle.
    * Set-equality (both sides sorted) proves the DFS emits exactly the
    * intersecting cells, without over- or under-covering. */
  def q40GhCovering(spark: SparkSession, dir: String): DataFrame = {
    val cover = udf((minx: Double, miny: Double, maxx: Double, maxy: Double) => {
      val c = Array(
        new org.locationtech.jts.geom.Coordinate(minx, miny),
        new org.locationtech.jts.geom.Coordinate(maxx, miny),
        new org.locationtech.jts.geom.Coordinate(maxx, maxy),
        new org.locationtech.jts.geom.Coordinate(minx, maxy),
        new org.locationtech.jts.geom.Coordinate(minx, miny))
      Geohash.covering(Geo.factory.createPolygon(c), 3).sorted
    })
    pts(spark, dir)
      .filter(col("lat") > -85.0 && col("lat") < 85.0 &&
        col("lon") > -175.0 && col("lon") < 175.0)
      // exclude boxes whose MIN edges land exactly on a level-3 cell
      // boundary: JTS intersects (closed) would also keep the cell touching
      // from the left, while the oracle's floor interval would not — the
      // identical expression runs on both engines, so the same rows drop.
      // (Max edges agree: both sides keep the right-touching cell.)
      // Possible because pts lons are k/2^32 multiples: k ≡ 0 mod 2^24
      // lands exactly on a 360/256 edge (~6e-4 odds per 10k rows).
      .filter(((col("lon") + lit(180.0)) / lit(360.0)) * lit(256.0) =!=
        floor(((col("lon") + lit(180.0)) / lit(360.0)) * lit(256.0)))
      .filter(((col("lat") + lit(90.0)) / lit(180.0)) * lit(128.0) =!=
        floor(((col("lat") + lit(90.0)) / lit(180.0)) * lit(128.0)))
      .select(col("id"), col("lon").as("minx"), col("lat").as("miny"),
        (col("lon") + lit(1.0) + (col("id") % 4) * lit(0.5)).as("maxx"),
        (col("lat") + lit(0.8) + (col("id") % 3) * lit(0.5)).as("maxy"))
      .withColumn("gh", explode(cover(col("minx"), col("miny"), col("maxx"), col("maxy"))))
      .select("id", "gh")
      .orderBy("id", "gh")
  }

  /** centroid under the driver hash gate (it only had golden CLI coverage):
    * the REAL JTS centroid over all three geometry branches the reference
    * accepts — box Polygon (area centroid), diagonal LineString (length
    * centroid), corner Point (identity) — each checked against the
    * integer-predictable exact answer (box center / diagonal midpoint /
    * the point itself) to 1e-9, plus containment. The box center itself is
    * emitted from the SHARED float expression so the oracle hash-anchors
    * the coordinates too. */
  def q41Centroid(spark: SparkSession, dir: String): DataFrame = {
    val cen = udf((minx: Double, miny: Double, maxx: Double, maxy: Double) => {
      val cx = (minx + maxx) / 2
      val cy = (miny + maxy) / 2
      val poly = Geo.boxPolyBL(minx, miny, maxx, maxy)
      val pc = poly.getCentroid
      val polyOk = poly.contains(pc) &&
        math.abs(pc.getX - cx) < 1e-9 && math.abs(pc.getY - cy) < 1e-9
      val line = Geo.factory.createLineString(Array(
        new org.locationtech.jts.geom.Coordinate(minx, miny),
        new org.locationtech.jts.geom.Coordinate(maxx, maxy)))
      val lc = line.getCentroid
      val lineOk = math.abs(lc.getX - cx) < 1e-9 && math.abs(lc.getY - cy) < 1e-9
      val ptc = Geo.point(minx, miny).getCentroid
      val pointOk = ptc.getX == minx && ptc.getY == miny
      (polyOk, lineOk, pointOk)
    })
    pts(spark, dir)
      .filter(col("lat") > -85.0 && col("lat") < 85.0 &&
        col("lon") > -175.0 && col("lon") < 175.0)
      .select(col("id"), col("lon").as("minx"), col("lat").as("miny"),
        (col("lon") + lit(1.0) + (col("id") % 4) * lit(0.5)).as("maxx"),
        (col("lat") + lit(0.8) + (col("id") % 3) * lit(0.5)).as("maxy"))
      .withColumn("c", cen(col("minx"), col("miny"), col("maxx"), col("maxy")))
      .select(col("id"),
        ((col("minx") + col("maxx")) / lit(2.0)).as("cx"),
        ((col("miny") + col("maxy")) / lit(2.0)).as("cy"),
        col("c._1").as("poly_ok"), col("c._2").as("line_ok"), col("c._3").as("point_ok"))

      .orderBy("id")
  }

  /** gj fc under the driver hash gate: the reference's whole-stream
    * FeatureCollection, as the distributed analog — per-group ordered
    * assembly (array_sort over collected (id, feature) structs, then
    * array_join into the same wrapper string `GeoOps.gjFeatureCollection`
    * emits). Features come from the REAL formatter chain
    * (Geo.featureJsonString); coordinates are integer-derived so the JSON
    * float formatting is oracle-reproducible (same trick as q13/q31). */
  def q42GjFc(spark: SparkSession, dir: String): DataFrame = {
    val feat = udf((id: Long) =>
      Geo.featureJsonString(
        Geo.point(((id % 360) - 180).toDouble, ((id % 180) - 90).toDouble),
        graft.geom.JObject.empty))
    tbl(spark, dir, "events.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("event_id").as("id"))
      .withColumn("grp", col("id") % 97)
      .withColumn("feature", feat(col("id")))
      .groupBy("grp")
      .agg(concat(lit("{\"features\":["),
        array_join(
          transform(array_sort(collect_list(struct(col("id"), col("feature")))),
            x => x.getField("feature")),
          ","),
        lit("],\"type\":\"FeatureCollection\"}")).as("fc"))

      .orderBy("grp")
  }

  /** The TOP-DOWN multi-resolution covering (reference dead code
    * `commands/h3.rs:291-418`, implemented as H3Cover.topDownCovering)
    * under the driver HASH gate — round 4 left it property-tested only.
    * Two runs per cell over the cell's own hexagon:
    *  - minRes = maxRes = res: the start search finds the cell itself
    *    (its polygon covers itself) and emits exactly {cell} — n_self = 1
    *    and self_ok are closed-form;
    *  - minRes = res, maxRes = res+2: the emitted multi-res set is not
    *    integer-predictable (compaction depends on child-center geometry),
    *    but four ALGORITHM INVARIANTS are — every emitted maxRes leaf has
    *    its center inside the geometry (∈ the maxRes polyfill), every
    *    emitted PARENT has all direct children's centers inside (the
    *    group-compaction emission rule), every emitted resolution lies in
    *    [minRes, maxRes], and no emitted cell is an ancestor of another.
    * NOTE the popular "expansion ⊇ polyfill" property is deliberately NOT
    * gated: it is not an algorithm invariant — when the geometry equals
    * the start cover exactly, aperture-7 child overflow puts boundary
    * polyfill cells in neighbor subtrees the descent correctly prunes
    * (H3GeoSpec box fixtures satisfy it only by margin; FIXTURES.md §9).
    * All six outputs are constants iff the start search, descent,
    * group-compaction and leaf-emission logic are correct; the oracle
    * mirrors the constants. Every 5th event row (the per-row descent at
    * res+2 is among the most expensive H3 kernels in the suite). */
  def q55TopdownCover(spark: SparkSession, dir: String): DataFrame = {
    val stats = udf((cell: Long, res: Int) => {
      import graft.index.{H3, H3Cover, H3Geo}
      import org.locationtech.jts.geom.Coordinate
      val poly = H3Geo.cellPolygon(cell)
      val self = H3Cover.topDownCovering(poly, res, res)
      val maxRes = res + 2
      val td = H3Cover.topDownCovering(poly, res, maxRes)
      val pf = H3Cover.polygonCells(poly, maxRes)
      val leavesOk = td.filter(c => H3.resolution(c) == maxRes).forall(pf.contains)
      val parentOk = td.filter(c => H3.resolution(c) < maxRes).forall { p =>
        H3.cellToChildren(p, H3.resolution(p) + 1).forall { ch =>
          val (la, ln) = H3Geo.cellToLatLng(ch)
          poly.contains(Geo.factory.createPoint(new Coordinate(ln, la)))
        }
      }
      val rangeOk = td.forall(c =>
        H3.resolution(c) >= res && H3.resolution(c) <= maxRes)
      val nestOk = td.forall { c =>
        (res until H3.resolution(c)).forall(pr => !td.contains(H3.cellToParent(c, pr)))
      }
      (self.size, self == Set(cell), leavesOk, parentOk, rangeOk, nestOk)
    })
    h3Cells(spark, dir)
      .filter(col("id") % 5 === 0)
      .withColumn("s", stats(col("cell"), col("res")))
      .select(col("id"), lower(hex(col("cell"))).as("cell_str"),
        col("s._1").as("n_self"), col("s._2").as("self_ok"),
        col("s._3").as("leaves_ok"), col("s._4").as("parent_ok"),
        col("s._5").as("range_ok"), col("s._6").as("nest_ok"))

      .localCheckpoint(true) // compute-once guard (object doc)
      .orderBy("id")
  }

  /** h3 children/compact: the 49 res+2 descendants compact back to exactly
    * the original cell (pure bit ops, pentagon-aware). */
  def q37H3Compact(spark: SparkSession, dir: String): DataFrame = {
    val comp = udf((cell: Long, res: Int) => {
      import graft.index.{H3, H3Cover}
      val kids = H3.cellToChildren(cell, res + 2)
      val compacted = H3Cover.compact(kids.toSet)
      (kids.size, compacted.size,
        if (compacted == Set(cell)) java.lang.Long.toHexString(cell) else "MISMATCH")
    })
    h3Cells(spark, dir)
      .withColumn("c", comp(col("cell"), col("res")))
      .select(col("id"), col("c._1").as("n_children"), col("c._2").as("n_compact"),
        col("c._3").as("compact_str"))

      .localCheckpoint(true) // compute-once guard (object doc)
      .orderBy("id")
  }

  // ------------- curation at scale: packing / mixing / quantiles -------------

  /** Greedy sequence PACKING under the driver gate — fixed-size context
    * windows filled shard-by-shard in doc_id order (graft.ops.Packing:
    * one shuffle on the shard key + a streaming per-partition pass).
    * Token counts are the SQL-expressible n_chars % 90 + 10 (10–99), so
    * budget 96 gate-drives BOTH branches: normal fills and oversized
    * docs (97–99 tokens) that own a bin alone. The oracle is an
    * INDEPENDENT fixpoint — a recursive CTE walking each shard row by
    * row — so an off-by-one in the overflow rule, a reset missed at a
    * shard boundary, or a partition that split a shard all hash-fail. */
  def q65Packing(spark: SparkSession, dir: String): DataFrame = {
    val base = docsNarrow(spark, dir).select(
      col("doc_id"),
      (col("doc_id") % 8).as("shard"),
      (col("n_chars") % 90 + 10).as("tok"))
    graft.ops.Packing.packGreedy(base, "doc_id", "shard", "tok", budget = 96L)
      .orderBy("doc_id")
  }

  /** Deterministic weighted corpus MIXING under the driver gate — the
    * per-domain rebalance (graft.ops.Sampling): weight_milli =
    * (source index % 8) · 375, so the 20 sources span hard drops (0),
    * fractional down-samples (0.375×), and >2× up-samples (2.625× → 2
    * or 3 copies). The keep/extra-copy decision is the 32-bit
    * multiply–xorshift mix of doc_id mod 1000 — pure integer arithmetic
    * the oracle re-renders constant-for-constant, so the gate proves
    * BOTH engines select the exact same rows AND the exact same copy
    * counts (no rand(), no partition dependence). */
  def q66Mixing(spark: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(spark, dir).select(col("doc_id"), col("source"))
      .withColumn("weight_milli",
        expr("CAST(substr(source, 4) AS BIGINT)") % 8 * 375)
    graft.ops.Sampling.weightedExplode(d, "doc_id", col("weight_milli"))
      .select(col("doc_id"), col("source"), col("weight_milli"), col("copy"))
      .orderBy("doc_id", "copy")
  }

  /** EXACT distributed quantiles under the driver gate — histogram
    * bisection (graft.ops.Quantiles), NO global sort. The value domain
    * is a 1e8-wide signed derivation of event_id (negatives included);
    * at the operator's default fanout (4096) it resolves in 3 bisection
    * levels — 3 input scans instead of the 7 that the gate's original
    * fanout=16 paid (the result is fanout-invariant, and the
    * range-narrowing arithmetic across fanouts 2..64 stays exercised by
    * CurationOpsSpec's multi-level cases). Quantiles are rationals;
    * the rank is ceil(n·num/den) in integer arithmetic on both engines.
    * The oracle is the definition itself: row_number over a full sort,
    * joined at the target ranks — if any level miscounts a bucket, the
    * resolved value names a different element and hash-fails. */
  def q67Quantiles(spark: SparkSession, dir: String): DataFrame = {
    val v = tbl(spark, dir, "events.parquet")
      .select((col("event_id") * 2654435761L % 100000000L - 50000000L).as("v"))
    graft.ops.Quantiles.exactQuantiles(v, "v",
      Seq((1L, 100L), (1L, 4L), (1L, 2L), (3L, 4L), (99L, 100L), (1L, 1L)))
      .orderBy("rank", "q_num", "q_den")
  }

  // ------------- decontamination / bloom sketch / repetition -------------

  /** BLOOM FILTER sketch under the driver gate — the q60 pattern applied
    * to set membership: the gate hashes ALL 2048 32-bit bitset words,
    * and the oracle recomputes every probe (two mix chains + the
    * Kirsch–Mitzenmacher double-hash index, bit_or per word) integer-
    * exactly, so one wrong bit anywhere in reduce/merge hash-fails. The
    * value domain (event_id·37 mod 4096, ≤ 4096 distinct) fills ~22% of
    * the 65536 bits at K = 4 — a healthy mid-fill pattern, neither
    * sparse nor saturated. */
  def q68Bloom(spark: SparkSession, dir: String): DataFrame = {
    val bloom = udaf(new graft.functions.BloomAggregator,
      org.apache.spark.sql.Encoders.scalaLong)
    val row = tbl(spark, dir, "events.parquet")
      .select((col("event_id") * 37 % 4096).as("v"))
      .agg(bloom(col("v")).as("words"))
    row.select(posexplode(col("words")))
      .select(col("pos").as("word_idx"), col("col").as("word_value"))
      .orderBy("word_idx")
  }

  /** Benchmark DECONTAMINATION under the driver gate: the eval set is
    * the deterministic doc_id % 97 == 0 slice, contamination = sharing
    * any word 3-gram with it (171 of 500 docs at sf0.01 on this
    * template-heavy corpus — a rich gate). The engine goes Bloom
    * broadcast prefilter → exact broadcast refine (ops/Decontaminate);
    * the oracle computes the FULL exact join, so a Bloom false NEGATIVE
    * (a missed contaminated doc) or a refine miscount hash-fails. */
  def q69Decontam(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val corpus = d.filter(col("doc_id") % 97 =!= 0)
    val evalSet = d.filter(col("doc_id") % 97 === 0)
    graft.ops.Decontaminate
      .contaminatedDocs(corpus, evalSet, "doc_id", "text", n = 3)
      .orderBy("doc_id")
  }

  /** REPETITION quality stats under the driver gate: per-doc mode
    * multiplicities via the row-local sort + run-length fold
    * (ops/Repetition — no per-token shuffle), checked against the
    * definitional unnest → group → max oracle. All outputs integer or
    * integer-threshold booleans. */
  def q70Repetition(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Repetition.stats(docs(spark, dir), "doc_id", "text")

      .orderBy("doc_id")

  /** BPE-style regex token counting under the driver gate — the
    * second half of the brief's "token counting (whitespace + a
    * BPE-ish regex)": the GPT-2-family split shape (letter runs as one
    * token, each DIGIT its own token, punctuation runs as one token)
    * over a deterministic mixed-character derivation of the corpus
    * (the raw synthetic text is letters+spaces only, so the digit and
    * punctuation branches are driven by appending the doc id and a
    * punctuation tail — both engines build the identical string). The
    * pattern uses only portable character-class constructs, so Java
    * regex and DuckDB's RE2 tokenize identically; all outputs are
    * integer counts. Row-local, zero-shuffle — the q14 scale shape. */
  def q71BpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val t = concat(col("text"), lit(" v"), col("doc_id").cast("string"), lit("!?."))
    docsNarrow(spark, dir).select(
      col("doc_id"),
      size(regexp_extract_all(t, lit("[A-Za-z]+"), lit(0))).as("n_alpha_runs"),
      size(regexp_extract_all(t, lit("[0-9]"), lit(0))).as("n_digit_tokens"),
      size(regexp_extract_all(t, lit("[^A-Za-z0-9 ]+"), lit(0))).as("n_punct_runs"),
      size(regexp_extract_all(t,
        lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]+"), lit(0))).as("n_bpe_tokens"))

      .localCheckpoint(true) // compute-once guard (object doc)
      .orderBy("doc_id")
  }

  /** Deterministic k-per-domain SAMPLING under the driver gate via the
    * map-side-combine top-k Aggregator (ops/TopK): the 3 smallest
    * mix32(doc_id) per source — reproducible on any cluster size, no
    * rand(), and the hot-domain row shuffle of window `row_number` is
    * replaced by O(k) state per group per partition. The oracle IS
    * `row_number` (the definition) over the mirrored mix, so a heap
    * bug, a dropped tie, or a partial-merge ordering error hash-fails. */
  def q72SamplePerDomain(spark: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(spark, dir).select(col("doc_id"), col("source"))
    graft.ops.TopK.topKByKey(d, Seq("source"), "doc_id",
      graft.ops.Sampling.mix32(col("doc_id")), k = 3)
      .orderBy("source", "rank")
  }

  /** PII REDACTION under the driver gate (ops/Redact): emails, phone
    * numbers, and IPv4 addresses — planted deterministically per doc
    * (the raw corpus has none; both engines build the identical
    * string) — masked with typed placeholders in the fixed
    * EMAIL → PHONE → IP order. The planting drives every reviewed
    * pattern path: the email has a dotted local with a plus-tag and a
    * hyphenated domain; even ids get a second email (multi-match
    * replace) AND a DOT-separated four-segment phone whose digit tail
    * is itself a dotted quad — so the phone-before-IP ordering is
    * hash-gated, not just spec'd; odd ids use dash phones. The gate
    * compares the REDACTED STRING byte-for-byte plus the per-stage
    * audit counts, so a pattern, ordering, or replace-all divergence
    * anywhere hash-fails. */
  def q73Redact(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val sep = when(id % 2 === 0, lit(".")).otherwise(lit("-"))
    val t = concat(col("text"),
      lit(" contact w"), id.cast("string"), lit(".doe+t@ex-"),
      (id % 9).cast("string"), lit(".com or +1"), sep,
      (id % 1000).cast("string"), sep,
      (id * 7 % 10000).cast("string"), sep,
      (id * 3 % 100).cast("string"),
      lit(" from 10."), (id % 256).cast("string"), lit("."),
      (id * 3 % 256).cast("string"), lit("."),
      (id * 7 % 256).cast("string"),
      when(id % 2 === 0, lit(" cc ops2@corp.net")).otherwise(lit("")))
    graft.ops.Redact.stats(
      docs(spark, dir).select(col("doc_id"), t.as("pii_text")),
      "doc_id", "pii_text")

      .orderBy("doc_id")
  }

  /** NORMALIZED DEDUP KEYS under the driver gate (ops/Normalize): the
    * CCNet-style normalize-before-dedup step. Each doc gets a planted
    * NOISY twin — uppercased, wrapped in extra whitespace, salted with
    * doc_id-derived digits and punctuation — that must collapse to the
    * SAME key as the original (every planted char normalizes to
    * whitespace, which the collapse absorbs). The gate returns each
    * row's key md5 plus the per-key duplicate count, so a divergence
    * in any normalization step, or a twin failing to collapse,
    * hash-fails. */
  def q74NormDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val id = col("doc_id")
    val base = docsNarrow(spark, dir).select(id, col("text"))
    val noisy = base.select(
      id,
      concat(lit("  "), upper(col("text")), lit(" "),
        (id * 7 % 1000).cast("string"), lit(", #"),
        (id % 97).cast("string"), lit("!  ")).as("text"))
    val u = base.withColumn("variant", lit("orig"))
      .unionByName(noisy.withColumn("variant", lit("noisy")))
    graft.ops.Normalize.withKey(u, "text")
      .select(col("doc_id"), col("variant"), col("key_md5"))
      .withColumn("dup_count",
        count(lit(1)).over(Window.partitionBy("key_md5")))
      .orderBy("doc_id", "variant")
  }

  /** URL EXTRACTION + DOMAIN NORMALIZATION under the driver gate
    * (ops/Urls): URLs planted deterministically per doc — a
    * www-prefixed mixed-case subdomain host, a two-label cdn host, and
    * (every 4th doc) a mixed-case mirror — so the gate drives group-1
    * multi-extraction, case normalization, www-stripping, and the
    * two-label apex rule through per-apex counts + distinct-doc counts;
    * any divergence in extraction or normalization hash-fails. */
  def q75UrlDomains(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val t = concat(col("text"),
      lit(" see https://WWW.s"), (id % 7).cast("string"),
      lit(".example-"), (id % 3).cast("string"),
      lit(".com/p/"), id.cast("string"),
      lit(" and http://cdn"), (id % 5).cast("string"),
      lit(".net/x?id="), id.cast("string"),
      when(id % 4 === 0, lit(" plus https://Mirror.example-0.com/q"))
        .otherwise(lit("")),
      // userinfo + FQDN trailing dot in one plant: the host must come out
      // as the existing example-{k}.com apex, not "deploy" (old pattern's
      // group 1) or a separate "….com." group
      lit(" ref https://deploy@Www.mirror"), (id % 2).cast("string"),
      lit(".example-"), (id % 3).cast("string"), lit(".com./z"))
    graft.ops.Urls.domainStats(
      docsNarrow(spark, dir).select(id, t.as("url_text")),
      "doc_id", "url_text")
      .orderBy("apex")
  }

  /** The END-TO-END dedup pipeline under ONE gate (ops/DedupPipeline):
    * corpus + a planted NOISY TWIN per doc (q74's plant — uppercased,
    * whitespace-wrapped, digit/punctuation-salted, id offset +100000)
    * → normalize → exact collapse (each twin MUST fold into its
    * original's group) → simhash64 over normalized text → banded
    * Hamming ≤ 3 candidates + exact refine → connected components →
    * min-id keeper for every input row. Clusters here are CHAINS, not
    * just pairs — the corpus's own ≤3 graph merges reps transitively
    * (multiple 2-3-rep clusters at sf0.01, each dragging its exact
    * twins along, on top of the 454 twin-pair groups) — and the oracle
    * recomputes the WHOLE
    * composition independently: the same normalize chain in SQL, group
    * reps, the mirrored 64-bit fingerprint halves, brute-force
    * all-pairs hamming, and the recursive-CTE reachability fixpoint
    * for min-label closure. A bug in ANY stage — a twin failing to
    * collapse, a candidate miss, a propagation shortcut error —
    * hash-fails the keeper table. */
  def q76DedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val base = docs(spark, dir).select(id, col("text"))
    val noisy = base.select(
      (id + lit(100000L)).as("doc_id"),
      concat(lit("  "), upper(col("text")), lit(" "),
        (id * 7 % 1000).cast("string"), lit(", #"),
        (id % 97).cast("string"), lit("!  ")).as("text"))
    graft.ops.DedupPipeline.run(
        base.unionByName(noisy), "doc_id", "text",
        k = 3, metricName = "q76_band_rows")
      .orderBy("doc_id")
  }

  /** The NATURAL Hamming-distance join through the
    * [[graft.plans.HammingJoinRewrite]] Catalyst rule — the SQL surface
    * of q61: a user writes `bit_count(sa # sb) <= 3` (which vanilla
    * Spark can only nested-loop) and the rule rewrites it to the 4×16
    * pigeonhole banded equi-join with the minimal-band multiplicity
    * guard, refined by the original popcount. Same fingerprints and
    * ground truth as q61; same child-session isolation as q43/q64; the
    * spec asserts the rewritten plan shape (no BNLJ/Cartesian). */
  def q79NaturalHamming(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    graft.plans.SpatialPlanner.enable(s2)
    val sh = udf((text: String) => simhash64(text))
    val sims = docs(s2, dir).select(col("doc_id").as("id"), sh(col("text")).as("sim"))
    val a = sims.toDF("id_a", "sa")
    val b = sims.toDF("id_b", "sb")
    a.join(b, bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3 &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** PSL-BACKED registrable domains under the driver gate
    * (ops/Urls.apexPsl): planted hosts drive every rule class of the
    * offline public-suffix fixture — ccSLD grouping (`shop?.brand?.co.uk`
    * must group as `brand?.co.uk`, NOT `co.uk`; `www.news?.com.au` →
    * `news?.com.au`), a bare public suffix kept whole (`co.uk`), the
    * wildcard family (`a?.b.ck` → itself, `b.ck` being a `*.ck` public
    * suffix), its exception (`x.www.ck` → `www.ck`), plain ccTLDs
    * (`site?.de`), dotless intranet hosts, and IP literals. The oracle
    * replays the SAME fixture as a generated longest-rule-first CASE
    * chain (exceptions > longest match > implicit `*` default), so a
    * divergence in rule precedence or the suffix algorithm hash-fails. */
  def q78PslDomains(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val t = concat(col("text"),
      lit(" see https://shop"), (id % 5).cast("string"),
      lit(".brand"), (id % 7).cast("string"), lit(".co.uk/x"),
      lit(" and http://WWW.news"), (id % 3).cast("string"), lit(".com.au/y"),
      lit(" via https://a"), (id % 2).cast("string"), lit(".b.ck/z"),
      when(id % 3 === 0, lit(" plus https://co.uk/bare")).otherwise(lit("")),
      when(id % 4 === 0, lit(" not http://x.www.ck/e")).otherwise(lit("")),
      when(id % 6 === 0, lit(" int https://intranet/p")).otherwise(lit("")),
      lit(" ip http://10.0.0."), (id % 9).cast("string"), lit("/q"),
      lit(" de https://site"), (id % 4).cast("string"), lit(".de/"))
    graft.ops.Urls.domainStats(
      docsNarrow(spark, dir).select(id, t.as("url_text")),
      "doc_id", "url_text", graft.ops.Urls.apexPsl(_))
      .orderBy("apex")
  }

  /** DETERMINISTIC TRAIN/VAL/TEST SPLIT under the driver gate
    * (ops/Sampling.hashSplit): 90/5/5 by mix32(doc_id) mod 1000 —
    * reproducible at any parallelism (rand()-based randomSplit is
    * neither re-run-stable nor partitioning-stable); source rides along
    * so the gate also pins per-source assignment, not just the split
    * sizes. Oracle re-renders the mix constant-for-constant
    * (the q66 pattern) and the same cumulative CASE. */
  def q83HashSplit(spark: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(spark, dir).select(col("doc_id"), col("source"))
    graft.ops.Sampling.hashSplit(d, "doc_id",
        Seq("train" -> 900, "val" -> 50, "test" -> 50))
      .orderBy("doc_id")
  }

  /** PER-DOC TOP-K TF-IDF TERMS under the driver gate (ops/TfIdf) — the
    * keyword-extraction curation step, with the integer-exact score
    * (tf · 10⁶ div df; a float ln-idf ranks identically for fixed N but
    * one-ulp engine differences reorder ranks) and term-ascending tie
    * break so the rank table is a total order. Oracle recomputes tf, df,
    * the integer score, and the windowed rank definitionally. */
  def q85Tfidf(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TfIdf.topTerms(docs(spark, dir), "doc_id", "text", k = 5)
      .orderBy("doc_id", "rank")

  /** 128-BIT EXACT HAMMING JOIN under the driver gate (the rung above
    * q61's 64-bit join: 8×16-bit pigeonhole bands reach k ≤ 7, and the
    * doubled random-pair distance makes the refine far more selective
    * at the same band-key width). Corpus + one EXACT twin per doc
    * (whitespace-wrapped, id +100000 — trims to the same token stream,
    * so each twin pair sits at distance 0 by construction and the gate
    * is never vacuous) joined at k = 7; the oracle recomputes all FOUR
    * mixed 32-bit words and the brute-force all-pairs distance as
    * popcount over the four xor'd words. */
  def q86Simhash128Pairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = udf((text: String) => simhash128(text))
    val base = docs(spark, dir).select(col("doc_id"), col("text"))
    val twins = base.select((col("doc_id") + 100000L).as("doc_id"),
      concat(lit("  "), col("text"), lit(" ")).as("text"))
    val sims = base.unionByName(twins)
      .select(col("doc_id").as("id"), sh(col("text")).as("s"))
      .select(col("id"), col("s")(0).as("lo"), col("s")(1).as("hi"))
    graft.join.SimilarityJoin.simhash128HammingJoin(sims, k = 7)
      .orderBy("id_a", "id_b")
  }

  /** DETERMINISTIC K-MEANS under the driver gate (ops/KMeans): 3 Lloyd
    * steps over the embeddings on the +1-shifted integer lattice
    * (quantize once, BIGINT everywhere — distances, argmin with
    * smallest-cluster ties, integer-division centroid means, empty
    * clusters keep their centroid), k = 8 seeded by the smallest ids.
    * The oracle replays the SAME three steps as unrolled plain-SQL CTEs
    * (assignment → per-dim integer means → next assignment), so any
    * divergence in the update rule, tie policy, or quantization
    * hash-fails the assignment table. */
  def q87Kmeans(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    graft.ops.KMeans.fit(emb, "vec_id", "embedding", k = 8, iters = 3)
      .orderBy("vec_id")
  }

  /** NEAR-DUP DECONTAMINATION under the driver gate — the production
    * `NOT EXISTS a near-dup in the eval set` shape, written as the
    * NATURAL LeftAnti Hamming join and planned by the Semi/Anti arm of
    * [[graft.plans.HammingJoinRewrite]] (tag → band-explode → banded
    * anti-join → count == bands re-collapse; pigeonhole keeps it exact,
    * unlike LSH-recall decontamination). Eval = every 7th doc's
    * fingerprint, so each eval doc must evict itself (distance 0) plus
    * its honest ≤ 3 neighbors; the oracle recomputes the mirrored
    * 64-bit fingerprint halves and the brute-force NOT EXISTS. q69
    * decontaminates by exact n-gram overlap; this is its fuzzy sibling
    * — the pair covers both audit shapes a training pipeline runs. */
  def q84DecontamNeardup(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    graft.plans.SpatialPlanner.enable(s2)
    val sh = udf((text: String) => simhash64(text))
    val sims = docs(s2, dir).select(col("doc_id"), sh(col("text")).as("sim"))
    val evalFps = sims.filter(col("doc_id") % 7 === 0).toDF("id_e", "se")
    sims.join(evalFps,
        bit_count(col("sim").bitwiseXOR(col("se"))) <= 3, "left_anti")
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** QUALITY-FLOOR FILTERING under the driver gate — the curation step
    * that drops the bottom decile by quality score, composing q15's
    * integer scoring with q67's EXACT distributed quantile (histogram
    * bisection, no global sort): score = alpha-ratio in integer
    * ten-thousandths (both engines integer-divide), threshold = the
    * exact P10 value (rank ⌈n/10⌉), output = every doc with its score
    * and the kept flag (ties at the threshold kept, both sides). The
    * threshold is ONE bounded driver row (the quantile operator's
    * documented contract); the oracle recomputes it definitionally via
    * row_number over the full sort. */
  def q82QualityFloor(spark: SparkSession, dir: String): DataFrame = {
    // checkpointed: the quantile operator runs one bounded job per
    // bisection level over its input — don't re-run the regex scan per level
    val scored = docsNarrow(spark, dir).select(col("doc_id"), col("text"))
      .withColumn("score", expr(
        "length(regexp_replace(text, '[^A-Za-z]', '')) * 10000L" +
          " div greatest(length(text), 1)"))
      .select(col("doc_id"), col("score"))
      .localCheckpoint(true)
    val thr = graft.ops.Quantiles.exactQuantiles(scored, "score", Seq((1L, 10L)))
      .head().getLong(3)
    scored.select(col("doc_id"), col("score"),
        (col("score") >= thr).as("kept"))
      .orderBy("doc_id")
  }

  /** REDACTION PRECISION under the driver gate: the q73 chain run over
    * a corpus slice with NO PII but adversarially PII-adjacent clean
    * text — decimals and version strings (dot-digit runs shorter than a
    * quad), dash dates and ranges (no '+' anchor), "+5"/"c++" (below
    * the phone pattern's 4-char minimum), spelled-out addresses (no
    * '@') — asserting ZERO redactions. The oracle is CLOSED-FORM (all
    * zeros, `clean` true, by construction of the plants), so a single
    * false positive anywhere — one overeager character class — fails
    * the hash gate. This is the precision claim from the operator's
    * scaladoc as a gate instead of prose. */
  def q80RedactClean(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val t = concat(col("text"),
      lit(" pi is 3.14159 and version 1.2.3 beta build 10.20.30"),
      lit(" range 1-2 at "), (id % 7).cast("string"),
      lit(" degrees +5 c++ code released 2024-01-"), (id % 28 + 1).cast("string"),
      lit(" reach us at example dot com"))
    val df = docs(spark, dir).select(id, t.as("clean_text"))
    graft.ops.Redact.stats(df, "doc_id", "clean_text")
      .join(df, "doc_id")
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
        (col("redacted") === col("clean_text")).as("clean"))

      .orderBy("doc_id")
  }

  /** REAL BPE merge application under the driver gate (ops/Bpe): the
    * 200-rule fixture merge table applied in rank order to every word,
    * yielding true subword token counts (q71 gates only the regex
    * PRE-split shape). The oracle REPLAYS the identical merge table —
    * rendered from the same `Bpe.MERGES` constant — via a recursive
    * CTE over the distinct words (one `replace` per rank step on the
    * marker representation), so a divergence in rule order, overlap
    * handling, or the marker encoding hash-fails. n_ws rides along so
    * the gate also pins the subword/whitespace compression ratio. */
  def q77BpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val bpe = udf((t: String) => graft.ops.Bpe.tokenCount(t))
    docs(spark, dir).select(col("doc_id"),
        bpe(lower(col("text"))).as("n_bpe"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("n_ws"))

      .orderBy("doc_id")
  }

  /** PACKING ON REAL TOKEN COUNTS under the driver gate — q65's greedy
    * context-window fill re-gated on q77's BPE subword counts instead of
    * a character-derived stand-in (the composition a pretraining
    * pipeline actually runs: tokenize → pack to the model's window).
    * The oracle composes TWO recursive CTEs — the merge-table replay,
    * then the per-shard greedy walk — so a divergence in either the
    * tokenizer or the packer hash-fails. */
  def q81PackBpe(spark: SparkSession, dir: String): DataFrame = {
    val bpe = udf((t: String) => graft.ops.Bpe.tokenCount(t))
    val base = docs(spark, dir).select(
      col("doc_id"),
      (col("doc_id") % 8).as("shard"),
      bpe(lower(col("text"))).as("tok"))
    graft.ops.Packing.packGreedy(base, "doc_id", "shard", "tok", budget = 512L)
      .orderBy("doc_id")
  }
}
