package graft.join

import graft.geom.Geo
import graft.index.Geohash
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}

/** Distributed spatial join + kNN — the engine's scale path.
  *
  * The reference's filters are stream × broadcast-query-set semi-joins
  * (`src/geoq/commands/filter.rs:6-29`); at 100 TB the query side may be a
  * full table, so the engine re-expresses the same keep/drop semantics as a
  * cell-keyed equi-join: explode the box side to its covering cells, key
  * each point to its one cell, hash-join on the cell key, then refine with
  * the exact predicate. A point meets a box in at most one cell, so point
  * joins need no dedup; box×box pairs can share several cells and take a
  * `distinct`, and the intersects filter collapses repeats in a semi-join.
  * Candidate generation is a pure superset step — cell-assignment float
  * edges can NOT change results, only costs.
  *
  * kNN (planar and geodesic) follows the radius-round pattern: gather all
  * points strictly within the current radius through the cell-keyed join,
  * declare a query complete once it holds ≥ k of them (every excluded
  * point is provably farther than the kth candidate), escalate the radius
  * for the rest, and finish stragglers with a world-radius round through
  * the SAME cell path — exact at every schedule, and no full-scan
  * crossJoin code path anywhere in the join family. Both metrics share
  * one round loop that materializes each round once.
  *
  * The kNN rounds and the intersects filter each have two paths, placed
  * per call by [[graft.plans.DriverPath.place]] on the query side (the kNN
  * queries, the intersects right WKBs); both give the same rows under the
  * same schema. Per call, over a cached point side and a local query side
  * (whose placement run is one execution with no job), with no stats job:
  *  - kNN on the driver: one aggregation execution per radius round (its
  *    query-cell broadcast and its result stage: two jobs) and a local
  *    result; distributed: one checkpoint execution per round (three or
  *    four jobs with its rank window's exchange) and the caller's collect
  *    of their union (one more job).
  *  - intersects on the driver: the caller's action is one execution of
  *    one job; distributed: one execution of five jobs.
  */
object SpatialJoin {

  /** Integer grid cell ids at `bits` bits/axis over the lon/lat world box —
    * clamped BOTH ways (monotone and identical on both join sides, so
    * out-of-domain coordinates land on boundary cells instead of negative
    * indices; candidate-superset reasoning is unaffected). */
  def cellCols(lon: Column, lat: Column, bits: Int): (Column, Column) = {
    val l = 1L << bits
    (greatest(least(floor(((lon + lit(180.0)) / lit(360.0)) * lit(l.toDouble)), lit(l - 1)), lit(0L)).cast("int"),
     greatest(least(floor(((lat + lit(90.0)) / lit(180.0)) * lit(l.toDouble)), lit(l - 1)), lit(0L)).cast("int"))
  }

  /** Observability: the most recently auto-chosen grid bits, published to
    * the session conf so operators of a large deployment can inspect (and
    * then pin) the adaptive choice. Shared with the Catalyst rewrite. */
  val LAST_BITS_KEY = "spark.graft.spatialJoin.lastBits"

  private def publishBits(df: DataFrame, b: Int): Int = {
    try df.sparkSession.conf.set(LAST_BITS_KEY, b.toString)
    catch { case scala.util.control.NonFatal(_) => () }
    b
  }

  /** The grid a call runs on, published to [[LAST_BITS_KEY]]: `auto` under
    * [[AUTO_BITS]], else the pin, which must lie in the [1, 12] range of
    * every derived grid (a finer pin explodes one world-spanning box into
    * up to 2^(2·bits) rows; a negative shift or one past 31 wraps the cell
    * index). */
  private def gridBits(df: DataFrame, bits: Int)(auto: => Int): Int = {
    require(bits == AUTO_BITS || (bits >= 1 && bits <= 12),
      s"grid bits must be AUTO_BITS or in [1, 12], got $bits")
    publishBits(df, if (bits == AUTO_BITS) auto else bits)
  }

  /** One row per grid cell that each (minx, miny, maxx, maxy) bbox of
    * `boxes` touches, keyed (cx, cy). */
  private def boxCells(boxes: DataFrame, bits: Int): DataFrame = {
    val (x0, y0) = cellCols(col("minx"), col("miny"), bits)
    val (x1, y1) = cellCols(col("maxx"), col("maxy"), bits)
    boxes.withColumn("cx", explode(sequence(x0, x1)))
      .withColumn("cy", explode(sequence(y0, y1)))
  }

  /** The candidate step of every point × box join: each (lon, lat) point
    * keyed to its one cell, equi-joined with the [[boxCells]] of `boxes`
    * on (cx, cy) plus `keys` — a plain shuffled (or broadcast) hash join in
    * which a point meets each box row at most once. */
  private def cellJoin(points: DataFrame, boxes: DataFrame, bits: Int,
                       keys: Seq[String] = Nil): DataFrame = {
    val (cx, cy) = cellCols(col("lon"), col("lat"), bits)
    points.withColumn("cx", cx).withColumn("cy", cy)
      .join(boxCells(boxes, bits), Seq("cx", "cy") ++ keys)
  }

  /** The exact refine of a [[cellJoin]]: the point lies in the box, edges
    * included. */
  private val inBox: Column =
    col("lon") >= col("minx") && col("lon") <= col("maxx") &&
      col("lat") >= col("miny") && col("lat") <= col("maxy")

  /** The pure grid formula from box-extent stats (median dx/dy, max
    * dx/dy): cell width ≈ half the median box extent (cost balance: each
    * box explodes to ~3×3 cells while the candidate area stays within ~4×
    * the box area — a fixed 620 km grid joined every point in a cell
    * against every sub-km box in it, the same pathology [[bitsForRadius]]
    * fixes for geofences), BOUNDED by the MAX extent so one outlier box
    * never explodes past ~64 cells/axis (a world-spanning straggler in a
    * mostly-tiny table pins the grid back to the old 64×64 worst case
    * instead of 2^24 cells from one row). Clamped [1, 12] (degenerate /
    * point boxes would otherwise demand unbounded resolution).
    *
    * `spanX`/`spanY` are the world extents the grid divides per axis —
    * (360, 180) for this API's lon/lat-split grid; the Catalyst rewrite
    * passes (360, 360) because both its axes use the 360°-wide cell map.
    * ONE formula serves both call sites so the "rule grid is never coarser
    * than bitsForBoxes" invariant can't drift (each rule component with
    * spanY=360 dominates the API's spanY=180 component). */
  def bitsFromExtents(ex0: Double, ey0: Double, mx0: Double, my0: Double,
                      spanX: Double = 360.0, spanY: Double = 180.0): Int = {
    val ex = math.max(ex0, 1e-12); val ey = math.max(ey0, 1e-12)
    val mx = math.max(mx0, 1e-12); val my = math.max(my0, 1e-12)
    val bMedian = math.floor(
      math.log(math.min(2.0 * spanX / ex, 2.0 * spanY / ey)) / math.log(2.0)).toInt
    // explode cap: cell ≥ maxExtent/64 on both axes
    val bCap = math.floor(
      math.log(math.min(64.0 * spanX / mx, 64.0 * spanY / my)) / math.log(2.0)).toInt
    math.max(1, math.min(12, math.min(bMedian, bCap)))
  }

  // memoized auto-bits per analyzed-plan key: the stats job is a
  // driver-side action at plan-build time, so repeated joins over the same
  // table (bench reps, multi-join pipelines, per-call child sessions) must
  // not re-price it. Keyed by PLAN, not session — the bits are a pure
  // function of the data the plan identifies, so cross-session reuse is
  // correct (a table rewritten in place between queries serves stale bits
  // until [[BitsMemo.clear]] or cache turnover: cost-only, the superset
  // refine is unaffected).
  /** Deployment surface for the auto-bits memo shared by the DataFrame API
    * and the Catalyst rewrite (ONE cache semantics for both): `clear()`
    * after an in-place table rewrite forces the next join to re-derive its
    * grid; `size`/`hitCount`/`missCount` are process-wide observability
    * counters (read them before and after a call to price its lookups).
    * Entries are cleared wholesale past [[CAP]] — two ints per entry and a
    * bounded agg to recompute, so wholesale is simpler than LRU
    * bookkeeping. */
  object BitsMemo {
    private val m = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    private val hits = new java.util.concurrent.atomic.AtomicLong()
    private val misses = new java.util.concurrent.atomic.AtomicLong()
    private[graft] val CAP = 4096
    def size: Int = m.size
    def hitCount: Long = hits.get
    def missCount: Long = misses.get
    /** Drop every memoized grid choice (use after rewriting a table in
      * place, so the next join re-runs the stats job on the new data). */
    def clear(): Unit = m.clear()
    /** Memoize a bits choice (>= 1) by key. */
    private[graft] def getOrCompute(key: String)(f: => Int): Int = {
      val cached = m.get(key) // absent unboxes to 0; real bits are >= 1
      if (cached != 0) { hits.incrementAndGet(); cached }
      else {
        misses.incrementAndGet()
        val v = f
        if (m.size >= CAP) m.clear()
        m.put(key, v)
        v
      }
    }
  }

  /** 32-bit plan semantic hashes collide across unrelated plans at memo
    * scale (the ADVICE finding: a collision silently serves another
    * table's grid — cost-only but undiagnosable at 100 TB), so the key
    * pairs the hash with an MD5 over the canonicalized plan tree PLUS the
    * file-source root paths (the canonical treeString of a parquet scan
    * omits its location — two tables with identical schemas would
    * otherwise digest identically and ride on the 32-bit hash alone).
    * Same-path re-reads keep identical keys (measured), so bench reps and
    * repeated pipelines still hit; an in-place overwrite ALSO keeps the
    * key — the documented stale-bits case [[BitsMemo.clear]] exists for. */
  private[graft] def planDigest(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private[graft] def planKey(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String = {
    val paths = p.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }.mkString(";")
    s"${p.semanticHash()}:${planDigest(p.canonicalized.treeString + "|" + paths)}"
  }

  private def memoKey(dfs: DataFrame*): String =
    dfs.map(df => planKey(df.queryExecution.analyzed)).mkString("|")

  /** The grid matched to one or two BOX tables ([[bitsFromExtents]] over
    * per-side stats; two sides take the COARSER choice, which keeps the
    * explode bounded for both — the smaller boxes just share cells with a
    * few more candidates, which the dedupe+refine absorbs). The stats are
    * ONE deterministic aggregation job over the four pruned coordinate
    * columns — full pass, not a `limit` sample: a race-dependent sample
    * made the chosen grid (and the plan's cost) vary run to run, and the
    * box/query side of these joins is the SMALL side by contract (the
    * 100 TB point side is never scanned here), so the pass prices like a
    * `count()` with map-side partial aggregation. Memoized per analyzed
    * PLAN (process-wide — the bits are a pure function of the data the
    * plan identifies; an in-place table rewrite serves stale bits until
    * the cache turns over, cost-only); callers with a genuinely huge box
    * side pass `bits` explicitly and skip the job entirely. Falls back to
    * 6 for an empty side. */
  def bitsForBoxes(boxes: DataFrame): Int = bitsForBoxSides(boxes)

  private def bitsForBoxSides(sides: DataFrame*): Int =
    BitsMemo.getOrCompute(memoKey(sides: _*)) {
    val union = sides.zipWithIndex.map { case (df, i) =>
      df.select(lit(i).as("side"),
        (col("maxx") - col("minx")).as("dx"), (col("maxy") - col("miny")).as("dy"))
    }.reduce(_ unionByName _)
    val rows = union.groupBy("side").agg(
      percentile_approx(col("dx"), lit(0.5), lit(100)).as("ex"),
      percentile_approx(col("dy"), lit(0.5), lit(100)).as("ey"),
      max(col("dx")).as("mx"), max(col("dy")).as("my"))
      .collect()
    val bySide = rows.map(r => r.getInt(0) -> r).toMap
    val b = sides.indices.map { i =>
      bySide.get(i) match {
        case Some(r) if !r.isNullAt(1) && !r.isNullAt(2) =>
          bitsFromExtents(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
        case _ => 6 // empty side
      }
    }.min
    b
  }

  /** Spatial inner join: `left` (id, lon, lat) points × `right`
    * (rid, minx, miny, maxx, maxy) boxes → (id, rid) pairs where the point
    * intersects the box (inclusive boundary). Cell-keyed: the box side is
    * exploded to its covering cells, the point side keyed to its single
    * cell — a plain shuffled hash equi-join that scales with data, refined
    * by the exact predicate. The grid adapts to the box table's median
    * extent by default ([[bitsForBoxes]]); pass `bits` to override. */
  def joinPointsInBoxes(left: DataFrame, right: DataFrame,
                        bits: Int = AUTO_BITS): DataFrame =
    cellJoin(left, right, gridBits(right, bits)(bitsForBoxes(right)))
      .filter(inBox)
      .select(col("id"), col("rid"))

  /** Rectangle × rectangle intersection join: (id, rid) pairs whose boxes
    * intersect (inclusive edges). BOTH sides explode to their covering
    * cells — unlike the point joins a pair can share SEVERAL cells, so
    * candidates are deduped before the exact refine (the dedupe shuffle is
    * the price of two big sides; with one small side prefer
    * [[joinPointsInBoxes]]-style single-cell keying). */
  def joinBoxesBoxes(a: DataFrame, b: DataFrame, bits: Int = AUTO_BITS): DataFrame = {
    // grid from the LARGER side's extents (coarser of the two choices,
    // computed in ONE union-agg stats job over both sides)
    val gb = gridBits(a, bits)(bitsForBoxSides(a, b))
    // each side's cells with its id and its bbox under a side prefix
    def cells(df: DataFrame, id: String, p: String) = boxCells(df, gb).select(
      Seq(col(id), col("cx"), col("cy")) ++
        Seq("minx", "miny", "maxx", "maxy").map(c => col(c).as(p + c)): _*)
    cells(a, "id", "a").join(cells(b, "rid", "b"), Seq("cx", "cy"))
      .filter(col("aminx") <= col("bmaxx") && col("amaxx") >= col("bminx") &&
        col("aminy") <= col("bmaxy") && col("amaxy") >= col("bminy"))
      .select(col("id"), col("rid"))
      .distinct()
  }

  /** Distance (geofence) join: all (point, query) pairs with Vincenty
    * distance strictly under `meters`. Candidates come from a conservative
    * per-query bounding box — spherical-cap majorants with ellipsoid
    * margins (R = 6,300,000 m under every WGS84 curvature radius, ×1.02):
    * Δlat ≤ r°·1.02 and Δlon ≤ asin(sin r / cos|φ|)·1.02, full-longitude
    * cover when the cap nears a pole — split at ±180 into 1-2 boxes, then
    * the same cell-keyed equi-join as [[joinPointsInBoxes]] and the exact
    * fixed-iteration Vincenty refine. Candidate generation is a pure
    * superset step (any sufficiency error is caught by the q45 cross-
    * product oracle); the refine is the single source of truth.
    * Scale shape: the query side explodes to O(cells-per-cap) rows and
    * broadcasts or shuffles on the cell key; the 100 TB point side is
    * keyed once and never amplified. The candidate grid is RADIUS-ADAPTIVE
    * by default ([[bitsForRadius]]): a 1 km geofence gets a ~0.01° grid, a
    * 1000 km one a ~11° grid, so candidate amplification is bounded by a
    * constant multiple of the cap area at every radius — a fixed grid
    * joined every point in a ~620 km cell against every query in it no
    * matter how small the fence. Pass `bits` explicitly to override. */
  def dwithinJoin(points: DataFrame, queries: DataFrame, meters: Double,
                  bits: Int = AUTO_BITS): DataFrame =
    dwithinCandidates(points, queries, meters, bits)
      .filter(col("meters") < meters)
      .select(col("id"), col("qid"))

  /** Sentinel: derive the grid from the radius ([[bitsForRadius]]). */
  val AUTO_BITS: Int = -1

  /** The finest world grid whose cell width comfortably exceeds the
    * (margined) cap-box half-extent: lon cells are 360/2^bits wide, so
    * pick the largest bits with 360/2^bits ≥ 2·rDeg (lat cells are half
    * that and still ≥ rDeg). A query cap then explodes to ≤ ~3 cells per
    * axis at the equator (more only with the honest 1/cos φ lon widening
    * near the poles), while each candidate cell holds only points within
    * O(radius) — candidate count scales with the cap area, not with a
    * fixed 620 km cell. Clamped to [1, 12]: a near-pole cap covers the
    * FULL longitude range (dLon = 360 in the box derivation), i.e. one
    * query row explodes to 2^bits lon cells regardless of radius — 4096 at
    * 12 is a bounded worst case, 2^20 would be a one-row OOM (same
    * rationale as the SpatialJoinRewrite bits-conf cap). Sub-100 m radii
    * hit the clamp with ~10 km cells — still radius-dominated candidates. */
  def bitsForRadius(meters: Double): Int = bitsForDegrees(capDeg(meters))

  /** The latitude half-extent, in degrees, of a `meters` cap box: the
    * radius over R = 6,300,000 m (under every WGS84 curvature radius), with
    * a ×1.02 margin. */
  private def capDeg(meters: Double): Double = math.toDegrees(meters / 6300000.0) * 1.02

  /** Strictly above the longest possible geodesic (~20,038 km), with slack:
    * a [[dwithinCandidates]] pass at this radius provably reaches EVERY point
    * (the cap boxes span the globe and the `< WORLD_METERS` refine drops
    * nothing), so it serves as a complete final kNN round with no
    * dedicated full-scan code path. */
  val WORLD_METERS: Double = 2.5e7

  /** Sentinel: derive the kNN opening radius from the point DENSITY — the
    * last fixed constant in the kNN family. The schedule only moves cost
    * (every round is exact), but a fixed 400 km opener against a dense
    * table gathers a continent per query while a sparse one wastes rounds:
    * the density-derived disk holds ~4k expected neighbors, so most
    * queries resolve in round 1 with candidate sets proportional to k. */
  val AUTO_RADIUS: Double = -1.0

  private val EARTH_AREA_M2 = 5.1e14

  /** Opening radius r with π·r²·ρ = 4k (ρ = points per m² of the globe),
    * clamped [1 km, 1000 km]. ONE `count()` over the point side — a
    * metadata-only job for parquet-backed tables (file footers carry row
    * counts) — memoized per analyzed plan like every stats job here. */
  private def autoInitMeters(points: DataFrame, k: Int): Double =
    BitsMemo.getOrCompute("knnr|" + memoKey(points) + "|" + k) {
      val n = math.max(points.count(), 1L)
      val density = n.toDouble / EARTH_AREA_M2
      val r = 2.0 * math.sqrt(k.toDouble / (math.Pi * density))
      math.max(1000.0, math.min(1000000.0, r)).toInt
    }.toDouble

  /** Planar analog: π·d²·ρ = 4k over the 360×180 degree domain, clamped
    * [0.01°, 45°]; memoized in milli-degrees. */
  private def autoInitDeg(points: DataFrame, k: Int): Double =
    BitsMemo.getOrCompute("knnd|" + memoKey(points) + "|" + k) {
      val n = math.max(points.count(), 1L)
      val density = n.toDouble / 64800.0
      val d = 2.0 * math.sqrt(k.toDouble / (math.Pi * density))
      math.max(10.0, math.min(45000.0, d * 1000.0)).toInt // milli-degrees
    } / 1000.0

  /** The exact geodesic kernel as a UDF — ONE definition shared by the
    * geofence refine and every kNN round, so the paths can never diverge. */
  private val vinUdf = udf((lon: Double, lat: Double, qlon: Double, qlat: Double) =>
    graft.geom.Vincenty.distanceFixed(lon, lat, qlon, qlat)).withName("vincenty")

  /** [[dwithinJoin]] candidates that pass the cap-box filter, with their
    * Vincenty distance: (id, qid, meters), a superset of the pairs with
    * meters < the radius (the box contains the disk). The kNN rounds rank
    * these directly, so each candidate's distance is computed once; a
    * `meters <` filter on top is pushed into the join condition while the
    * projection keeps its own copy of the UDF, i.e. two calls a pair. */
  private def dwithinCandidates(points: DataFrame, queries: DataFrame,
                                meters: Double, bits: Int): DataFrame =
    dwithinCellJoin(points, queries, meters, bits)
      .filter(inBox)
      .select(col("id"), col("qid"),
        vinUdf(col("lon"), col("lat"), col("qlon"), col("qlat")).as("meters"))

  /** The raw cell-keyed candidate join (pre box-filter, pre refine) — the
    * row count that actually prices the join at a given grid granularity
    * (every row here is scanned by the box filter and, if it survives, by
    * the iterative Vincenty). Exposed for the grid-adaptivity assertion in
    * SpatialJoinSpec. */
  private[graft] def dwithinCellJoin(points: DataFrame, queries: DataFrame,
                                     meters: Double, bits: Int): DataFrame = {
    val b = gridBits(points, bits)(bitsForRadius(meters))
    val rDeg = capDeg(meters)
    val boxesOf = udf((qlon: Double, qlat: Double) => {
      val miny = math.max(qlat - rDeg, -90.0)
      val maxy = math.min(qlat + rDeg, 90.0)
      val dLon =
        if (math.abs(qlat) + rDeg >= 89.0) 360.0
        else {
          val s = math.sin(math.toRadians(rDeg)) / math.cos(math.toRadians(math.abs(qlat)))
          if (s >= 1.0) 360.0 else math.toDegrees(math.asin(s)) * 1.02
        }
      val x0 = qlon - dLon; val x1 = qlon + dLon
      if (dLon >= 180.0) Seq((-180.0, miny, 180.0, maxy))
      else if (x0 < -180.0) Seq((x0 + 360.0, miny, 180.0, maxy), (-180.0, miny, x1, maxy))
      else if (x1 > 180.0) Seq((x0, miny, 180.0, maxy), (-180.0, miny, x1 - 360.0, maxy))
      else Seq((x0, miny, x1, maxy))
    })
    val boxes = queries
      .withColumn("b", explode(boxesOf(col("qlon"), col("qlat"))))
      .select(col("qid"), col("qlon"), col("qlat"),
        col("b._1").as("minx"), col("b._2").as("miny"),
        col("b._3").as("maxx"), col("b._4").as("maxy"))
    cellJoin(points, boxes, b)
  }

  /** Exact GEODESIC kNN: for each query (qid, qlon, qlat), the k nearest
    * points by Vincenty distance, ties by id — (qid, rank, neighbor_id).
    *
    * Radius rounds ([[knnRounds]]): round r ranks the cap-box candidates
    * (a PROVEN superset of the radius disk) by their one Vincenty
    * distance, and a query is complete once its k nearest all lie strictly
    * within the current radius — every point outside the box is ≥ radius
    * away, strictly beyond the kth candidate, so the local top-k is the
    * global top-k. Incomplete
    * queries (sparse neighborhoods) escalate the radius ×4 for `rounds`
    * rounds; stragglers finish with a WORLD-radius round through the same
    * cell-keyed path (candidates are every point — complete by
    * construction; no crossJoin code path remains in the join family).
    * Exact at every radius schedule; the schedule only moves cost. The
    * candidate grid tracks the CURRENT round's radius by default
    * ([[bitsForRadius]]) — early small-radius rounds use a fine grid,
    * escalated rounds a coarser one — so the per-round candidate set stays
    * proportional to the cap area. */
  def knnGeodesic(points: DataFrame, queries: DataFrame, k: Int,
                  initMeters: Double = AUTO_RADIUS, rounds: Int = 3,
                  bits: Int = AUTO_BITS): DataFrame =
    knnRounds(queries.select("qid", "qlon", "qlat"), k, "meters",
      if (initMeters == AUTO_RADIUS) autoInitMeters(points, k) else initMeters, rounds,
      (qs, radius) => (dwithinCandidates(points, qs, radius, bits), radius),
      // world round without the box/radius refines: they exclude nothing
      // in-domain, and skipping them keeps out-of-domain coordinates (e.g.
      // [0,360) longitudes — cellCols clamps them, Vincenty is periodic)
      qs => dwithinCellJoin(points, qs, WORLD_METERS, AUTO_BITS)
        .withColumn("meters", vinUdf(col("lon"), col("lat"), col("qlon"), col("qlat")))
        .select(col("id"), col("qid"), col("meters")))
      .drop("meters")

  /** Name of each kNN round checkpoint's observe() metric: (open), the
    * queries still short of k candidates. */
  private[graft] val KNN_METRIC = "graft_knn_open"

  /** The radius-round loop of [[knnGeodesic]] and [[knn]]: `queries` is
    * (key, qlon, qlat); `round(qs, radius)` gives (key, id, `dist`)
    * candidates, a superset of every pair within the radius, and the
    * `dist` value at the radius (the cutoff); `world(qs)` gives every
    * pair; returns (key, rank, neighbor_id, `dist`). The query side is
    * placed by [[graft.plans.DriverPath.place]]: on the driver the loop is
    * [[knnRoundsOnDriver]] (one aggregation per round, a local result),
    * distributed it is [[knnRoundsDistributed]]. */
  private def knnRounds(queries: DataFrame, k: Int, dist: String,
                        initRadius: Double, rounds: Int,
                        round: (DataFrame, Double) => (DataFrame, Double),
                        world: DataFrame => DataFrame): DataFrame =
    graft.plans.DriverPath.place(queries)(
      knnRoundsOnDriver(queries, _, k, dist, initRadius, rounds, round, world))(
      knnRoundsDistributed(_, k, dist, initRadius, rounds, round, world))

  /** [[knnRounds]] distributed, one eager checkpoint a round. A round ranks its
    * candidates by (key; dist, id) together with one sentinel per open
    * query (null id, the cutoff as its distance; a null id sorts first
    * among equal distances), which survives `rank ≤ k` exactly when its
    * query has fewer than k candidates strictly inside the radius: the
    * candidates at or past the cutoff, which a superset may hold, rank
    * behind it. So ONE eager `localCheckpoint` yields both the solved
    * top-k rows and the next round's queries (the surviving sentinels carry
    * their coordinates). The surviving sentinels are counted by an
    * observe() metric on that checkpoint ([[KNN_METRIC]]), so ending the
    * loop runs no job; the metric sits at the plan's root, above every
    * node AQE's empty-relation rule can replace, and a missing one throws
    * (read as 0 it would drop the open queries). The world
    * round (AUTO grid whatever the round pin: its clamp keeps a world box
    * at 2×2 cells) pairs every point with every open query exactly once. */
  private def knnRoundsDistributed(queries: DataFrame, k: Int, dist: String,
                                   initRadius: Double, rounds: Int,
                                   round: (DataFrame, Double) => (DataFrame, Double),
                                   world: DataFrame => DataFrame): DataFrame = {
    val Seq(key, qlon, qlat) = queries.columns.toSeq
    val w = Window.partitionBy(key).orderBy(col(dist).asc, col("id").asc)
    def ranked(pairs: DataFrame): DataFrame =
      pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    val out = Seq(col(key), col("rank"), col("id").as("neighbor_id"), col(dist))

    var remaining = queries
    var open = true
    var radius = initRadius
    var acc = Seq.empty[DataFrame]
    var r = 0
    while (open && r < rounds) {
      val (pairs, cutoff) = round(remaining, radius)
      val cand = pairs.select(col(key), col("id"), col(dist))
      val sentinels = remaining.select(col(key),
        lit(null).cast(cand.schema("id").dataType).as("id"),
        lit(cutoff).as(dist), col(qlon), col(qlat))
      // n counts the non-sentinel rows among a query's top k: k of them
      // exactly when the sentinel ranked past k, i.e. all k lie inside the
      // radius (the window shares the rank window's partitioning, so it
      // adds no exchange)
      val observed = ranked(cand.unionByName(sentinels, allowMissingColumns = true))
        .withColumn("n", count(col("id")).over(Window.partitionBy(key)))
        .observe(KNN_METRIC, count(when(col("id").isNull, 1)).as("open"))
      val ck = observed.localCheckpoint(true)
      acc :+= ck.filter(col("n") >= k).select(out: _*)
      remaining = ck.filter(col("id").isNull).select(key, qlon, qlat)
      open = observed.queryExecution.observedMetrics.get(KNN_METRIC)
        .map(_.getLong(0))
        .getOrElse(throw new IllegalStateException(
          s"kNN round ${r + 1} reported no $KNN_METRIC metric")) > 0
      radius *= 4.0
      r += 1
    }
    if (open) acc :+= ranked(world(remaining)).select(out: _*)
    acc.reduce(_ unionByName _)
  }

  /** [[knnRounds]] with the open queries, the escalation and the world
    * round on the driver, from the placed `rows` of `queries`: each round
    * is ONE aggregation over its candidates ([[KnnTop]]) that keeps, per
    * query, the k smallest (dist, id) among the candidates strictly inside
    * the cutoff (all of them in the world round). A query holding k of them
    * is complete, as in the distributed path; the rest go to the next round
    * as a local relation. Returns a local DataFrame under the distributed
    * path's exact schema, nullability included: each round that ran adds
    * the fields its sentinel union would (a nullable neighbor id, and
    * nullable coordinates for the queries it leaves open), the world round
    * its own. */
  private def knnRoundsOnDriver(queries: DataFrame, rows: Array[InternalRow], k: Int, dist: String,
                                initRadius: Double, rounds: Int,
                                round: (DataFrame, Double) => (DataFrame, Double),
                                world: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val spark = queries.sparkSession
    val Seq(key, qlon, qlat) = queries.columns.toSeq
    var open: Seq[InternalRow] = rows.toSeq
    var qSchema = queries.schema
    var schema = Option.empty[StructType]
    val out = Seq.newBuilder[InternalRow]
    // one pass over `pairs`: adds the output fields it contributes to
    // `schema` and its done queries' rows to `out`; returns its key field
    // and the queries it leaves open. A query is done once it holds k
    // candidates, or always in the world round (no cutoff)
    def pass(pairs: DataFrame, cutoff: Option[Double]): (StructField, Seq[InternalRow]) = {
      val cand = pairs.select(col(key), col("id"), col(dist))
      // a round's rows come out of its union with the sentinels (the open
      // queries' keys, a null id and the cutoff as their distance)
      val keyF = cand.schema(key).copy(
        nullable = cand.schema(key).nullable || (cutoff.nonEmpty && qSchema(key).nullable))
      val idF = cand.schema("id")
      val fields = StructType(Seq(keyF, StructField("rank", IntegerType, false),
        StructField("neighbor_id", idF.dataType, cutoff.nonEmpty || idF.nullable), cand.schema(dist)))
      schema = Some(schema.fold(fields)(s => StructType(s.zip(fields).map { case (a, b) =>
        a.copy(nullable = a.nullable || b.nullable) })))
      val top = if (open.isEmpty) new KnnTop(k, cand.schema, cutoff)
        else org.apache.spark.sql.graft.bridge.aggregate(cand, "aggregate")(
          new KnnTop(k, cand.schema, cutoff))(_ add _, _ merge _)
      val left = open.filterNot { q =>
        val best = top.best(q)
        val done = cutoff.isEmpty || best.length == k
        if (done) best.zipWithIndex.foreach { case (r, i) =>
          out += InternalRow(r.get(0, keyF.dataType), i + 1, r.get(1, idF.dataType),
            r.get(2, cand.schema(dist).dataType))
        }
        done
      }
      (keyF, left)
    }
    var radius = initRadius
    var r = 0
    while (r < rounds && (r == 0 || open.nonEmpty)) {
      val (pairs, cutoff) = round(org.apache.spark.sql.graft.bridge.localFrame(spark, qSchema, open), radius)
      val (keyF, left) = pass(pairs, Some(cutoff))
      open = left
      // the distributed path's next queries come out of the sentinel union,
      // where the candidate rows leave the coordinates null
      qSchema = StructType(Seq(keyF, qSchema(qlon).copy(nullable = true), qSchema(qlat).copy(nullable = true)))
      radius *= 4.0
      r += 1
    }
    if (rounds <= 0 || open.nonEmpty)
      pass(world(org.apache.spark.sql.graft.bridge.localFrame(spark, qSchema, open)), None)
    org.apache.spark.sql.graft.bridge.localFrame(spark, schema.get, out.result())
  }

  /** Per query key, the k smallest candidate rows (key, id, dist) of
    * `schema` in the rank window's order — Spark's ascending (dist, id)
    * ordering: nulls first, NaN last, −0.0 == 0.0 — counting, under a
    * cutoff, only the rows that sort before the round's sentinel (the
    * cutoff as distance, a null id). Each task folds its partition into a
    * copy of an empty one; the driver merges the task results as they
    * arrive ([[org.apache.spark.sql.graft.bridge.aggregate]]), so it holds
    * O(queries × k) rows, never one top-k per partition and query. */
  private final class KnnTop(k: Int, schema: org.apache.spark.sql.types.StructType,
                             cutoff: Option[Double]) extends Serializable {
    import org.apache.spark.sql.catalyst.expressions._
    private val tops =
      scala.collection.mutable.HashMap.empty[UnsafeRow, scala.collection.mutable.ArrayBuffer[UnsafeRow]]
    private val types = schema.fields.map(_.dataType)
    @transient private lazy val keyOf = UnsafeProjection.create(Array(types(0)))
    @transient private lazy val rowOf = UnsafeProjection.create(types)
    @transient private lazy val ord = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(2, types(2), nullable = true), Ascending),
      SortOrder(BoundReference(1, types(1), nullable = true), Ascending)))
    @transient private lazy val sentinel = cutoff.map(c => InternalRow(null, null, c))

    def add(row: InternalRow): KnnTop = {
      if (sentinel.forall(ord.lt(row, _))) tops.get(keyOf(row)) match {
        case Some(rows) => offer(rows, row)
        case None => tops(keyOf(row).copy()) = scala.collection.mutable.ArrayBuffer(rowOf(row).copy())
      }
      this
    }

    def merge(other: KnnTop): KnnTop = {
      other.tops.foreach { case (key, rows) =>
        tops.get(key).fold(tops(key) = rows)(mine => rows.foreach(offer(mine, _)))
      }
      this
    }

    /** `query`'s kept rows in rank order; its key is its first field. */
    def best(query: InternalRow): Seq[UnsafeRow] =
      tops.get(keyOf(query)).fold(Seq.empty[UnsafeRow])(_.toSeq)

    private def offer(rows: scala.collection.mutable.ArrayBuffer[UnsafeRow], row: InternalRow): Unit =
      if (rows.length < k || ord.lt(row, rows.last)) {
        var i = rows.length
        while (i > 0 && ord.lt(row, rows(i - 1))) i -= 1
        rows.insert(i, rowOf(row).copy())
        if (rows.length > k) rows.remove(k)
      }
  }

  /** The planar analog of [[bitsForRadius]]: the finest world grid whose
    * lon cell width (360/2^bits) still covers the 2·deg candidate box of a
    * degree-radius `deg` round, so a query box explodes to ≤ ~3 cells per
    * axis while each cell holds only points within O(deg). Same [1, 12]
    * clamp (degenerate radii would demand unbounded resolution; world
    * radii clamp low so one query row explodes to at most 2×2 cells). */
  def bitsForDegrees(deg: Double): Int = {
    val b = math.floor(math.log(180.0 / math.max(deg, 1e-12)) / math.log(2.0)).toInt
    math.max(1, math.min(12, b))
  }

  /** Past any planar degree distance in the lon/lat domain (the world box
    * diagonal is < 403°): a [[planarCellJoin]] box at this radius covers
    * every cell, so it serves as the provably-complete final kNN round. */
  val WORLD_DEG: Double = 1000.0

  /** Cell-keyed candidates for one planar radius round: every point whose
    * cell touches the query's ±deg box — a strict superset of the points
    * with planar distance < deg (|Δlon| and |Δlat| are each ≤ the distance,
    * so the disk sits inside the box; cell cover of the box is a superset
    * again). cellCols clamps both sides, so boxes hanging past the world
    * edge just stop at the boundary cells. Grid tracks the round's radius
    * by default ([[bitsForDegrees]]). */
  private[graft] def planarCellJoin(points: DataFrame, queries: DataFrame,
                                    deg: Double, bits: Int): DataFrame = {
    val b = gridBits(points, bits)(bitsForDegrees(deg))
    // absolute rounding guard: the box endpoints qlon±deg are ROUNDED
    // floats, so a point could pass the float dist² < deg² filter yet sit
    // a half-ulp (~1.4e-14 at |lon| ≤ 180) outside the rounded box and one
    // cell off the cover — widen by 1e-12° (orders above the error, far
    // below any meaningful radius) so candidates stay a strict superset of
    // the float-distance disk at every schedule, which the kNN rounds'
    // completeness proof requires with zero margin otherwise.
    val degW = deg + 1e-12
    cellJoin(points, queries.select(col("*"),
      (col("qlon") - lit(degW)).as("minx"), (col("qlat") - lit(degW)).as("miny"),
      (col("qlon") + lit(degW)).as("maxx"), (col("qlat") + lit(degW)).as("maxy")), b)
  }

  /** Exact PLANAR kNN of `queries` (query_id, qlon, qlat) among `points`
    * (id, lon, lat) under squared-euclidean-degrees, ties by id, self
    * (id == query_id) excluded. Returns (query_id, rank, neighbor_id,
    * dist2), rank 1..k.
    *
    * Radius rounds ([[knnRounds]], the planar mirror of [[knnGeodesic]] —
    * this replaced a fixed-grid 3×3-ring design whose phase 2 escalated to
    * a broadcast crossJoin over ALL points, i.e. a full 100 TB scan
    * whenever any query's ring missed the completeness proof): round r
    * gathers all points with distance strictly under the round's degree
    * radius via the cell-keyed join, and a query holding ≥ k of them is
    * complete — every excluded point is ≥ radius away, strictly beyond its
    * kth candidate, so the local top-k is the global top-k. Incomplete
    * queries escalate the radius ×4; stragglers finish with a WORLD-degree
    * round through the same cell path (the box covers every cell — complete
    * by construction). Exact at every radius schedule; the schedule only
    * moves cost. The grid tracks the current round's radius by default
    * (fine grid for small rounds, coarse for escalated ones), so candidates
    * stay proportional to the box area — never the fixed 620 km cells of
    * the old design. */
  def knn(points: DataFrame, queries: DataFrame, k: Int, bits: Int = AUTO_BITS,
          initDeg: Double = AUTO_RADIUS, rounds: Int = 3): DataFrame = {
    val d2 =
      (col("qlat") - col("lat")) * (col("qlat") - col("lat")) +
        (col("qlon") - col("lon")) * (col("qlon") - col("lon"))
    def pairs(qs: DataFrame, deg: Double, b: Int): DataFrame =
      planarCellJoin(points, qs, deg, b)
        .filter(col("id") =!= col("query_id"))
        .withColumn("dist2", d2)
    knnRounds(queries.select("query_id", "qlon", "qlat"), k, "dist2",
      if (initDeg == AUTO_RADIUS) autoInitDeg(points, k) else initDeg, rounds,
      (qs, radius) =>
        (pairs(qs, radius, bits).filter(col("dist2") < lit(radius * radius)), radius * radius),
      qs => pairs(qs, WORLD_DEG, AUTO_BITS))
  }

  /** Salted variant of the cell-keyed join for skewed data (north rule:
    * "salted repartition of hot cells"). Real-world anchors concentrate in
    * hot cells (cities); a plain equi-join puts an entire hot cell in one
    * task. Points get a random-but-deterministic salt in [0, salts); each
    * box cell is replicated across ALL salts — the classic explode-small-
    * side salting. Same results as [[joinPointsInBoxes]] (verified in
    * SpatialJoinSpec); the hot cell now spreads over `salts` tasks.
    * AQE skew-join handles moderate skew automatically; explicit salting is
    * for the pathological keys AQE can't split (single-key hotspots inside
    * one shuffle partition). */
  def joinPointsInBoxesSalted(left: DataFrame, right: DataFrame,
                              bits: Int = AUTO_BITS, salts: Int = 8): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val b = gridBits(right, bits)(bitsForBoxes(right))
    // deterministic salt (xxhash64 of id) keeps runs reproducible
    cellJoin(left.withColumn("salt", pmod(xxhash64(col("id")), lit(salts)).cast("int")),
      right.withColumn("salt", explode(array((0 until salts).map(lit): _*))), b, Seq("salt"))
      .filter(inBox)
      .select(col("id"), col("rid"))
  }

  /** Entity-level spatial semi-join: keep the `left` (id, wkb, …) rows
    * whose geometry intersects ANY `right` (…, wkb) geometry, as (id, wkb,
    * then the rest of `left`). A row with a null id or wkb is dropped, and
    * left multiplicity is kept: every copy of a kept row stays. Same
    * keep/drop decisions as GeoOps.filterIntersects (reference `filter
    * intersects` semantics). Two paths, the same rows, schema and column
    * order:
    *
    *  - driver path: `right`'s placed WKBs ([[graft.plans.DriverPath.place]])
    *    become a [[graft.geom.IntersectsAny]] index (an STR-tree of
    *    prepared geometries, built once per task) and ONE filter over a
    *    single scan of `left` keeps the rows it hits. The caller's action
    *    is one job over a cached `left`.
    *  - distributed path: covering-cell equi-join at `level` against the
    *    placement's kept WKBs → exact JTS refine → left-semi on (id, wkb).
    *    A pair sharing several cells is refined once per shared cell; the
    *    semi-join collapses those repeated hits, so no dedup exchange is
    *    needed, and a row is kept on its own geometry even when another row
    *    shares its id. The caller's action is one execution of five jobs
    *    over a cached `left` (cover explode, shuffle join, and a second
    *    read of `left` for the semi-join). */
  def filterIntersectsAtScale(left: DataFrame, right: DataFrame,
                              level: Int = 3): DataFrame =
    graft.plans.DriverPath.place(right.select("wkb")) { rows =>
      val any = new graft.geom.IntersectsAny(rows.toSeq.collect { case r if !r.isNullAt(0) => r.getBinary(0) })
      val hits = udf((wkb: Array[Byte]) => any(wkb))
      // the left_semi join's column order: its keys, then the rest of left
      left.filter(col("id").isNotNull && hits(col("wkb"))).select(
        Seq(col("id"), col("wkb")) ++
          left.columns.filterNot(Set("id", "wkb")).map(c => left.col(s"`$c`")): _*)
    }(filterIntersectsByCells(left, _, level))

  private def filterIntersectsByCells(left: DataFrame, right: DataFrame, level: Int): DataFrame = {
    // left: (id, wkb), right: (wkb). Explode both to geohash covering
    // cells; a null wkb covers nothing
    val coverUdf = udf((wkb: Array[Byte]) =>
      if (wkb == null) Seq.empty[String] else Geohash.covering(Geo.fromWkb(wkb), level))
    val lc = left.select(col("id"), col("wkb"), explode(coverUdf(col("wkb"))).as("cell"))
    val rc = right.select(col("wkb").as("rwkb"), explode(coverUdf(col("wkb"))).as("cell"))
    val pairs = lc.join(rc, Seq("cell")).select(col("id"), col("wkb"), col("rwkb"))
    val hits = pairs.mapPartitions { it =>
      // right geometries parsed and prepared once, keyed by their WKB; the
      // memo lives only for this partition's iterator and is dropped
      // wholesale at 4096 entries, so its memory is bounded
      val prepared = scala.collection.mutable.HashMap.empty[java.nio.ByteBuffer, PreparedGeometry]
      it.filter { row =>
        val rwkb = row.getAs[Array[Byte]](2)
        if (prepared.size >= 4096) prepared.clear()
        prepared.getOrElseUpdate(java.nio.ByteBuffer.wrap(rwkb),
          PreparedGeometryFactory.prepare(Geo.fromWkb(rwkb)))
          .intersects(Geo.fromWkb(row.getAs[Array[Byte]](1)))
      }.map(row => Row(row.get(0), row.get(1)))
    }(Encoders.row(left.select("id", "wkb").schema))
    left.join(hits, Seq("id", "wkb"), "left_semi")
  }
}
