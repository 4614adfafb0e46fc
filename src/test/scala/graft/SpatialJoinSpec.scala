package graft

import graft.join.SpatialJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

class SpatialJoinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** (actions, SQL executions that ran jobs, Spark jobs) of running `f`. */
  private def actions(f: => Any): (Seq[String], Int, Int) = SparkWork.of(spark)(f)._2.counts

  /** Runs `f` with `spark.sql.autoBroadcastJoinThreshold` one byte below
    * the bytes of `side`, the rows an operator places (the kNN query
    * columns, the intersects right side's wkb), so it takes its
    * distributed path (−1 for an empty side). */
  private def distributedFor[T](side: DataFrame)(f: => T): T =
    Placement.withThreshold(spark, Some(Placement.bytes(side) - 1))(f)

  /** A result's schema (names, types, nullability, column order) and its
    * rows as sorted strings, binary values by content. */
  private def shape(df: DataFrame): (StructType, Seq[String]) =
    (df.schema, df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case v => String.valueOf(v)
    }.mkString("|")).sorted)

  /** `run`'s result shape and actions on its driver path (the session's
    * threshold) and on its distributed path ([[distributedFor]] `side`). */
  private def bothPaths(side: DataFrame)(run: => DataFrame)
      : Seq[((StructType, Seq[String]), Seq[String])] = {
    def once() = { val (out, work) = SparkWork.of(spark)(shape(run)); (out, work.actions) }
    Seq(once(), distributedFor(side)(once()))
  }

  test("salted join produces identical pairs on skewed data") {
    import spark.implicits._
    // pathological skew: 90% of points in one tiny hot spot (one cell)
    val edge = Seq(
      (90001L, 9.0, 45.5), (90002L, 11.0, 46.0),   // box 1's west edge, NE corner
      (90003L, 10.0, 45.0), (90004L, -90.0, -45.0), // on cell edges at every grid
      (90005L, -60.0, 0.0),                         // both: box 2's NE corner, cell corner
      (90006L, 180.0, 90.0), (90007L, -180.0, -90.0), (90008L, -175.0, -87.0),
      (90009L, 179.0, 60.0))                        // box 3's NE corner
    val pts = spark.range(5000).map { i =>
      if (i % 10 != 0) (i, 10.001 + (i % 97) * 1e-6, 45.001 + (i % 89) * 1e-6)
      else (i, -170.0 + (i % 340).toDouble, -80.0 + (i % 160).toDouble)
    }.toDF("id", "lon", "lat").unionByName(edge.toDF("id", "lon", "lat"))
    val boxRows = Seq(
      (1L, 9.0, 44.0, 11.0, 46.0),   // covers the hot spot
      (2L, -100.0, -50.0, -60.0, 0.0),
      (3L, 150.0, 20.0, 179.0, 60.0),
      (4L, 170.0, 80.0, 180.0, 90.0), // touches lon 180 and lat 90
      (5L, -180.0, -90.0, -175.0, -85.0))
    val boxes = boxRows.toDF("rid", "minx", "miny", "maxx", "maxy")
    // lon -90 and 0, lat -45, 0 and 45 are cell edges at every grid >= 2
    assert(SpatialJoin.bitsForBoxes(boxes) >= 2)

    val plain = SpatialJoin.joinPointsInBoxes(pts, boxes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val salted = SpatialJoin.joinPointsInBoxesSalted(pts, boxes, salts = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(plain == salted)
    // brute force on the driver: every point against every box
    val brute = (for {
      r <- pts.collect().toSeq
      (rid, x0, y0, x1, y1) <- boxRows
      (x, y) = (r.getDouble(1), r.getDouble(2))
      if x >= x0 && x <= x1 && y >= y0 && y <= y1
    } yield (r.getLong(0), rid)).sorted
    assert(salted == brute)
    assert(brute.map(_._1).distinct.count(_ > 90000L) == edge.size, brute.filter(_._1 > 90000L))
    assert(plain.count(_._2 == 1L) > 4000) // the hot cell really is hot
  }

  test("optimizer rule: natural range-predicate join rewrites to the cell-keyed equi-join") {
    import spark.implicits._
    graft.plans.SpatialPlanner.enable(spark)
    val pts = spark.range(4000).map { i =>
      (i, -170.0 + (i % 337).toDouble + (i % 13) * 0.07,
        -80.0 + (i % 157).toDouble + (i % 11) * 0.05)
    }.toDF("id", "lon", "lat")
    val boxes = Seq(
      (1L, 9.0, 44.0, 11.0, 46.0),
      (2L, -100.0, -50.0, -60.0, 0.0),
      (3L, 150.0, 20.0, 179.0, 60.0),
      (4L, -179.0, -89.0, 179.0, 89.0), // near-world box: explode stays bounded
      (5L, 30.0, 30.0, 30.0, 30.0))     // degenerate box
      .toDF("rid", "minx", "miny", "maxx", "maxy")

    // the NATURAL join — exactly what a user writes
    val natural = pts.join(boxes,
      col("lon") >= col("minx") && col("lon") <= col("maxx") &&
        col("lat") >= col("miny") && col("lat") <= col("maxy"))

    // 1) plan: no nested-loop join; an equi-join on the injected cell keys
    val plan = natural.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"), plan)
    assert(plan.contains("__graft_gx"), plan)

    // 2) results: identical pairs to the DataFrame-API cell join AND to the
    //    rule-free nested-loop join
    val got = natural.select("id", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val api = SpatialJoin.joinPointsInBoxes(pts, boxes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == api)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)
    val naive = pts.join(boxes,
      col("lon") >= col("minx") && col("lon") <= col("maxx") &&
        col("lat") >= col("miny") && col("lat") <= col("maxy"))
      .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == naive)
    assert(got.nonEmpty)

    // 3) strict bounds + extra conjuncts + flipped comparison directions
    //    still match the pattern and keep exact semantics
    graft.plans.SpatialPlanner.enable(spark)
    val mixed = pts.join(boxes,
      col("minx") < col("lon") && col("lon") < col("maxx") &&
        col("lat") >= col("miny") && !(col("lat") > col("maxy")) === lit(true) &&
        col("rid") =!= 2L)
    // note: the !(>) form is NOT a recognized upper bound — the pattern
    // needs a plain comparison; use a recognizable one instead:
    val mixed2 = pts.join(boxes,
      col("minx") < col("lon") && col("lon") < col("maxx") &&
        col("lat") >= col("miny") && col("maxy") >= col("lat") && col("rid") =!= 2L)
    val planM = mixed2.queryExecution.executedPlan.toString
    assert(planM.contains("__graft_gx"), planM)
    val gotM = mixed2.select("id", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)
    val naiveM = pts.join(boxes,
      col("minx") < col("lon") && col("lon") < col("maxx") &&
        col("lat") >= col("miny") && col("maxy") >= col("lat") && col("rid") =!= 2L)
      .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotM == naiveM && gotM.nonEmpty)
    val _ = mixed // documented non-match form

    // 3b) a finer grid (conf-tunable) must not change results
    graft.plans.SpatialPlanner.enable(spark)
    spark.conf.set(graft.plans.SpatialJoinRewrite.BITS_KEY, "8")
    try {
      val fine = pts.join(boxes,
        col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy"))
        .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(fine == got)
    } finally spark.conf.unset(graft.plans.SpatialJoinRewrite.BITS_KEY)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)

    // 3c) mirrored form: boxes on the LEFT (how q26's own oracle SQL is
    // written) — rewritten for Inner, identical results
    graft.plans.SpatialPlanner.enable(spark)
    val flipped = boxes.join(pts,
      col("lon") >= col("minx") && col("lon") <= col("maxx") &&
        col("lat") >= col("miny") && col("lat") <= col("maxy"))
    assert(flipped.queryExecution.executedPlan.toString.contains("__graft_gx"))
    val gotF = flipped.select("id", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotF == got)
    // mirrored LEFT-SEMI must NOT rewrite (left explode would duplicate)
    val semiFlip = boxes.join(pts,
      col("lon") >= col("minx") && col("lon") <= col("maxx") &&
        col("lat") >= col("miny") && col("lat") <= col("maxy"), "left_semi")
    assert(!semiFlip.queryExecution.executedPlan.toString.contains("__graft_gx"))
    val semiFlipRids = semiFlip.select("rid").collect().map(_.getLong(0)).sorted.toSeq
    assert(semiFlipRids == semiFlipRids.distinct)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)

    // 4) left-semi keeps each left row at most once
    graft.plans.SpatialPlanner.enable(spark)
    val semi = pts.join(boxes,
      col("lon") >= col("minx") && col("lon") <= col("maxx") &&
        col("lat") >= col("miny") && col("lat") <= col("maxy"), "left_semi")
    val semiIds = semi.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(semiIds == semiIds.distinct)
    assert(semiIds == got.map(_._1).distinct.sorted)

    // 5) LEFT ANTI (the reference's `--negate` filters at scale): rewritten
    //    — no nested loop — and exactly the complement of the semi ids.
    //    Drop the near-world box (it matches every point → vacuous anti).
    val someBoxes = boxes.filter(col("rid") =!= 4L)
    val anti = pts.join(someBoxes,
      col("lon") >= col("minx") && col("lon") <= col("maxx") &&
        col("lat") >= col("miny") && col("lat") <= col("maxy"), "left_anti")
    val planA = anti.queryExecution.executedPlan.toString
    assert(!planA.contains("NestedLoopJoin"), planA)
    assert(planA.contains("__graft_gx"), planA)
    val antiIds = anti.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(antiIds == antiIds.distinct)
    val semiSome = pts.join(someBoxes,
      col("lon") >= col("minx") && col("lon") <= col("maxx") &&
        col("lat") >= col("miny") && col("lat") <= col("maxy"), "left_semi")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val allIds = pts.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert((antiIds ++ semiSome).sorted == allIds)
    assert(antiIds.nonEmpty && semiSome.nonEmpty)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)
    // rule-free anti join agrees (same keep/drop decisions as
    // GeoOps.filterIntersects --negate semantics on axis-aligned queries)
    val naiveA = pts.join(someBoxes,
      col("lon") >= col("minx") && col("lon") <= col("maxx") &&
        col("lat") >= col("miny") && col("lat") <= col("maxy"), "left_anti")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(antiIds == naiveA)
    // mirrored LEFT-ANTI must NOT rewrite (left explode would duplicate)
    graft.plans.SpatialPlanner.enable(spark)
    val antiFlip = boxes.join(pts,
      col("lon") >= col("minx") && col("lon") <= col("maxx") &&
        col("lat") >= col("miny") && col("lat") <= col("maxy"), "left_anti")
    assert(!antiFlip.queryExecution.executedPlan.toString.contains("__graft_gx"))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)
  }

  test("dwithinJoin == brute force, including polar and antimeridian queries") {
    import spark.implicits._
    val scattered = (0 until 3000).map { i =>
      (i.toLong, -180.0 + ((i * 7) % 3571) * 0.1007, -90.0 + ((i * 11) % 1777) * 0.1013)
    }
    // dense deterministic clusters straddling ±180 at the two meridian
    // queries' latitudes, so across-the-meridian matches must exist
    val clustered = (0 until 200).map { j =>
      val lon = if (j % 2 == 0) 179.05 + (j % 18) * 0.05 else -179.95 + (j % 18) * 0.05
      val lat = if (j < 100) 8.0 + (j / 20) * 0.8 else -37.0 + ((j - 100) / 20) * 0.8
      (3000L + j, lon, lat)
    }
    val pts = (scattered ++ clustered).toDF("id", "lon", "lat")
    // queries the ORACLE deliberately avoids: near a pole, hugging ±180,
    // plus two ordinary ones
    val qs = Seq(
      (1L, 10.0, 45.0), (2L, -60.0, -20.0),
      (3L, 178.9, 10.0),   // antimeridian: cap wraps past +180
      (4L, -179.2, -35.0), // antimeridian, other side
      (5L, 30.0, 88.5),    // polar cap: crosses the pole, all longitudes
      (6L, 0.0, -89.0))    // south polar
      .toDF("qid", "qlon", "qlat")
    val R = 600000.0
    val got = SpatialJoin.dwithinJoin(pts, qs, R)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val hit = udf((lon: Double, lat: Double, qlon: Double, qlat: Double) =>
      graft.geom.Vincenty.distanceFixed(lon, lat, qlon, qlat) < R)
    val brute = pts.crossJoin(qs)
      .filter(hit(col("lon"), col("lat"), col("qlon"), col("qlat")))
      .select("id", "qid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == brute)
    // the hard cases really matched rows (the test isn't vacuous)
    Seq(3L, 4L, 5L, 6L).foreach { q =>
      assert(brute.exists(_._2 == q), s"query $q matched nothing — weak fixture")
    }
    // wrap evidence: query 3's matches include points west of -179
    val wrapIds = brute.filter(_._2 == 3L).map(_._1).toSet
    val wests = pts.filter(col("lon") < -179.0).select("id").collect().map(_.getLong(0)).toSet
    assert(wrapIds.intersect(wests).nonEmpty, "no across-the-meridian match for query 3")
  }

  test("dwithinJoin and knnGeodesic keep pairs that both lie on the equator") {
    import spark.implicits._
    // Null Island and its equatorial neighbours, plus one off-equator point
    val pts = Seq((1L, 0.0, 0.0), (2L, 0.001, 0.0), (3L, 0.3, 0.0), (4L, -0.2, 0.0), (5L, 0.1, 2.0))
      .toDF("id", "lon", "lat")
    val qs = Seq((1L, 0.0, 0.0), (2L, 10.0, 0.0)).toDF("qid", "qlon", "qlat")
    // expected by plain arithmetic, not by the kernel under test: along the
    // equator 1° is 111,319.49 m, and 2° of latitude is ~221 km
    val within = SpatialJoin.dwithinJoin(pts, qs, 50000.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(within == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
    val knn = SpatialJoin.knnGeodesic(pts, qs.filter(col("qid") === 1L), k = 3, initMeters = 50000.0)
      .collect().map(r => (r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(knn == Seq((1, 1L), (2, 2L), (3, 4L)))
  }

  test("a geodesic kNN round computes each candidate's Vincenty distance once") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val pts = (0 until 400).map(i => (i.toLong, 10.0 + (i % 20) * 0.01, 45.0 + (i / 20) * 0.01))
      .toDF("id", "lon", "lat")
    val qs = Seq((1L, 10.1, 45.1), (2L, 10.05, 45.02)).toDF("qid", "qlon", "qlat")
    // the round's plan: the driver path's aggregation, the distributed
    // path's checkpoint
    def roundPlans(roundAction: String): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          if (funcName == roundAction) plans.add(qe.executedPlan)
        override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      }
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
      spark.listenerManager.register(listener)
      try {
        SpatialJoin.knnGeodesic(pts, qs, k = 5, initMeters = 5000.0).collect()
        org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
      } finally spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      plans.asScala.toSeq
    }
    val helper = new AdaptiveSparkPlanHelper {}
    for (rounds <- Seq(roundPlans("aggregate"), distributedFor(qs)(roundPlans("localCheckpoint")))) {
      assert(rounds.size == 1, s"${rounds.size} round plans")
      val calls = helper.flatMap(rounds.head)(_.expressions.flatMap(_.collect {
        case u: ScalaUDF if u.udfName.contains("vincenty") => u
      }))
      assert(calls.size == 1, s"${calls.size} Vincenty calls in the round plan:\n${rounds.head}")
    }
  }

  test("knnGeodesic == brute force through every path (round-1, escalation, fallback)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // sparse global scatter + one dense cluster at query 1: with a small
    // initial radius, query 1 resolves in round 1, some resolve after
    // escalation, and the sparsest only in the brute-force fallback
    val scattered = (0 until 400).map { i =>
      (i.toLong, -180.0 + ((i * 131) % 3571) * 0.1007, -90.0 + ((i * 173) % 1777) * 0.1013)
    }
    val cluster = (0 until 6).map(j => (400L + j, 10.0 + j * 0.1, 45.0 + j * 0.05))
    val pts = (scattered ++ cluster).toDF("id", "lon", "lat")
    val qs = Seq(
      (1L, 10.0, 45.0), (2L, -60.0, -20.0), (3L, 178.9, 10.0),
      (4L, -179.2, -35.0), (5L, 30.0, 88.5), (6L, 0.0, -89.0))
      .toDF("qid", "qlon", "qlat")
    def run() = SpatialJoin.knnGeodesic(pts, qs, k = 4, initMeters = 150000.0, rounds = 2)
    val got = run().collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val vin = udf((lon: Double, lat: Double, qlon: Double, qlat: Double) =>
      graft.geom.Vincenty.distanceFixed(lon, lat, qlon, qlat))
    val w = Window.partitionBy("qid").orderBy(col("m").asc, col("id").asc)
    val brute = pts.crossJoin(qs)
      .withColumn("m", vin(col("lon"), col("lat"), col("qlon"), col("qlat")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 4)
      .select("qid", "rank", "id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got == brute)
    assert(got.size == 6 * 4)
    // the distributed rounds (query side over the threshold) give the same
    // rows under the same schema
    val Seq((onDriver, driverActs), (distributed, distActs)) = bothPaths(qs)(run())
    assert(driverActs.contains("aggregate") && distActs.contains("localCheckpoint"), (driverActs, distActs))
    assert(onDriver == distributed)
    // path coverage sanity (queries counted at each radius of the schedule):
    // query 1 has >= k within the OPENING radius (round-1 path), and at
    // least one query lacks k within the FINAL radius (fallback path)
    def withinCount(radius: Double): Map[Long, Long] = pts.crossJoin(qs)
      .withColumn("m", vin(col("lon"), col("lat"), col("qlon"), col("qlat")))
      .filter(col("m") < radius).groupBy("qid").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(withinCount(150000.0).getOrElse(1L, 0L) >= 4, "round-1 path not exercised")
    val atFinal = withinCount(150000.0 * 4)
    assert(qs.collect().exists(r => atFinal.getOrElse(r.getLong(0), 0L) < 4),
      "all queries resolved before the fallback — weaken initMeters to test it")
  }

  test("radius-adaptive grid: small-radius candidates shrink by orders of magnitude vs fixed bits=6") {
    import spark.implicits._
    // clustered regime (the q48 shape): 4000 points in a 2°x2° box, 20
    // queries drawn from them, 5 km geofence
    val pts = spark.range(4000).map { i =>
      (i, 2.0 * (((i * 2246822519L) % 4294967296L) / 4294967296.0),
        2.0 * (((i * 2654435761L) % 4294967296L) / 4294967296.0))
    }.toDF("id", "lon", "lat")
    val qs = pts.filter(col("id") % 200 === 0)
      .select(col("id").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
    val R = 5000.0
    // the auto grid really is much finer than the old fixed default
    val autoBits = SpatialJoin.bitsForRadius(R)
    assert(autoBits >= 10, s"expected a fine grid at 5 km, got bits=$autoBits")
    assert(SpatialJoin.bitsForRadius(750000.0) <= 6) // coarse at 750 km
    assert(SpatialJoin.bitsForRadius(0.001) == 12)   // clamp hi (polar full-lon explode stays bounded at 2^12)
    assert(SpatialJoin.bitsForRadius(4.0e7) == 1)    // clamp lo
    // candidate rows actually priced by the join: >=50x fewer on the fine
    // grid (fixed 620 km cells put the whole cluster in 1-2 cells)
    val candAuto = SpatialJoin.dwithinCellJoin(pts, qs, R, autoBits).count()
    val candFixed = SpatialJoin.dwithinCellJoin(pts, qs, R, 6).count()
    assert(candAuto * 50 <= candFixed,
      s"auto-grid candidates $candAuto not << fixed-grid $candFixed")
    // and the join through AUTO_BITS is still exact vs brute force
    val got = SpatialJoin.dwithinJoin(pts, qs, R)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val hit = udf((lon: Double, lat: Double, qlon: Double, qlat: Double) =>
      graft.geom.Vincenty.distanceFixed(lon, lat, qlon, qlat) < R)
    val brute = pts.crossJoin(qs)
      .filter(hit(col("lon"), col("lat"), col("qlon"), col("qlat")))
      .select("id", "qid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == brute)
    assert(got.size > qs.count(), "no non-self matches — weak fixture")
  }

  test("box-extent-adaptive grid: tiny boxes get a fine grid, results unchanged") {
    import spark.implicits._
    // clustered points + sub-0.05-degree boxes: the fixed 620 km grid put
    // the whole cluster in 1-2 cells
    val pts = spark.range(3000).map { i =>
      (i, 2.0 * (((i * 2246822519L) % 4294967296L) / 4294967296.0),
        2.0 * (((i * 2654435761L) % 4294967296L) / 4294967296.0))
    }.toDF("id", "lon", "lat")
    val boxes = spark.range(40).map { i =>
      val x = 2.0 * (((i * 48271L) % 1024L) / 1024.0)
      val y = 2.0 * (((i * 16807L) % 1024L) / 1024.0)
      (i, x, y, x + 0.04, y + 0.03)
    }.toDF("rid", "minx", "miny", "maxx", "maxy")
    val autoBits = SpatialJoin.bitsForBoxes(boxes)
    assert(autoBits == 12, s"expected the fine-grid clamp for 0.04-deg boxes, got $autoBits")
    // ONE world-spanning outlier among the tiny boxes must pull the grid
    // back to the bounded-explode regime (<= 64 cells/axis for the outlier)
    val withOutlier = boxes.unionByName(
      Seq((999L, -180.0, -90.0, 180.0, 90.0)).toDF("rid", "minx", "miny", "maxx", "maxy"))
    assert(SpatialJoin.bitsForBoxes(withOutlier) <= 6,
      s"outlier box must cap the grid, got ${SpatialJoin.bitsForBoxes(withOutlier)}")
    // nation-box-scale extents keep a coarse grid (no bench regression)
    val wide = spark.range(25).map(i =>
      (i, -100.0 + i * 2.0, -40.0 + i, -100.0 + i * 2.0 + 15.0, -40.0 + i + 10.0))
      .toDF("rid", "minx", "miny", "maxx", "maxy")
    assert(SpatialJoin.bitsForBoxes(wide) <= 6)
    // identical pairs through AUTO and through the old fixed grid
    val auto = SpatialJoin.joinPointsInBoxes(pts, boxes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fixed = SpatialJoin.joinPointsInBoxes(pts, boxes, bits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(auto == fixed && auto.nonEmpty)
    // and boxBoxes with mixed sizes stays exact under AUTO; the extra rows
    // touch lon ±180 and lat ±90, meet only on an edge or a corner (902's
    // corner with 952 is on a cell corner too), or overlap over several
    // cells (902 with 953)
    val aSide = boxes.withColumnRenamed("rid", "id").unionByName(Seq(
      (900L, 170.0, 80.0, 180.0, 90.0), (901L, -180.0, -90.0, -175.0, -85.0),
      (902L, -100.0, -45.0, -60.0, 0.0)).toDF("id", "minx", "miny", "maxx", "maxy"))
    val bSide = wide.unionByName(Seq(
      (950L, 179.0, 89.0, 180.0, 90.0), (951L, -175.0, -86.0, -170.0, -80.0),
      (952L, -60.0, 0.0, -50.0, 5.0), (953L, -95.0, -40.0, -65.0, -5.0))
      .toDF("rid", "minx", "miny", "maxx", "maxy"))
    val bb = SpatialJoin.joinBoxesBoxes(aSide, bSide)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val bbBits = spark.conf.get(SpatialJoin.LAST_BITS_KEY).toInt
    assert(30.0 > 360.0 / (1 << bbBits), s"902 x 953 overlaps one cell column at bits=$bbBits")
    val bbFixed = SpatialJoin.joinBoxesBoxes(aSide, bSide, bits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(bb == bbFixed)
    // brute force on the driver: every pair, inclusive edges
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val bruteBB = (for {
      a <- rows(aSide); b <- rows(bSide)
      if a._2 <= b._4 && a._4 >= b._2 && a._3 <= b._5 && a._5 >= b._3
    } yield (a._1, b._1)).sorted
    assert(bb == bruteBB)
    assert(Seq((900L, 950L), (901L, 951L), (902L, 952L), (902L, 953L)).forall(bruteBB.contains))
  }

  test("adaptive rewrite grid: sub-degree boxes through the NATURAL join get a fine grid (>= bitsForBoxes), results exact") {
    import spark.implicits._
    // the q48/q56 regime: clustered points, 0.05-0.2 degree boxes — the
    // old fixed bits=6 rewrite put the whole cluster into 1-2 620 km cells
    val pts = spark.range(3000).map { i =>
      (i, 2.0 * (((i * 2246822519L) % 4294967296L) / 4294967296.0),
        2.0 * (((i * 2654435761L) % 4294967296L) / 4294967296.0))
    }.toDF("id", "lon", "lat")
    val boxes = spark.range(30).map { i =>
      val x = 2.0 * (((i * 48271L) % 1024L) / 1024.0)
      val y = 2.0 * (((i * 16807L) % 1024L) / 1024.0)
      (i, x, y, x + 0.0625 + (i % 5) * 0.03125, y + 0.046875 + (i % 3) * 0.03125)
    }.toDF("rid", "minx", "miny", "maxx", "maxy")
    graft.plans.SpatialPlanner.enable(spark)
    try {
      assert(spark.conf.getOption(graft.plans.SpatialJoinRewrite.BITS_KEY).isEmpty)
      val natural = pts.join(boxes,
        col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy"))
      val plan = natural.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoopJoin"), plan)
      assert(plan.contains("__graft_gx"), plan)
      // the rule derived the grid from the data and published it; the
      // SQL-surface grid is never coarser than the DataFrame API's choice
      val ruleBits = spark.conf.get(graft.join.SpatialJoin.LAST_BITS_KEY).toInt
      val apiBits = graft.join.SpatialJoin.bitsForBoxes(boxes)
      assert(ruleBits >= apiBits, s"rule bits $ruleBits < api bits $apiBits")
      assert(ruleBits > 6, s"sub-degree boxes must get a fine grid, got $ruleBits")
      val got = natural.select("id", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)
      val naive = pts.join(boxes,
        col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy"))
        .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == naive && got.nonEmpty)
      // a pinned conf still wins over the adaptive path
      graft.plans.SpatialPlanner.enable(spark)
      spark.conf.set(graft.plans.SpatialJoinRewrite.BITS_KEY, "4")
      try {
        val pinned = pts.join(boxes,
          col("lon") >= col("minx") && col("lon") <= col("maxx") &&
            col("lat") >= col("miny") && col("lat") <= col("maxy"))
        assert(pinned.queryExecution.executedPlan.toString.contains("__graft_gx"))
        assert(spark.conf.get(graft.join.SpatialJoin.LAST_BITS_KEY).toInt == 4)
        val gotP = pinned.select("id", "rid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(gotP == got)
      } finally spark.conf.unset(graft.plans.SpatialJoinRewrite.BITS_KEY)
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)
  }

  test("adaptive rewrite guards: oversized box side keeps the fixed grid; malformed conf fails loudly") {
    import spark.implicits._
    val pts = spark.range(500).map(i =>
      (i, (i % 337).toDouble - 170.0, (i % 157).toDouble - 80.0)).toDF("id", "lon", "lat")
    val boxes = Seq((1L, 9.0, 44.0, 11.0, 46.0), (2L, -100.0, -50.0, -60.0, 0.0))
      .toDF("rid", "minx", "miny", "maxx", "maxy")
    graft.plans.SpatialPlanner.enable(spark)
    try {
      // size guard: with the stats budget forced to 1 byte every box side
      // is "too big" — the rewrite still fires but on the fixed default
      // grid, bounding planning cost for arbitrary SQL
      spark.conf.set(graft.plans.SpatialJoinRewrite.STATS_MAX_BYTES_KEY, "1")
      val guarded = pts.join(boxes,
        col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy"))
      assert(guarded.queryExecution.executedPlan.toString.contains("__graft_gx"))
      assert(spark.conf.get(graft.join.SpatialJoin.LAST_BITS_KEY).toInt == 6)
      val got = guarded.select("id", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      spark.conf.unset(graft.plans.SpatialJoinRewrite.STATS_MAX_BYTES_KEY)
      val unguarded = pts.join(boxes,
        col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy"))
        .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == unguarded && got.nonEmpty)
      // malformed conf must fail the query loudly (a silent fallback would
      // pin every join to the fixed grid — the opposite of the tuning)
      spark.conf.set(graft.plans.SpatialJoinRewrite.STATS_MAX_BYTES_KEY, "1g")
      val bad = intercept[Exception] {
        pts.join(boxes,
          col("lon") >= col("minx") && col("lon") <= col("maxx") &&
            col("lat") >= col("miny") && col("lat") <= col("maxy"))
          .queryExecution.executedPlan
      }
      assert(bad.getMessage != null &&
        bad.getMessage.contains("statsMaxBytes"), bad.getMessage)
    } finally {
      spark.conf.unset(graft.plans.SpatialJoinRewrite.STATS_MAX_BYTES_KEY)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)
    }
  }

  test("API bits observability: auto-chosen grid is published to the session conf") {
    import spark.implicits._
    val pts = Seq((1L, 10.02, 45.01), (2L, -60.0, -20.0)).toDF("id", "lon", "lat")
    val boxes = spark.range(20).map { i =>
      val x = 10.0 + (i % 10) * 0.01
      (i, x, 45.0 + (i % 7) * 0.01, x + 0.05, 45.0 + (i % 7) * 0.01 + 0.04)
    }.toDF("rid", "minx", "miny", "maxx", "maxy")
    SpatialJoin.joinPointsInBoxes(pts, boxes)
    assert(spark.conf.get(SpatialJoin.LAST_BITS_KEY).toInt ==
      SpatialJoin.bitsForBoxes(boxes))
    val qs = Seq((1L, 10.0, 45.0)).toDF("qid", "qlon", "qlat")
    SpatialJoin.dwithinCellJoin(pts, qs, 5000.0, SpatialJoin.AUTO_BITS)
    assert(spark.conf.get(SpatialJoin.LAST_BITS_KEY).toInt ==
      SpatialJoin.bitsForRadius(5000.0))
    // a pinned grid outside [1, 12] and salts < 1 are rejected when the
    // join is built
    for (bad <- Seq(0, -2, 13, 32)) {
      intercept[IllegalArgumentException](SpatialJoin.joinPointsInBoxes(pts, boxes, bits = bad))
      intercept[IllegalArgumentException](
        SpatialJoin.joinBoxesBoxes(boxes.withColumnRenamed("rid", "id"), boxes, bits = bad))
      intercept[IllegalArgumentException](SpatialJoin.dwithinJoin(pts, qs, 5000.0, bits = bad))
      intercept[IllegalArgumentException](SpatialJoin.joinPointsInBoxesSalted(pts, boxes, bits = bad))
    }
    intercept[IllegalArgumentException](SpatialJoin.joinPointsInBoxesSalted(pts, boxes, bits = 6, salts = 0))
    intercept[IllegalArgumentException](
      SpatialJoin.knn(pts, qs.withColumnRenamed("qid", "query_id"), k = 1, bits = 0))
  }

  test("q54 video near-dup: banded frame-hash LSH returns exactly the planted twins; no cartesian plan") {
    val got = Queries.q54VideoNearDup(spark, "/root/testdata/sf0.001")
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("NestedLoopJoin"), plan)
    val rows = got.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val expected = (0L until Queries.VID_N by 5).map { i =>
      (f"vid$i%09d", f"vid${i + graft.img.Videos.TWIN_OFFSET}%09d",
        graft.img.Videos.frameCount(i).toLong - 1)
    }.toSeq
    assert(rows == expected)
    assert(rows.size == 100)
  }

  test("q50 embed near-dup: banded LSH == brute-force cosine; no cartesian product in the plan") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = Queries.q50EmbedNearDup(spark, dir)
    // plan: candidates come from an equi-join on (band, bkey), never a
    // cartesian/nested-loop pass over all vector pairs
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("NestedLoopJoin"), plan)
    val gotPairs = got.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // brute force in-Spark (same vector set, same cosine kernel)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val all = emb.unionByName(emb.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + Queries.EMB_OFFSET).as("vec_id"),
        transform(col("v"), x => x * lit(2.0)).as("v")))
    val rows = all.as[(Long, Seq[Double])].collect()
    def dot(a: Seq[Double], b: Seq[Double]) = a.lazyZip(b).map(_ * _).sum
    val brute = (for {
      (ia, va) <- rows; (ib, vb) <- rows if ia < ib
      cos = (dot(va, vb) / math.sqrt(dot(va, va))) / math.sqrt(dot(vb, vb))
      if cos >= 0.999
    } yield (ia, ib)).sorted.toSeq
    assert(gotPairs == brute)
    // exactly the planted scaled-copy pairs (and proves recall = 100%)
    val planted = rows.map(_._1).filter(id => id < Queries.EMB_OFFSET && id % 7 == 0)
      .map(id => (id, id + Queries.EMB_OFFSET)).sorted.toSeq
    assert(gotPairs == planted)
    assert(gotPairs.size == 72)
  }

  test("q43 rewrites in a CHILD session without leaking the rule to the parent") {
    val before = spark.experimental.extraOptimizations
    val df = Queries.q43NaturalJoin(spark, "/root/testdata/sf0.001")
    // the child-session plan really went through the rewrite...
    assert(df.queryExecution.executedPlan.toString.contains("__graft_gx"))
    assert(df.collect().nonEmpty)
    // ...and the parent session's optimizer config is untouched
    assert(spark.experimental.extraOptimizations == before)
    assert(!spark.experimental.extraOptimizations.contains(graft.plans.SpatialJoinRewrite))
  }

  test("q51 natural anti rewrites too and complements the semi ids") {
    val anti = Queries.q51NaturalAnti(spark, "/root/testdata/sf0.001")
    val planA = anti.queryExecution.executedPlan.toString
    assert(planA.contains("__graft_gx"), planA)
    assert(!planA.contains("NestedLoopJoin"), planA)
    val antiIds = anti.collect().map(_.getLong(0)).toSet
    // complement of the q26 inner-join's matched point set over all points
    val all = Queries.pts(spark, "/root/testdata/sf0.001")
      .select("id").collect().map(_.getLong(0)).toSet
    val matched = graft.join.SpatialJoin.joinPointsInBoxes(
        Queries.pts(spark, "/root/testdata/sf0.001"),
        Queries.nationBoxes(spark, "/root/testdata/sf0.001"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(antiIds == all.diff(matched))
    assert(antiIds.nonEmpty && matched.nonEmpty)
  }

  test("SQL surface: h3_cell function + BETWEEN joins hit the same machinery") {
    import spark.implicits._
    graft.plans.SpatialPlanner.registerSql(spark)
    // published anchor through pure SQL
    val sfCell = spark.sql("SELECT h3_cell(37.3615593d, -122.0553238d, 5) AS c")
      .collect().head.getLong(0)
    assert(java.lang.Long.toHexString(sfCell) == "85283473fffffff")
    // table-valued usage == kernel
    val rows = spark.range(500).select(
      col("id"),
      (lit(-80.0) + col("id") * 0.31).as("lat"),
      (lit(-170.0) + col("id") * 0.67).as("lon"))
    rows.createOrReplaceTempView("h3pts")
    val viaSql = spark.sql("SELECT id, h3_cell(lat, lon, 7) AS c FROM h3pts")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.collect().foreach { r =>
      assert(viaSql(r.getLong(0)) ==
        graft.index.H3Geo.latLngToCell(r.getDouble(1), r.getDouble(2), 7))
    }
    // BETWEEN desugars to >=/<= before the optimizer, so the natural SQL
    // spatial join matches the rewrite pattern too
    graft.plans.SpatialPlanner.enable(spark)
    val pts = spark.range(2000).map { i =>
      (i, -170.0 + (i % 337).toDouble, -80.0 + (i % 157).toDouble)
    }.toDF("id", "lon", "lat")
    pts.createOrReplaceTempView("sql_pts")
    Seq((1L, 9.0, 44.0, 11.0, 46.0), (2L, -100.0, -50.0, -60.0, 0.0))
      .toDF("rid", "minx", "miny", "maxx", "maxy").createOrReplaceTempView("sql_boxes")
    val sqlJoin = spark.sql(
      """SELECT id, rid FROM sql_pts JOIN sql_boxes
        |ON lon BETWEEN minx AND maxx AND lat BETWEEN miny AND maxy""".stripMargin)
    assert(sqlJoin.queryExecution.executedPlan.toString.contains("__graft_gx"))
    val got = sqlJoin.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)
    val naive = spark.sql(
      """SELECT id, rid FROM sql_pts JOIN sql_boxes
        |ON lon BETWEEN minx AND maxx AND lat BETWEEN miny AND maxy""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == naive && got.nonEmpty)
  }

  test("codegen key expressions == imperative kernels (H3CellExpr, GeoCols.ghCol)") {
    import spark.implicits._
    val df = spark.range(4000).map { i =>
      (i, -180.0 + (i % 3571) * 0.1007, -90.0 + (i % 1777) * 0.1013)
    }.toDF("id", "lon", "lat")
    // H3CellExpr (native Catalyst, codegen'd) vs H3Geo.latLngToCell (kernel)
    for (res <- Seq(0, 3, 7)) {
      val got = df.select(col("id"), graft.functions.H3CellExpr.h3Cell(col("lat"), col("lon"), res).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      df.select("id", "lat", "lon").collect().foreach { r =>
        val expect = graft.index.H3Geo.latLngToCell(r.getDouble(1), r.getDouble(2), res)
        assert(got(r.getLong(0)) == expect, s"H3CellExpr mismatch id=${r.getLong(0)} res=$res")
      }
    }
    // GeoCols.ghCol vs Geohash.encode at each cell's centre — an
    // independent kernel (float bisection, not the index bit-interleave
    // GeohashExpr calls) — through the codegen'd and the interpreted path
    def ghColAgrees(codegen: Boolean): Unit = {
      val confs = Seq("spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
      val saved = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
      confs.foreach { case (key, v) => spark.conf.set(key, v) }
      try for (len <- Seq(1, 3, 5, 8)) {
        val lonCells = 1L << graft.index.Geohash.lonBitsFor(len)
        val latCells = 1L << graft.index.Geohash.latBitsFor(len)
        val idx = spark.range(2000).select(col("id"),
          (col("id") * 2654435761L % lonCells).as("li"),
          (col("id") * 2246822519L % latCells).as("la"))
        val q = idx.select(col("id"), col("li"), col("la"),
          graft.functions.GeoCols.ghCol(col("li"), col("la"), len).as("gh"))
        assert(q.queryExecution.executedPlan.toString.contains("*(") == codegen,
          q.queryExecution.executedPlan.toString)
        q.collect().foreach { r =>
          val lon = -180.0 + (r.getLong(1) + 0.5) * 360.0 / lonCells
          val lat = -90.0 + (r.getLong(2) + 0.5) * 180.0 / latCells
          assert(r.getString(3) == graft.index.Geohash.encode(lat, lon, len),
            s"ghCol mismatch id=${r.getLong(0)} len=$len codegen=$codegen")
        }
      } finally saved.foreach {
        case (key, Some(v)) => spark.conf.set(key, v)
        case (key, None) => spark.conf.unset(key)
      }
    }
    ghColAgrees(codegen = true)
    ghColAgrees(codegen = false)
    // the H3 expression really is codegen'd: no BatchEvalPython/UDF marker
    // and the projection stays inside a WholeStageCodegen span
    val plan = df.select(graft.functions.H3CellExpr.h3Cell(col("lat"), col("lon"), 5))
      .queryExecution.executedPlan.toString
    // the '*(n)' prefix marks operators inside a WholeStageCodegen span
    assert(plan.linesIterator.exists(l => l.contains("h3_cell") && l.trim.startsWith("*(")), plan)
  }

  test("filterIntersectsAtScale matches broadcast filter semantics") {
    import spark.implicits._
    val lines = Seq("34.2277,-118.2623", "12,34", "9q5",
      "LINESTRING (30 10, 10 30, 40 40)",
      """{"type":"Point","coordinates":[125.6, 10.1]}""")
    val feats = graft.ops.GeoOps.parseStrings(spark, lines)
    val left = feats.toDF().select(col("rowId").as("id"), col("wkb"))
    val queries = graft.core.Entity.parseLine("9q5").map(_.geom)
    val right = Seq((0L, graft.geom.Geo.toWkb(queries.head))).toDF("id", "wkb")

    val atScale = SpatialJoin.filterIntersectsAtScale(left, right, level = 3)
      .select("id").as[Long].collect().sorted.toSeq
    val broadcastPath = graft.ops.GeoOps.filterIntersects(feats, queries)
      .map(_.rowId).collect().sorted.toSeq
    assert(atScale == broadcastPath)
    assert(atScale.nonEmpty)
  }

  test("filterIntersectsAtScale == brute-force JTS intersects: multi-cell pairs, twin rights, shared ids, empty right") {
    import spark.implicits._
    val g = graft.geom.Geo
    // left rows: lines and polygons spanning many level-3 cells (1.4°),
    // points, and id 7 on two rows — one geometry hits, the other misses
    val leftWkt = Seq(
      1L -> "LINESTRING (0 0, 9 6, 14 1)",
      2L -> "POLYGON ((2 2, 7 2, 7 7, 2 7, 2 2))",
      3L -> "LINESTRING (-20 -20, -15 -18)",
      4L -> "POINT (4.5 4.5)",
      5L -> "POINT (30 30)",
      6L -> "POLYGON ((11 -3, 16 -3, 16 3, 11 3, 11 -3), (12 -2, 15 -2, 15 2, 12 2, 12 -2))",
      7L -> "POINT (3 3)",
      7L -> "POINT (-50 -50)",
      8L -> "LINESTRING (13 -1, 14 1)")
    // right: overlapping polygons, two identical ones (rids 11 and 12)
    val rightWkt = Seq(
      10L -> "POLYGON ((1 1, 8 1, 8 5, 1 5, 1 1))",
      11L -> "POLYGON ((3 0, 12 0, 12 8, 3 8, 3 0))",
      12L -> "POLYGON ((3 0, 12 0, 12 8, 3 8, 3 0))",
      13L -> "POLYGON ((-30 25, -25 25, -25 30, -30 25))",
      14L -> "POLYGON ((12.5 -1.5, 14.5 -1.5, 14.5 1.5, 12.5 1.5, 12.5 -1.5))")
    def df(rows: Seq[(Long, String)]) =
      rows.map { case (id, wkt) => (id, g.toWkb(g.parseWkt(wkt))) }.toDF("id", "wkb")
    // the driver path (right side under the threshold) and the covering-cell
    // join (right side one byte over it)
    def runOn(driver: Boolean)(right: Seq[(Long, String)]): Seq[(Long, String)] = {
      def once() = SpatialJoin.filterIntersectsAtScale(df(leftWkt), df(right), level = 3)
        .as[(Long, Array[Byte])].collect()
        .map { case (id, wkb) => (id, g.toWkt(g.fromWkb(wkb))) }.sorted.toSeq
      if (driver) once() else distributedFor(df(right).select("wkb"))(once())
    }
    def brute(right: Seq[(Long, String)]): Seq[(Long, String)] = leftWkt.filter { case (_, l) =>
      right.exists { case (_, r) => g.parseWkt(l).intersects(g.parseWkt(r)) }
    }.map { case (id, wkt) => (id, g.toWkt(g.parseWkt(wkt))) }.sorted

    for (run <- Seq(runOn(driver = true) _, runOn(driver = false) _)) {
      val got = run(rightWkt)
      assert(got == brute(rightWkt))
      // each kept row appears once although it hits several rights in
      // several shared cells; the row of id 7 that misses stays dropped
      assert(got.map(_._1) == Seq(1L, 2L, 4L, 6L, 7L, 8L), got)
      assert(run(Nil).isEmpty)
    }
    val cells = (w: String) => graft.index.Geohash.covering(g.parseWkt(w), 3).toSet
    assert(rightWkt.count { case (_, r) =>
      (cells(leftWkt.head._2) intersect cells(r)).size >= 2 } >= 3,
      "fixture lost its multi-cell pairs")
  }

  test("filterIntersectsAtScale driver path == covering-cell path: null ids and wkbs, duplicated rows, empty and null rights, column order") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val g = graft.geom.Geo
    def wkb(wkt: String) = g.toWkb(g.parseWkt(wkt))
    // extra columns on both sides of (id, wkb): the output puts (id, wkb)
    // first, then the rest of left in its order
    val left = spark.createDataFrame(java.util.Arrays.asList(
      Row("hit", wkb("POINT (4 4)"), 1L, 1.5),
      Row("null id", wkb("POINT (4 4)"), null, 2.5),
      Row("null wkb", null, 3L, 3.5),
      Row("dup", wkb("LINESTRING (0 0, 9 6)"), 4L, 4.5),
      Row("dup", wkb("LINESTRING (0 0, 9 6)"), 4L, 4.5),
      Row("miss", wkb("POINT (-50 -50)"), 5L, 5.5),
      Row("empty", wkb("POLYGON EMPTY"), 6L, 6.5)),
      StructType(Seq(StructField("tag", StringType), StructField("wkb", BinaryType),
        StructField("id", LongType), StructField("w", DoubleType))))
    def right(rows: Row*) = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", LongType), StructField("wkb", BinaryType))))
    val rights = Seq(
      right(Row(10L, wkb("POLYGON ((1 1, 8 1, 8 5, 1 5, 1 1))")), Row(11L, wkb("POLYGON EMPTY")),
        Row(12L, null)),
      right(Row(11L, wkb("POLYGON EMPTY"))),
      right())
    val expected = Seq(Seq(s"1|${g.toWkt(g.parseWkt("POINT (4 4)"))}|hit|1.5") ++
      Seq.fill(2)(s"4|${g.toWkt(g.parseWkt("LINESTRING (0 0, 9 6)"))}|dup|4.5"), Nil, Nil)
    for ((r, want) <- rights.zip(expected)) {
      val Seq((onDriver, _), (byCells, _)) = bothPaths(r.select("wkb"))(SpatialJoin.filterIntersectsAtScale(left, r))
      assert(onDriver == byCells, r.collect().toSeq)
      assert(onDriver._1.fieldNames.toSeq == Seq("id", "wkb", "tag", "w"))
      val rows = SpatialJoin.filterIntersectsAtScale(left, r).collect().toSeq.map(x =>
        Seq(x.get(0), g.toWkt(g.fromWkb(x.getAs[Array[Byte]](1))), x.get(2), x.get(3)).mkString("|"))
      assert(rows.sorted == want, rows)
    }
    // the distributed path was the one the raised threshold took
    val byCells = distributedFor(rights.head.select("wkb"))(SpatialJoin.filterIntersectsAtScale(left, rights.head))
    assert(byCells.queryExecution.analyzed.toString.contains("LeftSemi"))
    assert(!SpatialJoin.filterIntersectsAtScale(left, rights.head).queryExecution.analyzed.toString
      .contains("Join"))
  }

  test("planar knn == brute force through every path (round-1, escalation, world round)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // sparse global scatter + one dense cluster at query 1: with a small
    // initial degree radius, query 1 resolves in round 1, some resolve
    // after escalation, and the sparsest only in the world round
    val scattered = (0 until 400).map { i =>
      (i.toLong, -180.0 + ((i * 131) % 3571) * 0.1007, -90.0 + ((i * 173) % 1777) * 0.1013)
    }
    val cluster = (0 until 6).map(j => (400L + j, 10.0 + j * 0.1, 45.0 + j * 0.05))
    val pts = (scattered ++ cluster).toDF("id", "lon", "lat")
    val qs = Seq(
      (1L, 10.0, 45.0), (2L, -60.0, -20.0), (3L, 178.9, 10.0),
      (4L, -179.2, -35.0), (5L, 30.0, 88.5), (6L, 0.0, -89.0))
      .toDF("query_id", "qlon", "qlat")
    def run() = SpatialJoin.knn(pts, qs, k = 4, initDeg = 0.5, rounds = 2)
    val got = run().select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val w = Window.partitionBy("query_id").orderBy(col("d2").asc, col("id").asc)
    val bruteDf = pts.crossJoin(qs)
      .filter(col("id") =!= col("query_id"))
      .withColumn("d2",
        (col("qlat") - col("lat")) * (col("qlat") - col("lat")) +
          (col("qlon") - col("lon")) * (col("qlon") - col("lon"))).cache()
    val brute = bruteDf
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 4)
      .select("query_id", "rank", "id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got == brute)
    assert(got.size == 6 * 4)
    // the distributed rounds give the same rows, dist2 included, under the
    // same schema
    val Seq((onDriver, driverActs), (distributed, distActs)) = bothPaths(qs)(run())
    assert(driverActs.contains("aggregate") && distActs.contains("localCheckpoint"), (driverActs, distActs))
    assert(onDriver == distributed)
    // path coverage sanity: query 1 has >= k within the OPENING radius
    // (round-1 path) and at least one query lacks k within the FINAL
    // scheduled radius (world-round path)
    def withinCount(deg: Double): Map[Long, Long] = bruteDf
      .filter(col("d2") < deg * deg).groupBy("query_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(withinCount(0.5).getOrElse(1L, 0L) >= 4, "round-1 path not exercised")
    val atFinal = withinCount(0.5 * 4)
    assert((1L to 6L).exists(q => atFinal.getOrElse(q, 0L) < 4),
      "all queries resolved before the world round — weaken initDeg to test it")
    bruteDf.unpersist()
  }

  test("distributed kNN (query side over the broadcast threshold) runs one materialization per radius round; empty query side is typed") {
    import spark.implicits._
    // a dense cluster at every query: all complete in the opening round
    val centres = Seq((1L, 10.0, 45.0), (2L, -60.0, -20.0), (3L, 120.0, 30.0))
    val pts = (for ((q, x, y) <- centres; j <- 0 until 12)
      yield (q * 100 + j, x + (j % 4) * 0.02, y + (j / 4) * 0.02)).toDF("id", "lon", "lat")
    val qsG = centres.toDF("qid", "qlon", "qlat")
    val qsP = qsG.withColumnRenamed("qid", "query_id")
    // radius pinned, so no density count job: the placement run (a local
    // relation: no job), then one checkpoint, whose observe() metric is
    // the emptiness probe (no isEmpty execution)
    val (geoActs, geoExecs, _) = distributedFor(qsG)(
      actions(SpatialJoin.knnGeodesic(pts, qsG, k = 4, initMeters = 100000.0)))
    assert(geoActs == Seq("collect", "localCheckpoint") && geoExecs == 1, (geoActs, geoExecs))
    val (plActs, plExecs, _) = distributedFor(qsP)(
      actions(SpatialJoin.knn(pts, qsP, k = 4, initDeg = 1.0)))
    assert(plActs == Seq("collect", "localCheckpoint") && plExecs == 1, (plActs, plExecs))
    // and the answers are the round-1 ones: each query's own cluster
    val got = distributedFor(qsG)(SpatialJoin.knnGeodesic(pts, qsG, k = 4, initMeters = 100000.0)
      .select("qid", "neighbor_id").as[(Long, Long)].collect())
    assert(got.length == 12 && got.forall { case (q, n) => n / 100 == q })

    // an empty query side gives a typed empty result on both metrics (an
    // empty side has 0 bytes, so its threshold is −1)
    val noG = distributedFor(qsG.limit(0))(
      SpatialJoin.knnGeodesic(pts, qsG.limit(0), k = 4, initMeters = 100000.0))
    assert(noG.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("qid" -> "bigint", "rank" -> "int", "neighbor_id" -> "bigint"))
    assert(noG.collect().isEmpty)
    val noP = distributedFor(qsP.limit(0))(SpatialJoin.knn(pts, qsP.limit(0), k = 4, initDeg = 1.0))
    assert(noP.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("query_id" -> "bigint", "rank" -> "int", "neighbor_id" -> "bigint", "dist2" -> "double"))
    assert(noP.collect().isEmpty)
  }

  test("kNN on the driver (query side within the broadcast threshold) runs one aggregation per radius round and returns a local result") {
    import spark.implicits._
    val centres = Seq((1L, 10.0, 45.0), (2L, -60.0, -20.0), (3L, 120.0, 30.0))
    val pts = (for ((q, x, y) <- centres; j <- 0 until 12)
      yield (q * 100 + j, x + (j % 4) * 0.02, y + (j / 4) * 0.02)).toDF("id", "lon", "lat")
      .repartition(4).persist()
    pts.count()
    val qsG = centres.toDF("qid", "qlon", "qlat")
    val qsP = qsG.withColumnRenamed("qid", "query_id")
    try {
      // the query side's collect (a local relation: no job) and ONE round
      // aggregation: its broadcast of the query cells and its result stage
      val geo = actions(SpatialJoin.knnGeodesic(pts, qsG, k = 4, initMeters = 100000.0))
      assert(geo == ((Seq("collect", "aggregate"), 1, 2)), geo)
      val pl = actions(SpatialJoin.knn(pts, qsP, k = 4, initDeg = 1.0))
      assert(pl == ((Seq("collect", "aggregate"), 1, 2)), pl)
      // the result is a local relation: collecting it runs no job
      val res = SpatialJoin.knnGeodesic(pts, qsG, k = 4, initMeters = 100000.0)
      val (got, work) = SparkWork.of(spark)(res.select("qid", "neighbor_id").as[(Long, Long)].collect())
      assert(work.jobs == 0, work)
      assert(got.length == 12 && got.forall { case (q, n) => n / 100 == q })
      // a sparse query escalates: one aggregation per round it reaches
      // (the opening radius and one escalation), then the world round
      val far = Seq((9L, 0.0, -89.0)).toDF("qid", "qlon", "qlat")
      val (farActs, _, _) = actions(SpatialJoin.knnGeodesic(pts, far, k = 4, initMeters = 1000.0, rounds = 2))
      assert(farActs == Seq("collect", "aggregate", "aggregate", "aggregate"), farActs)
    } finally pts.unpersist()
  }

  test("kNN driver path == distributed path: ties by id, round 1, escalation, world round, nullable keys, empty side") {
    import spark.implicits._
    // query 1: a dense cluster (round 1) with four points on one spot
    // (ties at equal distance, broken by id); query 2: a ring 0.4° out,
    // past the opening radius and inside the escalated one; query 3: the
    // world round; ids deliberately out of order at the tied spot
    val tied = Seq(57L, 13L, 91L, 22L).map(id => (id, 10.01, 45.01))
    val cluster = (0 until 6).map(j => (100L + j, 10.05 + j * 0.03, 45.0 + j * 0.02))
    val ring = (0 until 8).map(j => (200L + j, -60.0 + math.cos(j * 0.785) * 0.4, -20.0 + math.sin(j * 0.785) * 0.4))
    val pts = (tied ++ cluster ++ ring :+ ((300L, 120.0, 30.0))).toDF("id", "lon", "lat")
    val qsG = Seq((1L, 10.0, 45.0), (2L, -60.0, -20.0), (3L, -170.0, 80.0)).toDF("qid", "qlon", "qlat")
    val qsP = qsG.withColumnRenamed("qid", "query_id")
    // nullable keys and coordinates on the query side
    val qsN = Seq((Option(1L), Option(10.0), Option(45.0)), (Option(2L), Option(-60.0), Option(-20.0)))
      .toDF("qid", "qlon", "qlat")
    val geo = (qs: DataFrame) => SpatialJoin.knnGeodesic(pts, qs, k = 3, initMeters = 20000.0, rounds = 2)
    val planar = (qs: DataFrame) => SpatialJoin.knn(pts, qs, k = 3, initDeg = 0.2, rounds = 2)
    for ((qs, run) <- Seq(qsG -> geo, qsP -> planar, qsN -> geo, qsN.withColumnRenamed("qid", "query_id") -> planar,
                          qsG.limit(0) -> geo, qsP.limit(0) -> planar)) {
      val Seq((onDriver, driverActs), (distributed, distActs)) = bothPaths(qs)(run(qs))
      // (an empty side runs no aggregation on the driver)
      assert(!driverActs.contains("localCheckpoint"), driverActs)
      assert(distActs.contains("localCheckpoint") && !distActs.contains("aggregate"), distActs)
      assert(onDriver == distributed, qs.schema)
    }
    // the tie: query 1's three nearest are the tied spot's smallest ids
    val q1 = geo(qsG).filter(col("qid") === 1L).orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(q1 == Seq(13L, 22L, 57L), q1)
    // every path of the schedule ran: round 1 (query 1), escalation
    // (query 2), the world round (query 3)
    val acts = SparkWork.of(spark)(geo(qsG))._2.actions
    assert(acts == Seq("collect", "aggregate", "aggregate", "aggregate"), acts)
    assert(geo(qsG).count() == 9)
    // an empty query side keeps its types on both paths
    val noG = geo(qsG.limit(0))
    assert(noG.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("qid" -> "bigint", "rank" -> "int", "neighbor_id" -> "bigint"))
    assert(noG.collect().isEmpty)
  }

  test("the benchmark's box, dwithin, kNN and intersects calls run pinned SQL executions and Spark jobs") {
    import spark.implicits._
    // the shapes geobench's spatial-join workload collects: a persisted
    // point table, a small box table, query points, WKB points x polygons
    val pts = spark.createDataset((0 until 600).map { i =>
      (i.toLong, -170.0 + (i * 37 % 340) + (i % 7) * 0.1, -80.0 + (i * 53 % 160) + (i % 5) * 0.1)
    }).repartition(4).toDF("id", "lon", "lat").persist()
    pts.count()
    val boxes = (0 until 40).map { i =>
      val x = -170.0 + (i * 41 % 330); val y = -75.0 + (i * 29 % 150)
      (i.toLong, x, y, x + 0.5 + (i % 6), y + 0.5 + (i % 4))
    }.toDF("rid", "minx", "miny", "maxx", "maxy")
    val qs = (0 until 8).map(i => (i.toLong, 10.0 + i * 0.3, 45.0 - i * 0.2)).toDF("qid", "qlon", "qlat")
    val toWkb = udf((lon: Double, lat: Double) => graft.geom.Geo.toWkb(graft.geom.Geo.point(lon, lat)))
    val ptWkb = pts.select(col("id"), toWkb(col("lon"), col("lat")).as("wkb")).cache()
    ptWkb.count()
    val polys = (0 until 10).map { i =>
      val x = -160.0 + i * 33; val y = -60.0 + i * 13
      (i.toLong, graft.geom.Geo.toWkb(graft.geom.Geo.parseWkt(
        s"POLYGON(($x $y, ${x + 4} $y, ${x + 2} ${y + 3}, $x $y))")))
    }.toDF("id", "wkb")
    try {
      // a cold grid memo adds the box table's one stats job
      SpatialJoin.BitsMemo.clear()
      val cold = actions(SpatialJoin.joinPointsInBoxes(pts, boxes).collect())
      val warm = actions(SpatialJoin.joinPointsInBoxes(pts, boxes).collect())
      val dwithin = actions(SpatialJoin.dwithinJoin(pts, qs, 500000.0).collect())
      def intersectsCall() = actions(SpatialJoin.filterIntersectsAtScale(ptWkb, polys).select("id").collect())
      val intersects = intersectsCall()
      val intersectsByCells = distributedFor(polys.select("wkb"))(intersectsCall())
      SpatialJoin.knnGeodesic(pts, qs, 8) // warms the opening-radius memo
      def knnCall() = actions(SpatialJoin.knnGeodesic(pts, qs, 8).collect())
      val knn = knnCall()
      val knnByRounds = distributedFor(qs)(knnCall())
      // (actions, SQL executions, Spark jobs); a shuffle stage and the
      // result stage are each one job under AQE
      assert(cold == ((Seq("collect", "collect"), 2, 4)), cold)
      assert(warm == ((Seq("collect"), 1, 2)), warm)
      assert(dwithin == ((Seq("collect"), 1, 2)), dwithin)
      // each call starts with its placement run: the polygons' or the
      // queries' collect (a local relation: no job)
      // intersects on the driver: then one filtering job over the cached
      // points; distributed: one execution of six jobs (at a threshold
      // one byte below the polygons' WKB bytes, AQE broadcasts the refine
      // hits to the semi-join: a job more than the five of a shuffled one)
      assert(intersects == ((Seq("collect", "collect"), 1, 1)), intersects)
      assert(intersectsByCells == ((Seq("collect", "collect"), 1, 6)), intersectsByCells)
      // kNN on the driver: then one aggregation for each of the two rounds
      // these sparse points take and the caller's collect of a local
      // result (no job); distributed: one checkpoint per round and the
      // caller's collect
      assert(knn == ((Seq("collect", "aggregate", "aggregate", "collect"), 2, 4)), knn)
      assert(knnByRounds == ((Seq("collect", "localCheckpoint", "localCheckpoint", "collect"), 3, 9)), knnByRounds)
    } finally {
      ptWkb.unpersist()
      pts.unpersist()
    }
  }

  test("the benchmark's stream calls each run one SQL execution and one Spark job") {
    import spark.implicits._
    // geobench's geoq_stream shape: geoq's mixed input formats, parsed
    // from strings, through wkt, gj f, gh/h3 covering and filter intersects
    val lines = Seq("34.2277,-118.2623", "12,34", "12\t34", "9q5",
      "LINESTRING (30 10, 10 30, 40 40)", "POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))",
      """{"type":"Point","coordinates":[125.6, 10.1]}""",
      """{"type":"Feature","properties":{"a": "b"},"geometry":{"type":"Point","coordinates":[125.6, 10.1]}}""",
      """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{},"geometry":""" +
        """{"type":"Point","coordinates":[34.0,12.0]}},{"type":"Feature","properties":{},"geometry":""" +
        """{"type":"Point","coordinates":[78.0,56.0]}}]}""")
    val ops = graft.ops.GeoOps
    def feats = ops.parseStrings(spark, lines)
    val queries = graft.core.Entity.parseLine("9q5").map(_.geom) :+
      graft.geom.Geo.boxPolyBL(5.0, 5.0, 45.0, 45.0)
    val calls = Seq(
      "wkt" -> (() => ops.wkt(feats).collect()),
      "gj f" -> (() => ops.gjFeature(feats).collect()),
      "gh covering" -> (() => ops.ghCovering(feats, 3, echo = false).collect()),
      "h3 covering" -> (() => ops.h3Covering(feats, 4, echo = false, compact = false).collect()),
      "filter intersects" -> (() => ops.filterIntersects(feats, queries)
        .map(f => (f.rowId, f.subIdx, f.raw)).collect()))
    calls.foreach { case (name, call) =>
      val (out, work) = SparkWork.of(spark)(call())
      assert(out.nonEmpty, name)
      assert(work.counts == ((Seq("collect"), 1, 1)), s"$name: $work")
    }
  }

  test("planar knn: no CartesianProduct/BroadcastNestedLoopJoin in ANY plan the operator runs") {
    import spark.implicits._
    // the rounds execute eagerly inside knn(), so the final plan alone
    // can't witness them — capture EVERY executed plan via a listener
    // (this is the assertion that retired the old phase-2
    // broadcast(escQs).crossJoin(points) full-scan fallback)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit =
        try plans.add(qe.executedPlan.toString)
        catch { case scala.util.control.NonFatal(_) => () }
    }
    val pts = (0 until 300).map { i =>
      (i.toLong, -180.0 + ((i * 131) % 3571) * 0.1007, -90.0 + ((i * 173) % 1777) * 0.1013)
    }.toDF("id", "lon", "lat")
    // sparse queries force escalation AND the world round — the paths that
    // used to cross-join
    val qs = Seq((1L, 10.0, 45.0), (2L, 30.0, 88.5), (3L, 0.0, -89.0))
      .toDF("query_id", "qlon", "qlat")
    spark.listenerManager.register(listener)
    try {
      val res = SpatialJoin.knn(pts, qs, k = 5, initDeg = 0.25, rounds = 2).collect()
      assert(res.length == 3 * 5)
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
      import scala.jdk.CollectionConverters._
      val all = plans.asScala.toSeq
      assert(all.nonEmpty, "listener captured no plans — assertion is vacuous")
      all.foreach { p =>
        assert(!p.contains("CartesianProduct"), p)
        assert(!p.contains("BroadcastNestedLoopJoin"), p)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("planar knn: pinned per-round grids agree with AUTO (exact at every schedule)") {
    import spark.implicits._
    val pts = spark.range(2000).map { i =>
      (i, -170.0 + (i % 337).toDouble + (i % 13) * 0.07,
        -80.0 + (i % 157).toDouble + (i % 11) * 0.05)
    }.toDF("id", "lon", "lat")
    val qs = pts.filter(col("id") % 97 === 0)
      .select(col("id").as("query_id"), col("lon").as("qlon"), col("lat").as("qlat"))
    def run(bits: Int): Seq[(Long, Int, Long)] =
      SpatialJoin.knn(pts, qs, k = 3, bits = bits)
        .select("query_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val auto = run(SpatialJoin.AUTO_BITS)
    assert(auto == run(4) && auto == run(9))
    assert(auto.size == qs.count() * 3)
    // the per-round auto grid tracks the radius
    assert(SpatialJoin.bitsForDegrees(4.0) == 5)
    assert(SpatialJoin.bitsForDegrees(0.05) == 11)
    assert(SpatialJoin.bitsForDegrees(1e-9) == 12)  // clamp hi
    assert(SpatialJoin.bitsForDegrees(1000.0) == 1) // world round → 2×2 cells
  }

  test("rewrite guards: pinned bits never evaluate statsMaxBytes; nested natural joins survive the stats reentry") {
    import spark.implicits._
    val pts = spark.range(500).map(i =>
      (i, (i % 337).toDouble - 170.0, (i % 157).toDouble - 80.0)).toDF("id", "lon", "lat")
    val boxes = Seq((1L, 9.0, 44.0, 11.0, 46.0), (2L, -100.0, -50.0, -60.0, 0.0))
      .toDF("rid", "minx", "miny", "maxx", "maxy")
    graft.plans.SpatialPlanner.enable(spark)
    try {
      // a session that pins bits never runs the stats job, so a malformed
      // statsMaxBytes must NOT fail its queries (the conf is validated
      // only on the adaptive path)
      spark.conf.set(graft.plans.SpatialJoinRewrite.STATS_MAX_BYTES_KEY, "1g")
      spark.conf.set(graft.plans.SpatialJoinRewrite.BITS_KEY, "5")
      val pinned = pts.join(boxes,
        col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy"))
      assert(pinned.queryExecution.executedPlan.toString.contains("__graft_gx"))
      assert(spark.conf.get(graft.join.SpatialJoin.LAST_BITS_KEY).toInt == 5)
      val gotPinned = pinned.select("id", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      spark.conf.unset(graft.plans.SpatialJoinRewrite.STATS_MAX_BYTES_KEY)
      spark.conf.unset(graft.plans.SpatialJoinRewrite.BITS_KEY)

      // box side CONTAINING another rewritable natural spatial join: the
      // adaptive stats sub-query re-enters the optimizer; the thread-local
      // guard pins the inner rewrite to the fixed default instead of
      // launching nested stats jobs — results must still be exact
      val nestPts = spark.range(500).map(i =>
        (i, 8.0 + (i % 40) * 0.1, 43.0 + (i % 35) * 0.1)).toDF("id", "lon", "lat")
      val innerPts = spark.range(40).map(i =>
        (1000L + i, 9.0 + (i % 20) * 0.1, 44.0 + (i % 10) * 0.2)).toDF("bid", "blon", "blat")
      val boxSide = innerPts.join(boxes,
        col("blon") >= col("minx") && col("blon") <= col("maxx") &&
          col("blat") >= col("miny") && col("blat") <= col("maxy"))
      val nested = nestPts.join(boxSide,
        col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy"))
      val planN = nested.queryExecution.executedPlan.toString
      assert(planN.contains("__graft_gx"), planN)
      assert(!planN.contains("NestedLoopJoin"), planN)
      val gotNested = nested.select("id", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)
      val naiveNested = nestPts.join(boxSide,
        col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy"))
        .select("id", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(gotNested == naiveNested && gotNested.nonEmpty)
      val naivePinned = pts.join(boxes,
        col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy"))
        .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(gotPinned == naivePinned && gotPinned.nonEmpty)
    } finally {
      spark.conf.unset(graft.plans.SpatialJoinRewrite.STATS_MAX_BYTES_KEY)
      spark.conf.unset(graft.plans.SpatialJoinRewrite.BITS_KEY)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)
    }
  }

  test("BitsMemo deployment surface: counters, size, and invalidate-then-recompute after an in-place rewrite") {
    import spark.implicits._
    import graft.join.SpatialJoin.BitsMemo
    val dir = java.nio.file.Files.createTempDirectory("bitsmemo").toString
    spark.range(50).map { i =>
      val x = (i % 30).toDouble; val y = (i % 15).toDouble
      (i, x, y, x + 0.05, y + 0.04)
    }.toDF("rid", "minx", "miny", "maxx", "maxy")
      .write.mode("overwrite").parquet(s"$dir/boxes")
    BitsMemo.clear()
    val h0 = BitsMemo.hitCount; val m0 = BitsMemo.missCount
    val fine = SpatialJoin.bitsForBoxes(spark.read.parquet(s"$dir/boxes"))
    assert(fine == 12, s"0.05-degree boxes must choose the fine clamp, got $fine")
    assert(BitsMemo.missCount == m0 + 1 && BitsMemo.size >= 1)
    // a FRESH read of the same path hits the memo (bench reps, pipelines)
    assert(SpatialJoin.bitsForBoxes(spark.read.parquet(s"$dir/boxes")) == fine)
    assert(BitsMemo.hitCount == h0 + 1)
    // in-place rewrite: same path, wildly different extents — the memo
    // key is identical by design, so STALE bits are served (cost-only)...
    spark.range(8).map { i =>
      (i, -170.0 + i * 2.0, -80.0 + i * 1.5, 160.0, 75.0)
    }.toDF("rid", "minx", "miny", "maxx", "maxy")
      .write.mode("overwrite").parquet(s"$dir/boxes")
    assert(SpatialJoin.bitsForBoxes(spark.read.parquet(s"$dir/boxes")) == fine,
      "expected the documented stale-bits-after-rewrite behavior")
    // ...until the deployment hook invalidates and the next join re-derives
    BitsMemo.clear()
    assert(BitsMemo.size == 0)
    val coarse = SpatialJoin.bitsForBoxes(spark.read.parquet(s"$dir/boxes"))
    assert(coarse < fine, s"post-clear recompute still served $coarse")
  }

  test("density-adaptive kNN opening radius: auto == pinned results on both metrics") {
    import spark.implicits._
    val pts = spark.range(3000).map { i =>
      (i, -170.0 + (i % 337).toDouble + (i % 13) * 0.07,
        -80.0 + (i % 157).toDouble + (i % 11) * 0.05)
    }.toDF("id", "lon", "lat")
    val qsG = pts.filter(col("id") % 211 === 0)
      .select(col("id").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
    val qsP = qsG.withColumnRenamed("qid", "query_id")
    // exact at every schedule: the density-derived opener must return the
    // identical rows as explicit pins (the schedule only moves cost)
    def runG(init: Double) = SpatialJoin.knnGeodesic(pts, qsG, k = 4, initMeters = init)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(runG(SpatialJoin.AUTO_RADIUS) == runG(250000.0))
    def runP(init: Double) = SpatialJoin.knn(pts, qsP, k = 4, initDeg = init)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val autoP = runP(SpatialJoin.AUTO_RADIUS)
    assert(autoP == runP(2.0))
    assert(autoP.size == qsP.count() * 4)
  }

  test("rule-path BitsMemo hits across RE-BUILT queries (positional expression keys)") {
    import spark.implicits._
    // expression-level canonicalization keeps exprIds (fresh per analysis);
    // the rule's memo key binds the bound-expressions to ordinals in the
    // box side's output, so the same SQL re-built from scratch must HIT
    // the memo instead of re-running the stats job every bench rep
    val dir = java.nio.file.Files.createTempDirectory("rulememo").toString
    spark.range(2000).map(i => (i, (i % 337).toDouble - 170.0, (i % 157).toDouble - 80.0))
      .toDF("id", "lon", "lat").write.mode("overwrite").parquet(s"$dir/pts")
    spark.range(30).map { i =>
      val x = (i % 30).toDouble; val y = (i % 15).toDouble
      (i, x, y, x + 0.5, y + 0.4)
    }.toDF("rid", "minx", "miny", "maxx", "maxy")
      .write.mode("overwrite").parquet(s"$dir/boxes")
    graft.plans.SpatialPlanner.enable(spark)
    try {
      def build() = spark.read.parquet(s"$dir/pts")
        .join(spark.read.parquet(s"$dir/boxes"),
          col("lon") >= col("minx") && col("lon") <= col("maxx") &&
            col("lat") >= col("miny") && col("lat") <= col("maxy"))
      graft.join.SpatialJoin.BitsMemo.clear()
      val m0 = graft.join.SpatialJoin.BitsMemo.missCount
      val h0 = graft.join.SpatialJoin.BitsMemo.hitCount
      assert(build().queryExecution.executedPlan.toString.contains("__graft_gx"))
      val m1 = graft.join.SpatialJoin.BitsMemo.missCount
      assert(m1 == m0 + 1, "first build must run the stats job exactly once")
      assert(build().queryExecution.executedPlan.toString.contains("__graft_gx"))
      assert(graft.join.SpatialJoin.BitsMemo.missCount == m1,
        "re-built identical query re-ran the stats job — memo key not stable")
      assert(graft.join.SpatialJoin.BitsMemo.hitCount > h0)
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(r => r == graft.plans.SpatialJoinRewrite || r == graft.plans.IntervalJoinRewrite)
  }
}
