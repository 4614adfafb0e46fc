package graft

import graft.join.SpatialJoin
import graft.ops.{ConnectedComponents, DedupPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.DriverPath.place]] across the operators that call it: the
  * path follows the placed rows' exact bytes (not a plan estimate), flips
  * at exactly the threshold, and the blocks a placement run keeps are
  * released before the operator returns. */
class DriverPathSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def actions(f: => Any): Seq[String] = SparkWork.of(spark)(f)._2.actions

  private def withThreshold[T](threshold: Long)(f: => T): T = Placement.withThreshold(spark, Some(threshold))(f)

  /** Runs `f` over `df` cached and materialized, and unpersists it after. */
  private def cached[T](df: DataFrame)(f: DataFrame => T): T = {
    val c = df.persist()
    c.count()
    try f(c) finally c.unpersist()
  }

  private def points: DataFrame = {
    val sp = spark
    import sp.implicits._
    (0 until 4000).map { i =>
      (i.toLong, -170.0 + (i * 37 % 340) + (i % 7) * 0.1, -80.0 + (i * 53 % 160) + (i % 5) * 0.1)
    }.toDF("id", "lon", "lat").repartition(4)
  }

  private def polygons: DataFrame = {
    val sp = spark
    import sp.implicits._
    (0 until 400).map { i =>
      val x = -170.0 + (i * 41 % 330); val y = -75.0 + (i * 29 % 150)
      (i.toLong, graft.geom.Geo.toWkb(graft.geom.Geo.parseWkt(
        s"POLYGON(($x $y, ${x + 12} $y, ${x + 6} ${y + 9}, $x $y))")))
    }.toDF("id", "wkb").repartition(4)
  }

  private val toWkb = udf((lon: Double, lat: Double) => graft.geom.Geo.toWkb(graft.geom.Geo.point(lon, lat)))

  private def pointWkb(pts: DataFrame): DataFrame =
    pts.select(col("id"), toWkb(col("lon"), col("lat")).as("wkb"))

  private def queries(pts: DataFrame): DataFrame =
    pts.filter(col("id") % 200 === 0)
      .select(col("id").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))

  /** A result's rows as sorted strings, binary values by content. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def planJoins(df: DataFrame): Boolean = df.queryExecution.analyzed.toString.contains("Join")

  test("a few rows filtered out of a cached table are placed by their own bytes, not the table's estimate") {
    cached(points) { pts =>
      cached(polygons) { polys =>
        val qs = queries(pts)
        val qsP = qs.withColumnRenamed("qid", "query_id")
        val right = polys.filter(col("id") % 40 === 0)
        // a Filter passes its input's size estimate through, so both sides
        // estimate as their whole cached table; the threshold sits below
        // both estimates and far above the filtered rows' bytes
        val threshold = Seq(qs, right).map(_.queryExecution.optimizedPlan.stats.sizeInBytes).min.toLong - 1
        val placed = Seq(Placement.bytes(qs), Placement.bytes(right.select("wkb")))
        assert(placed.forall(_ * 10 < threshold), (placed, threshold))
        val calls = Seq[(String, () => DataFrame)](
          "knnGeodesic" -> (() => SpatialJoin.knnGeodesic(pts, qs, 4)),
          "knn" -> (() => SpatialJoin.knn(pts, qsP, 4)),
          "filterIntersectsAtScale" -> (() => SpatialJoin.filterIntersectsAtScale(pointWkb(pts), right)))
        for ((name, call) <- calls) {
          val (got, work) = withThreshold(threshold)(SparkWork.of(spark)(rows(call())))
          if (name == "filterIntersectsAtScale") {
            assert(work.actions == Seq("collect", "collect"), s"$name: $work")
            assert(!withThreshold(threshold)(planJoins(call())), name)
          } else
            assert(work.actions.contains("aggregate") && !work.actions.contains("localCheckpoint"), s"$name: $work")
          assert(got.nonEmpty, name)
          assert(got == withThreshold(-1)(rows(call())), s"$name: the distributed path disagrees")
        }
      }
    }
  }

  test("kNN, intersects, dedup and connected components take the driver path at exactly the placed bytes and the distributed one a byte below") {
    val sp = spark
    import sp.implicits._
    cached(points) { pts =>
      // kNN over a local query side and over one filtered out of the cache
      val local = Seq((1L, 10.0, 45.0), (2L, -60.0, -20.0), (3L, 120.0, 30.0)).toDF("qid", "qlon", "qlat")
      for (qs <- Seq(local, queries(pts)); planar <- Seq(false, true)) {
        val side = if (planar) qs.withColumnRenamed("qid", "query_id") else qs
        def call() =
          if (planar) SpatialJoin.knn(pts, side, 4) else SpatialJoin.knnGeodesic(pts, side, 4)
        val bytes = Placement.bytes(side)
        val atBudget = withThreshold(bytes)(actions(call().collect()))
        val over = withThreshold(bytes - 1)(actions(call().collect()))
        assert(atBudget.contains("aggregate") && !atBudget.contains("localCheckpoint"), atBudget)
        assert(over.contains("localCheckpoint") && !over.contains("aggregate"), over)
      }

      // intersects over a local right side and over one filtered out of
      // the cache: the WKB column is what is placed
      cached(polygons) { polys =>
        val ptWkb = pointWkb(pts)
        for (right <- Seq(polygons.limit(5).collect().toSeq.map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
                            .toDF("id", "wkb"), polys.filter(col("id") % 40 === 0))) {
          val bytes = Placement.bytes(right.select("wkb"))
          def call() = SpatialJoin.filterIntersectsAtScale(ptWkb, right)
          withThreshold(bytes) {
            assert(actions(call().collect()) == Seq("collect", "collect"))
            assert(!planJoins(call()))
          }
          withThreshold(bytes - 1) {
            assert(actions(call().collect()) == Seq("collect", "collect"))
            assert(call().queryExecution.analyzed.toString.contains("LeftSemi"))
          }
        }
      }
    }

    // dedup: the placed rows are (id, key_md5, sim)
    val docs = (0 until 60).map(i => (i.toLong, graft.img.Images.caption(i % 40))).toDF("id", "text")
    val bytes = Placement.bytes(DedupPipeline.fingerprints(docs, "id", "text"))
    def dedup() = DedupPipeline.run(docs, "id", "text").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val (onDriver, atBudget) = withThreshold(bytes)(SparkWork.of(spark)(dedup()))
    val (distributed, over) = withThreshold(bytes - 1)(SparkWork.of(spark)(dedup()))
    assert(atBudget.actions == Seq("collect", "collect"), atBudget)
    assert(over.actions.take(2) == Seq("collect", "localCheckpoint"), over)
    assert(onDriver == distributed)

    // connected components: the edge rows, each counted twice
    val vertices = (0L until 40L).toDF("id")
    val edges = ((0L until 20L).map(i => (i, i + 1)) ++ (25L until 39L).map(i => (i, 39L))).toDF("src", "dst")
    val edgeBytes = 2 * Placement.bytes(edges)
    def rounds(threshold: Long): (Int, Seq[(Long, Long)]) = withThreshold(threshold) {
      var n = 0
      val labels = ConnectedComponents.run(vertices, edges, 30, (_, _, _) => n += 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      (n, labels)
    }
    val (driverRounds, driverLabels) = rounds(edgeBytes)
    val (overRounds, overLabels) = rounds(edgeBytes - 1)
    assert(driverRounds == 0 && overRounds > 0, (driverRounds, overRounds))
    assert(driverLabels == overLabels)
  }

  test("the blocks a placement run keeps are released before each operator returns, on both paths") {
    val sp = spark
    import sp.implicits._
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // the RDDs a result reads, its own checkpoints among them
    def leaves(df: DataFrame): Set[Int] = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    cached(points) { pts =>
      cached(polygons) { polys =>
        val qs = queries(pts)
        val qsP = qs.withColumnRenamed("qid", "query_id")
        val right = polys.filter(col("id") % 40 === 0)
        val docs = (0 until 60).map(i => (i.toLong, graft.img.Images.caption(i % 40))).toDF("id", "text")
          .repartition(3)
        val vertices = (0L until 40L).toDF("id")
        val edges = ((0L until 20L).map(i => (i, i + 1)) ++ (25L until 39L).map(i => (i, 39L)))
          .toDF("src", "dst").repartition(3)
        // (operator, the bytes it places, each counted as often as the
        // operator counts them, and the call)
        val calls = Seq[(String, Long, () => DataFrame)](
          ("knnGeodesic", Placement.bytes(qs), () => SpatialJoin.knnGeodesic(pts, qs, 4)),
          ("knn", Placement.bytes(qsP), () => SpatialJoin.knn(pts, qsP, 4)),
          ("filterIntersectsAtScale", Placement.bytes(right.select("wkb")),
            () => SpatialJoin.filterIntersectsAtScale(pointWkb(pts), right)),
          ("DedupPipeline", Placement.bytes(DedupPipeline.fingerprints(docs, "id", "text")),
            () => DedupPipeline.run(docs, "id", "text")),
          ("ConnectedComponents", 2 * Placement.bytes(edges),
            () => ConnectedComponents.run(vertices, edges)))
        for ((name, bytes, call) <- calls; threshold <- Seq(bytes, bytes - 1)) withThreshold(threshold) {
          val before = persisted
          val out = call()
          out.collect()
          val added = persisted -- before
          assert(added.subsetOf(leaves(out)),
            s"$name at threshold $threshold left RDDs ${added -- leaves(out)} persisted that its result does not read")
        }
      }
    }
  }
}
