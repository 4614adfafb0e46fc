package geobench

import graft.img.Images
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The image+caption table behind the `tiling` and `spatial_join` inputs:
  * `images` rows from the engine's seeded generator, decoded and
  * phash-verified in Spark, turned into phash anchor points (FIXTURES.md
  * §4). The anchors are kept in local arrays so every later session can
  * reload them without decoding again. */
final class Anchors(seed: Long, val images: Int) {
  var lon: Array[Double] = Array.emptyDoubleArray
  var lat: Array[Double] = Array.emptyDoubleArray
  /** A few encoded images for the decode / phash kernel probes. */
  var sample: Array[Array[Byte]] = Array.empty

  private val base = seed * 1000003L

  /** Generates, decodes and verifies the images. Several workloads may
    * share one Anchors; each set-up prepares it once. */
  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    val base = this.base
    val verified = udf((bytes: Array[Byte], stored: Long) => {
      val ph = Images.phash(Images.decode(bytes))
      if (ph != stored) throw new IllegalStateException(s"phash mismatch: $ph != $stored")
      ph
    })
    val rows = spark.range(images).map(i => Images.generate(base + i))
      .select(col("image_id"), verified(col("bytes"), col("phash")).as("ph"))
      .collect().sortBy(_.getString(0))
    val ph = rows.map(_.getLong(1))
    lon = ph.map(Images.anchorLon)
    lat = ph.map(Images.anchorLat)
    sample = (0 until math.min(32, images)).map(i => Images.generate(base + i).bytes).toArray
  }

  /** `repl` jittered copies of every anchor as (id, lon, lat), cached: copy
    * r scales the anchor by (1 - r·1e-5) toward (0, 0), so copies are
    * distinct points that stay inside the lon/lat domain. `move` may
    * relocate a row (the spatial join's hot cell). */
  def table(spark: SparkSession, repl: Int,
            move: (Long, Double, Double) => (Double, Double) = (_, x, y) => (x, y)): DataFrame = {
    import spark.implicits._
    val anchors = lon.indices.map(i => (i.toLong, lon(i), lat(i)))
    val df = spark.createDataset(anchors)
      .repartition(spark.sparkContext.defaultParallelism * 3)
      .flatMap { case (i, x, y) =>
        (0 until repl).iterator.map { r =>
          val id = i * repl + r
          val (mx, my) = move(id, x * (1.0 - r * 1e-5), y * (1.0 - r * 1e-5))
          (id, mx, my)
        }
      }.toDF("id", "lon", "lat")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  /** The coordinates [[table]] gives row `id`, computed locally. */
  def coords(id: Long, repl: Int,
             move: (Long, Double, Double) => (Double, Double) = (_, x, y) => (x, y)): (Double, Double) = {
    val i = (id / repl).toInt
    val r = id % repl
    move(id, lon(i) * (1.0 - r * 1e-5), lat(i) * (1.0 - r * 1e-5))
  }

  def probes(tr: Tracer): Map[String, Double] = {
    val decoded = sample.map(Images.decode)
    Map(
      "img.decode_ns" -> Probe.nsPerCall(tr, "img.decode", sample.length)(i => Images.decode(sample(i))),
      "img.phash_ns" -> Probe.nsPerCall(tr, "img.phash", decoded.length)(i => Images.phash(decoded(i))))
  }
}
