package graft.ops

import graft.core.{Entity, GeoqException}
import graft.geom._
import graft.index.{Geohash, H3, H3Geo}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.locationtech.jts.geom.{Geometry, Point, Polygon}

/** A parsed entity as a Dataset row: geometry carried as WKB bytes
  * (BinaryType), properties as canonical JSON. `rowId`/`subIdx` preserve the
  * reference's input ordering (its par pipeline restores input order at the
  * printer, `src/geoq/par.rs:125-147`) — we sort on them only at golden-diff
  * boundaries; distributed operators ignore them.
  */
final case class FeatureRow(rowId: Long, subIdx: Int, kind: String, raw: String,
                            wkb: Array[Byte], props: String)

object FeatureRow {
  def fromEntity(rowId: Long, subIdx: Int, e: Entity): FeatureRow =
    FeatureRow(rowId, subIdx, e.kind, e.raw, Geo.toWkb(e.geom), Json.write(e.props))
}

/** Entity-pipeline operators: each is a typed Dataset transform mirroring one
  * reference command (SURVEY.md §2). All per-row kernels are deterministic
  * pure functions; explosions are flatMaps; the two real aggregations
  * (FeatureCollection build, bbox-all) are ordinary aggregations.
  */
object GeoOps {

  /** Parse indexed lines → entities (1 line may fan out to N entities:
    * multi-WKT, FeatureCollection unwrap — reference `entity.rs:68-97`). */
  def parse(lines: Dataset[(Long, String)]): Dataset[FeatureRow] = {
    import lines.sparkSession.implicits._
    lines.flatMap { case (rowId, line) =>
      Entity.parseLine(line).zipWithIndex.map { case (e, i) => FeatureRow.fromEntity(rowId, i, e) }
    }
  }

  def parseStrings(spark: SparkSession, lines: Seq[String]): Dataset[FeatureRow] = {
    import spark.implicits._
    parse(spark.createDataset(lines.zipWithIndex.map { case (l, i) => (i.toLong, l) }))
  }

  /** Ordered collect for golden comparisons (order restoration = the
    * reference's printer fan-in). */
  def collectOrdered[T](ds: Dataset[(Long, Int, T)]): Seq[T] =
    ds.collect().toSeq.sortBy(r => (r._1, r._2)).map(_._3)

  /** As [[collectOrdered]] for ops whose per-feature fan-out can exceed Int
    * packing (grid-disk/covering emit up to 7^res cells per sub-feature). */
  def collectOrderedWide[T](ds: Dataset[(Long, Long, T)]): Seq[T] =
    ds.collect().toSeq.sortBy(r => (r._1, r._2)).map(_._3)

  // ---- per-row conversions (T1 maps) ----

  /** `geoq read` debug labels (`commands/read.rs:4`). */
  def readLabels(feats: Dataset[FeatureRow]): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.map(f => (f.rowId, f.subIdx, entityOf(f).label))
  }

  /** `geoq wkt` (`commands/wkt.rs:4`). */
  def wkt(feats: Dataset[FeatureRow]): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.map(f => (f.rowId, f.subIdx, Geo.toWkt(Geo.fromWkb(f.wkb))))
  }

  /** `geoq gj geom` (`commands/geojson_cmd.rs:6-11`). */
  def gjGeom(feats: Dataset[FeatureRow]): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.map(f => (f.rowId, f.subIdx, Geo.geometryJsonString(Geo.fromWkb(f.wkb))))
  }

  /** `geoq gj f` (`commands/geojson_cmd.rs:13-18`). */
  def gjFeature(feats: Dataset[FeatureRow]): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.map { f =>
      (f.rowId, f.subIdx, Geo.featureJsonString(Geo.fromWkb(f.wkb), Json.parseObject(f.props)))
    }
  }

  /** `geoq gj fc`: whole stream → one FeatureCollection, input order
    * (`commands/geojson_cmd.rs:20-40`). Driver-side assembly of an ordered
    * collect — matches the reference's T3 whole-stream collect template. */
  def gjFeatureCollection(feats: Dataset[FeatureRow]): String = {
    val items = collectOrdered(gjFeature(feats))
    items.mkString("{\"features\":[", ",", "],\"type\":\"FeatureCollection\"}")
  }

  /** `geoq centroid`: Point/LineString/Polygon/MultiPolygon only; others are
    * dropped (reference prints an error and emits nothing,
    * `src/geoq/centroid.rs:5-17`). */
  def centroid(feats: Dataset[FeatureRow]): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.flatMap { f =>
      val g = Geo.fromWkb(f.wkb)
      g match {
        case _: Point | _: org.locationtech.jts.geom.LineString | _: Polygon |
            _: org.locationtech.jts.geom.MultiPolygon =>
          val c = g.getCentroid
          Some((f.rowId, f.subIdx, Geo.geometryJsonString(c)))
        case _ => None
      }
    }
  }

  /** Per-row bbox polygon (ring TR,TL,BL,BR,TR — `src/geoq/bbox.rs:77-90`). */
  def bboxPolygons(feats: Dataset[FeatureRow]): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.map { f =>
      val (minX, minY, maxX, maxY) = Geo.bbox(Geo.fromWkb(f.wkb))
      (f.rowId, f.subIdx, Geo.geometryJsonString(Geo.boxPolyTR(minX, minY, maxX, maxY)))
    }
  }

  /** `geoq bbox --embed`: the feature with `bbox:[minx,miny,maxx,maxy]`
    * embedded (`commands/bbox.rs:37-42`). */
  def bboxEmbed(feats: Dataset[FeatureRow]): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.map { f =>
      (f.rowId, f.subIdx,
        Geo.featureJsonStringBbox(Geo.fromWkb(f.wkb), Json.parseObject(f.props)))
    }
  }

  /** `geoq bbox --all`: 4-way min/max aggregation (`commands/bbox.rs:9-32`).
    * A plain columnar agg — partial aggregation map-side, no UDAF. */
  def bboxAll(feats: Dataset[FeatureRow]): (Double, Double, Double, Double) = {
    import feats.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    val boxes = feats.map { f => Geo.bbox(Geo.fromWkb(f.wkb)) }
      .toDF("minx", "miny", "maxx", "maxy")
    val r = boxes.agg(min("minx"), min("miny"), max("maxx"), max("maxy")).head()
    if (r.isNullAt(0)) throw GeoqException("NoInputGiven")
    (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  /** `geoq measure coord-count` (`src/geoq/coord_count.rs:4-26`). JTS
    * getNumPoints counts closed-ring duplicate endpoints identically. */
  def coordCount(feats: Dataset[FeatureRow]): Dataset[(Long, Int, Int)] = {
    import feats.sparkSession.implicits._
    feats.map(f => (f.rowId, f.subIdx, Geo.fromWkb(f.wkb).getNumPoints))
  }

  // ---- geohash cell operators ----

  /** `geoq gh point <level>`: Point-only encode; non-Point = hard error
    * (`commands/geohash.rs:23-33`). */
  def ghPoint(feats: Dataset[FeatureRow], level: Int): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.map { f =>
      Geo.fromWkb(f.wkb) match {
        case p: Point => (f.rowId, f.subIdx, Geohash.encode(p.getY, p.getX, level))
        case _        => throw GeoqException("NotImplemented: geohash for non-point")
      }
    }
  }

  /** `geoq gh children`: geohash inputs only (`geohash.rs:10-12`). */
  def ghChildren(feats: Dataset[FeatureRow]): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.flatMap { f =>
      requireGeohash(f)
      Geohash.children(f.raw).zipWithIndex.map { case (c, i) => (f.rowId, f.subIdx * 32 + i, c) }
    }
  }

  /** `geoq gh neighbors [-e]` (`geohash.rs:14-35`). */
  def ghNeighbors(feats: Dataset[FeatureRow], includeSelf: Boolean): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.flatMap { f =>
      requireGeohash(f)
      Geohash.neighbors(f.raw, includeSelf).zipWithIndex.map { case (c, i) =>
        (f.rowId, f.subIdx * 16 + i, c)
      }
    }
  }

  /** `geoq gh covering <level> [-o]` — the tiling operator
    * (`geohash.rs:60-80`). With echo, the raw line precedes its cells. */
  def ghCovering(feats: Dataset[FeatureRow], level: Int, echo: Boolean): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.flatMap { f =>
      val cells = Geohash.covering(Geo.fromWkb(f.wkb), level)
      val out = if (echo) f.raw +: cells else cells
      out.zipWithIndex.map { case (c, i) => (f.rowId, f.subIdx * 1000000 + i, c) }
    }
  }

  private def requireGeohash(f: FeatureRow): Unit =
    if (f.kind != Entity.GeohashK) throw GeoqException("NotImplemented: geohash op on non-geohash")

  // ---- H3 cell operators ----

  /** `geoq h3 point <res>`: Point-only encode (`commands/h3.rs:43-52`). */
  def h3Point(feats: Dataset[FeatureRow], res: Int): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.map { f =>
      Geo.fromWkb(f.wkb) match {
        case p: Point => (f.rowId, f.subIdx, H3.toString(H3.latLngToCell(p.getY, p.getX, res)))
        case _ => throw GeoqException("Input for 'geoq h3 point' should be a Point geometry")
      }
    }
  }

  /** `geoq h3 hierarchy`: Point → its 16 cells, res 0..15 (`h3.rs:162-174`). */
  def h3Hierarchy(feats: Dataset[FeatureRow]): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    feats.flatMap { f =>
      Geo.fromWkb(f.wkb) match {
        case p: Point =>
          (0 to 15).map(r => (f.rowId, f.subIdx * 16 + r, H3.toString(H3.latLngToCell(p.getY, p.getX, r))))
        case _ => throw GeoqException("Input for 'geoq h3 hierarchy' should be a Point geometry")
      }
    }
  }

  /** `geoq h3 grid-disk [k]`: H3 entities only, k-ring incl. self
    * (`h3.rs:233-272`). Origin first, then rings (set-equal to the C
    * library; FIXTURES.md). */
  def h3GridDisk(feats: Dataset[FeatureRow], k: Int): Dataset[(Long, Long, String)] = {
    import feats.sparkSession.implicits._
    feats.flatMap { f =>
      if (f.kind != Entity.H3Cell)
        throw GeoqException(s"geoq h3 grid-disk requires H3 cell strings as inputs -- got ${f.raw}")
      H3Geo.gridDisk(H3.fromString(f.raw), k).zipWithIndex.map { case (c, i) =>
        (f.rowId, (f.subIdx.toLong << 32) | i.toLong, H3.toString(c))
      }
    }
  }

  /** `geoq h3 covering <res> [-o] [--compact]` (`h3.rs:505-548`): covering
    * cells per geometry kind; unordered in the reference (HashSet), emitted
    * here in ascending unsigned id order. */
  def h3Covering(feats: Dataset[FeatureRow], res: Int, echo: Boolean,
                 compact: Boolean): Dataset[(Long, Long, String)] = {
    import feats.sparkSession.implicits._
    feats.flatMap { f =>
      val cells = graft.index.H3Cover.geomCells(Geo.fromWkb(f.wkb), res)
      val emitted = graft.index.H3Cover.ordered(
        if (compact) graft.index.H3Cover.compact(cells) else cells)
      val out = if (echo) f.raw +: emitted.map(H3.toString) else emitted.map(H3.toString)
      out.zipWithIndex.map { case (c, i) => (f.rowId, (f.subIdx.toLong << 32) | i.toLong, c) }
    }
  }

  /** Top-down multi-resolution covering (the reference's dead-code
    * `commands/h3.rs:291-418`, here a first-class optional mode —
    * [[graft.index.H3Cover.topDownCovering]]); polygon inputs only. */
  def h3TopDownCovering(feats: Dataset[FeatureRow], minRes: Int, maxRes: Int,
                        echo: Boolean): Dataset[(Long, Long, String)] = {
    import feats.sparkSession.implicits._
    feats.flatMap { f =>
      val cells = graft.index.H3Cover.ordered(
        graft.index.H3Cover.topDownCovering(Geo.fromWkb(f.wkb), minRes, maxRes))
      val out = if (echo) f.raw +: cells.map(H3.toString) else cells.map(H3.toString)
      out.zipWithIndex.map { case (c, i) => (f.rowId, (f.subIdx.toLong << 32) | i.toLong, c) }
    }
  }

  // ---- filters: stream × broadcast-query-set semi-joins ----

  /** `geoq filter intersects` (`commands/filter.rs:31-46`): keep entity iff
    * ANY query geometry intersects it; `negate` flips. Query side is small →
    * broadcast closure; at scale use [[graft.join.SpatialJoin]]. */
  def filterIntersects(feats: Dataset[FeatureRow], queries: Seq[Geometry],
                       negate: Boolean = false): Dataset[FeatureRow] = {
    import feats.sparkSession.implicits._
    val queryWkbs = queries.map(Geo.toWkb)
    feats.filter { f =>
      val g = Geo.fromWkb(f.wkb)
      val hit = queryWkbs.exists(q => Geo.fromWkb(q).intersects(g))
      hit ^ negate
    }
  }

  /** `geoq filter contains` (`commands/filter.rs:48-75`): queries flatten to
    * polygons (MultiPolygon exploded, non-polygons dropped; empty set is an
    * error); keep iff ANY query polygon contains the entity. */
  def filterContains(feats: Dataset[FeatureRow], queries: Seq[Geometry],
                     negate: Boolean = false): Dataset[FeatureRow] = {
    import feats.sparkSession.implicits._
    val polys: Seq[Polygon] = queries.flatMap {
      case p: Polygon => Seq(p)
      case mp: org.locationtech.jts.geom.MultiPolygon =>
        (0 until mp.getNumGeometries).map(i => mp.getGeometryN(i).asInstanceOf[Polygon])
      case _ => Nil
    }
    if (polys.isEmpty) throw GeoqException("PolygonRequired")
    val polyWkbs = polys.map(Geo.toWkb)
    feats.filter { f =>
      val g = Geo.fromWkb(f.wkb)
      val hit = polyWkbs.exists(q => Relations.containsPoly(Geo.fromWkb(q).asInstanceOf[Polygon], g))
      hit ^ negate
    }
  }

  /** `geoq filter dwithin --radius r` (`commands/filter.rs:77-108`): inputs
    * must be Points; keep iff geodesic distance to ANY query < r (strict). */
  def filterDwithin(feats: Dataset[FeatureRow], queries: Seq[Geometry], radiusMeters: Double,
                    negate: Boolean = false): Dataset[FeatureRow] = {
    import feats.sparkSession.implicits._
    val queryWkbs = queries.map(Geo.toWkb)
    feats.filter { f =>
      Geo.fromWkb(f.wkb) match {
        case p: Point =>
          val hit = queryWkbs.exists { q =>
            Relations.distance(p, Geo.fromWkb(q)).exists(_ < radiusMeters)
          }
          hit ^ negate
        case _ => throw GeoqException("PointRequired: dwithin candidates must be points")
      }
    }
  }

  /** `geoq measure distance <point>`: meters TSV per input
    * (`commands/measure.rs:6-43`). */
  def measureDistance(feats: Dataset[FeatureRow], query: Point): Dataset[(Long, Int, String)] = {
    import feats.sparkSession.implicits._
    val qWkb = Geo.toWkb(query)
    feats.map { f =>
      val q = Geo.fromWkb(qWkb).asInstanceOf[Point]
      val d = Relations.distance(q, Geo.fromWkb(f.wkb))
        .getOrElse(throw GeoqException("Indeterminate distance"))
      (f.rowId, f.subIdx, s"${Num.rust(d)}\t${f.raw}")
    }
  }

  def entityOf(f: FeatureRow): Entity =
    Entity(f.kind, f.raw, Geo.fromWkb(f.wkb), Json.parseObject(f.props))
}
