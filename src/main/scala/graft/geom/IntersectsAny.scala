package graft.geom

import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree

/** The keep test of geoq's `filter intersects` (`commands/filter.rs:31-46`)
  * against a small query set: does ANY query geometry intersect `g`? The
  * queries travel as WKB; their STR-tree of prepared geometries is built on
  * first use in each deserialized copy, i.e. once per task when a closure or
  * UDF ships this object. A query whose envelope misses `g`'s is never
  * tested, and empty queries (null envelope) are never inserted: they
  * intersect nothing. */
final class IntersectsAny(queryWkbs: Seq[Array[Byte]]) extends Serializable {

  @transient private lazy val tree: STRtree = {
    val t = new STRtree()
    queryWkbs.foreach { w =>
      val p = PreparedGeometryFactory.prepare(Geo.fromWkb(w))
      t.insert(p.getGeometry.getEnvelopeInternal, p)
    }
    t.build()
    t
  }

  def apply(g: Geometry): Boolean = {
    val it = tree.query(g.getEnvelopeInternal).iterator()
    var hit = false
    while (!hit && it.hasNext) hit = it.next().asInstanceOf[PreparedGeometry].intersects(g)
    hit
  }

  /** The same test on a WKB geometry; a null one intersects nothing. */
  def apply(wkb: Array[Byte]): Boolean = wkb != null && apply(Geo.fromWkb(wkb))
}
