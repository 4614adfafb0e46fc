package graft.ops

import graft.geom._

/** FGB-style property-schema inference: widening type-union aggregation over
  * all features' properties (reference `src/geoq/fgb/header.rs:63-129`,
  * tests `:182-208`).
  *
  * Lattice: first-seen type wins; Long+Double conflict widens to Double;
  * any other conflict widens to Json; nulls are skipped (column simply
  * absent for that row). Arrays/objects are Json. [[mergeMaps]] is
  * associative/commutative, so a fold in any order (FgbIO's header pass)
  * gives the same schema.
  */
object SchemaUnion {
  sealed trait PropType { def name: String }
  case object PBool extends PropType { val name = "boolean" }
  case object PLong extends PropType { val name = "long" }
  case object PDouble extends PropType { val name = "double" }
  case object PString extends PropType { val name = "string" }
  case object PJson extends PropType { val name = "json" }

  def of(v: JValue): Option[PropType] = v match {
    case JNull      => None // nulls dropped (header.rs:79-95)
    case _: JBool   => Some(PBool)
    case _: JLong   => Some(PLong)
    case _: JDouble => Some(PDouble)
    case _: JString => Some(PString)
    case _          => Some(PJson) // arrays + objects
  }

  /** The widening lattice. Deliberate deviation from the reference: its
    * single-pass fold (header.rs:107-126) is order-ASYMMETRIC
    * (current=Double + new=Long stays Double, but current=Long + new=Double
    * widens to Json); a distributed merge needs a commutative/associative
    * operator, so both Long/Double orders widen to Double here. */
  def widen(a: PropType, b: PropType): PropType =
    if (a == b) a
    else (a, b) match {
      case (PLong, PDouble) | (PDouble, PLong) => PDouble
      case _                                   => PJson
    }

  def mergeMaps(a: Map[String, String], b: Map[String, String]): Map[String, String] =
    b.foldLeft(a) { case (m, (k, tb)) =>
      m.get(k) match {
        case None     => m.updated(k, tb)
        case Some(ta) => m.updated(k, widen(byName(ta), byName(tb)).name)
      }
    }

  private def byName(n: String): PropType = n match {
    case "boolean" => PBool
    case "long"    => PLong
    case "double"  => PDouble
    case "string"  => PString
    case _         => PJson
  }

  def typesOf(propsJson: String): Map[String, String] =
    Json.parseObject(propsJson).fields.flatMap { case (k, v) =>
      of(v).map(t => k -> t.name)
    }.toMap
}
