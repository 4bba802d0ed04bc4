package graft.geom

/** Axis-aligned bounding box: top-left corner + extent, in pixels.
  *
  * Mirrors the reference's `BoundingBox` record
  * (reference: server/modules/main/models.py:34-85). Structural equality is
  * kept (Spark encoders need it). The reference's `center`, `overlaps` and
  * center-containment `__eq__` have no counterpart: no layout stage uses
  * them.
  */
final case class BBox(x: Int, y: Int, w: Int, h: Int) {
  def x2: Int = x + w
  def y2: Int = y + h
  def area: Long = w.toLong * h.toLong

  /** Edge midpoints as (x, y) doubles, used throughout the reading-order
    * pipeline (reference: routils/neighbor_utils.py:11-33). */
  def topMid: Pt    = Pt((x + x2) / 2.0, y.toDouble)
  def bottomMid: Pt = Pt((x + x2) / 2.0, y2.toDouble)
  def leftMid: Pt   = Pt(x.toDouble, (y + y2) / 2.0)
  def rightMid: Pt  = Pt(x2.toDouble, (y + y2) / 2.0)
}

object BBox {
  /** (x1, y1, x2, y2) → BBox (reference: models.py:78-85). */
  def fromXyxy(x1: Int, y1: Int, x2: Int, y2: Int): BBox =
    BBox(x1, y1, x2 - x1, y2 - y1)
}

/** 2-D point (edge midpoint, center, ...). */
final case class Pt(x: Double, y: Double) {
  /** sqrt(dx²+dy²) — matches scipy's euclidean (the reference's metric)
    * and is ~5× faster than Math.hypot's over/underflow-safe path. */
  def dist(o: Pt): Double = {
    val dx = x - o.x
    val dy = y - o.y
    math.sqrt(dx * dx + dy * dy)
  }
}
