package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Point-in-polygon kernel shared by the interpreted and generated
  * code paths of [[StContains]].
  *
  * Semantics (SURVEY.md H3): even-odd ray casting over ALL rings —
  * exterior ring plus holes — with points exactly on a ring edge
  * counted as inside. The reference delegates to the unvendored
  * `indexed-geo` dep (/root/reference/geo-indices.js:2,48), whose edge
  * semantics are unobservable; ours are pinned by golden tests.
  *
  * Methods take Catalyst `ArrayData` directly so generated code can
  * call them statically without materializing Scala collections:
  * rings = Array(Array(Array(Double))) (GeoJSON Polygon coordinates),
  * point = Array(Double) of [x, y].
  */
object GeoUtil {

  def contains(rings: ArrayData, point: ArrayData): Boolean = {
    if (point.numElements() < 2) return false
    val px = point.getDouble(0)
    val py = point.getDouble(1)
    containsXY(rings, px, py)
  }

  def containsXY(rings: ArrayData, px: Double, py: Double): Boolean = {
    var crossings = 0
    var r = 0
    val nRings = rings.numElements()
    while (r < nRings) {
      val ring = rings.getArray(r)
      val n = ring.numElements()
      var i = 0
      var j = n - 1
      while (i < n) {
        val pi = ring.getArray(i)
        val pj = ring.getArray(j)
        val xi = pi.getDouble(0); val yi = pi.getDouble(1)
        val xj = pj.getDouble(0); val yj = pj.getDouble(1)
        if (onSegment(px, py, xi, yi, xj, yj)) return true
        if ((yi > py) != (yj > py)) {
          val xCross = (xj - xi) * (py - yi) / (yj - yi) + xi
          if (px < xCross) crossings += 1
        }
        j = i
        i += 1
      }
      r += 1
    }
    (crossings & 1) == 1
  }

  /** Exact on-edge test: collinear and within the segment's bbox. */
  private def onSegment(px: Double, py: Double, x1: Double, y1: Double,
      x2: Double, y2: Double): Boolean = {
    val cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    if (cross != 0.0) return false
    px >= math.min(x1, x2) && px <= math.max(x1, x2) &&
      py >= math.min(y1, y2) && py <= math.max(y1, y2)
  }

  /** Spread the low 32 bits of v to the even bit positions of a long
    * (the standard mask-shift interleave ladder — O(1), branch-free).
    */
  def spreadBits(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Morton (Z-order) interleave of two non-negative 32-bit cell
    * coordinates: x's bits land on even positions, y's on odd. Nearby
    * (x, y) cells map to nearby z values, which is what makes sorting
    * by z a spatial-locality-preserving data layout.
    */
  def morton(x: Long, y: Long): Long =
    spreadBits(x) | (spreadBits(y) << 1)
}
