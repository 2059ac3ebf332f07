package graft.geo.index

/** From-scratch S2-style hierarchical cell index (SURVEY.md §2.9, §7.1 step
  * 5): cube-face quadtree with Hilbert-curve ordering, packed into an int64
  * whose trailing-one encoding makes every cell's children a contiguous id
  * range — the property that gives Parquet min/max pruning and range-based
  * partition pruning for free (BASELINE.json:6 "stored as int64 columns for
  * partition pruning").
  *
  * Design follows the published S2 geometry scheme (cube faces, quadratic
  * s↔u transform for area uniformity, Hilbert order, trailing-bit level
  * encoding); the code is written from scratch against that public design.
  *
  * id layout: [face:3][hilbert pos: 2*level bits][1][0...]; MaxLevel = 30.
  */
object S2Cell {

  val MaxLevel = 30

  // --------------------------------------------------------------- lat/lng → id

  /** Unit-sphere xyz from degrees. */
  @inline private def toXyz(lngDeg: Double, latDeg: Double): (Double, Double, Double) = {
    val lng = math.toRadians(lngDeg)
    val lat = math.toRadians(latDeg)
    val c   = math.cos(lat)
    (c * math.cos(lng), c * math.sin(lng), math.sin(lat))
  }

  /** Face = axis with the largest absolute component. */
  private def face(x: Double, y: Double, z: Double): Int = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    if (ax >= ay && ax >= az) { if (x >= 0) 0 else 3 }
    else if (ay >= ax && ay >= az) { if (y >= 0) 1 else 4 }
    else { if (z >= 0) 2 else 5 }
  }

  /** Gnomonic (u,v) on the given face, each in [-1, 1]. */
  private def faceUv(f: Int, x: Double, y: Double, z: Double): (Double, Double) = f match {
    case 0 => (y / x, z / x)
    case 1 => (-x / y, z / y)
    case 2 => (-x / z, -y / z)
    case 3 => (z / x, y / x)
    case 4 => (z / y, -x / y)
    case 5 => (-y / z, x / z)
  }

  /** Inverse of faceUv: unit-length not required by callers. */
  private def faceUvToXyz(f: Int, u: Double, v: Double): (Double, Double, Double) = f match {
    case 0 => (1, u, v)
    case 1 => (-u, 1, v)
    case 2 => (-u, -v, 1)
    case 3 => (-1, -v, -u)
    case 4 => (v, -1, -u)
    case 5 => (-v, u, -1)
  }

  /** Quadratic s↔u transform (area-uniformizing). */
  @inline def uvToSt(u: Double): Double =
    if (u >= 0) 0.5 * math.sqrt(1.0 + 3.0 * u) else 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * u)
  @inline def stToUv(s: Double): Double =
    if (s >= 0.5) (1.0 / 3.0) * (4.0 * s * s - 1.0) else (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))

  /** Hilbert index of (i, j) on a 2^level × 2^level grid (MSB-first standard
    * rotation algorithm — self-similar, so level-l prefixes nest).
    */
  private def hilbert(level: Int, i0: Long, j0: Long): Long = {
    var rx = 0L; var ry = 0L; var d = 0L
    var x = i0; var y = j0
    var s = 1L << (level - 1)
    while (s > 0) {
      rx = if ((x & s) > 0) 1 else 0
      ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      // rotate
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Inverse Hilbert: position d → (i, j) at the given level. */
  private def hilbertInv(level: Int, d0: Long): (Long, Long) = {
    var x = 0L; var y = 0L; var d = d0
    var s = 1L
    while (s < (1L << level)) {
      val rx = 1L & (d / 2)
      val ry = 1L & (d ^ rx)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      x += s * rx
      y += s * ry
      d /= 4
      s <<= 1
    }
    (x, y)
  }

  /** Cell id containing (lng, lat) at `level`. */
  def cellId(lngDeg: Double, latDeg: Double, level: Int): Long = {
    require(level >= 0 && level <= MaxLevel, s"level $level")
    val (x, y, z) = toXyz(lngDeg, latDeg)
    val f         = face(x, y, z)
    val (u, v)    = faceUv(f, x, y, z)
    val n         = 1L << level
    val i = math.min(n - 1, math.max(0L, math.floor(uvToSt(u) * n).toLong))
    val j = math.min(n - 1, math.max(0L, math.floor(uvToSt(v) * n).toLong))
    val pos = if (level == 0) 0L else hilbert(level, i, j)
    fromFacePosLevel(f, pos, level)
  }

  def fromFacePosLevel(f: Int, pos: Int, level: Int): Long =
    fromFacePosLevel(f, pos.toLong, level)
  def fromFacePosLevel(f: Int, pos: Long, level: Int): Long = {
    val shift = 2 * (MaxLevel - level)
    (f.toLong << 61) | (pos << (shift + 1)) | (1L << shift)
  }

  def faceOf(id: Long): Int = ((id >>> 61) & 0x7).toInt
  def lsb(id: Long): Long   = id & -id
  def level(id: Long): Int  = MaxLevel - java.lang.Long.numberOfTrailingZeros(id) / 2
  def pos(id: Long): Long   = (id & ((1L << 61) - 1)) >>> (java.lang.Long.numberOfTrailingZeros(id) + 1)

  /** Parent at the given level (must be <= level(id)). */
  def parent(id: Long, lvl: Int): Long = {
    val newLsb = 1L << (2 * (MaxLevel - lvl))
    (id & -newLsb) | newLsb
  }

  /** Child id range [min, max] at MaxLevel granularity — all descendants of
    * `id` have ids in this inclusive range (the partition-pruning property).
    */
  def rangeMin(id: Long): Long = id - (lsb(id) - 1)
  def rangeMax(id: Long): Long = id + (lsb(id) - 1)

  /** Normalize a union of covers to disjoint outermost cells: per-ring boxes
    * overlap (e.g. shell + hole, multipolygon parts), so the union can hold
    * a cell AND its ancestor; only the outermost survive so the ancestor-
    * explode join emits each (point, polygon) pair at most once. Quadtree
    * ranges are nested-or-disjoint, so one rangeMin sweep suffices — ties
    * sort ancestor-first (smaller level): a descendant in the leftmost child
    * chain shares rangeMin with its ancestor and must lose to it.
    * Returns ascending ids.
    */
  def normalizeCover(cells: Array[Long]): Array[Long] = {
    val sorted = cells.sortBy(c => (rangeMin(c), level(c)))
    val out    = Array.newBuilder[Long]
    var coveredUntil = Long.MinValue
    sorted.foreach { c =>
      if (rangeMax(c) > coveredUntil) {
        out += c
        coveredUntil = rangeMax(c)
      }
    }
    out.result().sorted
  }

  /** The four children of a cell. */
  def children(id: Long): Array[Long] = {
    val l   = lsb(id)
    val cl  = l >>> 2
    require(cl > 0, "cannot subdivide a leaf cell")
    Array(id - 3 * cl, id - cl, id + cl, id + 3 * cl)
  }

  /** Center of the cell in (lngDeg, latDeg). */
  def center(id: Long): (Double, Double) = {
    val lvl     = level(id)
    val f       = faceOf(id)
    val (i, j)  = if (lvl == 0) (0L, 0L) else hilbertInv(lvl, pos(id))
    val n       = (1L << lvl).toDouble
    val u       = stToUv((i + 0.5) / n)
    val v       = stToUv((j + 0.5) / n)
    val (x, y, z) = faceUvToXyz(f, u, v)
    (math.toDegrees(math.atan2(y, x)), math.toDegrees(math.atan2(z, math.sqrt(x * x + y * y))))
  }

  // -------------------------------------------------- exact lat/lng bounds

  /** Latitude/longitude bound of a cell. `lngLo > lngHi` encodes a bound
    * wrapping the antimeridian; `full` means all longitudes (polar cells
    * containing a pole). Everything in degrees.
    */
  final case class Bound(latLo: Double, latHi: Double, lngLo: Double, lngHi: Double, fullLng: Boolean) {
    def intersectsBox(w: Double, s: Double, e: Double, n: Double): Boolean = {
      if (latHi < s || latLo > n) return false
      if (fullLng) return true
      // both [lngLo,lngHi] (maybe wrapped) and [w,e] (maybe wrapped) in degrees
      def norm(x: Double) = { var v = x % 360.0; if (v > 180) v -= 360; if (v < -180) v += 360; v }
      val (a1, a2) = (norm(lngLo), norm(lngHi))
      val (b1, b2) = (norm(w), norm(e))
      def contains(lo: Double, hi: Double, x: Double) =
        if (lo <= hi) x >= lo && x <= hi else x >= lo || x <= hi
      contains(a1, a2, b1) || contains(a1, a2, b2) || contains(b1, b2, a1) || contains(b1, b2, a2)
    }
  }

  /** Exact rect bound of a cell (derivation in scaladoc of each case):
    * longitudes/latitudes of the gnomonic rect are monotone or have a single
    * interior extremum at u=0/v=0/closest-point, all handled analytically —
    * guaranteeing cover soundness (no sampling).
    */
  def bound(id: Long): Bound = {
    val lvl    = level(id)
    val f      = faceOf(id)
    val (i, j) = if (lvl == 0) (0L, 0L) else hilbertInv(lvl, pos(id))
    val n      = (1L << lvl).toDouble
    val u0 = stToUv(i / n); val u1 = stToUv((i + 1) / n)
    val v0 = stToUv(j / n); val v1 = stToUv((j + 1) / n)
    boundUv(f, u0, u1, v0, v1)
  }

  private def deg(r: Double) = math.toDegrees(r)

  private[index] def boundUv(f: Int, u0: Double, u1: Double, v0: Double, v1: Double): Bound = {
    // helper: lat over equator-style faces = atan2(w, sqrt(1 + t^2)) where t
    // is the coordinate along the equator direction and w the vertical one.
    def latRangeEq(w0: Double, w1: Double, t0: Double, t1: Double): (Double, Double) = {
      val ts = if (t0 <= 0 && 0 <= t1) Array(t0, t1, 0.0) else Array(t0, t1)
      var lo = Double.PositiveInfinity; var hi = Double.NegativeInfinity
      for (t <- ts) {
        val r  = math.sqrt(1 + t * t)
        val a0 = math.atan2(w0, r); val a1 = math.atan2(w1, r)
        lo = math.min(lo, math.min(a0, a1)); hi = math.max(hi, math.max(a0, a1))
      }
      (deg(lo), deg(hi))
    }
    f match {
      case 0 => // P = (1, u, v): lng = atan(u); lat = atan2(v, sqrt(1+u^2))
        val (latLo, latHi) = latRangeEq(v0, v1, u0, u1)
        Bound(latLo, latHi, deg(math.atan(u0)), deg(math.atan(u1)), fullLng = false)
      case 1 => // P = (-u, 1, v): lng = atan2(1, -u), increasing in u
        val (latLo, latHi) = latRangeEq(v0, v1, u0, u1)
        Bound(latLo, latHi, deg(math.atan2(1, -u0)), deg(math.atan2(1, -u1)), fullLng = false)
      case 3 => // P = (-1, -v, -u): lng = atan2(-v, -1) (wraps ±180), lat = atan2(-u, sqrt(1+v^2))
        val (latLo, latHi) = latRangeEq(-u1, -u0, v0, v1)
        // arc runs ccw from angle(v0) to angle(v1); when the cell straddles
        // v=0 this yields lo > hi, the wrapped (±180-crossing) encoding.
        Bound(latLo, latHi, deg(math.atan2(-v0, -1)), deg(math.atan2(-v1, -1)), fullLng = false)
      case 4 => // P = (v, -1, -u): lng = atan2(-1, v), increasing in v; lat = atan2(-u, sqrt(1+v^2))
        val (latLo, latHi) = latRangeEq(-u1, -u0, v0, v1)
        Bound(latLo, latHi, deg(math.atan2(-1, v0)), deg(math.atan2(-1, v1)), fullLng = false)
      case 2 => // P = (-u, -v, 1): polar; lat = atan2(1, r), r = dist of (u,v) rect from origin
        val containsPole = u0 <= 0 && 0 <= u1 && v0 <= 0 && 0 <= v1
        val rMin = math.hypot(clampToZero(u0, u1), clampToZero(v0, v1))
        val rMax = math.max(math.max(math.hypot(u0, v0), math.hypot(u0, v1)),
                            math.max(math.hypot(u1, v0), math.hypot(u1, v1)))
        val latHi = deg(math.atan2(1, rMin)) // rMin=0 → 90
        val latLo = deg(math.atan2(1, rMax))
        if (containsPole) Bound(latLo, 90.0, -180, 180, fullLng = true)
        else {
          val (lo, hi) = angleArc(Array((-u0, -v0), (-u0, -v1), (-u1, -v0), (-u1, -v1)))
          Bound(latLo, latHi, lo, hi, fullLng = false)
        }
      case 5 => // P = (-v, u, -1): polar south; lat = -atan2(1, r)
        val containsPole = u0 <= 0 && 0 <= u1 && v0 <= 0 && 0 <= v1
        val rMin = math.hypot(clampToZero(u0, u1), clampToZero(v0, v1))
        val rMax = math.max(math.max(math.hypot(u0, v0), math.hypot(u0, v1)),
                            math.max(math.hypot(u1, v0), math.hypot(u1, v1)))
        val latLo = -deg(math.atan2(1, rMin))
        val latHi = -deg(math.atan2(1, rMax))
        if (containsPole) Bound(-90.0, latHi, -180, 180, fullLng = true)
        else {
          val (lo, hi) = angleArc(Array((-v0, u0), (-v0, u1), (-v1, u0), (-v1, u1)))
          Bound(latLo, latHi, lo, hi, fullLng = false)
        }
    }
  }

  @inline private def clampToZero(lo: Double, hi: Double): Double =
    if (lo <= 0 && 0 <= hi) 0.0 else math.min(math.abs(lo), math.abs(hi))

  /** Smallest arc (span <= 180°, guaranteed for a convex rect not containing
    * the origin) covering the directions of the given (x, y) points.
    * Returns (lo, hi) in degrees, wrapped (lo > hi) when crossing ±180.
    */
  private def angleArc(pts: Array[(Double, Double)]): (Double, Double) = {
    val angs = pts.map { case (x, y) => deg(math.atan2(y, x)) }
    // try each angle as the arc start; pick the start minimizing the span
    var best: (Double, Double) = null
    var bestSpan = Double.PositiveInfinity
    for (a <- angs) {
      var maxFwd = 0.0
      for (b <- angs) {
        var d = b - a
        while (d < 0) d += 360
        if (d > maxFwd) maxFwd = d
      }
      if (maxFwd < bestSpan) {
        bestSpan = maxFwd
        var hi = a + maxFwd
        if (hi > 180) hi -= 360
        best = (a, hi)
      }
    }
    best
  }

  // ----------------------------------------------------------------- cover

  /** All level-`level` cells whose exact rect bound intersects the lat/lng
    * box (w,s,e,n) (w>e = antimeridian-wrapped). Sound: a cell containing
    * any point of the box always intersects it. Recursive quadtree descent —
    * work is proportional to the boundary, not the grid.
    */
  def coverBox(w: Double, s: Double, e: Double, n: Double, level: Int): Array[Long] = {
    val out = Array.newBuilder[Long]
    def recurse(id: Long): Unit = {
      val b = bound(id)
      if (!b.intersectsBox(w, s, e, n)) return
      if (S2Cell.level(id) == level) out += id
      else children(id).foreach(recurse)
    }
    var f = 0
    while (f < 6) { recurse(fromFacePosLevel(f, 0L, 0)); f += 1 }
    out.result()
  }

  /** The point's cell at every level in [minLevel, maxLevel] — the point
    * side of the multi-level cover join. */
  def ancestors(lng: Double, lat: Double, minLevel: Int, maxLevel: Int): Array[Long] = {
    val leaf = cellId(lng, lat, maxLevel)
    val out  = new Array[Long](maxLevel - minLevel + 1)
    var l = minLevel
    while (l <= maxLevel) { out(l - minLevel) = parent(leaf, l); l += 1 }
    out
  }

  /** Multi-level cover of the lat/lng box: descend the quadtree, but emit a
    * cell WITHOUT descending when its rect bound lies fully inside the box —
    * interior area costs O(1) cells per level instead of O(area/cellsize²),
    * so a continent-sized box covers in O(perimeter · levels) cells. Sound:
    * every point of the box lies in some emitted cell's range (cells are
    * emitted exactly where the fixed-level recursion would have descended).
    * Emitted levels span [minLevel, maxLevel].
    */
  def coverBoxMulti(w: Double, s: Double, e: Double, n: Double,
                    minLevel: Int, maxLevel: Int): Array[Long] = {
    val out = Array.newBuilder[Long]
    def insideBox(b: Bound): Boolean = {
      if (b.fullLng) return false
      if (b.latLo < s || b.latHi > n) return false
      // circle-interval containment via (start, span): cell ⊆ box iff the
      // cell's start sits within the box arc AND fits before its end
      def norm(x: Double) = { var v = x % 360.0; if (v > 180) v -= 360; if (v < -180) v += 360; v }
      def span(lo: Double, hi: Double) = { val d = (hi - lo) % 360.0; if (d < 0) d + 360 else d }
      val cellSpan = span(norm(b.lngLo), norm(b.lngHi))
      // a [-180,180]-wide box normalizes to span 0 — treat >=360° as full
      val boxSpan  = if (e - w >= 360.0 - 1e-12) 360.0 else span(norm(w), norm(e))
      val offset   = span(norm(w), norm(b.lngLo))
      offset + cellSpan <= boxSpan
    }
    def recurse(id: Long): Unit = {
      val b   = bound(id)
      val lvl = level(id)
      if (!b.intersectsBox(w, s, e, n)) return
      if (lvl >= maxLevel || (lvl >= minLevel && insideBox(b))) out += id
      else children(id).foreach(recurse)
    }
    var f = 0
    while (f < 6) { recurse(fromFacePosLevel(f, 0L, 0)); f += 1 }
    out.result()
  }

  /** Level whose cell edge is roughly half the larger box dimension. */
  def levelForBox(w: Double, s: Double, e: Double, n: Double): Int = {
    val dLng = if (e >= w) e - w else e - w + 360
    val dLat = n - s
    val span = math.max(1e-9, math.max(dLng, dLat))
    // level-l cell edge ≈ 90° / 2^l on a face
    val lvl = math.ceil(math.log(2.0 * 90.0 / span) / math.log(2.0)).toInt
    math.max(0, math.min(MaxLevel, lvl))
  }
}
