package graft.geo.index

/** From-scratch H3-style hexagonal cell hierarchy (SURVEY.md §2.9): a
  * pointy-top hex lattice in (lng, lat) degree space with axial coordinates
  * packed into an int64, aperture-7 size progression between resolutions
  * (edge shrinks by sqrt(7) per res like H3), k-ring neighborhoods for kNN
  * expansion (BASELINE.json:6 "kNN via H3 k-ring expansion"), and exact
  * closed-form bbox covers for the point-in-polygon join.
  *
  * No icosahedron: the published H3 design motivates the hex topology (6
  * equidistant neighbors → clean k-ring distance semantics); the projection
  * here is deliberately the simple equirectangular one so that covers and
  * ring distance bounds are exactly computable — correctness of joins/kNN
  * comes from the refinement pass, not the projection.
  *
  * id layout: [res:4][q+2^29 : 30][r+2^29 : 30].
  */
object HexCell {

  val MinRes = 0
  val MaxRes = 15
  private val Bias = 1L << 29
  private val Sqrt3 = math.sqrt(3.0)

  /** Hex circumradius ("size") in degrees at a resolution: 45° / sqrt(7)^res.
    * res 7 ≈ 0.050° (≈5.5 km), res 10 ≈ 0.0027° (≈300 m). */
  def sizeDeg(res: Int): Double = 45.0 / math.pow(math.sqrt(7.0), res)

  /** Axial (q, r) of the hex containing planar point (x=lng, y=lat). */
  def toAxial(x: Double, y: Double, res: Int): (Long, Long) = {
    val s  = sizeDeg(res)
    val qf = (Sqrt3 / 3.0 * x - 1.0 / 3.0 * y) / s
    val rf = (2.0 / 3.0 * y) / s
    cubeRound(qf, rf)
  }

  /** Standard cube rounding of fractional axial coords. */
  private def cubeRound(qf: Double, rf: Double): (Long, Long) = {
    val sf = -qf - rf
    var q = math.round(qf); var r = math.round(rf); val sr = math.round(sf)
    val dq = math.abs(q - qf); val dr = math.abs(r - rf); val ds = math.abs(sr - sf)
    if (dq > dr && dq > ds) q = -r - sr
    else if (dr > ds) r = -q - sr
    (q, r)
  }

  /** Planar (x, y) center of axial (q, r). */
  def center(q: Long, r: Long, res: Int): (Double, Double) = {
    val s = sizeDeg(res)
    (s * (Sqrt3 * q + Sqrt3 / 2.0 * r), s * (1.5 * r))
  }

  def pack(q: Long, r: Long, res: Int): Long = {
    require(res >= MinRes && res <= MaxRes, s"res $res")
    (res.toLong << 60) | ((q + Bias) << 30) | (r + Bias)
  }
  def res(id: Long): Int  = ((id >>> 60) & 0xf).toInt
  def q(id: Long): Long   = ((id >>> 30) & ((1L << 30) - 1)) - Bias
  def r(id: Long): Long   = (id & ((1L << 30) - 1)) - Bias

  /** Cell id containing (lng, lat) at `res`. */
  def cellId(lng: Double, lat: Double, res: Int): Long = {
    val (qq, rr) = toAxial(lng, lat, res)
    pack(qq, rr, res)
  }

  /** Center of a cell in (lng, lat). */
  def centerLngLat(id: Long): (Double, Double) = center(q(id), r(id), res(id))

  /** Parent = cell at res-1 containing this cell's center (approximate
    * containment, as in real H3 where children are not strict subsets).
    */
  def parent(id: Long): Long = {
    val rs = res(id)
    require(rs > MinRes, "res 0 cell has no parent")
    val (x, y) = centerLngLat(id)
    cellId(x, y, rs - 1)
  }

  /** Hex (grid) distance between two same-res cells. */
  def gridDistance(a: Long, b: Long): Long = {
    require(res(a) == res(b), "gridDistance requires equal res")
    val dq = q(a) - q(b); val dr = r(a) - r(b); val dsS = -dq - dr
    (math.abs(dq) + math.abs(dr) + math.abs(dsS)) / 2
  }

  private val RingDirs = Array((1L, 0L), (1L, -1L), (0L, -1L), (-1L, 0L), (-1L, 1L), (0L, 1L))

  /** All cells at grid distance exactly k (the "hollow ring"); k=0 → self. */
  def ring(id: Long, k: Int): Array[Long] = {
    val rs = res(id)
    if (k == 0) return Array(id)
    val out = new Array[Long](6 * k)
    var idx = 0
    // start k steps in direction 4 (-1, 1), then walk the 6 sides
    var cq = q(id) + RingDirs(4)._1 * k
    var cr = r(id) + RingDirs(4)._2 * k
    var side = 0
    while (side < 6) {
      var step = 0
      while (step < k) {
        out(idx) = pack(cq, cr, rs); idx += 1
        cq += RingDirs(side)._1; cr += RingDirs(side)._2
        step += 1
      }
      side += 1
    }
    out
  }

  /** All cells at grid distance <= k (filled disk), 1 + 3k(k+1) cells. */
  def kRing(id: Long, k: Int): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0
    while (i <= k) { out ++= ring(id, i); i += 1 }
    out.result()
  }

  /** Exact cover of lat/lng box (w,s,e,n): every cell whose hex could
    * contain a point of the box. Sound by construction: a point p in the box
    * maps to a cell whose CENTER is within one circumradius of p, so
    * enumerating all cells with centers in the box inflated by `size` is a
    * superset. Antimeridian-wrapped boxes (w > e) are split by the caller.
    */
  def coverBox(w: Double, s: Double, e: Double, n: Double, res: Int): Array[Long] = {
    val sz   = sizeDeg(res)
    val out  = Array.newBuilder[Long]
    val yLo  = s - sz; val yHi = n + sz
    val xLo  = w - sz; val xHi = e + sz
    // pointy-top rows: center y = 1.5 * size * r
    val rMin = math.floor(yLo / (1.5 * sz)).toLong
    val rMax = math.ceil(yHi / (1.5 * sz)).toLong
    var rr = rMin
    while (rr <= rMax) {
      // center x = size * sqrt3 * (q + r/2)
      val qMin = math.floor(xLo / (sz * Sqrt3) - rr / 2.0).toLong
      val qMax = math.ceil(xHi / (sz * Sqrt3) - rr / 2.0).toLong
      var qq = qMin
      while (qq <= qMax) {
        out += pack(qq, rr, res)
        qq += 1
      }
      rr += 1
    }
    out.result()
  }
}
