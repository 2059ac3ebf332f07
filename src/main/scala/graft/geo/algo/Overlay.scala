package graft.geo.algo

import scala.collection.mutable

/** General polygon overlay — `st_intersection` / `st_difference` /
  * `st_union` for ARBITRARY (concave, holed, multi-part) polygon pairs:
  * the construction operator the axis-box ([[GeoAlgo.clipBox]] /
  * [[GeoAlgo.eraseBox]]) and convex-window ([[GeoAlgo.clipConvex]]) family
  * cannot express.
  *
  * Algorithm: SLAB (trapezoidal) decomposition rather than a
  * Greiner–Hormann vertex walk — GH's pathological cases (shared edges,
  * vertex-on-edge, collinear overlaps: exactly what rectilinear corpora
  * and re-tiled geometries produce) are non-issues here because the result
  * region is re-derived from even-odd PARITY per slab, never from pairing
  * up crossing points:
  *
  *  1. both operands' rings are unwrapped ([[GeoAlgo.unwrapParts]]) and
  *     reduced to non-horizontal edge soups (even-odd semantics over ALL
  *     rings of an operand — the engine's `pointInRings` convention; valid
  *     inputs with interior-disjoint parts are unaffected);
  *  2. the y-axis is cut at every vertex y and every A×B edge-crossing y;
  *     inside one slab no two edges cross, so the active edges are totally
  *     ordered by their x at the slab midline;
  *  3. a left-to-right parity walk (inA, inB toggles) emits one trapezoid
  *     per maximal interval where the boolean predicate holds
  *     (`inA && inB` / `inA && !inB` / `inA || inB`);
  *  4. trapezoid corners are SNAPPED per y-level (1e-9° clustering — the
  *     only step where two floats meaning the same point can differ in the
  *     last ulp is an A×B crossing evaluated from both edges), horizontal
  *     cell edges are split at every corner breakpoint of the level and
  *     cancelled pairwise (interior walls vanish, boundary survives);
  *  5. surviving directed edges relink into rings by the sharpest-left-turn
  *     rule (interior stays on the left), giving CCW shells and CW holes
  *     directly; collinear trapezoid seams collapse; holes attach to the
  *     smallest containing shell ([[GeoAlgo.areaM2]]'s |shell| − Σ|holes|
  *     per-part convention depends on this grouping).
  *
  * Cost: O(E² + S·E log E) per pair for E total edges and S slabs — an
  * exact per-candidate-pair refinement kernel (like
  * [[GeoAlgo.intersectsGeoms]]), not a scan primitive; at 100 TB it runs
  * inside a row-local projection after the cell-cover equi-join has
  * already reduced pairs, so it shuffles nothing.
  *
  * Antimeridian: operands are unwrapped; B is additionally tried at ±360°
  * translates — intersection/difference consider every overlapping
  * translate (intersection collects pieces, difference subtracts them in
  * sequence); union aligns B once by the translate closest to A's frame.
  * Output coordinates stay in A's unwrapped frame. Altitude (z) is NOT
  * propagated — overlay output is 2D.
  *
  * The reference library ships no geometry construction at all (pure
  * codec/optics: /root/reference/src/geojson/geojson.ml) — this operator
  * is part of the engine's beyond-reference analytical surface.
  */
object Overlay {

  val OpIntersection = 0
  val OpDifference   = 1
  val OpUnion        = 2

  /** Corner-snap / sliver tolerance, degrees (~0.1 mm at the equator). */
  private final val Eps = 1e-9

  // ------------------------------------------------------------ edge soup

  /** Parallel arrays of non-horizontal edges, each oriented so y1 < y2;
    * `sgn` keeps the ORIGINAL direction (+1 upward, -1 downward) for
    * winding-count predicates (even-odd parity ignores it). */
  private final class Edges {
    var n  = 0
    var x1 = new Array[Double](64); var y1 = new Array[Double](64)
    var x2 = new Array[Double](64); var y2 = new Array[Double](64)
    var own = new Array[Int](64);   var sgn = new Array[Int](64)

    def add(ax0: Double, ay0: Double, bx0: Double, by0: Double, owner: Int): Unit = {
      // normalize -0.0 → +0.0: ring relinking keys vertices by exact
      // (Double, Double) equality and -0.0 hashes differently
      val ax = ax0 + 0.0; val ay = ay0 + 0.0
      val bx = bx0 + 0.0; val by = by0 + 0.0
      if (ay == by) return // horizontal edges never toggle midline parity
      if (n == x1.length) {
        x1 = java.util.Arrays.copyOf(x1, n * 2); y1 = java.util.Arrays.copyOf(y1, n * 2)
        x2 = java.util.Arrays.copyOf(x2, n * 2); y2 = java.util.Arrays.copyOf(y2, n * 2)
        own = java.util.Arrays.copyOf(own, n * 2); sgn = java.util.Arrays.copyOf(sgn, n * 2)
      }
      if (ay < by) { x1(n) = ax; y1(n) = ay; x2(n) = bx; y2(n) = by; sgn(n) = 1 }
      else         { x1(n) = bx; y1(n) = by; x2(n) = ax; y2(n) = ay; sgn(n) = -1 }
      own(n) = owner
      n += 1
    }

    /** Canonical x of edge i at height y: exact endpoints, one shared
      * interpolation formula everywhere else — so the same (edge, y) pair
      * is bit-identical wherever it is evaluated. */
    def xAt(i: Int, y: Double): Double =
      if (y == y1(i)) x1(i)
      else if (y == y2(i)) x2(i)
      else x1(i) + (y - y1(i)) * (x2(i) - x1(i)) / (y2(i) - y1(i))
  }

  /** Append every edge of every CLOSED ring in [r0, r1) to the soup, with
    * `shift` added to longitudes. */
  private def addRingEdges(es: Edges, ux: Array[Double], p: Array[Int], r: Array[Int],
                           r0: Int, r1: Int, owner: Int, shift: Double): Unit = {
    var ri = r0
    while (ri < r1) {
      var i = r(ri)
      val last = r(ri + 1) - 1 // rings carry the closing duplicate vertex
      while (i < last) {
        es.add(ux(p(i)) + shift, ux(p(i) + 1), ux(p(i + 1)) + shift, ux(p(i + 1) + 1), owner)
        i += 1
      }
      ri += 1
    }
  }

  // ------------------------------------------------------ trapezoid cells

  /** One predicate-true trapezoid: corners at the two bounding slab levels. */
  private final class Cell(val y0: Double, val y1: Double,
                           var xl0: Double, var xl1: Double,
                           var xr0: Double, var xr1: Double)

  /** Decompose the predicate-true region of the edge soup into trapezoids.
    * `pred(cntA, cntB)` receives the SIGNED winding counts per owner —
    * even-odd callers test `cnt % 2 != 0` (sign-independent), winding
    * callers (n-ary union) test `cnt != 0`. */
  private def cells(es: Edges, pred: (Int, Int) => Boolean,
                    crossWithin: Boolean = false): mutable.ArrayBuffer[Cell] = {
    val out = new mutable.ArrayBuffer[Cell]
    if (es.n == 0) return out
    // event levels: every endpoint y + every cross-owner crossing y
    val ys = new mutable.ArrayBuffer[Double]
    var i = 0
    while (i < es.n) { ys += es.y1(i); ys += es.y2(i); i += 1 }
    i = 0
    while (i < es.n) {
      var j = i + 1
      while (j < es.n) {
        if ((crossWithin || es.own(i) != es.own(j)) &&
            es.y1(i) < es.y2(j) && es.y1(j) < es.y2(i)) {
          val d1x = es.x2(i) - es.x1(i); val d1y = es.y2(i) - es.y1(i)
          val d2x = es.x2(j) - es.x1(j); val d2y = es.y2(j) - es.y1(j)
          val den = d1x * d2y - d1y * d2x
          if (den != 0.0) {
            val rx = es.x1(j) - es.x1(i); val ry = es.y1(j) - es.y1(i)
            val t = (rx * d2y - ry * d2x) / den
            val u = (rx * d1y - ry * d1x) / den
            if (t >= 0.0 && t <= 1.0 && u >= 0.0 && u <= 1.0)
              ys += es.y1(i) + t * d1y
          }
        }
        j += 1
      }
      i += 1
    }
    val lv = ys.toArray
    java.util.Arrays.sort(lv)
    // active-edge scratch, reused per slab
    val idx = new Array[Int](es.n)
    val xm  = new Array[Double](es.n)
    var li = 0
    while (li < lv.length - 1) {
      val y0 = lv(li); val y1 = lv(li + 1)
      if (y1 > y0) {
        val ym = 0.5 * (y0 + y1)
        var na = 0
        var e = 0
        while (e < es.n) {
          if (es.y1(e) <= y0 && es.y2(e) >= y1) { idx(na) = e; xm(na) = es.xAt(e, ym); na += 1 }
          e += 1
        }
        // insertion sort by xm (slabs are small; avoids boxing)
        var a = 1
        while (a < na) {
          val ke = idx(a); val kx = xm(a)
          var b = a - 1
          while (b >= 0 && xm(b) > kx) { xm(b + 1) = xm(b); idx(b + 1) = idx(b); b -= 1 }
          xm(b + 1) = kx; idx(b + 1) = ke
          a += 1
        }
        var cntA = 0; var cntB = 0
        var openLe = -1  // left bounding edge of the open interval
        var openXm = 0.0
        var g = 0
        while (g < na) {
          // accumulate every edge in the eps-group starting at g
          val gx = xm(g)
          var h = g
          while (h < na && xm(h) - gx <= Eps) {
            if (es.own(idx(h)) == 0) cntA += es.sgn(idx(h)) else cntB += es.sgn(idx(h))
            h += 1
          }
          // MAXIMAL intervals, not per-edge-gap cells: an interior edge the
          // predicate survives (a covered operand boundary inside a union)
          // must NOT split the cell — the uncancellable side walls such
          // splits emit were the seam-split multi-part union bug
          val nowIn = h < na && pred(cntA, cntB)
          if (nowIn && openLe < 0) { openLe = idx(h - 1); openXm = xm(h - 1) }
          else if (!nowIn && openLe >= 0) {
            val re = idx(g) // first edge of the closing group bounds the region
            if (xm(g) - openXm > Eps)
              out += new Cell(y0, y1, es.xAt(openLe, y0), es.xAt(openLe, y1),
                                       es.xAt(re, y0), es.xAt(re, y1))
            openLe = -1
          }
          g = h
        }
      }
      li += 1
    }
    out
  }

  // --------------------------------------------------- snap + edge cancel

  /** Snap all cell corners per y-level (eps chain-clustering) and return
    * the per-level sorted breakpoint arrays. */
  private def snapCorners(cs: mutable.ArrayBuffer[Cell]): mutable.HashMap[Double, Array[Double]] = {
    val byLevel = new mutable.HashMap[Double, mutable.ArrayBuffer[Double]]
    cs.foreach { c =>
      byLevel.getOrElseUpdate(c.y0, new mutable.ArrayBuffer[Double]) += c.xl0 += c.xr0
      byLevel.getOrElseUpdate(c.y1, new mutable.ArrayBuffer[Double]) += c.xl1 += c.xr1
    }
    val snapped = new mutable.HashMap[Double, Array[Double]]
    byLevel.foreach { case (y, xs) =>
      val a = xs.toArray
      java.util.Arrays.sort(a)
      val reps = new mutable.ArrayBuffer[Double]
      var i = 0
      while (i < a.length) {
        if (reps.isEmpty || a(i) - a(i - 1) > Eps) reps += a(i)
        i += 1
      }
      snapped(y) = reps.toArray
    }
    def snap(y: Double, x: Double): Double = {
      val reps = snapped(y)
      var lo = 0; var hi = reps.length - 1
      while (lo < hi) { // greatest rep <= x — reps are chain minima, so this
        val mid = (lo + hi + 1) >>> 1 // is exactly x's own cluster rep
        if (reps(mid) <= x) lo = mid else hi = mid - 1
      }
      reps(lo)
    }
    cs.foreach { c =>
      c.xl0 = snap(c.y0, c.xl0); c.xr0 = snap(c.y0, c.xr0)
      c.xl1 = snap(c.y1, c.xl1); c.xr1 = snap(c.y1, c.xr1)
    }
    snapped
  }

  /** Directed boundary edges surviving cancellation: sides verbatim,
    * horizontals split at level breakpoints and net-summed. */
  private def boundaryEdges(cs: mutable.ArrayBuffer[Cell],
                            levels: mutable.HashMap[Double, Array[Double]])
      : (Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val sx = new mutable.ArrayBuffer[Double]; val sy = new mutable.ArrayBuffer[Double]
    val ex = new mutable.ArrayBuffer[Double]; val ey = new mutable.ArrayBuffer[Double]
    // net horizontal segments: key (y, xa, xb) with xa < xb
    val net = new mutable.HashMap[(Double, Double, Double), Int]
    def addH(y: Double, a: Double, b: Double, dir: Int): Unit = if (b > a) {
      val reps = levels(y)
      var i = java.util.Arrays.binarySearch(reps, a)
      if (i < 0) i = -i - 1 // a is always a rep; defensive
      while (i + 1 <= reps.length - 1 && reps(i) < b) {
        val p0 = reps(i); val p1 = reps(i + 1)
        val seg = (y, p0, math.min(p1, b))
        net(seg) = net.getOrElse(seg, 0) + dir
        i += 1
      }
    }
    cs.foreach { c =>
      addH(c.y0, c.xl0, c.xr0, +1) // bottom, left→right
      addH(c.y1, c.xl1, c.xr1, -1) // top, right→left
      // right side BR→TR, left side TL→BL (CCW, interior left)
      sx += c.xr0; sy += c.y0; ex += c.xr1; ey += c.y1
      sx += c.xl1; sy += c.y1; ex += c.xl0; ey += c.y0
    }
    net.foreach { case ((y, a, b), d) =>
      if (d > 0)      { sx += a; sy += y; ex += b; ey += y }
      else if (d < 0) { sx += b; sy += y; ex += a; ey += y }
    }
    (sx.toArray, sy.toArray, ex.toArray, ey.toArray)
  }

  // -------------------------------------------------------- ring relinking

  /** Link directed edges into closed rings with the sharpest-left-turn rule
    * (interior on the left ⇒ CCW shells, CW holes). Returns open vertex
    * rings. */
  private def linkRings(sx: Array[Double], sy: Array[Double],
                        ex: Array[Double], ey: Array[Double])
      : Seq[(Array[Double], Array[Double])] = {
    val n = sx.length
    val outgoing = new mutable.HashMap[(Double, Double), mutable.ArrayBuffer[Int]]
    var i = 0
    while (i < n) {
      outgoing.getOrElseUpdate((sx(i), sy(i)), new mutable.ArrayBuffer[Int]) += i
      i += 1
    }
    val used = new Array[Boolean](n)
    val rings = new mutable.ArrayBuffer[(Array[Double], Array[Double])]
    var s = 0
    while (s < n) {
      if (!used(s)) {
        val xs = new mutable.ArrayBuffer[Double]
        val ysb = new mutable.ArrayBuffer[Double]
        val startKey = (sx(s), sy(s))
        var cur = s
        var open = true
        while (open) {
          used(cur) = true
          xs += sx(cur); ysb += sy(cur)
          val vKey = (ex(cur), ey(cur))
          if (vKey == startKey) open = false
          else {
            val cands = outgoing.getOrElse(vKey, null)
            var best = -1; var bestAng = Double.MaxValue
            val din = math.atan2(ey(cur) - sy(cur), ex(cur) - sx(cur))
            if (cands != null) {
              var ci = 0
              while (ci < cands.length) {
                val cd = cands(ci)
                if (!used(cd)) {
                  var a = math.atan2(ey(cd) - sy(cd), ex(cd) - sx(cd)) - din
                  while (a <= 0) a += 2 * math.Pi
                  while (a > 2 * math.Pi) a -= 2 * math.Pi
                  // an exact U-turn is the worst choice, not the best
                  if (math.abs(a - math.Pi) < 1e-12) a = 2 * math.Pi
                  if (a < bestAng) { bestAng = a; best = cd }
                }
                ci += 1
              }
            }
            if (best < 0) { open = false; xs.clear(); ysb.clear() } // stranded (defensive)
            else cur = best
          }
        }
        if (xs.length >= 3) rings += ((xs.toArray, ysb.toArray))
      }
      s += 1
    }
    rings.toSeq
  }

  /** Drop consecutive duplicates and forward-collinear seam vertices (the
    * trapezoid splits along straight input edges). */
  private def simplifyRing(xs0: Array[Double], ys0: Array[Double])
      : (Array[Double], Array[Double]) = {
    var xs = xs0; var ys = ys0
    var changed = true
    while (changed && xs.length >= 3) {
      changed = false
      val kx = new mutable.ArrayBuffer[Double]; val ky = new mutable.ArrayBuffer[Double]
      val n = xs.length
      var i = 0
      while (i < n) {
        val p = (i + n - 1) % n; val q = (i + 1) % n
        val ax = xs(i) - xs(p); val ay = ys(i) - ys(p)
        val bx = xs(q) - xs(i); val by = ys(q) - ys(i)
        val cross = ax * by - ay * bx
        val la = math.sqrt(ax * ax + ay * ay); val lb = math.sqrt(bx * bx + by * by)
        // near-duplicate of the PREVIOUS vertex (a vertex-y event and a
        // crossing-y event for the same point can sit ~1 ulp apart across
        // two sliver-separated levels): drop this copy, keep the other
        val dup = la <= Eps
        // |cross| / (la + lb) ≈ distance of the vertex from the straight
        // line — absolute ~1e-9°, the snap tolerance. BOTH legs must be
        // real: a tiny leg makes any corner spuriously "collinear" and a
        // simultaneous pass would then remove the corner's BOTH copies
        val collinear = !dup && la > Eps && lb > Eps &&
          math.abs(cross) <= 1e-9 * (la + lb) && (ax * bx + ay * by) > 0
        if (dup || collinear) changed = true
        else { kx += xs(i); ky += ys(i) }
        i += 1
      }
      xs = kx.toArray; ys = ky.toArray
    }
    (xs, ys)
  }

  // the pair-array forms delegate to the flat implementations (ONE place
  // owns the shoelace and the even-odd boundary semantics); interleaving
  // is a cold-path allocation in stitch/classify only
  private def interleave(xs: Array[Double], ys: Array[Double]): Array[Double] = {
    val out = new Array[Double](xs.length * 2)
    var i = 0
    while (i < xs.length) { out(2 * i) = xs(i); out(2 * i + 1) = ys(i); i += 1 }
    out
  }

  private def signedArea2(xs: Array[Double], ys: Array[Double]): Double =
    flatSignedArea2(interleave(xs, ys))

  private def pointInRing(xs: Array[Double], ys: Array[Double],
                          px: Double, py: Double): Boolean =
    flatPointInRing(interleave(xs, ys), px, py)

  // ----------------------------------------------------------- planar core

  /** Run the boolean over two unwrapped edge soups; returns the parts
    * (shell, holes) of the result, empty when the region is empty. */
  private def planarParts(op: Int, es: Edges)
      : Seq[(Array[Double], Array[Double], Seq[(Array[Double], Array[Double])])] = {
    @inline def odd(c: Int) = (c & 1) != 0
    val pred: (Int, Int) => Boolean = op match {
      case OpIntersection => (a, b) => odd(a) && odd(b)
      case OpDifference   => (a, b) => odd(a) && !odd(b)
      case OpUnion        => (a, b) => odd(a) || odd(b)
    }
    stitchCells(cells(es, pred))
  }

  /** Snap + cancel + relink + simplify + classify the predicate-true cells
    * into (shell, holes) parts — the shared back half of the 2-operand
    * booleans and the n-ary winding union. */
  private def stitchCells(cs: mutable.ArrayBuffer[Cell])
      : Seq[(Array[Double], Array[Double], Seq[(Array[Double], Array[Double])])] = {
    if (cs.isEmpty) return Seq.empty
    val levels = snapCorners(cs)
    val (sx, sy, ex, ey) = boundaryEdges(cs, levels)
    val raw = linkRings(sx, sy, ex, ey)
    val shells = new mutable.ArrayBuffer[(Array[Double], Array[Double], Double)]
    val holes  = new mutable.ArrayBuffer[(Array[Double], Array[Double])]
    raw.foreach { case (xs0, ys0) =>
      val (xs, ys) = simplifyRing(xs0, ys0)
      if (xs.length >= 3) {
        val a2 = signedArea2(xs, ys)
        if (a2 > Eps * Eps) shells += ((xs, ys, a2))
        else if (a2 < -Eps * Eps) holes += ((xs, ys))
      }
    }
    if (shells.isEmpty) return Seq.empty
    val byArea = shells.sortBy(_._3) // ascending: smallest containing shell wins
    val partHoles = Array.fill(byArea.length)(new mutable.ArrayBuffer[(Array[Double], Array[Double])])
    holes.foreach { case (hx, hy) =>
      var assigned = false
      var vi = 0
      while (!assigned && vi < hx.length) {
        var si = 0
        while (!assigned && si < byArea.length) {
          if (pointInRing(byArea(si)._1, byArea(si)._2, hx(vi), hy(vi))) {
            partHoles(si) += ((hx, hy)); assigned = true
          }
          si += 1
        }
        vi += 1
      }
      // a hole contained by no shell is a cancellation artifact — drop it
    }
    byArea.zipWithIndex.map { case ((xs, ys, _), si) =>
      (xs, ys, partHoles(si).toSeq)
    }.toSeq
  }

  /** Pack parts into the engine's [[GeoAlgo.Clipped]] layout (2D, closed
    * rings, Polygon when single-part else MultiPolygon). */
  private def packParts(
      parts: Seq[(Array[Double], Array[Double], Seq[(Array[Double], Array[Double])])])
      : GeoAlgo.Clipped = {
    if (parts.isEmpty) return null
    val coords = Array.newBuilder[Double]
    val pos    = new mutable.ArrayBuffer[Int]
    val ring   = new mutable.ArrayBuffer[Int]
    val partO  = new mutable.ArrayBuffer[Int]
    var ci = 0
    var ri = 0
    parts.foreach { case (sxs, sys, hs) =>
      partO += ri
      ((sxs, sys) +: hs.map(h => (h._1, h._2))).foreach { case (xs, ys) =>
        ring += pos.length
        var k = 0
        while (k <= xs.length) { // <=: close the ring
          val p = k % xs.length
          pos += ci
          coords += xs(p); coords += ys(p); ci += 2
          k += 1
        }
        ri += 1
      }
    }
    partO += ri
    ring += pos.length
    pos += ci
    val gt = if (parts.length == 1) 5 else 6
    GeoAlgo.Clipped(gt, coords.result(), pos.toArray, ring.toArray, partO.toArray)
  }

  // -------------------------------------------------------------- wrapper

  private def xRange(ux: Array[Double], p: Array[Int]): (Double, Double) = {
    var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    var i = 0
    while (i < p.length - 1) {
      val x = ux(p(i)); if (x < mn) mn = x; if (x > mx) mx = x
      i += 1
    }
    (mn, mx)
  }

  private val Shifts = Array(0.0, 360.0, -360.0)

  /** Overlay of two AREAL packed geometries (gtype 5|6). Returns the packed
    * result, or null when the region is empty. Throws on non-areal input —
    * the expression layer routes point/line operands separately. */
  def overlayGeoms(op: Int,
                   gtA: Int, cA: Array[Double], pA: Array[Int], rA: Array[Int], fA: Array[Int],
                   gtB: Int, cB: Array[Double], pB: Array[Int], rB: Array[Int], fB: Array[Int])
      : GeoAlgo.Clipped = {
    require(gtA == 5 || gtA == 6, s"overlay: first operand must be areal (got gtype $gtA)")
    require(gtB == 5 || gtB == 6, s"overlay: second operand must be areal (got gtype $gtB)")
    val uA = GeoAlgo.unwrapParts(cA, pA, rA, fA)
    val uB = GeoAlgo.unwrapParts(cB, pB, rB, fB)
    val (aMin, aMax) = xRange(uA, pA)
    val (bMin, bMax) = xRange(uB, pB)
    def soup(shift: Double): Edges = {
      val es = new Edges
      addRingEdges(es, uA, pA, rA, 0, rA.length - 1, 0, 0.0)
      addRingEdges(es, uB, pB, rB, 0, rB.length - 1, 1, shift)
      es
    }
    op match {
      case OpIntersection =>
        val parts = Shifts.toSeq.filter(s => bMin + s <= aMax && aMin <= bMax + s)
          .flatMap(s => planarParts(op, soup(s)))
        packParts(parts)
      case OpUnion =>
        // one aligning translate: the candidate overlapping A, else nearest
        val best = Shifts.find(s => bMin + s <= aMax && aMin <= bMax + s).getOrElse(
          Shifts.minBy(s => math.abs((bMin + bMax) / 2 + s - (aMin + aMax) / 2)))
        packParts(planarParts(op, soup(best)))
      case OpDifference =>
        val hits = Shifts.filter(s => bMin + s <= aMax && aMin <= bMax + s)
        if (hits.isEmpty)
          return GeoAlgo.Clipped(gtA, cA, pA, rA, fA) // B misses A entirely
        var cur = GeoAlgo.Clipped(gtA, uA, pA, rA, fA)
        var k = 0
        while (k < hits.length && cur != null) {
          val es = new Edges
          addRingEdges(es, cur.coords, cur.posOff, cur.ringOff,
            0, cur.ringOff.length - 1, 0, 0.0)
          addRingEdges(es, uB, pB, rB, 0, rB.length - 1, 1, hits(k))
          cur = packParts(planarParts(op, es))
          k += 1
        }
        cur
    }
  }

  /** Trapezoid cells as CCW convex 4-gon shells (degenerate corners
    * collapse to triangles); empty quads drop. */
  private def toQuads(cs: mutable.ArrayBuffer[Cell]): Seq[(Array[Double], Array[Double])] =
    cs.toSeq.flatMap { cell =>
      val xs = new mutable.ArrayBuffer[Double]; val ys = new mutable.ArrayBuffer[Double]
      def addPt(x: Double, y: Double): Unit =
        if (xs.isEmpty || xs.last != x || ys.last != y) { xs += x; ys += y }
      addPt(cell.xl0, cell.y0); addPt(cell.xr0, cell.y0)
      addPt(cell.xr1, cell.y1); addPt(cell.xl1, cell.y1)
      if (xs.length >= 3) Some((xs.toArray, ys.toArray)) else None
    }

  /** Interior trapezoids of ONE areal operand (shifted by `shift`) as
    * convex 4-gon shells — the lineal routing path: clip each path against
    * each trapezoid with [[GeoAlgo.clipConvex]]. Trapezoids partition the
    * interior exactly (shared boundary lines only). */
  def interiorTrapezoids(gt: Int, c: Array[Double], p: Array[Int], r: Array[Int],
                         f: Array[Int], shift: Double = 0.0): Seq[(Array[Double], Array[Double])] = {
    require(gt == 5 || gt == 6, s"overlay: operand must be areal (got gtype $gt)")
    val u = GeoAlgo.unwrapParts(c, p, r, f)
    val es = new Edges
    addRingEdges(es, u, p, r, 0, r.length - 1, 0, shift)
    toQuads(cells(es, (a, _) => (a & 1) != 0))
  }

  /** Cyrus–Beck parameter interval of segment (x1,y1)→(x2,y2) inside a CCW
    * convex polygon, or null when disjoint. */
  private def segQuadInterval(x1: Double, y1: Double, x2: Double, y2: Double,
                              qx: Array[Double], qy: Array[Double]): (Double, Double) = {
    var lo = 0.0; var hi = 1.0
    val m = qx.length
    var k = 0
    while (k < m) {
      val ax = qx(k); val ay = qy(k)
      val bx = qx((k + 1) % m); val by = qy((k + 1) % m)
      val ex = bx - ax; val ey = by - ay
      // inside iff cross(edge, p − a) >= 0 (CCW); f(t) linear in t
      val f0 = ex * (y1 - ay) - ey * (x1 - ax)
      val f1 = ex * (y2 - ay) - ey * (x2 - ax)
      if (f0 < 0 && f1 < 0) return null
      if (f0 < 0) lo = math.max(lo, f0 / (f0 - f1))
      else if (f1 < 0) hi = math.min(hi, f0 / (f0 - f1))
      k += 1
    }
    if (lo < hi) (lo, hi) else null
  }

  /** Lineal ∩ / ∖ areal, INTERVAL-based: each subject segment's parameter
    * range covered by the areal operand is the MERGED union of its
    * Cyrus–Beck intervals against the interior trapezoids (across every
    * overlapping ±360° operand translate — merging dedupes by
    * construction, so nothing can double-emit), and the result keeps (∩)
    * or drops (∖) the covered sub-segments with path re-stitching. */
  def linealOverlay(op: Int,
                    gtA: Int, cA: Array[Double], pA: Array[Int], rA: Array[Int], fA: Array[Int],
                    gtB: Int, cB: Array[Double], pB: Array[Int], rB: Array[Int], fB: Array[Int])
      : GeoAlgo.Clipped = {
    require(gtA == 3 || gtA == 4, s"linealOverlay: subject must be lineal (got gtype $gtA)")
    require(gtB == 5 || gtB == 6, s"linealOverlay: operand must be areal (got gtype $gtB)")
    require(op != OpUnion, "union of mixed dimensions is not defined")
    val uA = GeoAlgo.unwrapParts(cA, pA, rA, fA)
    val uB = GeoAlgo.unwrapParts(cB, pB, rB, fB)
    val (aMin, aMax) = xRange(uA, pA)
    val (bMin, bMax) = xRange(uB, pB)
    val hits = Shifts.filter(sh => bMin + sh <= aMax && aMin <= bMax + sh)
    if (hits.isEmpty)
      return if (op == OpIntersection) null else GeoAlgo.Clipped(gtA, cA, pA, rA, fA)
    val traps = hits.flatMap(sh => interiorTrapezoids(gtB, cB, pB, rB, fB, sh))
    val aC = GeoAlgo.Clipped(gtA, uA, pA, rA, fA)
    val iv = new mutable.HashMap[(Int, Int), mutable.ArrayBuffer[(Double, Double)]]
    var ri = 0
    while (ri < rA.length - 1) {
      var i = rA(ri)
      var si = 0
      while (i < rA(ri + 1) - 1) {
        val x1 = uA(pA(i)); val y1 = uA(pA(i) + 1)
        val x2 = uA(pA(i + 1)); val y2 = uA(pA(i + 1) + 1)
        traps.foreach { case (qx, qy) =>
          val r = segQuadInterval(x1, y1, x2, y2, qx, qy)
          if (r != null)
            iv.getOrElseUpdate((ri, si), new mutable.ArrayBuffer[(Double, Double)]) += r
        }
        i += 1; si += 1
      }
      ri += 1
    }
    pathPieces(aC, iv, keepCovered = op == OpIntersection)
  }

  /** Emit a lineal subject's covered (keepCovered) or uncovered
    * sub-segments per path, stitching contiguous pieces back into maximal
    * paths. `iv` maps (path, segment) to raw parameter intervals. */
  private def pathPieces(a: GeoAlgo.Clipped,
                         iv: mutable.HashMap[(Int, Int), mutable.ArrayBuffer[(Double, Double)]],
                         keepCovered: Boolean): GeoAlgo.Clipped = {
    val paths = new mutable.ArrayBuffer[Array[Double]]
    var ri = 0
    while (ri < a.ringOff.length - 1) {
      val buf = new mutable.ArrayBuffer[Double]
      def flush(): Unit = { if (buf.length >= 4) paths += buf.toArray; buf.clear() }
      def append(x: Double, y: Double): Unit =
        if (buf.length < 2 || buf(buf.length - 2) != x || buf(buf.length - 1) != y) {
          buf += x; buf += y
        }
      var i = a.ringOff(ri)
      val last = a.ringOff(ri + 1) - 1
      var si = 0
      while (i < last) {
        val a1x = a.coords(a.posOff(i)); val a1y = a.coords(a.posOff(i) + 1)
        val a2x = a.coords(a.posOff(i + 1)); val a2y = a.coords(a.posOff(i + 1) + 1)
        val d1x = a2x - a1x; val d1y = a2y - a1y
        @inline def at(t: Double) = (
          (if (t == 0.0) a1x else if (t == 1.0) a2x else a1x + t * d1x) + 0.0,
          (if (t == 0.0) a1y else if (t == 1.0) a2y else a1y + t * d1y) + 0.0)
        val covered = iv.get((ri, si)).map(v => merged(v.map { case (lo, hi) =>
          (math.max(0.0, lo), math.min(1.0, hi)) },
          paramEps(math.hypot(d1x, d1y)))).getOrElse(Seq.empty)
        if (keepCovered) {
          if (covered.isEmpty) flush()
          covered.foreach { case (lo, hi) =>
            if (hi > lo) {
              if (lo > 0.0) flush() // a gap before this piece breaks the path
              val (sx, sy) = at(lo); val (ex, ey) = at(hi)
              append(sx, sy); append(ex, ey)
              if (hi < 1.0) flush()
            }
          }
        } else {
          if (covered.isEmpty) { append(a1x, a1y); append(a2x, a2y) }
          else {
            var cursor = 0.0
            covered.foreach { case (lo, hi) =>
              if (lo > cursor) {
                val (sx, sy) = at(cursor); val (ex, ey) = at(lo)
                append(sx, sy); append(ex, ey)
              }
              flush() // the removed run breaks the path
              cursor = math.max(cursor, hi)
            }
            if (cursor < 1.0) {
              val (sx, sy) = at(cursor)
              append(sx, sy); append(a2x, a2y)
            }
          }
        }
        i += 1; si += 1
      }
      flush()
      ri += 1
    }
    if (paths.isEmpty) null else packPaths(paths.toSeq)
  }

  /** Merge lineal pieces (each ONE part of paths, the packing convention)
    * into a single (Multi)LineString Clipped. */
  private def mergeLinealPaths(origType: Int, pieces: Seq[GeoAlgo.Clipped]): GeoAlgo.Clipped = {
    if (pieces.isEmpty) return null
    val coords = Array.newBuilder[Double]
    val pos    = new mutable.ArrayBuffer[Int]
    val ring   = new mutable.ArrayBuffer[Int]
    var ci = 0
    pieces.foreach { c =>
      var r = 0
      while (r < c.ringOff.length - 1) {
        ring += pos.length
        var p = c.ringOff(r)
        while (p < c.ringOff(r + 1)) { pos += ci + c.posOff(p); p += 1 }
        r += 1
      }
      coords ++= c.coords
      ci += c.coords.length
    }
    ring += pos.length
    pos += ci
    val nPaths = ring.length - 1
    val gt = if (origType == 3 && nPaths == 1) 3 else 4
    GeoAlgo.Clipped(gt, coords.result(), pos.toArray, ring.toArray, Array(0, nPaths))
  }

  // --------------------------------------------------------- validity audit

  /** Pragmatic OGC-style validity audit — the data-QA gate a geometry
    * column needs before joins/overlays trust it. Returns 0 (valid) or the
    * FIRST failing reason code:
    *  1 = non-finite coordinate (NaN/Inf)
    *  2 = areal ring not closed or with fewer than 4 positions
    *  3 = zero-area areal ring
    *  4 = ring self-intersection (a proper crossing or collinear overlap
    *      of non-adjacent segments within one ring)
    *  5 = hole vertex outside its shell (even-odd test on the first
    *      non-shell-boundary vertex)
    *  6 = lineal path with fewer than 2 positions
    * Scope (documented, not full OGC): cross-ring and cross-part interior
    * overlap are NOT checked here (that is an overlay-sized computation —
    * run `st_area(st_intersection(partA, partB))` when it matters). The
    * self-intersection check is O(segments²) per ring — an audit kernel
    * for row-sized geometries, not a scan primitive. */
  def validityCode(gt: Int, c: Array[Double], p: Array[Int], r: Array[Int],
                   f: Array[Int]): Int = {
    var i = 0
    while (i < c.length) {
      if (java.lang.Double.isNaN(c(i)) || java.lang.Double.isInfinite(c(i))) return 1
      i += 1
    }
    if (gt == 1 || gt == 2 || gt == 7) return 0
    if (gt == 3 || gt == 4) {
      var ri = 0
      while (ri < r.length - 1) {
        if (r(ri + 1) - r(ri) < 2) return 6
        ri += 1
      }
      return 0
    }
    if (gt != 5 && gt != 6) return 0
    val u = GeoAlgo.unwrapParts(c, p, r, f)
    var part = 0
    while (part < f.length - 1) {
      var ri = f(part)
      while (ri < f(part + 1)) {
        val rs = r(ri); val re = r(ri + 1)
        val n = re - rs
        if (n < 4) return 2
        // closure on the RAW coords: the unwrap walk's cumulative rounding
        // can perturb the last vertex by an ulp even on a closed ring
        if (c(p(rs)) != c(p(re - 1)) || c(p(rs) + 1) != c(p(re - 1) + 1)) return 2
        val ring = ringFlat(u, p, rs, re)
        // self-intersection BEFORE zero-area: a symmetric bowtie has
        // shoelace area exactly 0, and the crossing is the real diagnosis
        if (ringSelfIntersects(ring)) return 4
        if (flatSignedArea2(ring) == 0.0) return 3
        if (ri > f(part)) {
          // hole containment: first hole vertex not ON the shell boundary
          // must be INSIDE the shell (even-odd)
          val shell = ringFlat(u, p, r(f(part)), r(f(part) + 1))
          var vi = 0
          var decided = false
          while (!decided && vi < ring.length / 2) {
            val hx = ring(2 * vi); val hy = ring(2 * vi + 1)
            if (!onRingBoundary(shell, hx, hy)) {
              decided = true
              if (!flatPointInRing(shell, hx, hy)) return 5
            }
            vi += 1
          }
        }
        ri += 1
      }
      part += 1
    }
    0
  }

  /** Proper crossing or collinear overlap between NON-ADJACENT segments of
    * one open ring (adjacent segments legitimately share a vertex). */
  private def ringSelfIntersects(ring: Array[Double]): Boolean = {
    val n = ring.length / 2
    // shared scratch: O(n²) pairs must not allocate per pair
    val pts  = new mutable.ArrayBuffer[(Double, Double)]
    val runs = new mutable.ArrayBuffer[Seg]
    var i = 0
    while (i < n) {
      val j1 = (i + 1) % n
      var k = i + 2
      while (k < n) {
        val j2 = (k + 1) % n
        if (j2 != i) { // skip the wrap-adjacent pair
          pts.clear(); runs.clear()
          segPair(ring(2 * i), ring(2 * i + 1), ring(2 * j1), ring(2 * j1 + 1),
            ring(2 * k), ring(2 * k + 1), ring(2 * j2), ring(2 * j2 + 1), pts, runs)
          if (runs.nonEmpty || pts.nonEmpty) return true
        }
        k += 1
      }
      i += 1
    }
    false
  }

  private def onRingBoundary(ring: Array[Double], px: Double, py: Double): Boolean = {
    val n = ring.length / 2
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      if (GeoAlgo.pointSegmentDistance(px, py,
        ring(2 * i), ring(2 * i + 1), ring(2 * j), ring(2 * j + 1)) == 0.0) return true
      i += 1
    }
    false
  }

  private def flatPointInRing(ring: Array[Double], px: Double, py: Double): Boolean = {
    var in = false
    val n = ring.length / 2
    var i = 0
    var j = n - 1
    while (i < n) {
      val yi = ring(2 * i + 1); val yj = ring(2 * j + 1)
      if ((yi > py) != (yj > py) &&
          px < ring(2 * i) + (py - yi) / (yj - yi) * (ring(2 * j) - ring(2 * i))) in = !in
      j = i; i += 1
    }
    in
  }

  // ------------------------------------------ n-ary winding union + buffer

  /** Union of MANY oriented rings in ONE slab pass (NONZERO winding rule:
    * CCW rings add +1 inside, CW subtract — holes of properly-oriented
    * polygons fall out automatically, and overlap multiplicity never
    * cancels the way even-odd would). The machinery behind [[buffer]] and
    * dissolve-style aggregation — a pairwise overlayGeoms fold would cost
    * O(N) passes; this is one decomposition over the whole soup. Rings are
    * flat (x0,y0,…); closure is implicit. */
  def unionRings(rings: Seq[Array[Double]]): GeoAlgo.Clipped = {
    val es = new Edges
    rings.foreach { r =>
      var i = 0
      while (i + 3 < r.length) { es.add(r(i), r(i + 1), r(i + 2), r(i + 3), 0); i += 2 }
      val n = r.length
      if (n >= 4 && (r(0) != r(n - 2) || r(1) != r(n - 1)))
        es.add(r(n - 2), r(n - 1), r(0), r(1), 0)
    }
    packParts(stitchCells(cells(es, (w, _) => w != 0, crossWithin = true)))
  }

  /** Planar-degree BUFFER: dilate (d > 0) any geometry, erode (d < 0) an
    * areal one. Round joins/caps are inscribed k-gon arcs (`segments`
    * vertices per full circle), so the result under-reaches the true
    * buffer by at most (1 − cos(π/segments))·d — 0.5% of d at the default
    * 32. Dilation = one n-ary winding union of the geometry's own
    * (orientation-normalized) rings, per-segment capsule rectangles, and
    * per-vertex discs; erosion = the subject MINUS the dilated boundary
    * (points within |d| of the boundary leave). Planar degree semantics
    * (JTS Geometry.buffer's model): no antimeridian unwrap magic — buffer
    * in a locally sane frame. d = 0 returns the subject unchanged; d < 0
    * on a non-areal subject → null (it erodes to nothing). */
  def buffer(gt: Int, c: Array[Double], p: Array[Int], r: Array[Int], f: Array[Int],
             d: Double, segments: Int = 32): GeoAlgo.Clipped = {
    require(segments >= 8, s"buffer: segments must be >= 8, got $segments")
    if (d == 0.0) return GeoAlgo.Clipped(gt, c, p, r, f)
    if (d < 0.0) {
      if (gt != 5 && gt != 6) return null // a thin geometry erodes away
      val dd = -d
      val u  = GeoAlgo.unwrapParts(c, p, r, f)
      val cap = new mutable.ArrayBuffer[Array[Double]]
      var ri = 0
      while (ri < r.length - 1) { // every boundary ring dilates
        addCapsules(cap, u, p, r(ri), r(ri + 1), dd, segments, closed = true)
        ri += 1
      }
      val band = unionRings(cap.toSeq)
      if (band == null) return GeoAlgo.Clipped(gt, u, p, r, f)
      return overlayGeoms(OpDifference,
        gt, u, p, r, f,
        band.gtype, band.coords, band.posOff, band.ringOff, band.partOff)
    }
    val rings = new mutable.ArrayBuffer[Array[Double]]
    gt match {
      case 1 | 2 =>
        var i = 0
        while (i < p.length - 1) {
          rings += disc(c(p(i)), c(p(i) + 1), d, segments)
          i += 1
        }
      case 3 | 4 =>
        val u = GeoAlgo.unwrapParts(c, p, r, f)
        var ri = 0
        while (ri < r.length - 1) {
          addCapsules(rings, u, p, r(ri), r(ri + 1), d, segments, closed = false)
          ri += 1
        }
      case 5 | 6 =>
        val u = GeoAlgo.unwrapParts(c, p, r, f)
        // the polygon region itself, orientation-normalized for winding
        // (shell = first ring of its part CCW, holes CW)
        var part = 0
        while (part < f.length - 1) {
          var ri = f(part)
          while (ri < f(part + 1)) {
            val ring = ringFlat(u, p, r(ri), r(ri + 1))
            val ccw  = flatSignedArea2(ring) > 0
            val wantCcw = ri == f(part) // shell CCW, holes CW
            rings += (if (ccw == wantCcw) ring else reverseFlat(ring))
            // plus the dilated boundary
            addCapsules(rings, u, p, r(ri), r(ri + 1), d, segments, closed = true)
            ri += 1
          }
          part += 1
        }
      case _ => return null
    }
    unionRings(rings.toSeq)
  }

  /** The areal subject's rings as flat OPEN arrays, orientation-normalized
    * for the winding union (shell = first ring of its part CCW, holes CW)
    * — the per-row half of dissolve-style aggregation: explode with this,
    * collect, and [[unionRings]] the lot. Non-areal input → empty. */
  def orientedRings(gt: Int, c: Array[Double], p: Array[Int], r: Array[Int],
                    f: Array[Int]): Seq[Array[Double]] = {
    if (gt != 5 && gt != 6) return Seq.empty
    val u = GeoAlgo.unwrapParts(c, p, r, f)
    val out = new mutable.ArrayBuffer[Array[Double]]
    var part = 0
    while (part < f.length - 1) {
      var ri = f(part)
      while (ri < f(part + 1)) {
        val ring = ringFlat(u, p, r(ri), r(ri + 1))
        if (ring.length >= 6) {
          val ccw     = flatSignedArea2(ring) > 0
          val wantCcw = ri == f(part)
          out += (if (ccw == wantCcw) ring else reverseFlat(ring))
        }
        ri += 1
      }
      part += 1
    }
    out.toSeq
  }

  /** Capsules of one path/ring: a CCW rectangle per segment + a disc per
    * vertex (round joins and caps in one shape family). */
  private def addCapsules(out: mutable.ArrayBuffer[Array[Double]],
                          u: Array[Double], p: Array[Int], rs: Int, re: Int,
                          d: Double, segments: Int, closed: Boolean): Unit = {
    val last = if (closed) re - 1 else re // closed rings carry the dup vertex
    var i = rs
    while (i < re) {
      if (i < last || !closed) out += disc(u(p(i)), u(p(i) + 1), d, segments)
      i += 1
    }
    i = rs
    while (i < re - 1) {
      val x1 = u(p(i)); val y1 = u(p(i) + 1)
      val x2 = u(p(i + 1)); val y2 = u(p(i + 1) + 1)
      val dx = x2 - x1; val dy = y2 - y1
      val len = math.sqrt(dx * dx + dy * dy)
      if (len > 0) {
        val nx = -dy / len * d; val ny = dx / len * d
        // CCW for d > 0: below-side first, then above-side reversed
        out += Array(x1 - nx, y1 - ny, x2 - nx, y2 - ny, x2 + nx, y2 + ny, x1 + nx, y1 + ny)
      }
      i += 1
    }
  }

  /** CCW inscribed k-gon disc. */
  private def disc(cx: Double, cy: Double, d: Double, segments: Int): Array[Double] = {
    val out = new Array[Double](segments * 2)
    var i = 0
    while (i < segments) {
      val a = 2 * math.Pi * i / segments
      out(2 * i) = cx + d * math.cos(a)
      out(2 * i + 1) = cy + d * math.sin(a)
      i += 1
    }
    out
  }

  private def ringFlat(u: Array[Double], p: Array[Int], rs: Int, re: Int): Array[Double] = {
    val n = re - rs - 1 // drop the closing duplicate
    val out = new Array[Double](n * 2)
    var i = 0
    while (i < n) { out(2 * i) = u(p(rs + i)); out(2 * i + 1) = u(p(rs + i) + 1); i += 1 }
    out
  }

  private def flatSignedArea2(r: Array[Double]): Double = {
    var a = 0.0
    val n = r.length / 2
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      a += r(2 * i) * r(2 * j + 1) - r(2 * j) * r(2 * i + 1)
      i += 1
    }
    a
  }

  private def reverseFlat(r: Array[Double]): Array[Double] = {
    val n = r.length / 2
    val out = new Array[Double](r.length)
    var i = 0
    while (i < n) {
      out(2 * i) = r(2 * (n - 1 - i)); out(2 * i + 1) = r(2 * (n - 1 - i) + 1)
      i += 1
    }
    out
  }

  // ------------------------------------------------ lineal × lineal paths

  /** One collinear-overlap run on subject segment space: path-local
    * endpoints. */
  private final class Seg(val x1: Double, val y1: Double, val x2: Double, val y2: Double)

  /** Segment-pair intersection against the subject segment (a1..a2):
    * appends proper/touch crossing POINTS to `pts` and exact-collinear
    * overlap RUNS (as Segs in subject space) to `runs`. Collinearity is
    * EXACT (bit-shared geometry — the re-tiled / shared-boundary case);
    * epsilon-near-parallel pairs intersect in a point or not at all. */
  private def segPair(a1x: Double, a1y: Double, a2x: Double, a2y: Double,
                      b1x: Double, b1y: Double, b2x: Double, b2y: Double,
                      pts: mutable.ArrayBuffer[(Double, Double)],
                      runs: mutable.ArrayBuffer[Seg]): Unit = {
    val d1x = a2x - a1x; val d1y = a2y - a1y
    val d2x = b2x - b1x; val d2y = b2y - b1y
    val den = d1x * d2y - d1y * d2x
    val rx  = b1x - a1x; val ry  = b1y - a1y
    if (den != 0.0) {
      val t = (rx * d2y - ry * d2x) / den
      val u = (rx * d1y - ry * d1x) / den
      if (t >= 0.0 && t <= 1.0 && u >= 0.0 && u <= 1.0)
        pts += ((a1x + t * d1x + 0.0, a1y + t * d1y + 0.0))
    } else if (rx * d1y - ry * d1x == 0.0) { // parallel AND exactly collinear
      // project B's endpoints onto A's parameter; reuse exact endpoints
      val len2 = d1x * d1x + d1y * d1y
      if (len2 == 0.0) { // degenerate A segment: keep as a point if touching
        if ((a1x == b1x && a1y == b1y) || (a1x == b2x && a1y == b2y) ||
            (math.min(b1x, b2x) <= a1x && a1x <= math.max(b1x, b2x) &&
             math.min(b1y, b2y) <= a1y && a1y <= math.max(b1y, b2y)))
          pts += ((a1x, a1y))
        return
      }
      val tb1 = ((b1x - a1x) * d1x + (b1y - a1y) * d1y) / len2
      val tb2 = ((b2x - a1x) * d1x + (b2y - a1y) * d1y) / len2
      val lo = math.max(0.0, math.min(tb1, tb2))
      val hi = math.min(1.0, math.max(tb1, tb2))
      if (lo < hi) {
        @inline def at(t: Double, ax: Double, dx: Double) =
          if (t == 0.0) ax else if (t == 1.0) ax + dx else ax + t * dx
        runs += new Seg(at(lo, a1x, d1x) + 0.0, at(lo, a1y, d1y) + 0.0,
                        at(hi, a1x, d1x) + 0.0, at(hi, a1y, d1y) + 0.0)
      } else if (lo == hi) pts += ((a1x + lo * d1x + 0.0, a1y + lo * d1y + 0.0))
    }
  }

  /** All (path, segment index, covered parameter interval) pairs where a B
    * segment exactly-collinearly overlaps an A segment — the shared-run
    * machinery of lineal ∩ and ∖. */
  private def coveredIntervals(uA: Array[Double], pA: Array[Int], rA: Array[Int],
                               uB: Array[Double], pB: Array[Int], rB: Array[Int],
                               shiftB: Double)
      : (mutable.ArrayBuffer[(Double, Double)],
         mutable.HashMap[(Int, Int), mutable.ArrayBuffer[(Double, Double)]]) = {
    val pts  = new mutable.ArrayBuffer[(Double, Double)]
    val runs = new mutable.HashMap[(Int, Int), mutable.ArrayBuffer[(Double, Double)]]
    var ri = 0
    while (ri < rA.length - 1) {
      var i = rA(ri)
      val lastA = rA(ri + 1) - 1
      var si = 0
      while (i < lastA) {
        val a1x = uA(pA(i)); val a1y = uA(pA(i) + 1)
        val a2x = uA(pA(i + 1)); val a2y = uA(pA(i + 1) + 1)
        val segRuns = new mutable.ArrayBuffer[Seg]
        var rj = 0
        while (rj < rB.length - 1) {
          var j = rB(rj)
          val lastB = rB(rj + 1) - 1
          while (j < lastB) {
            segPair(a1x, a1y, a2x, a2y,
              uB(pB(j)) + shiftB, uB(pB(j) + 1),
              uB(pB(j + 1)) + shiftB, uB(pB(j + 1) + 1), pts, segRuns)
            j += 1
          }
          rj += 1
        }
        if (segRuns.nonEmpty) {
          val d1x = a2x - a1x; val d1y = a2y - a1y
          val len2 = d1x * d1x + d1y * d1y
          val iv = runs.getOrElseUpdate((ri, si), new mutable.ArrayBuffer[(Double, Double)])
          segRuns.foreach { s =>
            val t1 = ((s.x1 - a1x) * d1x + (s.y1 - a1y) * d1y) / len2
            val t2 = ((s.x2 - a1x) * d1x + (s.y2 - a1y) * d1y) / len2
            iv += ((math.min(t1, t2), math.max(t1, t2)))
          }
        }
        i += 1; si += 1
      }
      ri += 1
    }
    (pts, runs)
  }

  /** Lineal × lineal overlay. Returns (points, lines) — either may be null:
    *  - intersection: exact-collinear shared RUNS as (Multi)LineString
    *    pieces plus proper/touch crossing POINTS not already covered by a
    *    run (the expression layer composes a GeometryCollection when both
    *    are present — JTS's mixed-result shape);
    *  - difference: A with the shared runs REMOVED (crossing points are
    *    measure-zero on a line and do not cut it);
    *  - union: the point-set union as the concatenated paths of both
    *    operands (shared runs appear once from each side — a correct
    *    point-set cover, not a dissolved noding; document).
    * Antimeridian handled by the areal discipline (unwrap; ∩ collects
    * pieces over overlapping ±360° translates, ∖ subtracts sequentially,
    * ∪ aligns once). */
  def linealLinealOverlay(op: Int,
                          gtA: Int, cA: Array[Double], pA: Array[Int], rA: Array[Int], fA: Array[Int],
                          gtB: Int, cB: Array[Double], pB: Array[Int], rB: Array[Int], fB: Array[Int])
      : (GeoAlgo.Clipped, GeoAlgo.Clipped) = {
    require((gtA == 3 || gtA == 4) && (gtB == 3 || gtB == 4),
      s"linealLinealOverlay: lineal operands required (got $gtA × $gtB)")
    val uA = GeoAlgo.unwrapParts(cA, pA, rA, fA)
    val uB = GeoAlgo.unwrapParts(cB, pB, rB, fB)
    val (aMin, aMax) = xRange(uA, pA)
    val (bMin, bMax) = xRange(uB, pB)
    val hits = Shifts.filter(s => bMin + s <= aMax + 0.0 && aMin <= bMax + s)
    op match {
      case OpIntersection =>
        val allPts  = new mutable.ArrayBuffer[(Double, Double)]
        val allRuns = new mutable.ArrayBuffer[Seg]
        hits.foreach { sh =>
          val (pts, runs) = coveredIntervals(uA, pA, rA, uB, pB, rB, sh)
          allPts ++= pts
          runs.foreach { case ((ri, si), iv) =>
            val i = rA(ri) + si
            val a1x = uA(pA(i)); val a1y = uA(pA(i) + 1)
            val d1x = uA(pA(i + 1)) - a1x; val d1y = uA(pA(i + 1) + 1) - a1y
            merged(iv, paramEps(math.hypot(d1x, d1y))).foreach { case (lo, hi) =>
              allRuns += new Seg(a1x + lo * d1x + 0.0, a1y + lo * d1y + 0.0,
                                 a1x + hi * d1x + 0.0, a1y + hi * d1y + 0.0)
            }
          }
        }
        // points covered by a run are redundant; dedupe the rest exactly
        val keepPts = allPts.distinct.filterNot { case (px, py) =>
          allRuns.exists(s => GeoAlgo.pointSegmentDistance(px, py, s.x1, s.y1, s.x2, s.y2) == 0.0)
        }
        val ptsOut =
          if (keepPts.isEmpty) null
          else GeoAlgo.Clipped(if (keepPts.length == 1) 1 else 2,
            keepPts.flatMap(p => Seq(p._1, p._2)).toArray,
            Array.tabulate(keepPts.length + 1)(_ * 2),
            Array(0, keepPts.length), Array(0, 1))
        val linesOut =
          if (allRuns.isEmpty) null
          else {
            val segs = allRuns.map(s => ((s.x1, s.y1), (s.x2, s.y2))).distinct
            packPaths(segs.map { case ((x1, y1), (x2, y2)) => Array(x1, y1, x2, y2) }.toSeq)
          }
        (ptsOut, linesOut)
      case OpDifference =>
        var cur = GeoAlgo.Clipped(gtA, uA, pA, rA, fA)
        var k = 0
        while (k < hits.length && cur != null) {
          cur = subtractRuns(cur, uB, pB, rB, hits(k))
          k += 1
        }
        (null, cur)
      case OpUnion =>
        // point-set union: all paths of both operands in A's frame
        val sh = hits.headOption.getOrElse(
          Shifts.minBy(s => math.abs((bMin + bMax) / 2 + s - (aMin + aMax) / 2)))
        val paths = new mutable.ArrayBuffer[Array[Double]]
        def addPaths(u: Array[Double], p: Array[Int], r: Array[Int], shift: Double): Unit = {
          var ri = 0
          while (ri < r.length - 1) {
            val buf = new mutable.ArrayBuffer[Double]
            var i = r(ri)
            while (i < r(ri + 1)) { buf += u(p(i)) + shift; buf += u(p(i) + 1); i += 1 }
            if (buf.length >= 4) paths += buf.toArray
            ri += 1
          }
        }
        addPaths(uA, pA, rA, 0.0)
        addPaths(uB, pB, rB, sh)
        (null, packPaths(paths.toSeq))
    }
  }

  /** Merge overlapping/adjacent parameter intervals. `eps` is the
    * PARAMETER-space tolerance (pass Eps scaled by 1/segment-length):
    * consecutive Cyrus–Beck intervals of one subject segment crossing
    * adjacent trapezoids are computed from different quads' float
    * arithmetic and can leave a ~1-ulp gap — exact-adjacency coalescing
    * (eps = 0) would split a lineal-intersection path into two touching
    * pieces or retain a ~1e-16-length fragment in difference output. */
  private def merged(iv: mutable.ArrayBuffer[(Double, Double)],
                     eps: Double = 0.0): Seq[(Double, Double)] = {
    val s = iv.sortBy(_._1)
    val out = new mutable.ArrayBuffer[(Double, Double)]
    s.foreach { case (lo, hi) =>
      if (out.nonEmpty && lo <= out.last._2 + eps) {
        val (plo, phi) = out.remove(out.length - 1)
        out += ((plo, math.max(phi, hi)))
      } else out += ((lo, hi))
    }
    out.toSeq
  }

  /** [[merged]]'s parameter-space tolerance for a segment of length `len`:
    * the module Eps in coordinate units, expressed in the segment's t
    * parameter (clamped for degenerate segments). */
  private def paramEps(len: Double): Double =
    if (len > Eps) Eps / len else 1.0

  /** A (lineal, as Clipped) minus the exact-collinear runs shared with B
    * (shifted) — [[pathPieces]] over [[coveredIntervals]]. */
  private def subtractRuns(a: GeoAlgo.Clipped,
                           uB: Array[Double], pB: Array[Int], rB: Array[Int],
                           shiftB: Double): GeoAlgo.Clipped = {
    val (_, runs) = coveredIntervals(a.coords, a.posOff, a.ringOff, uB, pB, rB, shiftB)
    if (runs.isEmpty) return a
    pathPieces(a, runs, keepCovered = false)
  }

  /** Pack flat-xy open paths as one lineal part ((Multi)LineString). */
  private def packPaths(paths: Seq[Array[Double]]): GeoAlgo.Clipped = {
    if (paths.isEmpty) return null
    val coords = Array.newBuilder[Double]
    val pos    = new mutable.ArrayBuffer[Int]
    val ring   = new mutable.ArrayBuffer[Int]
    var ci = 0
    paths.foreach { pth =>
      ring += pos.length
      var k = 0
      while (k < pth.length) { pos += ci; coords += pth(k); coords += pth(k + 1); ci += 2; k += 2 }
    }
    ring += pos.length
    pos += ci
    GeoAlgo.Clipped(if (paths.length == 1) 3 else 4,
      coords.result(), pos.toArray, ring.toArray, Array(0, paths.length))
  }

  /** Point-set × point-set: coordinate-exact membership ops. */
  def pointPointOverlay(op: Int,
                        gtA: Int, cA: Array[Double], pA: Array[Int],
                        gtB: Int, cB: Array[Double], pB: Array[Int]): GeoAlgo.Clipped = {
    require((gtA == 1 || gtA == 2) && (gtB == 1 || gtB == 2),
      s"pointPointOverlay: point operands required (got $gtA × $gtB)")
    def members(c: Array[Double], p: Array[Int]): Seq[(Double, Double)] =
      (0 until p.length - 1).map { i =>
        var x = c(p(i))
        while (x > 180.0) x -= 360.0
        while (x < -180.0) x += 360.0
        if (x == 180.0) x = -180.0 // half-open: +180 and −180 are one point
        (x + 0.0, c(p(i) + 1) + 0.0)
      }
    val a = members(cA, pA)
    val b = members(cB, pB).toSet
    val kept = op match {
      case OpIntersection => a.distinct.filter(b.contains)
      case OpDifference   => a.distinct.filterNot(b.contains)
      case OpUnion        => (a ++ b.toSeq).distinct
    }
    if (kept.isEmpty) null
    else GeoAlgo.Clipped(if (kept.length == 1) 1 else 2,
      kept.flatMap(p => Seq(p._1, p._2)).toArray,
      Array.tabulate(kept.length + 1)(_ * 2), Array(0, kept.length), Array(0, 1))
  }

  /** Point set vs LINEAL operand: keep members exactly ON (∩) or off (∖)
    * any segment (±360° member translates). */
  def pointLinealOverlay(op: Int,
                         gtA: Int, cA: Array[Double], pA: Array[Int],
                         gtB: Int, cB: Array[Double], pB: Array[Int], rB: Array[Int], fB: Array[Int])
      : GeoAlgo.Clipped = {
    require(gtA == 1 || gtA == 2, s"pointLinealOverlay: point subject required (got $gtA)")
    require(gtB == 3 || gtB == 4, s"pointLinealOverlay: lineal operand required (got $gtB)")
    require(op != OpUnion, "union of mixed dimensions is not defined")
    val uB = GeoAlgo.unwrapParts(cB, pB, rB, fB)
    def onLine(px: Double, py: Double): Boolean = {
      var ri = 0
      while (ri < rB.length - 1) {
        var j = rB(ri)
        val last = rB(ri + 1) - 1
        while (j < last) {
          val b1x = uB(pB(j)); val b1y = uB(pB(j) + 1)
          val b2x = uB(pB(j + 1)); val b2y = uB(pB(j + 1) + 1)
          var s = 0
          while (s < 3) {
            if (GeoAlgo.pointSegmentDistance(px + Shifts(s), py, b1x, b1y, b2x, b2y) == 0.0)
              return true
            s += 1
          }
          j += 1
        }
        ri += 1
      }
      false
    }
    val keep = new mutable.ArrayBuffer[Int]
    var i = 0
    while (i < pA.length - 1) {
      if (onLine(cA(pA(i)), cA(pA(i) + 1)) == (op == OpIntersection)) keep += i
      i += 1
    }
    if (keep.isEmpty) return null
    val coords = Array.newBuilder[Double]
    val pos    = new Array[Int](keep.length + 1)
    var ci = 0
    var k = 0
    while (k < keep.length) {
      pos(k) = ci
      var c = pA(keep(k))
      while (c < pA(keep(k) + 1)) { coords += cA(c); c += 1 }
      ci += pA(keep(k) + 1) - pA(keep(k))
      k += 1
    }
    pos(keep.length) = ci
    GeoAlgo.Clipped(gtA, coords.result(), pos, Array(0, keep.length), Array(0, 1))
  }

  /** Point/MultiPoint subject vs areal operand: keep members inside (∩) or
    * outside (∖) the areal region — [[GeoAlgo.contains]] even-odd
    * semantics, ±360° translates on the member. */
  def pointOverlay(op: Int,
                   gtA: Int, cA: Array[Double], pA: Array[Int],
                   gtB: Int, cB: Array[Double], pB: Array[Int], rB: Array[Int], fB: Array[Int])
      : GeoAlgo.Clipped = {
    require(gtA == 1 || gtA == 2, s"pointOverlay: subject must be a point set (got gtype $gtA)")
    require(gtB == 5 || gtB == 6, s"pointOverlay: operand must be areal (got gtype $gtB)")
    require(op != OpUnion, "union of mixed dimensions is not defined")
    val keep = new mutable.ArrayBuffer[Int]
    var i = 0
    while (i < pA.length - 1) {
      val x = cA(pA(i)); val y = cA(pA(i) + 1)
      val in = GeoAlgo.contains(gtB, cB, pB, rB, fB, x, y) ||
               GeoAlgo.contains(gtB, cB, pB, rB, fB, x + 360, y) ||
               GeoAlgo.contains(gtB, cB, pB, rB, fB, x - 360, y)
      if (in == (op == OpIntersection)) keep += i
      i += 1
    }
    if (keep.isEmpty) return null
    val coords = Array.newBuilder[Double]
    val pos    = new Array[Int](keep.length + 1)
    var ci = 0
    var k = 0
    while (k < keep.length) {
      pos(k) = ci
      var c = pA(keep(k))
      while (c < pA(keep(k) + 1)) { coords += cA(c); c += 1 }
      ci += pA(keep(k) + 1) - pA(keep(k))
      k += 1
    }
    pos(keep.length) = ci
    GeoAlgo.Clipped(gtA, coords.result(), pos, Array(0, keep.length), Array(0, 1))
  }
}
