package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.geo.index.{HexCell, S2Cell}

/** Internal-invariant tests for the from-scratch cell indexes (SURVEY.md §7.1
  * step 5: "Validate by internal invariants (parent/child containment,
  * k-ring symmetry, covering soundness) since no H3 lib exists offline").
  */
class IndexSpec extends AnyFunSuite {

  val rng = new Random(42)
  def randLng(): Double = rng.nextDouble() * 360 - 180
  def randLat(): Double = rng.nextDouble() * 170 - 85

  // ------------------------------------------------------------------- S2

  test("s2: id encodes level and face; parent/range nest") {
    for (_ <- 1 to 2000) {
      val lng = randLng(); val lat = randLat()
      val lvl = 1 + rng.nextInt(S2Cell.MaxLevel)
      val id  = S2Cell.cellId(lng, lat, lvl)
      assert(S2Cell.level(id) == lvl)
      val p = S2Cell.parent(id, lvl - 1)
      assert(S2Cell.level(p) == lvl - 1)
      assert(S2Cell.faceOf(p) == S2Cell.faceOf(id))
      // child id ranges nest inside parent range (partition pruning)
      assert(S2Cell.rangeMin(p) <= S2Cell.rangeMin(id))
      assert(S2Cell.rangeMax(p) >= S2Cell.rangeMax(id))
      // leaf-level id of the point lands inside both ranges
      val leaf = S2Cell.cellId(lng, lat, S2Cell.MaxLevel)
      assert(leaf >= S2Cell.rangeMin(id) && leaf <= S2Cell.rangeMax(id))
    }
  }

  test("s2: children partition the parent range") {
    for (_ <- 1 to 500) {
      val id = S2Cell.cellId(randLng(), randLat(), 1 + rng.nextInt(20))
      val cs = S2Cell.children(id)
      assert(cs.length == 4)
      assert(cs.map(S2Cell.rangeMin).min == S2Cell.rangeMin(id))
      assert(cs.map(S2Cell.rangeMax).max == S2Cell.rangeMax(id))
      cs.foreach(c => assert(S2Cell.parent(c, S2Cell.level(id)) == id))
    }
  }

  test("s2: center maps back to the same cell") {
    for (_ <- 1 to 2000) {
      val lvl = 1 + rng.nextInt(25)
      val id  = S2Cell.cellId(randLng(), randLat(), lvl)
      val (clng, clat) = S2Cell.center(id)
      assert(S2Cell.cellId(clng, clat, lvl) == id)
    }
  }

  test("s2: exact rect bound contains every point of the cell (soundness)") {
    for (_ <- 1 to 3000) {
      val lng = randLng(); val lat = rng.nextDouble() * 180 - 90 // include poles
      val lvl = rng.nextInt(18)
      val id  = S2Cell.cellId(lng, lat, lvl)
      val b   = S2Cell.bound(id)
      assert(lat >= b.latLo - 1e-9 && lat <= b.latHi + 1e-9,
        s"lat $lat outside [${b.latLo}, ${b.latHi}] lvl=$lvl face=${S2Cell.faceOf(id)}")
      if (!b.fullLng) {
        def in(lo: Double, hi: Double, x: Double) =
          if (lo <= hi) x >= lo - 1e-9 && x <= hi + 1e-9 else x >= lo - 1e-9 || x <= hi + 1e-9
        assert(in(b.lngLo, b.lngHi, lng),
          s"lng $lng outside [${b.lngLo}, ${b.lngHi}] lvl=$lvl face=${S2Cell.faceOf(id)}")
      }
    }
  }

  test("s2: box cover is a sound superset of contained points' cells") {
    for (_ <- 1 to 200) {
      val w = randLng(); val s = randLat()
      val e = math.min(180, w + rng.nextDouble() * 5)
      val n = math.min(85, s + rng.nextDouble() * 5)
      val lvl   = 6 + rng.nextInt(6)
      val cover = S2Cell.coverBox(w, s, e, n, lvl).toSet
      assert(cover.nonEmpty)
      for (_ <- 1 to 50) {
        val px = w + rng.nextDouble() * (e - w)
        val py = s + rng.nextDouble() * (n - s)
        val c  = S2Cell.cellId(px, py, lvl)
        assert(cover.contains(c), s"cell of ($px,$py) missing from cover lvl=$lvl")
      }
    }
  }

  test("s2: antimeridian-wrapped box cover") {
    val cover = S2Cell.coverBox(175.0, 40.0, -175.0, 50.0, 8).toSet
    for (_ <- 1 to 200) {
      val px = { val x = 175.0 + rng.nextDouble() * 10; if (x > 180) x - 360 else x }
      val py = 40.0 + rng.nextDouble() * 10
      assert(cover.contains(S2Cell.cellId(px, py, 8)))
    }
  }

  // ------------------------------------------------------------------ hex


  test("s2: normalizeCover keeps only outermost cells, incl. shared-rangeMin ties") {
    val a  = S2Cell.fromFacePosLevel(2, 5L, 4)
    // leftmost child chain shares rangeMin with the ancestor — the tie case
    val d1 = S2Cell.children(a).head
    val d2 = S2Cell.children(d1).head
    assert(S2Cell.rangeMin(d2) == S2Cell.rangeMin(a))
    assert(S2Cell.normalizeCover(Array(d2, a, d1)).toSeq == Seq(a))
    // an interior descendant is also dropped
    val mid = S2Cell.children(a)(2)
    assert(S2Cell.normalizeCover(Array(a, mid)).toSeq == Seq(a))
    // rightmost child chain shares rangeMax — also dropped
    val r1 = S2Cell.children(a).last
    assert(S2Cell.rangeMax(r1) == S2Cell.rangeMax(a))
    assert(S2Cell.normalizeCover(Array(r1, a)).toSeq == Seq(a))
    // disjoint cells pass through, ascending
    val b = S2Cell.fromFacePosLevel(3, 9L, 4)
    assert(S2Cell.normalizeCover(Array(b, a)).toSeq == Seq(a, b).sorted)
    // result is pairwise disjoint for a random mixed-level soup
    val rng = new scala.util.Random(7)
    val soup = Array.fill(200) {
      val lvl = 2 + rng.nextInt(5)
      S2Cell.fromFacePosLevel(rng.nextInt(6), rng.nextInt(1 << (2 * lvl)).toLong, lvl)
    }
    val norm = S2Cell.normalizeCover(soup)
    norm.sliding(2).foreach {
      case Array(x, y) => assert(S2Cell.rangeMax(x) < S2Cell.rangeMin(y))
      case _           =>
    }
  }

  test("hex: center of cell maps back to the same cell; res/q/r round-trip") {
    for (_ <- 1 to 2000) {
      val res = rng.nextInt(HexCell.MaxRes + 1)
      val id  = HexCell.cellId(randLng(), randLat(), res)
      assert(HexCell.res(id) == res)
      val (cx, cy) = HexCell.centerLngLat(id)
      assert(HexCell.cellId(cx, cy, res) == id)
      assert(HexCell.pack(HexCell.q(id), HexCell.r(id), res) == id)
    }
  }

  test("hex: a point is within circumradius of its cell center") {
    for (_ <- 1 to 2000) {
      val res = rng.nextInt(12)
      val lng = randLng(); val lat = randLat()
      val id  = HexCell.cellId(lng, lat, res)
      val (cx, cy) = HexCell.centerLngLat(id)
      val d = math.hypot(lng - cx, lat - cy)
      assert(d <= HexCell.sizeDeg(res) * 1.0000001, s"planar dist $d > size ${HexCell.sizeDeg(res)}")
    }
  }

  test("hex: ring/kRing counts and exact grid distances") {
    for (_ <- 1 to 100) {
      val id = HexCell.cellId(randLng(), randLat(), 5 + rng.nextInt(5))
      for (k <- 0 to 4) {
        val ring = HexCell.ring(id, k)
        assert(ring.length == (if (k == 0) 1 else 6 * k))
        ring.foreach(c => assert(HexCell.gridDistance(id, c) == k))
        val disk = HexCell.kRing(id, k)
        assert(disk.length == 1 + 3 * k * (k + 1))
        assert(disk.toSet.size == disk.length)
        disk.foreach(c => assert(HexCell.gridDistance(id, c) <= k))
      }
    }
  }

  test("hex: parent containment is center-faithful") {
    for (_ <- 1 to 1000) {
      val res = 1 + rng.nextInt(10)
      val id  = HexCell.cellId(randLng(), randLat(), res)
      val p   = HexCell.parent(id)
      assert(HexCell.res(p) == res - 1)
      // parent's center is within parent size of child's center
      val (cx, cy) = HexCell.centerLngLat(id)
      val (px, py) = HexCell.centerLngLat(p)
      assert(math.hypot(cx - px, cy - py) <= HexCell.sizeDeg(res - 1) * 1.0000001)
    }
  }

  test("hex: box cover is a sound superset of contained points' cells") {
    for (_ <- 1 to 200) {
      val w = randLng(); val s = randLat()
      val e = math.min(180, w + rng.nextDouble() * 3)
      val n = math.min(85, s + rng.nextDouble() * 3)
      val res   = 4 + rng.nextInt(4)
      val cover = HexCell.coverBox(w, s, e, n, res).toSet
      for (_ <- 1 to 50) {
        val px = w + rng.nextDouble() * (e - w)
        val py = s + rng.nextDouble() * (n - s)
        assert(cover.contains(HexCell.cellId(px, py, res)))
      }
    }
  }
}
