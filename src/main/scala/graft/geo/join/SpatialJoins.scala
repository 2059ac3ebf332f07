package graft.geo.join

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.geo.sql.GeoFunctions._
import graft.geo.index.{HexCell, S2Cell}

/** The engine's spatial join surface (SURVEY.md §2.9, BASELINE.json:6,14).
  *
  * Everything is declarative DataFrame plans: cells are int64 equi-join keys
  * so Catalyst picks hash/broadcast/SMJ physical joins, AQE re-plans at
  * runtime, and parquet min-max pruning works on the cell columns. No RDDs,
  * no driver-side row loops (the kNN driver loop iterates ROUNDS — a handful
  * — not rows).
  */
object SpatialJoins {

  /** Point-in-polygon join.
    *
    * Plan shape (SURVEY.md §2.9 "point-in-polygon join"): cover each polygon
    * with hex cells of its bbox (sound superset, antimeridian-aware) →
    * explode → equi-join against `hex_cell(point)` → refine with the exact
    * `st_contains`. A point maps to exactly ONE cell and a polygon's cover
    * cells are distinct, so no post-join dedup is needed.
    *
    * @param points      DataFrame with double columns `lngCol`, `latCol`
    * @param polys       DataFrame with a packed geometry column `geomCol`
    * @param res         hex resolution of the cell grid (pick ~polygon size;
    *                    see [[resForBoxDeg]]). NEGATIVE = choose
    *                    automatically from the polygon side itself
    *                    ([[resForPolys]] — the default; callers stop
    *                    hand-tuning the grid to their polygon size)
    * @param broadcastPolys hint when the polygon side is small (the common
    *                    case: dimension-table-like polygon sets)
    * @param saltBuckets > 1 enables hot-cell salting: points in cells whose
    *                    count exceeds `hotCellThreshold` get a deterministic
    *                    salt in [0, saltBuckets); the polygon side is
    *                    replicated across salts for those cells only.
    */
  def pipJoin(
      points: DataFrame,
      lngCol: String,
      latCol: String,
      polys: DataFrame,
      geomCol: String,
      res: Int = -1,
      broadcastPolys: Boolean = true,
      saltBuckets: Int = 1,
      hotCellThreshold: Long = 2000000L): DataFrame = {

    val res0 = if (res >= 0) res else resForPolys(polys, geomCol)
    val polyCells0 = polys.withColumn("__cell", explode(hex_cover(col(geomCol), lit(res0))))
    val ptCells0   = points.withColumn("__cell", hex_cell(coord(lngCol), coord(latCol), lit(res0)))

    val (ptCells, polyCells) =
      if (saltBuckets <= 1) (ptCells0.withColumn("__salt", lit(0)),
                             polyCells0.withColumn("__salt", lit(0)))
      else {
        // pre-pass cell-count sketch → hot set (BASELINE.json:6 "salting hot
        // H3 cells detected from a pre-pass cell-count sketch")
        val hot = ptCells0.groupBy("__cell").count()
          .where(col("count") > hotCellThreshold)
          .select(col("__cell").as("__hot_cell"))
        val pts = ptCells0
          .join(broadcast(hot), ptCells0("__cell") === hot("__hot_cell"), "left")
          .withColumn("__salt",
            when(col("__hot_cell").isNotNull,
              pmod(hash(col(lngCol), col(latCol)), lit(saltBuckets))).otherwise(lit(0)))
          .drop("__hot_cell")
        // replicate polygon cover rows across all salts for hot cells only
        // (generator must be top-level: explode a conditional array)
        val pls = polyCells0
          .join(broadcast(hot), polyCells0("__cell") === hot("__hot_cell"), "left")
          .withColumn("__salt", explode(
            when(col("__hot_cell").isNotNull, sequence(lit(0), lit(saltBuckets - 1)))
              .otherwise(array(lit(0)))))
          .drop("__hot_cell")
        (pts, pls)
      }

    val rhs    = if (broadcastPolys) broadcast(polyCells) else polyCells
    val joined = ptCells.join(rhs, Seq("__cell", "__salt"))
      .where(st_contains(col(geomCol), coord(lngCol), coord(latCol)))
      .drop("__cell", "__salt")
    joined
  }

  /** A point coordinate as every join hands it to a keying or refining
    * engine function. Those functions are null-intolerant StaticInvokes:
    * on a raw column, Catalyst infers isnotnull(lng/lat) from the join key
    * or the refine and pushes it below the projection that derives the
    * coordinates, which then runs twice per row (costly when they are
    * parsed from a string, as ImageGen's are). Behind this coalesce nothing
    * is inferred. A null coordinate reads as NaN, which st_contains and
    * every haversine bound reject, so a null point still matches nothing. */
  private[graft] def coord(c: String): Column = coalesce(col(c), lit(Double.NaN))

  /** Multi-level PIP join for MIXED-size polygon sets: polygon covers carry
    * interior cells at coarse levels and boundary cells refined to
    * `maxLevel` (O(perimeter) cover size even for continent-scale
    * geometries), points explode their ancestor cell per level
    * (maxLevel-minLevel+1 rows, a narrow map). Cover cells are disjoint and
    * a point has one ancestor per level, so each (point, polygon) pair
    * matches at most once — no dedup needed. Both sides join on
    * [[s2Key]]. Same refine step as [[pipJoin]].
    */
  def pipJoinMultiLevel(
      points: DataFrame,
      lngCol: String,
      latCol: String,
      polys: DataFrame,
      geomCol: String,
      minLevel: Int = 4,
      maxLevel: Int = 12,
      broadcastPolys: Boolean = true): DataFrame = {
    val polyCells = polys.withColumn("__cell",
      explode(s2_cover_multi(col(geomCol), lit(minLevel), lit(maxLevel))))
      .withColumn("__cell", s2Key(col("__cell")))
    val ptCells = points.withColumn("__cell",
      explode(s2_ancestors(col(lngCol), col(latCol), lit(minLevel), lit(maxLevel))))
      .withColumn("__cell", s2Key(col("__cell")))
    val rhs = if (broadcastPolys) broadcast(polyCells) else polyCells
    ptCells.join(rhs, Seq("__cell"))
      .where(st_contains(col(geomCol), coord(lngCol), coord(latCol)))
      .drop("__cell")
  }

  /** Intersects join (beyond the reference's surface) for every pair (a, b)
    * whose geometries share any point — any dimension pair: polygons,
    * lines, points and their multis (the refinement kernel is the general
    * [[graft.geo.algo.GeoAlgo.intersectsGeoms]]; covers come from per-ring
    * wrapped boxes, which lines and point sets have too).
    *
    * Candidates: both sides take normalized multi-level covers. Quadtree
    * cell ranges are nested-or-disjoint, so two covers overlap iff some cell
    * of one CONTAINS some cell of the other — i.e. they share a key when the
    * finer cell is lifted to its ancestors:
    * `(A.cells ⋈ B.cells∪ancestors) ∪ (A.cells∪ancestors ⋈ B.cells)`,
    * two plain equi-joins, deduped on (aId, bId). Covers are O(perimeter) at
    * `maxLevel`; ancestor lifting adds × (levels). Both sides join on
    * [[s2Key]]. Refinement is the exact
    * planar [[graft.geo.algo.GeoAlgo.intersectsGeoms]] kernel
    * (`st_intersects`).
    *
    * @return one row per intersecting pair: aId, bId columns only.
    */
  def intersectsJoin(
      aDf: DataFrame, aId: String, aGeom: String,
      bDf: DataFrame, bId: String, bGeom: String,
      minLevel: Int = 4,
      maxLevel: Int = 10,
      broadcastB: Boolean = true): DataFrame = {
    // one cover pass per side: posexplode of the ancestor lift tags the
    // cover cell itself with __pos = 0 (s2_cell_ancestors emits the cell
    // first); containment then needs ONE equi-join with the condition that
    // at least one side is a plain cover cell — (A.plain x B.lifted) and
    // (A.lifted x B.plain) in a single pass, no duplicate cover computation
    def keys(df: DataFrame, id: String, geom: String, pos: String): DataFrame =
      df.select(col(id), col(geom))
        .withColumn("__c0", explode(s2_cover_multi(col(geom), lit(minLevel), lit(maxLevel))))
        .select(col(id), posexplode(s2_cell_ancestors(col("__c0"), lit(minLevel))).as(Seq(pos, "__c")))
        .select(col(id), col(pos), s2Key(col("__c")).as("__cell"))
    val aK = keys(aDf, aId, aGeom, "__pa")
    val bK = keys(bDf, bId, bGeom, "__pb")
    val rhsK = if (broadcastB) broadcast(bK) else bK
    val cand = aK.join(rhsK, Seq("__cell"))
      .where(col("__pa") === 0 || col("__pb") === 0)
      .select(col(aId), col(bId))
      .dropDuplicates(aId, bId)
    // internal aliases: both sides may use the same geometry column name
    val aG = aDf.select(col(aId), col(aGeom).as("__ga"))
    val bG = bDf.select(col(bId), col(bGeom).as("__gb"))
    cand
      .join(aG, Seq(aId))
      .join(if (broadcastB) broadcast(bG) else bG, Seq(bId))
      .where(st_intersects(col("__ga"), col("__gb")))
      .select(col(aId), col(bId))
  }

  /** Hex resolution whose cell size is about half the given box span
    * (degrees) — 2-8 cover cells per polygon, the sweet spot between join
    * fan-out and cell selectivity. */
  def resForBoxDeg(spanDeg: Double): Int = {
    var r = 0
    while (r < HexCell.MaxRes && HexCell.sizeDeg(r) > spanDeg / 2.0) r += 1
    r
  }

  /** [[pipJoin]]'s automatic `res`: [[resForBoxDeg]] of the MEDIAN bbox span
    * over a bounded polygon sample. The sample is `limit(sampleN)` on the
    * polygon side — ONE tiny dim-side job whose cost is independent of
    * scale (polygons are the dimension-table side of a PIP join by
    * construction; the POINT side never runs a job here). The median keeps
    * one continent in a set of city districts from coarsening every cover;
    * an antimeridian-crossing polygon's naive full-span bbox only coarsens
    * its own vote. */
  def resForPolys(polys: DataFrame, geomCol: String, sampleN: Int = 256): Int = {
    val bb = st_bbox(col(geomCol))
    val spans = polys.select(greatest(
        element_at(bb, 3) - element_at(bb, 1),
        element_at(bb, 4) - element_at(bb, 2)).as("__span"))
      .where(col("__span").isNotNull)
      .limit(sampleN).collect().map(_.getDouble(0)).sorted
    if (spans.isEmpty) 4 // nothing to measure: a mid-scale grid
    else resForBoxDeg(math.max(1e-9, spans(spans.length / 2)))
  }

  /** kNN join: for each query row the k nearest point rows by haversine —
    * a thin entry into [[knnJoinS2]]'s metric-cap loop, which certifies at
    * any latitude and across the antimeridian with no routing or seam
    * probing. `res` only sets that loop's finest probe level: the coarsest
    * S2 level whose cells are no wider than a hex cell at `res`, and never
    * coarser than level 10 (so `res <= 6` keeps the 4..10 default).
    *
    * @param queries DataFrame with (qidCol, qLng, qLat)
    * @param points  DataFrame with (idCol, pLng, pLat); extra cols carried
    * @return qid, point columns, `dist_m`, `rank` (1..k)
    */
  def knnJoin(
      queries: DataFrame,
      qidCol: String, qLng: String, qLat: String,
      points: DataFrame,
      pLng: String, pLat: String,
      k: Int,
      res: Int): DataFrame = {
    val hexWidthDeg = math.sqrt(3.0) * HexCell.sizeDeg(res) // across flats
    // S2 level-l cell edge ≈ 90° / 2^l on a face
    val level = math.ceil(math.log(90.0 / hexWidthDeg) / math.log(2.0)).toInt
    knnJoinS2(queries, qidCol, qLng, qLat, points, pLng, pLat, k,
      maxLevel = math.min(S2Cell.MaxLevel, math.max(10, level)))
  }

  /** kNN join on S2 cells: one certified-radius candidate loop. S2's cube
    * faces have no singularity at the poles and the cap boxes wrap through
    * ±180, so every query stays cell-pruned at any latitude.
    *
    * Per round, each undecided query covers a METRIC cap (radius r, growing
    * 4x/round) with a sound lat/lng box:
    *   Δφ = r / R  (great-circle distance ≥ R·|Δφ_rad|)
    *   Δλ = 2·asin(min(1, r / (2·R·cos φmax)))  with φmax = max |lat| in the
    *        band — from haversine ≥ 2R·cos φmax·sin(|Δλ|/2) — so every point
    *        within r lies inside the box; full-longitude when the band
    *        touches a pole or Δλ ≥ 180°.
    * Each round probes ONE S2 level, chosen from r and clamped to
    * [minLevel, maxLevel] ([[capCandidates]]): the box's few cells at that
    * level against each point's single cell there, so each (q, p) pair
    * appears at most once. A round ranks only the candidates inside the
    * cap ([[knnRound]]), and a query is DONE when it holds k of them:
    * nothing outside the cap can be nearer, ties included. Only the
    * undecided queries ride the next round. Stragglers (neighborhood
    * emptier than the last radius) and queries with a null or NaN
    * coordinate (they can never certify, so they skip the rounds) take the
    * brute-force tail, which ranks only the points with finite coordinates:
    * the rounds never meet the others either.
    *
    * One Spark action per round: the eager localCheckpoint of the ranked
    * round, which also observes the counts of undecided queries that size
    * the next round and the tail. Every undecided query keeps one row in
    * that checkpoint, so the next round's queries are read straight from
    * it. The round's jobs are labelled `knnJoin round <i>` (the caller's
    * job description is restored after). The answer is the union of each
    * round's certified rows, read from the same checkpoints.
    *
    * The query and point sides must not share a column name.
    *
    * @return qid, point columns, `dist_m`, `rank` (1..k)
    */
  def knnJoinS2(
      queries: DataFrame,
      qidCol: String, qLng: String, qLat: String,
      points: DataFrame,
      pLng: String, pLat: String,
      k: Int,
      minLevel: Int = 4,
      maxLevel: Int = 10,
      initialRadiusM: Double = -1.0,
      maxRounds: Int = 5): DataFrame = {
    val clash = queries.columns.filter(c => points.columns.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty, s"knnJoinS2: query and point sides share column name(s) ${clash.mkString(", ")}")

    // auto initial radius (<= 0): size the first cap so most queries certify
    // in round 1 — r0 = 2 sqrt(k A / (pi N)) with N from the PLAN-TIME row
    // estimate (zero jobs: no eager scan of the points input, which at 100 TB
    // would be a full-table pass before the job even starts). Only the order
    // of magnitude matters: r0 enters as 1/sqrt(N) and the cap grows 4x per
    // round, so a 16x row-count error costs exactly one extra round; the
    // clamp bounds the damage from a degenerate estimate. Pass an explicit
    // initialRadiusM when the true density is known.
    val r0 = if (initialRadiusM > 0) initialRadiusM else autoRadiusM(points, k)

    val sc = queries.sparkSession.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")

    // `remaining` holds every undecided query, those with a null or NaN
    // coordinate included; only finite ones are probed, and the loop ends
    // once no finite one is left
    var remaining = queries
    var resultOpt: Option[DataFrame] = None
    var radiusM   = r0
    var round     = 0
    var probeCount = 1L // unknown before round 1: no eager count
    var tailCount  = 1L
    while (round < maxRounds && probeCount > 0) {
      // every job of the round carries its label, AQE's shuffle stages
      // included. localCheckpoint: each round's plan would otherwise EMBED
      // every prior round's plan and Catalyst analysis time grows
      // exponentially with rounds
      sc.setJobDescription(s"knnJoin round ${round + 1}")
      val counts = Observation()
      val ranked = try knnRound(remaining, qidCol, qLng, qLat, points, pLng, pLat,
          k, radiusM, minLevel, maxLevel, counts).localCheckpoint(eager = true)
        finally sc.setJobDescription(callerDescription)
      val done = ranked.where(col("__done")).drop("__done")
      resultOpt = Some(resultOpt.map(_.unionByName(done)).getOrElse(done))
      remaining = ranked.where(!col("__done") && col("rank") === 1)
        .select(queries.columns.map(col).toIndexedSeq: _*)
      // the eager checkpoint's own job delivered the counts, so get waits
      // on no other action (a lazy checkpoint would complete the
      // Observation at once, with zeros)
      val c = counts.get
      probeCount = c("probe").asInstanceOf[Long]
      tailCount  = c("tail").asInstanceOf[Long]
      radiusM *= 4
      round += 1
    }
    val tail =
      if (tailCount == 0) None
      else Some(remaining.crossJoin(points.where(finite(pLng) && finite(pLat)))
        .withColumn("dist_m", haversine(col(qLng), col(qLat), col(pLng), col(pLat)))
        .withColumn("rank", row_number().over(nearestFirst(qidCol, pLng, pLat)))
        .where(col("rank") <= k))
    // never both empty: with no round run, tailCount is still 1
    (resultOpt ++ tail).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** One round of [[knnJoinS2]] at cap radius `radiusM`, lazy: each
    * `remaining` query's nearest points among its candidates INSIDE the cap
    * (`dist_m <= r·(1−1e−9)`, a hair under the box's `r·(1+1e−9)`, so float
    * rounding can never drop a true neighbor the done test trusts), ranked
    * 1..k, plus `__done`: the query holds k of them. Each `remaining` query
    * also contributes one SENTINEL row (null point columns, null `dist_m`)
    * that sorts after every candidate, so a query with fewer than k in-cap
    * candidates, or one never probed for a null or NaN coordinate, keeps
    * its row at rank 1 and is undecided (`!__done`). Observes into `counts`
    * the undecided queries with finite coordinates and all undecided
    * queries, as `probe` and `tail`; the metrics arrive with the first
    * job run on the result itself. */
  private[graft] def knnRound(
      remaining: DataFrame, qidCol: String, qLng: String, qLat: String,
      points: DataFrame, pLng: String, pLat: String,
      k: Int, radiusM: Double, minLevel: Int, maxLevel: Int, counts: Observation): DataFrame = {
    val coordsOk = finite(qLng) && finite(qLat)
    val inCap = capCandidates(remaining.where(coordsOk), qLng, qLat,
        points, pLng, pLat, radiusM, minLevel, maxLevel)
      .where(col("dist_m") <= radiusM * (1.0 - 1e-9))
    val undecided = !col("__done") && col("rank") === 1
    // the done test is a window aggregate over the same qid partition as
    // the ranking, so it costs no extra exchange
    inCap.unionByName(remaining, allowMissingColumns = true)
      .withColumn("rank", row_number().over(nearestFirst(qidCol, pLng, pLat)))
      .where(col("rank") <= k)
      .withColumn("__done", count(col("dist_m")).over(Window.partitionBy(col(qidCol))) === k)
      .observe(counts, count(when(undecided && coordsOk, 1)).as("probe"), count(when(undecided, 1)).as("tail"))
  }

  /** The kNN ranking order: nearest first, ties broken by (lng, lat), and
    * a round's null-distance sentinel after every point. */
  private def nearestFirst(qidCol: String, pLng: String, pLat: String) =
    Window.partitionBy(col(qidCol)).orderBy(col("dist_m").asc_nulls_last, col(pLng), col(pLat))

  private def finite(c: String): Column = col(c).isNotNull && !isnan(col(c).cast("double"))

  /** Persist a polygon set's JOIN INDEX — cover cells + packed geometries —
    * so repeated point batches join against static boundaries (admin areas,
    * tile schemes) without re-parsing or re-covering the polygons each run:
    * the third persisted prepare-once artifact next to the dedup signature
    * catalog and the IVF inverted file. Layout: `path/cells` = one row per
    * (cover cell, polygon) with the packed geometry struct inline;
    * `path/params` = the hex resolution, the index's commit marker
    * ([[graft.Par.commit]]): written after `cells`, so a failed rebuild at
    * another resolution leaves no `res` over the old cells for
    * [[pipJoinWithIndex]] to key points with. */
  def writeCoverIndex(polys: DataFrame, idCol: String, geomCol: String,
                      path: String, res: Int): Unit = {
    val spark = polys.sparkSession
    import spark.implicits._
    graft.Par.commit(path, Seq(res).toDF("res"),
      "cells" -> polys.select(col(idCol), col(geomCol).as("__geom"),
        explode(hex_cover(col(geomCol), lit(res))).as("__cell")))
  }

  /** PIP join of a point batch against a persisted [[writeCoverIndex]]:
    * identical output to [[pipJoin]] (each polygon's cover cells are
    * distinct, so a point matches a polygon on at most one cell — no dup
    * pairs), but the polygon side is a plain parquet scan of precomputed
    * cells + geometries (broadcast by default): zero parse, zero cover
    * computation per batch. */
  def pipJoinWithIndex(points: DataFrame, lngCol: String, latCol: String,
                       path: String, broadcastIndex: Boolean = true): DataFrame = {
    val spark = points.sparkSession
    val res = spark.read.parquet(s"$path/params").head.getAs[Int]("res")
    val idx0 = spark.read.parquet(s"$path/cells")
    val idx  = if (broadcastIndex) broadcast(idx0) else idx0
    points.withColumn("__cell", hex_cell(coord(lngCol), coord(latCol), lit(res)))
      .join(idx, Seq("__cell"))
      .where(st_contains(col("__geom"), coord(lngCol), coord(latCol)))
      .drop("__cell", "__geom")
  }

  /** Sound lat/lng box (w, s, e, n) covering the metric cap of radius
    * `radiusM` metres around (qLng, qLat) — the shared soundness-critical
    * geometry of [[knnJoinS2]] and [[distanceJoin]]: the box is drawn a hair
    * wide (1e-9) so haversine float error can never exclude a true boundary
    * point, Δλ comes from the haversine lower bound at the band's max
    * latitude, and caps peaking above |lat| 89.99° (where the clamped cos is
    * no longer a sound under-estimate) take the full-longitude band. */
  private def capBox(qLng: Column, qLat: Column, radiusM: Double)
      : (Column, Column, Column, Column) = {
    val R      = 6371008.8 // metres; matches GeoAlgo.haversine
    val rBox   = radiusM * (1.0 + 1e-9)
    val dPhi   = lit(rBox / R * (180.0 / math.Pi))
    val sBound = greatest(lit(-90.0), qLat - dPhi)
    val nBound = least(lit(90.0), qLat + dPhi)
    val phiMax = greatest(abs(sBound), abs(nBound))
    val dLng   = degrees(lit(2.0) * asin(least(lit(1.0),
      lit(rBox) / (lit(2.0 * R) * cos(radians(least(lit(89.99), phiMax)))))))
    val polar  = (phiMax >= 89.99) || (dLng >= 180.0)
    val w0 = when(polar, lit(-180.0)).otherwise(qLng - dLng)
    val e0 = when(polar, lit(180.0)).otherwise(qLng + dLng)
    (w0, sBound, e0, nBound)
  }

  /** WITHIN-DISTANCE join (distance join): every (query, point) pair within
    * `maxDistM` metres — the set-returning sibling of [[knnJoinS2]], using
    * the same metric-cap candidates ([[capCandidates]]; pole-safe: caps
    * peaking above |lat| 89.99° take the full-longitude band; seam-safe:
    * w > e boxes wrap through ±180), but with NO radius loop or window — the
    * radius is given, so the plan is one single-level cover explode, one
    * cell equi-join and an exact haversine refine. Every true pair matches
    * on exactly one cell — no post-join dedup, no pair ever verified twice.
    * Scale shape: both sides shuffle once on the int64 cell key (or the
    * smaller side broadcasts under AQE); candidate fan-in per query is the
    * point count of the cap's few level cells.
    *
    * @return all query columns + all point columns + `dist_m` (<= maxDistM)
    */
  def distanceJoin(
      queries: DataFrame, qLng: String, qLat: String,
      points: DataFrame, pLng: String, pLat: String,
      maxDistM: Double,
      minLevel: Int = 4,
      maxLevel: Int = 10): DataFrame = {
    require(maxDistM > 0, s"maxDistM must be positive, got $maxDistM")
    capCandidates(queries, qLng, qLat, points, pLng, pLat, maxDistM, minLevel, maxLevel)
      .where(col("dist_m") <= maxDistM)
  }

  /** Every (query, point) pair whose point may lie within `radiusM` of the
    * query, with its haversine `dist_m` — the cell phase shared by
    * [[knnJoinS2]]'s rounds and [[distanceJoin]]. Both sides meet on ONE S2
    * level, [[capLevel]]: a query explodes the few level cells that cover
    * its [[capBox]] ([[capCover]]), a point takes its single cell at that
    * level, and the two join on [[s2Key]]. The cover contains the box and a
    * point has exactly one cell, so every true pair matches on exactly one
    * cell. A point with a null or NaN coordinate has a null key and meets
    * no query (keyed through [[coord]], all such points would share one
    * cell). */
  private def capCandidates(
      queries: DataFrame, qLng: String, qLat: String,
      points: DataFrame, pLng: String, pLat: String,
      radiusM: Double, minLevel: Int, maxLevel: Int): DataFrame = {
    val level = lit(capLevel(radiusM, minLevel, maxLevel))
    val pKey = when(!isnan(coord(pLng)) && !isnan(coord(pLat)),
      s2Key(s2_cell(coord(pLng), coord(pLat), level)))
    queries
      .withColumn("__cell", explode(capCover(col(qLng), col(qLat), radiusM, minLevel, maxLevel)))
      .join(points, s2Key(col("__cell")) === pKey)
      .drop("__cell")
      .withColumn("dist_m", haversine(coord(qLng), coord(qLat), coord(pLng), coord(pLat)))
  }

  /** The [[capLevel]] cells covering a query's [[capBox]] of radius
    * `radiusM` (the box may wrap below -180: `s2_cover_box` normalizes). */
  private[graft] def capCover(qLng: Column, qLat: Column, radiusM: Double,
                              minLevel: Int, maxLevel: Int): Column = {
    val (w0, sBound, e0, nBound) = capBox(qLng, qLat, radiusM)
    val level = lit(capLevel(radiusM, minLevel, maxLevel))
    s2_cover_box(w0, sBound, e0, nBound, level, level)
  }

  /** The one S2 level a cap of radius `radiusM` is probed at: the finest
    * whose cell edge (about 1e7 m / 2^L) is at least the cap box's width
    * 2r, clamped to [minLevel, maxLevel]. The box then meets a handful of
    * cells where a multi-level cover of it needs hundreds. */
  private def capLevel(radiusM: Double, minLevel: Int, maxLevel: Int): Int = {
    val level = math.floor(math.log(1e7 / (2.0 * radiusM)) / math.log(2.0)).toInt
    math.max(minLevel, math.min(maxLevel, level))
  }

  /** The equi-join key of an S2 cell id: `xxhash64(c)`, a bijection on
    * longs (every step of XXH64 over one 8-byte word is invertible) that
    * spreads every bit. A level-L id ends in 60 − 2L zero bits, and Spark's
    * broadcast long-key hash map (`LongToUnsafeRowMap`) takes the slot
    * `(h ^ (h >> 32)) & mask` with h = key · 0x9E3779B9, so raw ids at
    * L ≤ 14 always leave the low 28 − 2L slot bits 0 and pile into a few
    * slots. It names `c` once, so a key over a computed cell computes the
    * cell once even inside a join condition, where Spark does not share
    * subexpressions. Key non-null cells only: xxhash64 maps a null to its
    * seed, not to null. Every S2-keyed join keys both sides with it. */
  private[graft] def s2Key(cell: Column): Column = xxhash64(cell)

  /** [[knnJoinS2]]'s automatic initial radius: a cap that holds about 4k
    * points at the plan-time density, clamped to [50 m, 2000 km]. */
  private[graft] def autoRadiusM(points: DataFrame, k: Int): Double = {
    val n = planTimeRowEstimate(points)
    math.min(2.0e6, math.max(50.0, 2.0 * math.sqrt(k * 5.1e14 / (math.Pi * n))))
  }

  /** Row-count estimate from Catalyst plan statistics — launches ZERO Spark
    * jobs. Uses the optimizer's rowCount when the catalog/CBO provides one,
    * else sizeInBytes divided by the schema's default row width (file-size
    * based for parquet scans: compression skews it, but [[knnJoinS2]] only
    * needs the order of magnitude). */
  private[graft] def planTimeRowEstimate(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).filter(_ > 0).getOrElse {
      val width = math.max(8, df.schema.fields.map(_.dataType.defaultSize).sum)
      math.max(1L, (stats.sizeInBytes / width).min(BigInt(Long.MaxValue)).toLong)
    }
  }

  /** Raster→vector tile assignment (BASELINE.json:14): attach the packed ZXY
    * tile key plus z/x/y columns; callers repartition/partitionBy on them
    * for tile-local downstream work.
    */
  def assignTiles(df: DataFrame, lngCol: String, latCol: String, z: Int): DataFrame =
    df.withColumn("tile_key", tile_key(col(lngCol), col(latCol), lit(z)))
      .withColumn("tile_z", tile_z(col("tile_key")))
      .withColumn("tile_x", tile_x(col("tile_key")))
      .withColumn("tile_y", tile_y(col("tile_key")))

  /** Write tile-bucketed output: repartitioned by tile key (co-locates each
    * tile, avoids the million-directory explosion of partitionBy at high z)
    * and sorted within partitions so readers stream tiles contiguously.
    */
  def writeTiled(df: DataFrame, path: String, buckets: Int): Unit =
    df.repartition(buckets, col("tile_key"))
      .sortWithinPartitions("tile_key")
      .write.mode("overwrite").parquet(path)

  /** Tile a GEOMETRY layer at zoom z with EXACT per-tile geometry — the
    * construction twin of [[assignTiles]] (which buckets points): each row
    * explodes to the z-tiles its bbox covers and carries `tile_geom`, the
    * geometry CLIPPED to that tile's bounds (`st_clip_box`), so a
    * [[writeTiled]] sink ships exact per-tile pieces the way every real
    * tile pipeline does. Bbox covers are sound supersets; tiles whose clip
    * is empty drop on the `isNotNull` filter. Adjacent tiles share
    * bit-identical boundary doubles ([[graft.geo.algo.GeoAlgo.tileBounds]]),
    * so the pieces partition the geometry exactly along tile seams
    * (ClipSpec pins the area sum). Entirely narrow — no shuffle until the
    * caller's write. An antimeridian-crossing geometry covers via its naive
    * full-span bbox (sound, not minimal) and its pieces land on both sides
    * with normalized longitudes. */
  def tilePolygons(df: DataFrame, geomCol: String, z: Int): DataFrame = {
    val tb = tile_bounds(col("tile_key"))
    val clip = st_clip_box(col(geomCol),
      element_at(tb, 1), element_at(tb, 2), element_at(tb, 3), element_at(tb, 4))
    // null-clip rows drop INSIDE the generator (explode of a filtered
    // 0/1-element array): a plain `.where(isNotNull)` gets pushed below the
    // projection by Catalyst and re-evaluates the clip twice per row
    df.withColumn("tile_key", explode(tile_cover(col(geomCol), lit(z))))
      .withColumn("tile_geom",
        explode(filter(array(clip), g => g.isNotNull)))
  }
}
