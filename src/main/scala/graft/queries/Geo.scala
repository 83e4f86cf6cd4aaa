package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch three: geospatial grid operators — radius self-join
  * via grid-cell candidate generation (the spatial analogue of the
  * dedup band joins: a bounded equi-join replaces the quadratic
  * cross join) and 3x3 neighborhood kernel density.
  *
  * Coordinates are a deterministic md5-derived projection of
  * `c_custkey` (the Advanced.scala hex-digit idiom — md5 is the one
  * hash both engines share; a LINEAR portable hash like knuth cannot
  * work here, two linear coordinates of the same key form a 1-D
  * lattice with zero near-collisions): lat in [-60, 60), lon in
  * [-177, 177), so the domain never touches the poles or the
  * antimeridian and the grid's 300 km coverage proof holds
  * everywhere (300 km <= 2.7 deg lat < 3 deg cells; <= 5.4 deg lon
  * at 60 deg < 6 deg cells; wrap pairs at +-177 are > 5.4 deg
  * effective, hence > 300 km).
  *
  * Scale notes: geo1 shuffles only (cell, id, lat, lon) — 9 candidate
  * cells per left row, each a slim equi-join key — and verifies
  * candidates with exact haversine; no cross join exists in the plan
  * at any scale (GeoSpec asserts the absence of
  * BroadcastNestedLoop/CartesianProduct and equality with the naive
  * quadratic join). geo2 is two aggregates over the same cell keys.
  */
object Geo extends QueryModule {

  /** Earth radius (km) for haversine. */
  private val R = 6371.0

  /** Radius (km) for geo1's pair join. */
  private val radiusKm = 300.0

  /** First 4 hex digits of md5(key || '#' || salt) as an int in
    * [0, 65536) — nonlinear, engine-portable.
    */
  private def hex4(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast("string"), lit("#" + salt))),
      1, 4), 16, 10).cast("long")

  private def lat(k: Column): Column =
    (pmod(hex4(k, "lat"), lit(12000L)).cast("double") / 100.0) - 60.0
  private def lon(k: Column): Column =
    (pmod(hex4(k, "lon"), lit(35400L)).cast("double") / 100.0) - 177.0

  /** Haversine great-circle distance in km between (lat1,lon1) and
    * (lat2,lon2) in degrees. Pure `functions._` trig — whole-stage
    * codegen'd, no UDF.
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column,
      lon2: Column): Column = {
    val dphi = radians(lat2 - lat1) / 2
    val dlam = radians(lon2 - lon1) / 2
    val a = pow(sin(dphi), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dlam), 2)
    asin(sqrt(a)) * (2 * R)
  }

  /** Deterministic customer point set for the geo queries (see the
    * object doc for the domain guarantees).
    */
  private[graft] def points(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_custkey").as("id"),
        lat(col("c_custkey")).as("lat"), lon(col("c_custkey")).as("lon"))

  /** geo1: all customer pairs within 300 km (haversine), via
    * grid-cell candidates + exact verify. Left side probes its 3x3
    * cell neighborhood; the equi-join on (celly, cellx) with
    * `id_a < id_b` yields each pair exactly once.
    */
  def geo1RadiusPairs(s: SparkSession, d: String): DataFrame = {
    val pts = points(s, d)
      .withColumn("cy", floor(col("lat") / 3.0))
      .withColumn("cx", floor(col("lon") / 6.0))
    val probes = pts
      .select(col("id").as("id_a"), col("lat").as("lat_a"),
        col("lon").as("lon_a"),
        explode(array((-1 to 1).flatMap(dy => (-1 to 1).map(dx =>
          struct((col("cy") + dy).as("cy"), (col("cx") + dx).as("cx"))))
          : _*)).as("cell"))
      .select(col("id_a"), col("lat_a"), col("lon_a"),
        col("cell.cy").as("cy"), col("cell.cx").as("cx"))
    probes.join(pts.select(col("id").as("id_b"), col("lat").as("lat_b"),
        col("lon").as("lon_b"), col("cy"), col("cx")),
        Seq("cy", "cx"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("km", haversineKm(col("lat_a"), col("lon_a"),
        col("lat_b"), col("lon_b")))
      .filter(col("km") <= radiusKm)
      .select(col("id_a"), col("id_b"), round(col("km"), 3).as("km3"))
  }

  /** geo2: 3x3-kernel grid density — per occupied cell, its own point
    * count and the total over its 8-neighborhood (each cell's count
    * scattered to its 9 covering neighborhoods, then re-aggregated:
    * two slim shuffles on cell keys, never the points).
    */
  def geo2KernelDensity(s: SparkSession, d: String): DataFrame = {
    val cells = points(s, d)
      .groupBy(floor(col("lat") / 3.0).as("cy"),
        floor(col("lon") / 6.0).as("cx"))
      .agg(count(lit(1)).as("n"))
    val scattered = cells
      .select(col("n"),
        explode(array((-1 to 1).flatMap(dy => (-1 to 1).map(dx =>
          struct((col("cy") + dy).as("cy"), (col("cx") + dx).as("cx"))))
          : _*)).as("cell"))
      .groupBy(col("cell.cy").as("cy"), col("cell.cx").as("cx"))
      .agg(sum(col("n")).as("kernel_n"))
    cells.join(scattered, Seq("cy", "cx"))
      .select(col("cy"), col("cx"), col("n"), col("kernel_n"))
  }

  /** Fixed 12-direction table for the synthetic polygons — two-decimal
    * constants (NOT sin/cos calls: libm transcendentals are the one
    * piece of double arithmetic that may differ in ulp between JVMs
    * and DuckDB; exact decimal literals parse to the identical double
    * on both engines, and +,-,*,/ on identical doubles are IEEE-
    * deterministic). Angularly ordered with positive radii, so each
    * polygon is star-shaped around its center — simple (non-self-
    * intersecting) but non-convex when the per-vertex radii differ,
    * exercising the general ray-cast.
    */
  private val polyDirs: Seq[(Double, Double)] = Seq(
    (1.0, 0.0), (0.87, 0.5), (0.5, 0.87), (0.0, 1.0), (-0.5, 0.87),
    (-0.87, 0.5), (-1.0, 0.0), (-0.87, -0.5), (-0.5, -0.87),
    (0.0, -1.0), (0.5, -0.87), (0.87, -0.5))

  /** Deterministic per-nation polygons: md5-derived center in
    * [-45, 45) × [-150, 150) and per-vertex radius 2..6 deg lat
    * (aspect 2 in lon), so every polygon stays inside the point
    * domain and covers a handful of grid cells.
    */
  private[graft] def polygons(s: SparkSession, d: String): DataFrame = {
    val k = col("n_nationkey")
    val cy = (pmod(hex4(k, "py"), lit(9000L)).cast("double") / 100.0) - 45.0
    val cx = (pmod(hex4(k, "px"), lit(30000L)).cast("double") / 100.0) - 150.0
    def r(i: Int): Column =
      lit(2.0) + pmod(hex4(k, "v" + i), lit(400L)).cast("double") / 100.0
    val ys = array(polyDirs.zipWithIndex.map { case ((_, dy), i) =>
      cy + r(i) * lit(dy) }: _*)
    val xs = array(polyDirs.zipWithIndex.map { case ((dx, _), i) =>
      cx + lit(2.0) * r(i) * lit(dx) }: _*)
    Tables.nation(s, d).select(k.as("poly_id"), xs.as("xs"), ys.as("ys"))
  }

  /** geo3: point-in-polygon containment join — the PostGIS-shaped
    * capability the reference provisions for its boundaries datasets
    * (reference `tests/test_load_dataset.py:46-50`,
    * `docker-compose.yml:26`), re-expressed as the geo1 grid pattern:
    * each polygon scatters to its bounding-box grid cells (a slim
    * (cy, cx, poly) frame — polygons are the DIM side and broadcast),
    * points carry their single cell, the candidate equi-join on the
    * cell key replaces the quadratic point × polygon cross join, and
    * the exact even-odd ray cast
    * ([[graft.functions.GeoFunctions.point_in_polygon]], a codegen'd
    * native expression) verifies candidates. A point inside a polygon
    * is inside its bounding box, so its cell is among the polygon's
    * covering cells — the candidate set loses nothing, which the
    * DuckDB oracle proves by replaying the NAIVE cross join with the
    * same analytic ray cast.
    *
    * 100 TB shape: the point side never shuffles for the polygon
    * lookup (broadcast cells), candidates are bounded by points ×
    * covering-polygons-per-cell, and the verify is one codegen loop
    * per candidate. With a polygon side too big to broadcast, the
    * same plan becomes a shuffle equi-join on the cell key — still
    * never a nested loop.
    */
  def geo3PointInPolygon(s: SparkSession, d: String): DataFrame =
    geo3On(points(s, d), polygons(s, d))

  /** The candidate stage alone — (point, polygon) rows sharing a grid
    * cell, BEFORE the ray-cast verify. geo3's scale claim is that cost
    * is candidate-bound (cells × covering polygons), not point ×
    * polygon, and this stage's row count is that bound.
    */
  private[graft] def geo3Candidates(pts: DataFrame, polys: DataFrame)
      : DataFrame = {
    val cells = polys
      .select(col("poly_id"), col("xs"), col("ys"),
        explode(sequence(floor(array_min(col("ys")) / 3.0).cast("long"),
          floor(array_max(col("ys")) / 3.0).cast("long"))).as("cy"))
      .select(col("poly_id"), col("xs"), col("ys"), col("cy"),
        explode(sequence(floor(array_min(col("xs")) / 6.0).cast("long"),
          floor(array_max(col("xs")) / 6.0).cast("long"))).as("cx"))
    // the broadcast hint is guarded like Clean.hintIfSmall: an
    // unconditional hint on an oversized polygon dim would fail at
    // the broadcast limit instead of degrading to the shuffle
    // equi-join the scaladoc promises — the checkpointed cells frame
    // makes the row count a cheap cached scan
    val cellsCk = cells.localCheckpoint(true)
    val dim =
      if (cellsCk.count() <= 4L * 1000 * 1000) broadcast(cellsCk)
      else cellsCk
    pts
      .withColumn("cy", floor(col("lat") / 3.0))
      .withColumn("cx", floor(col("lon") / 6.0))
      .join(dim, Seq("cy", "cx"))
  }

  private[graft] def geo3On(pts: DataFrame, polys: DataFrame): DataFrame =
    geo3Candidates(pts, polys)
      .filter(graft.functions.GeoFunctions.point_in_polygon(
        col("lon"), col("lat"), col("xs"), col("ys")))
      .select(col("id"), col("poly_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo1_radius_pairs" -> (geo1RadiusPairs _),
    "geo2_kernel_density" -> (geo2KernelDensity _),
    "geo3_point_in_polygon" -> (geo3PointInPolygon _))

  private def hex4SqlOf(arg: String): String = {
    val m = s"md5($arg)"
    s"""((strpos('0123456789abcdef', substr($m, 1, 1)) - 1) * 4096 +
        (strpos('0123456789abcdef', substr($m, 2, 1)) - 1) * 256 +
        (strpos('0123456789abcdef', substr($m, 3, 1)) - 1) * 16 +
        (strpos('0123456789abcdef', substr($m, 4, 1)) - 1))"""
  }

  private def hex4Sql(salt: String): String =
    hex4SqlOf(s"CAST(c_custkey AS VARCHAR) || '#$salt'")

  private val ptsCte =
    s"""pts AS MATERIALIZED (
         SELECT c_custkey AS id,
                CAST(${hex4Sql("lat")} % 12000 AS DOUBLE) / 100.0 - 60.0
                  AS lat,
                CAST(${hex4Sql("lon")} % 35400 AS DOUBLE) / 100.0
                  - 177.0 AS lon
         FROM customer)"""

  val oracles: Map[String, String] = Map(
    // the oracle is the NAIVE quadratic join — same pair semantics,
    // no grid: DuckDB verifies the candidate generator loses nothing
    "geo1_radius_pairs" ->
      s"""WITH $ptsCte
         SELECT a.id AS id_a, b.id AS id_b,
                round(2 * 6371.0 * asin(sqrt(
                  sin(radians(b.lat - a.lat) / 2) ^ 2 +
                  cos(radians(a.lat)) * cos(radians(b.lat)) *
                  sin(radians(b.lon - a.lon) / 2) ^ 2)), 3) AS km3
         FROM pts a JOIN pts b ON a.id < b.id
         WHERE 2 * 6371.0 * asin(sqrt(
                 sin(radians(b.lat - a.lat) / 2) ^ 2 +
                 cos(radians(a.lat)) * cos(radians(b.lat)) *
                 sin(radians(b.lon - a.lon) / 2) ^ 2)) <= 300.0""",
    "geo2_kernel_density" ->
      s"""WITH $ptsCte,
         cells AS MATERIALIZED (
           SELECT CAST(floor(lat / 3.0) AS BIGINT) AS cy,
                  CAST(floor(lon / 6.0) AS BIGINT) AS cx,
                  CAST(count(*) AS BIGINT) AS n
           FROM pts GROUP BY 1, 2),
         scattered AS (
           SELECT cells.cy + d.dy AS cy, cells.cx + d.dx AS cx,
                  CAST(sum(n) AS BIGINT) AS kernel_n
           FROM cells CROSS JOIN (
             SELECT a.dy, b.dx
             FROM (SELECT unnest([-1, 0, 1]) AS dy) a
             CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) b) d
           GROUP BY 1, 2)
         SELECT cells.cy, cells.cx, n, kernel_n
         FROM cells JOIN scattered
           ON cells.cy = scattered.cy AND cells.cx = scattered.cx""",
    // the oracle is the NAIVE point × polygon cross join with the
    // same analytic even-odd ray cast — DuckDB proves the grid-cell
    // candidate generator loses nothing. Vertex arithmetic uses only
    // exact decimal literals and +,-,*,/ on md5-derived doubles, so
    // both engines compute bit-identical polygons (see polyDirs doc).
    "geo3_point_in_polygon" -> {
      val hv = hex4SqlOf(
        "CAST(n_nationkey AS VARCHAR) || '#v' || CAST(i AS VARCHAR)")
      val hy = hex4SqlOf("CAST(n_nationkey AS VARCHAR) || '#py'")
      val hx = hex4SqlOf("CAST(n_nationkey AS VARCHAR) || '#px'")
      val dxs = polyDirs.map(_._1).mkString("[", ", ", "]")
      val dys = polyDirs.map(_._2).mkString("[", ", ", "]")
      s"""WITH $ptsCte,
         nvert AS MATERIALIZED (
           SELECT n_nationkey AS poly_id, i,
                  (CAST($hx % 30000 AS DOUBLE) / 100.0 - 150.0)
                    + 2.0 * (2.0 + CAST($hv % 400 AS DOUBLE) / 100.0)
                      * ($dxs[CAST(i AS INT) + 1]) AS x,
                  (CAST($hy % 9000 AS DOUBLE) / 100.0 - 45.0)
                    + (2.0 + CAST($hv % 400 AS DOUBLE) / 100.0)
                      * ($dys[CAST(i AS INT) + 1]) AS y
           FROM nation CROSS JOIN (SELECT unnest(range(12)) AS i)),
         e AS MATERIALIZED (
           SELECT a.poly_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
           FROM nvert a JOIN nvert b
             ON a.poly_id = b.poly_id AND b.i = (a.i + 11) % 12),
         hits AS (
           SELECT p.id, e.poly_id,
                  count(*) FILTER (WHERE (e.y1 > p.lat) != (e.y2 > p.lat)
                    AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1)
                                / (e.y2 - e.y1) + e.x1) AS c
           FROM pts p CROSS JOIN e GROUP BY 1, 2)
         SELECT id, poly_id FROM hits WHERE c % 2 = 1"""
    })
}
