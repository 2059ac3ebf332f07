package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Seeded writer of the `geojson_etl` input: `files` FeatureCollection
  * documents holding `features` features between them. Most features are
  * small (points, short lines, small polygons) with a handful of
  * properties; a `bigShare` of them are the large fixture polygon
  * (`simple.geojson`, 987 positions) translated. The same seed writes the
  * same bytes.
  *
  * The generator also returns, per feature, the key the output check
  * expects to read back: name, code, geometry type and position count. */
object GeoJsonInput {

  final case class Written(keys: mutable.HashMap[String, Int], bytes: Long)

  def key(name: String, code: String, gtype: String, npos: Int): String =
    s"$name|$code|$gtype|$npos"

  /** Positions of the large fixture polygon's outer ring, read with
    * Jackson rather than the engine's own codec. */
  lazy val bigRing: Array[(Double, Double)] = {
    val in = getClass.getResourceAsStream("/geo-fixtures/simple.geojson")
    require(in != null, "missing fixture simple.geojson on the class path")
    val doc = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in) finally in.close()
    val ring = doc.get("features").get(0).get("geometry").get("coordinates").get(0)
    Array.tabulate(ring.size())(i => (ring.get(i).get(0).asDouble(), ring.get(i).get(1).asDouble()))
  }

  /** Appends `v` rounded to 6 decimals, without String.format. */
  private def num(sb: java.lang.StringBuilder, v: Double): Unit = {
    val micro = math.round(v * 1e6)
    if (micro < 0) sb.append('-')
    val a = math.abs(micro)
    sb.append(a / 1000000L)
    val frac = a % 1000000L
    if (frac != 0) {
      sb.append('.')
      val s = frac.toString
      var pad = 6 - s.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      var end = s.length
      while (s.charAt(end - 1) == '0') end -= 1
      sb.append(s, 0, end)
    }
  }

  private def pos(sb: java.lang.StringBuilder, lng: Double, lat: Double): Unit = {
    sb.append('['); num(sb, lng); sb.append(','); num(sb, lat); sb.append(']')
  }

  /** Writes feature `i` to `sb`; returns its check key. */
  private def feature(sb: java.lang.StringBuilder, seed: Long, i: Long, r: SplittableRandom,
                      bigShare: Double): String = {
    val name = s"n${seed}_$i"
    val code = f"${r.nextInt(100000)}%05d"
    val lng = r.nextDouble(-170.0, 170.0)
    val lat = r.nextDouble(-75.0, 75.0)
    sb.append("""{"type":"Feature","id":"""").append(seed).append('-').append(i)
      .append("""","geometry":{"type":"""")
    val u = r.nextDouble()
    val (gtype, npos) =
      if (u < bigShare) {
        val ring = bigRing
        val dx = lng - ring(0)._1
        val dy = math.max(-30.0, math.min(30.0, lat - ring(0)._2))
        sb.append("""Polygon","coordinates":[[""")
        var j = 0
        while (j < ring.length) {
          if (j > 0) sb.append(',')
          pos(sb, ring(j)._1 + dx, ring(j)._2 + dy)
          j += 1
        }
        sb.append("]]")
        ("Polygon", ring.length)
      } else if (u < 0.5) {
        sb.append("""Point","coordinates":"""); pos(sb, lng, lat)
        ("Point", 1)
      } else if (u < 0.75) {
        val n = 2 + r.nextInt(5)
        sb.append("""LineString","coordinates":[""")
        var x = lng; var y = lat
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(',')
          pos(sb, x, y)
          x += r.nextDouble(-0.05, 0.05); y += r.nextDouble(-0.05, 0.05)
          j += 1
        }
        sb.append(']')
        ("LineString", n)
      } else {
        // a star-shaped ring: vertices at increasing angles, closed
        val n = 3 + r.nextInt(6)
        val step = 2 * math.Pi / n
        sb.append("""Polygon","coordinates":[[""")
        var first = (0.0, 0.0)
        var j = 0
        while (j < n) {
          val a = j * step + r.nextDouble(0.0, step * 0.8)
          val rad = r.nextDouble(0.01, 0.1)
          val p = (lng + rad * math.cos(a), lat + rad * math.sin(a))
          if (j == 0) first = p else sb.append(',')
          pos(sb, p._1, p._2)
          j += 1
        }
        sb.append(','); pos(sb, first._1, first._2)
        sb.append("]]")
        ("Polygon", n + 1)
      }
    sb.append("""},"properties":{"name":"""").append(name)
      .append("""","code":"""").append(code)
      .append("""","pop":""").append(r.nextInt(1000000))
      .append(""","score":"""); num(sb, r.nextInt(10000) / 100.0)
    sb.append(""","tags":["t""").append(r.nextInt(50)).append("""","t""").append(r.nextInt(50))
      .append(""""],"active":""").append(r.nextBoolean()).append("}}")
    key(name, code, gtype, npos)
  }

  /** Writes `files` documents under `dir` (cleared first), in parallel on
    * `threads` threads. Feature `i` lives in file `i * files / features`
    * and draws from its own seeded stream, so threading never changes the
    * bytes. */
  def write(dir: File, seed: Long, features: Long, files: Int, bigShare: Double,
            threads: Int): Written = {
    Files.deleteRecursively(dir)
    dir.mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val parts = (0 until files).map { f =>
        Future {
          val lo = features * f / files
          val hi = features * (f + 1) / files
          val keys = mutable.HashMap.empty[String, Int]
          val file = new File(dir, f"part-$f%05d.geojson")
          val out = new BufferedWriter(new OutputStreamWriter(
            new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
          try {
            val sb = new java.lang.StringBuilder(1 << 16)
            out.write("""{"type":"FeatureCollection","features":[""")
            var i = lo
            while (i < hi) {
              sb.setLength(0)
              if (i > lo) sb.append(',')
              val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (i * 0xC2B2AE3D27D4EB4FL))
              val k = feature(sb, seed, i, r, bigShare)
              keys.update(k, keys.getOrElse(k, 0) + 1)
              out.append(sb)
              i += 1
            }
            out.write("]}")
          } finally out.close()
          (keys, file.length())
        }
      }
      val done = parts.map(Await.result(_, Duration.Inf))
      val all = mutable.HashMap.empty[String, Int]
      done.foreach(_._1.foreach { case (k, c) => all.update(k, all.getOrElse(k, 0) + c) })
      Written(all, done.map(_._2).sum)
    } finally pool.shutdown()
  }
}

object Files {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Regular, non-hidden files of `dir` whose names start with `prefix`. */
  def parts(dir: File, prefix: String): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.isFile && f.getName.startsWith(prefix))
}
