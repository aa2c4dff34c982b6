package graftbench

import graft.core.Kernels

/** Seeded GeoJSON input for the codec workload, rendered directly as text so
  * the input does not depend on the engine's own writers. Every collection
  * has the same feature kinds and the same total vertex count; the seed moves
  * the coordinates and how the vertices are split between the features. */
object CodecData {
  val FeaturesPer = 6
  val VerticesPer = 64

  final case class Coll(features: Vector[(String, String)]) // (geometry json, properties json)

  private final class Rng(var s: Long) {
    def next(): Long = { s = Kernels.mix64(s + 0x9E3779B97F4A7C15L); s }
    def unit(): Double = (next() >>> 11) / 9007199254740992.0
    def below(n: Int): Int = java.lang.Math.floorMod(next(), n.toLong).toInt
  }

  private def num(x: Double): String =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_EVEN)
      .stripTrailingZeros.toPlainString

  private def pt(x: Double, y: Double): String = s"[${num(x)},${num(y)}]"

  /** Closed ring of `n` positions (n-1 distinct) around (cx, cy). */
  private def ring(r: Rng, cx: Double, cy: Double, radius: Double, n: Int, ccw: Boolean): String = {
    val k = n - 1
    val phase = r.unit() * Math.PI
    val pts = (0 until k).map { i =>
      val a = phase + (if (ccw) 1 else -1) * 2 * Math.PI * i / k
      val rr = radius * (0.8 + 0.2 * r.unit())
      pt(cx + rr * Math.cos(a), cy + rr * Math.sin(a))
    }
    (pts :+ pts.head).mkString("[", ",", "]")
  }

  private def line(r: Rng, cx: Double, cy: Double, n: Int): String =
    (0 until n).map(i => pt(cx + 0.01 * i + 0.005 * r.unit(), cy + 0.01 * r.unit())).mkString("[", ",", "]")

  def collection(seed: Long, id: Long): Coll = {
    val r = new Rng(Kernels.mix64(seed * 0x100000001B3L + id))
    // minimum sizes of the variable parts: line, shell, hole, multipoint,
    // two multiline parts, two multipolygon shells
    val mins = Array(2, 4, 4, 2, 2, 2, 4, 4)
    val sizes = mins.clone()
    (0 until VerticesPer - 1 - mins.sum).foreach(_ => sizes(r.below(sizes.length)) += 1)
    val cx = -170 + 340 * r.unit()
    val cy = -80 + 160 * r.unit()
    val geoms = Vector(
      s"""{"type":"Point","coordinates":${pt(cx, cy)}}""",
      s"""{"type":"LineString","coordinates":${line(r, cx, cy, sizes(0))}}""",
      s"""{"type":"Polygon","coordinates":[${ring(r, cx, cy, 0.5, sizes(1), ccw = true)},${ring(r, cx, cy, 0.1, sizes(2), ccw = false)}]}""",
      s"""{"type":"MultiPoint","coordinates":${(0 until sizes(3)).map(_ => pt(cx + r.unit(), cy + r.unit())).mkString("[", ",", "]")}}""",
      s"""{"type":"MultiLineString","coordinates":[${line(r, cx, cy, sizes(4))},${line(r, cx + 1, cy, sizes(5))}]}""",
      s"""{"type":"MultiPolygon","coordinates":[[${ring(r, cx + 2, cy, 0.3, sizes(6), ccw = true)}],[${ring(r, cx - 2, cy, 0.3, sizes(7), ccw = true)}]]}""")
    Coll(geoms.zipWithIndex.map { case (g, k) =>
      (g, s"""{"name":"f$id-$k","description":"feature $k of collection $id","rank":${r.below(1000)}}""")
    })
  }

  def render(c: Coll): String =
    c.features.map { case (g, p) => s"""{"type":"Feature","geometry":$g,"properties":$p}""" }
      .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
}
