package graft.hpct

import java.util.Locale
import org.apache.spark.sql.DataFrame

/** Dependency-free SVG rendering of [[Ops.flameGeometry]] frames — the engine-side
  * replacement for the reference's matplotlib drawing (hpctoolkit_dataframe.py:
  * 430-545, `flame_graph`), which was the one reference feature previously declared
  * out of scope (SURVEY §7.5). The geometry math (normalization, offsets, the
  * label-suppression rule width ≥ π/(depth − min_depth + 32)) lives in the
  * distributed plan; this object only maps the finished `(id, depth, x0, width,
  * procedure, labeled)` rows to SVG shapes, mirroring the reference's bar calls:
  *
  *  - `shape = "wheel"`: polar annular sectors — `ax.bar(x=offset, width=width,
  *    bottom=(depth − min_depth + 1)·t, height=t)` on a polar axis (ibid:456, 518),
  *    angle 0 at east, counter-clockwise, ring thickness 1.
  *  - `shape = "rect"`: the same bars on a cartesian axis, depth growing upward.
  *  - per-bar white 1px edge (ibid: `edgecolor='w', linewidth=1`), deterministic
  *    per-id fill hue, labels centered at `offset + width/2`, radius/row + 0.2·t
  *    (ibid:530-540), rotated `x·180/π − 90` on the wheel.
  *
  * Driver-side by design: a rendering collects exactly the rows the reference
  * plots — the geometry frame is already bounded by the drawn subtree (prefix /
  * min/max depth in `flameGeometry`), never the full profile.
  */
object FlameSvg {

  private def esc(s: String): String = Option(s).getOrElse("").flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    case c => c.toString
  }

  // coordinates are written with a '.' decimal point whatever the JVM's default
  // locale: a comma-decimal locale would make every numeric attribute invalid SVG
  private def n2(d: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(d))
  private def n1(d: Double): String = String.format(Locale.ROOT, "%.1f", Double.box(d))

  /** Deterministic pastel fill per node id (stable across renders and engines). */
  private def fill(id: Long): String = s"hsl(${(id * 47) % 360},65%,62%)"

  private case class Bar(id: Long, depth: Int, x0: Double, width: Double,
      procedure: String, labeled: Boolean)

  /** Render a flame/wheel SVG from a [[Ops.flameGeometry]] result.
    *
    * @param geo   frame with (id, depth, x0, width, procedure, labeled)
    * @param shape "wheel" (polar, the reference default) or "rect"
    * @param size  canvas edge in px
    * @param title figure title (the reference uses the profile db name)
    */
  def render(geo: DataFrame, shape: String = "wheel", size: Int = 800,
      title: String = ""): String = {
    require(shape == "wheel" || shape == "rect", s"unknown shape $shape")
    // a null value leaves its subtree without geometry (null x0/width), a NaN
    // value its whole sibling group's (NaN): such a row draws nothing, as
    // matplotlib draws nothing for a NaN bar, instead of writing NaN coordinates,
    // which are not valid SVG
    val bars = geo.select("id", "depth", "x0", "width", "procedure", "labeled")
      .collect().filter(r => Seq(2, 3).forall(i => !r.isNullAt(i) && !r.getDouble(i).isNaN))
      .map(r => Bar(r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) "" else r.getString(4), r.getBoolean(5)))
      .sortBy(b => (b.depth, b.x0))
    val sb = new StringBuilder
    sb ++= s"""<svg xmlns="http://www.w3.org/2000/svg" width="$size" height="$size" viewBox="0 0 $size $size">"""
    sb ++= "\n"
    if (title.nonEmpty)
      sb ++= s"""<text x="${size / 2}" y="16" text-anchor="middle" font-size="14">${esc(title)}</text>""" + "\n"
    if (bars.nonEmpty) {
      val lo = bars.map(_.depth).min
      val maxK = bars.map(_.depth).max - lo
      // polar: bottom = (depth − min_depth + 1)·thickness ⇒ RADIAL extent spans
      // [0, maxRing + 2] thicknesses (one empty hub band below ring 0), and the
      // canvas holds a diameter, hence the /2
      val unit = size / (2.0 * (maxK + 2))
      // cartesian: no hub band and no diameter halving — rows tile the FULL
      // canvas height, stacked from the bottom edge
      val rectUnit = size / (maxK + 1.0)
      val twoPi = 2 * math.Pi
      for (b <- bars) {
        val k = b.depth - lo
        val (r0, r1) = ((k + 1) * unit, (k + 2) * unit)
        if (shape == "rect") {
          val fs = math.max(8.0, rectUnit * 0.35)
          val (x, w) = (b.x0 / twoPi * size, b.width / twoPi * size)
          val y = size - (k + 1) * rectUnit // depth grows upward
          sb ++= s"""<rect x="${n2(x)}" y="${n2(y)}" width="${n2(w)}" height="${n2(rectUnit)}" fill="${fill(b.id)}" stroke="white" stroke-width="1"><title>${esc(b.procedure)} (id ${b.id})</title></rect>""" + "\n"
          if (b.labeled)
            sb ++= s"""<text x="${n2(x + w / 2)}" y="${n2(y + rectUnit * 0.6)}" text-anchor="middle" font-size="${n1(fs)}">${esc(b.procedure)}</text>""" + "\n"
        } else {
          val fs = math.max(8.0, unit * 0.35)
          val c = size / 2.0
          // SVG arcs cannot span a full turn — clamp just under (root layers
          // with one child have width exactly 2π)
          val sweep = math.min(b.width, twoPi - 1e-4)
          val (a0, a1) = (b.x0, b.x0 + sweep)
          def px(r: Double, a: Double) = (c + r * math.cos(a), c - r * math.sin(a))
          val ((x00, y00), (x01, y01)) = (px(r1, a0), px(r1, a1))
          val ((x10, y10), (x11, y11)) = (px(r0, a1), px(r0, a0))
          val large = if (sweep > math.Pi) 1 else 0
          // counter-clockwise in math coords = sweep flag 0 in screen coords
          sb ++= s"""<path d="M ${n2(x00)} ${n2(y00)} A ${n2(r1)} ${n2(r1)} 0 $large 0 ${n2(x01)} ${n2(y01)} L ${n2(x10)} ${n2(y10)} A ${n2(r0)} ${n2(r0)} 0 $large 1 ${n2(x11)} ${n2(y11)} Z" fill="${fill(b.id)}" stroke="white" stroke-width="1"><title>${esc(b.procedure)} (id ${b.id})</title></path>""" + "\n"
          if (b.labeled) {
            val mid = b.x0 + b.width / 2
            val (tx, ty) = px(r0 + unit * 0.2 + fs / 2, mid)
            val rot = mid * 180 / math.Pi - 90
            sb ++= s"""<text x="${n2(tx)}" y="${n2(ty)}" text-anchor="middle" font-size="${n1(fs)}" transform="rotate(${n1(-rot)} ${n2(tx)} ${n2(ty)})">${esc(b.procedure)}</text>""" + "\n"
          }
        }
      }
    }
    sb ++= "</svg>"
    sb.toString
  }
}
