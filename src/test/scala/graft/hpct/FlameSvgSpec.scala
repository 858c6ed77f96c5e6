package graft.hpct

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** SVG mapping of flame geometry: one shape per geometry row, label rule honored,
  * full-turn sectors and markup escaping handled.
  */
class FlameSvgSpec extends AnyFunSuite {

  private def geoDf(rows: (Long, Int, Double, Double, String, Boolean)*) = {
    val s = spark
    import s.implicits._
    s.sparkContext.parallelize(rows)
      .toDF("id", "depth", "x0", "width", "procedure", "labeled")
  }

  private val twoPi = 2 * math.Pi

  private val geo = geoDf(
    (1L, 1, 0.0, twoPi * 0.75, "main", true),
    (2L, 1, twoPi * 0.75, twoPi * 0.25, "<helper> & \"co\"", true),
    (3L, 2, 0.0, twoPi * 0.6, "work", true),
    (4L, 2, twoPi * 0.6, 0.001, "tiny", false)) // suppressed label

  test("wheel: one annular-sector path per row; labels only where labeled") {
    val svg = FlameSvg.render(geo, shape = "wheel", size = 400, title = "exp1")
    assert(svg.startsWith("<svg") && svg.endsWith("</svg>"))
    assert("<path ".r.findAllIn(svg).length === 4)
    // 3 labeled rows + the title
    assert("<text ".r.findAllIn(svg).length === 4)
    assert(!svg.contains(">tiny</text>"), "suppressed label leaked")
    // markup in procedure names must be escaped, in both label and tooltip
    assert(svg.contains("&lt;helper&gt; &amp; &quot;co&quot;"))
    assert(!svg.contains("<helper>"))
  }

  test("rect: bars map angle share to x extent; deeper rows sit higher") {
    val svg = FlameSvg.render(geo, shape = "rect", size = 400)
    assert("<rect ".r.findAllIn(svg).length === 4)
    // row 1 covers 75% of the 400px width starting at 0
    val r1 = """<rect x="0\.00" y="([0-9.]+)" width="([0-9.]+)"""".r
      .findFirstMatchIn(svg).get
    assert(math.abs(r1.group(2).toDouble - 300.0) < 0.01)
    // depth-2 rows render ABOVE (smaller y than) depth-1 rows
    val ys = """<rect x="[0-9.]+" y="([0-9.]+)"""".r
      .findAllMatchIn(svg).map(_.group(1).toDouble).toSeq
    assert(ys.take(2).min > ys.drop(2).max)
  }

  test("a full-turn (2π) sector renders finite coordinates") {
    val svg = FlameSvg.render(geoDf((1L, 1, 0.0, twoPi, "root", true)), shape = "wheel")
    assert("<path ".r.findAllIn(svg).length === 1)
    assert(!svg.contains("NaN") && !svg.contains("Infinity"))
  }

  test("numbers keep a '.' decimal point under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      for (shape <- Seq("wheel", "rect")) {
        val svg = FlameSvg.render(geo, shape = shape, size = 400, title = "exp1")
        val attrs = """ (x|y|width|height|font-size)="([^"]*)"""".r
          .findAllMatchIn(svg).map(_.group(2)).toSeq
        val pathArgs = """ d="([^"]*)"""".r.findAllMatchIn(svg)
          .flatMap(_.group(1).split(" ")).filterNot(_.matches("[MALZ]")).toSeq
        val rotateArgs = """rotate\(([^)]*)\)""".r.findAllMatchIn(svg)
          .flatMap(_.group(1).split(" ")).toSeq
        assert(attrs.exists(_.contains(".")), s"$shape: no fractional attribute to check")
        for (v <- attrs ++ pathArgs ++ rotateArgs)
          assert(v.toDoubleOption.isDefined, s"$shape: '$v' is not a number")
      }
    } finally java.util.Locale.setDefault(saved)
  }

  test("renders the real fixture geometry end to end") {
    val fixture = "/root/reference/test/data/experiment1.xml"
    assume(new java.io.File(fixture).exists())
    val pf = ProfileLoad.load(spark, fixture)
    val geo = Ops.flameGeometry(pf, maxDepth = Some(4))
    val n = geo.count()
    val svg = FlameSvg.render(geo, shape = "wheel", title = "experiment1")
    assert(n > 0)
    assert("<path ".r.findAllIn(svg).length === n)
  }
}
