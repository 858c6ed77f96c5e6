package perfbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.hpct.{Formulas, Model, XmlReader}

class XmlGenSpec extends AnyFunSuite {

  private val shape = XmlGen.Shape(nodes = 3000, maxDepth = 25, family = "CPUTIME (usec)")
  private lazy val (xml, truth) = XmlGen.generate(7L, shape)

  test("every <M n=...> references a declared metric") {
    val declared = """<Metric i="(\d+)"""".r.findAllMatchIn(xml).map(_.group(1).toInt).toSet
    val used = """<M n="(\d+)"""".r.findAllMatchIn(xml).map(_.group(1).toInt).toSet
    assert(declared.size === 22)
    assert(used.nonEmpty && used.subsetOf(declared), s"undeclared: ${used -- declared}")
  }

  test("every formula parses with hpct.Formulas.parse and references declared metrics") {
    val declared = """<Metric i="(\d+)"""".r.findAllMatchIn(xml).map(_.group(1).toInt).toSet
    val formulas = """frm="([^"]+)"""".r.findAllMatchIn(xml).map(_.group(1)).toSeq
    assert(formulas.count(_.contains("sqrt")) === 4)
    assert(formulas.exists(_.contains("pow")))
    def refs(e: Formulas.Expr): Set[Int] = e match {
      case Formulas.Ref(i) => Set(i)
      case Formulas.Neg(x) => refs(x)
      case Formulas.Bin(_, l, r) => refs(l) ++ refs(r)
      case Formulas.Call(_, args) => args.flatMap(refs).toSet
      case _ => Set.empty
    }
    formulas.foreach(f => assert(refs(Formulas.parse(f)).subsetOf(declared), f))
  }

  test("Model.determinePercentageColumnBase resolves on both the direct and fallback paths") {
    for (family <- Seq("CPUTIME (usec)", "PAPI_MEM_WCY", "F03~REALTIME (usec)"))
      assert(Model.determinePercentageColumnBase(XmlGen.metricNames(family)) ===
        XmlGen.baseOf(family))
  }

  test("the same seed produces byte-identical files; another seed does not") {
    val dir = Files.createTempDirectory("xmlgen")
    val a = XmlGen.write(dir.resolve("a.xml"), 11L, shape)
    val b = XmlGen.write(dir.resolve("b.xml"), 11L, shape)
    val c = XmlGen.write(dir.resolve("c.xml"), 12L, shape)
    def bytes(p: String) = Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(java.util.Arrays.equals(bytes(a.path), bytes(b.path)))
    assert(!java.util.Arrays.equals(bytes(a.path), bytes(c.path)))
    assert(a.truth === b.truth)
  }

  test("the reader's rows agree with the truth: count, depths, parents, skipped callsites") {
    val dir = Files.createTempDirectory("xmlgen")
    val db = XmlGen.write(dir.resolve("t.xml"), 7L, shape)
    val parsed = XmlReader.parse(db.path)
    assert(parsed.rows.length === truth.rows)
    assert(parsed.rows.groupBy(_.callpath.length).map { case (d, v) => d -> v.size } ===
      truth.depthHist)
    assert(truth.depthHist.keys.max <= shape.maxDepth)
    assert(xml.contains("<C "), "callsites must be present to be skipped")
    assert(parsed.rows.forall(r => r.nodeType != "callsite"))
    for (r <- parsed.rows if r.id != XmlGen.RootId) {
      val p = if (r.callpath.length == 1) XmlGen.RootId else r.callpath(r.callpath.length - 2)
      assert(truth.parentOf(r.id) === p)
    }
    assert(parsed.meta.percentageColumn === truth.base)
  }

  test("truth is internally consistent: root ratio 1, hot path descends parent to child") {
    assert(truth.ratioTotal(XmlGen.RootId) === 1.0)
    assert(truth.hotPath.head === XmlGen.RootId)
    assert(truth.hotPath.length >= 3)
    truth.hotPath.sliding(2).foreach { case Seq(p, c) => assert(truth.parentOf(c) === p) }
    truth.hotPath.tail.foreach(id => assert(truth.ratioTotal(id) >= truth.hotThreshold))
  }
}
