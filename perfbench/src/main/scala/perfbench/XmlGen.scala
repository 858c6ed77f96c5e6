package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random

/** Seeded generator of HPCToolkit experiment XML databases, plus the
  * plain-Scala "truth" a correct load-and-analyse session must reproduce.
  *
  * A database mirrors the reference fixtures' layout: one metric family of 22
  * metrics (Sum/Mean/StdDev/CfVar/Min/Max, inclusive and exclusive, with the
  * `num-src`/`accum2` accumulator slots), finalize formulas using `sqrt` and
  * `pow`, load-module/file/procedure dictionaries, and a calling-context tree
  * of `PF`/`L`/`S` nodes where every non-top-level procedure frame hangs under
  * a `C` callsite (skipped by the loader, so it never becomes a row). The
  * root's measurements sit directly under `SecCallPathProfileData`.
  *
  * Every measured value is an integer-valued double or printed with
  * `Double.toString`, so the loader parses back exactly the doubles the truth
  * was computed from, and sums are exact in any order.
  */
object XmlGen {

  /** Tree and metric shape of one generated database. The depth histogram
    * is fixed by the shape (a bell over depths 1..maxDepth peaking at 60% of
    * it), so every seed gives the same number of nodes per depth and the
    * same total callpath length; the seed draws who hangs under whom, the
    * node kinds, the dictionaries and every value.
    */
  final case class Shape(nodes: Int, maxDepth: Int, family: String) {
    def levels: Seq[Int] = {
      val mu = 0.6 * maxDepth; val sigma = maxDepth / 4.0
      val w = (2 to maxDepth).map(d => math.exp(-0.5 * math.pow((d - mu) / sigma, 2)))
      val counts = w.map(x => math.max(1, (x / w.sum * (nodes - 2)).toInt)).toArray
      // put the rounding remainder on the peak level
      val peak = counts.indices.maxBy(counts)
      counts(peak) += nodes - 2 - counts.sum
      2 +: counts.toSeq
    }
  }

  /** What a correct load must produce for one database. */
  final case class Truth(
      rows: Int, // tree rows net of callsites, plus the root row
      depthHist: Map[Int, Int],
      hotPath: Seq[Long], // greedy descent ids, root first
      hotThreshold: Double,
      base: String, // percentage base column
      ratioTotal: Map[Long, Double],
      ratioParent: Map[Long, Double], // direct parent, the load-time column
      ratioParentExact: Map[Long, Double], // walk-up, addRatioColumn(method = "parent")
      sumInclusive: Double, // Σ over rows of `<family>:Sum (I)`
      parentOf: Map[Long, Long]) // row id -> parent row id (root: -1 -> -1)

  final case class Db(path: String, family: String, truth: Truth)

  val RootId: Long = -1L
  /** The hot-path threshold the workloads call `hotPath` with. */
  val HotThreshold: Double = 0.01

  /** Metric-suffix order within a family; ids run `firstId + index`. */
  private val Kinds: Seq[String] = Seq("Sum", "Mean", "Mean:num-src", "StdDev",
    "StdDev:accum2", "StdDev:num-src", "CfVar", "CfVar:accum2", "CfVar:num-src",
    "Min", "Max")
  val FirstMetricId: Int = 2

  def metricNames(family: String): Seq[String] =
    for (side <- Seq("I", "E"); k <- Kinds) yield s"$family:$k ($side)"

  /** The percentage base the loader resolves for a family: the fixtures'
    * `CPUTIME (usec):` family hits the direct candidate, any other family the
    * prefix-scan fallback; both end on the family's `Mean (I)`.
    */
  def baseOf(family: String): String = s"$family:Mean (I)"

  /** finalize formula by metric-suffix index (`$n` = metric id), if any. */
  private def finalizeFormula(kind: Int, id: Int): Option[String] = Kinds(kind) match {
    case "Mean" => Some(s"$$$id / $$${id + 1}")
    case "StdDev" => Some(s"sqrt(($$${id + 1} / $$${id + 2}) - pow($$$id / $$${id + 2}, 2))")
    case "CfVar" => Some(
      s"sqrt(($$${id + 1} / $$${id + 2}) - pow($$$id / $$${id + 2}, 2)) / ($$$id / $$${id + 2})")
    case _ => None
  }

  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  /** Generate one database into `path`; the same (seed, shape) always writes
    * the same bytes.
    */
  def write(path: Path, seed: Long, shape: Shape): Db = {
    val (xml, truth) = generate(seed, shape)
    val bytes = xml.getBytes(UTF_8)
    Files.createDirectories(path.getParent)
    Files.write(path, bytes)
    Db(path.toString, shape.family, truth)
  }

  def generate(seed: Long, shape: Shape): (String, Truth) = {
    require(shape.nodes >= 2 && shape.maxDepth >= 2, s"degenerate shape $shape")
    val rng = new Random(seed)
    // ---- tree: rows only (callsites decorate PF edges below the top level),
    // built level by level; each level's first node can take children
    val parent = mutable.ArrayBuffer.empty[Int] // -1 = child of the root
    val kind = mutable.ArrayBuffer.empty[Char] // 'P' | 'L' | 'S'
    val depth = mutable.ArrayBuffer.empty[Int]
    var above = IndexedSeq(-1) // nodes of the previous level that can take children
    for ((count, d) <- shape.levels.zipWithIndex.map { case (c, i) => (c, i + 1) }) {
      val level = mutable.ArrayBuffer.empty[Int]
      for (j <- 0 until count) {
        val r = rng.nextDouble()
        val k = if (d == 1) 'P' else if (j == 0 && d < shape.maxDepth) 'L'
          else if (r < 0.45) 'S' else if (r < 0.72) 'L' else 'P'
        parent += above(rng.nextInt(above.length)); kind += k; depth += d
        if (k != 'S') level += parent.length - 1
      }
      above = level.toIndexedSeq
    }
    val n = parent.length
    val children = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    for (i <- 0 until n if parent(i) >= 0) children(parent(i)) += i

    // ---- values: exclusive per row, inclusive = exclusive + Σ children
    // every node ends up with a positive inclusive value, as in a real
    // profile (a node exists because samples landed under it)
    val excl = Array.tabulate(n) { i =>
      kind(i) match {
        case 'S' => (1 + rng.nextInt(1000000)).toDouble
        case _ if children(i).isEmpty => (1 + rng.nextInt(20000)).toDouble
        case 'P' => if (rng.nextDouble() < 0.3) (1 + rng.nextInt(50000)).toDouble else 0.0
        case _ => if (rng.nextDouble() < 0.2) (1 + rng.nextInt(20000)).toDouble else 0.0
      }
    }
    val incl = excl.clone()
    for (i <- (n - 1) to 0 by -1 if parent(i) >= 0) incl(parent(i)) += incl(i)
    val nsrc = Array.fill(n)((1 + rng.nextInt(4)).toDouble)
    // accum2 = Σ x² over sources; a few nodes sit a hair below the mean², so
    // the variance goes negative and StdDev/CfVar take the complex branch
    def accum2(sum: Double, k: Double): Double = {
      val m2 = sum * sum / k
      if (rng.nextDouble() < 0.02) m2 * (1 - 1e-9) else m2 * (1 + 0.5 * rng.nextDouble())
    }
    val rootIncl = (0 until n).filter(parent(_) < 0).map(incl).sum

    // ---- dictionaries
    val modules = Seq("/apps/sim/bin/sim", "/usr/lib64/libc.so.6", "/usr/lib64/libm.so.6",
      "/usr/lib64/openmpi/lib/libmpi.so.40", "./lib/libphys.so")
    val nFiles = 24
    val nProcs = math.max(16, n / 12)
    val procOf = Array.fill(n)(rng.nextInt(nProcs))
    val fileOf = Array.fill(n)(rng.nextInt(nFiles))
    val lmOf = Array.fill(n)(rng.nextInt(modules.length))
    val lineOf = Array.fill(n)(1 + rng.nextInt(4000))

    // ---- XML
    val names = metricNames(shape.family)
    val half = Kinds.length
    val sb = new java.lang.StringBuilder(n * 700 + 8192)
    sb.append("<?xml version=\"1.0\"?>\n<HPCToolkitExperiment version=\"2.2\">\n")
    sb.append("<Header n=\"sim\">\n<Info/>\n</Header>\n")
    sb.append("<SecCallPathProfile i=\"0\" n=\"sim\">\n<SecHeader>\n<MetricTable>\n")
    for ((name, j) <- names.zipWithIndex) {
      val id = FirstMetricId + j
      val inclusive = j < half
      val partner = if (inclusive) id + half else id - half
      val k = j % half
      val v = if (finalizeFormula(k, id).isDefined) "derived-incr" else "raw"
      sb.append(s"""<Metric i="$id" n="$name" v="$v" t="${if (inclusive) "inclusive" else "exclusive"}" partner="$partner" show="1" show-percent="1">\n""")
      sb.append(s"""<MetricFormula t="combine" frm="sum($$$id, $$$id)"/>\n""")
      finalizeFormula(k, id).foreach(f => sb.append(s"""<MetricFormula t="finalize" frm="$f"/>\n"""))
      sb.append("<Info><NV n=\"units\" v=\"events\"/></Info>\n</Metric>\n")
    }
    sb.append("</MetricTable>\n<LoadModuleTable>\n")
    for ((m, i) <- modules.zipWithIndex) sb.append(s"""<LoadModule i="${i + 2}" n="$m"/>\n""")
    sb.append("</LoadModuleTable>\n<FileTable>\n")
    for (i <- 0 until nFiles) sb.append(s"""<File i="${i + 2}" n="./src/physics/mod_$i%02d.F90"/>\n""")
    sb.append("</FileTable>\n<ProcedureTable>\n")
    for (i <- 0 until nProcs) sb.append(s"""<Procedure i="${i + 2}" n="fn_$i%04d_"/>\n""")
    sb.append("</ProcedureTable>\n<Info/>\n</SecHeader>\n<SecCallPathProfileData>\n")

    def measures(sum: Double, e: Double, k: Double, withExcl: Boolean): Unit = {
      def side(base: Int, s: Double): Unit = {
        val a = accum2(s, k)
        val spread = 0.5 * rng.nextDouble()
        val vals = Seq(s, s, k, s, a, k, s, a, k,
          math.floor(s / k * (1 - spread)), math.ceil(s / k * (1 + spread)))
        for ((v, j) <- vals.zipWithIndex)
          sb.append("<M n=\"").append(base + j).append("\" v=\"").append(num(v)).append("\"/>\n")
      }
      side(FirstMetricId, sum)
      if (withExcl) side(FirstMetricId + half, e)
    }
    // root measurements: inclusive totals, one source; a placeholder exclusive
    // side that the loader's root fix must overwrite with the inclusive values
    measures(rootIncl, 1.0, 1.0, withExcl = true)

    val rowId = new Array[Long](n)
    var nextId = 2L
    def fresh(): Long = { val v = nextId; nextId += 1; v }
    def emit(i: Int): Unit = {
      val viaCallsite = parent(i) >= 0 && kind(i) == 'P'
      if (viaCallsite)
        sb.append(s"""<C i="${fresh()}" s="${rng.nextInt(100000)}" l="${lineOf(i)}">\n""")
      rowId(i) = fresh()
      val s = rng.nextInt(100000)
      kind(i) match {
        case 'P' => sb.append(s"""<PF i="${rowId(i)}" s="$s" l="${lineOf(i)}" lm="${lmOf(i) + 2}" f="${fileOf(i) + 2}" n="${procOf(i) + 2}">\n""")
        case 'L' => sb.append(s"""<L i="${rowId(i)}" s="$s" l="${lineOf(i)}" f="${fileOf(i) + 2}">\n""")
        case _ => sb.append(s"""<S i="${rowId(i)}" s="$s" l="${lineOf(i)}">\n""")
      }
      measures(incl(i), excl(i), nsrc(i), withExcl = excl(i) > 0)
      children(i).foreach(emit)
      sb.append(kind(i) match { case 'P' => "</PF>\n" case 'L' => "</L>\n" case _ => "</S>\n" })
      if (viaCallsite) sb.append("</C>\n")
    }
    // explicit-stack-free recursion is fine: depth is bounded by maxDepth
    (0 until n).filter(parent(_) < 0).foreach(emit)
    sb.append("</SecCallPathProfileData>\n</SecCallPathProfile>\n</HPCToolkitExperiment>\n")

    (sb.toString, truthOf(parent, depth, children, incl, nsrc, rowId, rootIncl, shape))
  }

  private def truthOf(parent: collection.IndexedSeq[Int], depth: collection.IndexedSeq[Int],
      children: Array[mutable.ArrayBuffer[Int]], incl: Array[Double], nsrc: Array[Double],
      rowId: Array[Long], rootIncl: Double, shape: Shape): Truth = {
    val n = parent.length
    val mean = Array.tabulate(n)(i => incl(i) / nsrc(i))
    val rootMean = rootIncl / 1.0
    def pMean(i: Int): Double = if (parent(i) < 0) rootMean else mean(parent(i))
    val ratioTotal = mutable.HashMap(RootId -> rootMean / rootMean)
    val ratioParent = mutable.HashMap(RootId -> rootMean / rootMean)
    val exact = mutable.HashMap(RootId -> rootMean / rootMean)
    for (i <- 0 until n) {
      ratioTotal(rowId(i)) = mean(i) / rootMean
      ratioParent(rowId(i)) = mean(i) / pMean(i)
      // deepest proper ancestor whose value is >= the node's own, else the root
      var a = parent(i)
      while (a >= 0 && mean(a) < mean(i)) a = parent(a)
      exact(rowId(i)) = mean(i) / (if (a < 0) rootMean else mean(a))
    }
    // greedy hot path: argmax child by ratio of total (ties: smaller id)
    val hot = mutable.ArrayBuffer(RootId)
    var kids: Seq[Int] = (0 until n).filter(parent(_) < 0)
    var done = false
    while (!done && kids.nonEmpty) {
      val best = kids.maxBy(i => (ratioTotal(rowId(i)), -rowId(i)))
      if (ratioTotal(rowId(best)) >= HotThreshold) { hot += rowId(best); kids = children(best).toSeq }
      else done = true
    }
    val hist = depth.groupBy(identity).map { case (d, v) => d -> v.size } + (0 -> 1)
    Truth(
      rows = n + 1,
      depthHist = hist,
      hotPath = hot.toSeq,
      hotThreshold = HotThreshold,
      base = baseOf(shape.family),
      ratioTotal = ratioTotal.toMap,
      ratioParent = ratioParent.toMap,
      ratioParentExact = exact.toMap,
      sumInclusive = rootIncl + incl.sum,
      parentOf = (0 until n).map(i => rowId(i) -> (if (parent(i) < 0) RootId else rowId(parent(i)))).toMap
        + (RootId -> RootId))
  }
}
