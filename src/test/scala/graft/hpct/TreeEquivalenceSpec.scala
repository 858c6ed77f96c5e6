package graft.hpct

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase.spark

/** The one-plan tree-operator core ([[Ops.hotPathRows]], [[Ops.flameLayout]])
  * against the loop formulations in [[TreeReference]], on seeded random trees
  * built here — no fixture needed, so the equivalence runs everywhere.
  *
  * Tree shape: a root (id -1, empty callpath) with five depth-1 children, two of
  * them tied for the max weight; fan-out 2–3 down to depth 3, then 0–3 down to
  * depth 8. Sibling weights come from {1, 2, 3}, so ties are common at every
  * level, and ids are a random permutation, so id order (the tie-break) is
  * unrelated to generation order. ratio of parent = weight share; ratio of total
  * = the product of shares down the path. Five depth-2 nodes get planted
  * children: one NaN child, all children null, one null child, one negative
  * child, all children negative.
  */
class TreeEquivalenceSpec extends AnyFunSuite {
  import TreeEquivalenceSpec._

  private val rot = "v ratio of total"
  private val rop = "v ratio of parent"

  private def generate(seed: Long): Tree = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until 4000L).toVector).iterator
    val nodes = scala.collection.mutable.LinkedHashMap.empty[Long, Node]
    nodes(-1L) = Node(-1L, Vector.empty, Some(1.0), Some(1.0))
    def grow(parent: Node, weights: Seq[Double]): Seq[Node] = {
      val total = weights.sum
      weights.map { w =>
        val id = ids.next()
        val share = w / total
        val n = Node(id, parent.callpath :+ id, parent.rot.map(_ * share), Some(share))
        nodes(id) = n
        n
      }
    }
    val depth1 = grow(nodes(-1L), Seq(3.0, 1.0, 3.0, 2.0, 1.0))
    var level: Seq[Node] = depth1
    for (depth <- 2 to 8) {
      level = level.flatMap { p =>
        val fanout =
          if (depth <= 3) 2 + rnd.nextInt(2)
          else if (nodes.size > 1500) 0
          else rnd.nextInt(4)
        grow(p, Seq.fill(fanout)(1.0 + rnd.nextInt(3)))
      }
    }
    val children = nodes.values.toSeq.filter(_.callpath.nonEmpty)
      .groupBy(_.callpath.init).withDefaultValue(Nil)
    def kidsOf(n: Node) = children(n.callpath).sortBy(_.id)
    def set(n: Node, v: Option[Double]): Unit = nodes(n.id) = n.copy(rot = v, rop = v)
    val picks = rnd.shuffle(nodes.values.filter(_.callpath.length == 2).toVector).take(5)
    val Seq(nanParent, nullParent, loneNullParent, negParent, negAllParent) = picks
    val nanChild = kidsOf(nanParent).head
    set(nanChild, Some(Double.NaN))
    kidsOf(nullParent).foreach(set(_, None))
    set(kidsOf(loneNullParent).last, None)
    // negate the smallest child only: the group sum stays positive and away from 0
    val smallest = kidsOf(negParent).minBy(_.rop.get)
    set(smallest, smallest.rop.map(_ * -0.5))
    kidsOf(negAllParent).foreach(k => set(k, k.rop.map(-_)))
    val tied = depth1.filter(_.rop.contains(0.3)).map(_.id)

    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("callpath", ArrayType(LongType, containsNull = false), nullable = false),
      StructField(rot, DoubleType), StructField(rop, DoubleType),
      StructField("procedure", StringType)))
    val rows = nodes.values.toSeq.map(n =>
      Row(n.id, n.callpath, n.rot.map(Double.box).orNull, n.rop.map(Double.box).orNull,
        s"proc_${n.id}"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val meta = ProfileMeta(s"seeded-$seed", Seq(0 -> "v"), Map.empty, Map.empty,
      Map.empty, Map.empty, percentageColumn = "v", hotPathColumn = rot,
      compactColumns = Seq("procedure", "id"))
    Tree(ProfileFrame(df, meta), nodes.toMap, (tied.head, tied.last), nanParent,
      nanChild.id, nullParent, loneNullParent, negParent, negAllParent)
  }

  private lazy val trees: Seq[Tree] = Seq(7L, 2024L).map(generate)

  private def ids(df: DataFrame, id: String = "id"): Seq[Long] =
    df.select(id).collect().map(_.getLong(0)).sorted.toSeq

  private def relEq(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }

  private type Geo = Map[(Long, Int), (Option[Double], Option[Double], Option[Boolean])]

  private def geo(df: DataFrame, id: String = "id"): Geo = {
    def opt[T](r: Row, i: Int): Option[T] = if (r.isNullAt(i)) None else Some(r.getAs[T](i))
    df.select(id, "depth", "x0", "width", "labeled").collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((opt[Double](r, 2), opt[Double](r, 3), opt[Boolean](r, 4)))).toMap
  }

  private def assertSameGeo(core: Geo, ref: Geo, clue: String): Unit = {
    assert(core.keySet === ref.keySet, s"$clue: node/layer set differs")
    core.foreach { case (k, (x, w, l)) =>
      val (rx, rw, rl) = ref(k)
      // the unrolled product re-associates the float multiplies; 1e-9 relative
      assert(relEq(x, rx) && relEq(w, rw) && l === rl,
        s"$clue $k: core ($x,$w,$l) vs loop ($rx,$rw,$rl)")
    }
  }

  test("hot path: core == loop reference on seeded trees (thresholds, root/mid-path/planted starts)") {
    for (t <- trees) {
      val pf = t.pf
      val rootPath = TreeReference.hotPathIterative(pf, threshold = 0.05).df
      // the root's two tied max children: the lower id wins
      assert(ids(rootPath).contains(math.min(t.rootTie._1, t.rootTie._2)), pf.meta.dbPath)
      val mid = rootPath.filter(size(col("callpath")) === 2)
        .select("callpath").head().getSeq[Long](0).toVector
      val starts = Seq(Vector.empty[Long], mid, t.nanParent.callpath, t.nullParent.callpath,
        t.loneNullParent.callpath, t.negParent.callpath, t.negAllParent.callpath)
      for (start <- starts; th <- Seq(0.05, 0.01, Double.NegativeInfinity)) {
        val loop = ids(TreeReference.hotPathIterative(pf, callpath = start, threshold = th).df)
        val core = ids(Ops.hotPath(pf, callpath = start, threshold = th).df)
        assert(core === loop, s"${pf.meta.dbPath} start=$start th=$th")
        if (start == t.nanParent.callpath) // NaN sorts above every double and descends
          assert(loop.contains(t.nanChild), s"${pf.meta.dbPath}: NaN child not descended")
        if (start == t.nullParent.callpath) // a null max child stops the descent
          assert(loop === Seq(t.nullParent.id))
      }
    }
  }

  test("flame layout: core == layer-join loop reference on seeded trees (full tree, depths 3-6)") {
    for (t <- trees) {
      val pf = t.pf
      val full = geo(Ops.flameGeometry(pf))
      assertSameGeo(full, geo(TreeReference.flameGeometryIterative(pf)), pf.meta.dbPath)
      assert(full.size === t.nodes.size - 1, "every non-root node gets geometry")
      assert(full((t.nanChild, 3))._2.exists(_.isNaN), "planted NaN lost")
      assert(full.values.exists(_._2.isEmpty), "planted nulls lost")
      // a null or NaN value's subtree has no finite geometry and draws nothing;
      // every other row draws one arc
      val drawn = full.values.count { case (x, w, _) =>
        x.exists(!_.isNaN) && w.exists(!_.isNaN) }
      val svg = FlameSvg.render(Ops.flameGeometry(pf))
      assert("<path ".r.findAllIn(svg).length === drawn)
      assert(!svg.contains("NaN"))
      assertSameGeo(geo(Ops.flameGeometry(pf, minDepth = Some(3), maxDepth = Some(6))),
        geo(TreeReference.flameGeometryIterative(pf, minDepth = Some(3), maxDepth = Some(6))),
        s"${pf.meta.dbPath} depths 3-6")
    }
  }

  test("the core takes any id/path/value column names") {
    val pf = trees.head.pf
    val renamed = pf.df.select(col("id").as("node"), col("callpath").as("the.path"),
      col(s"`$rot`").as("cost (I)"), col(s"`$rop`").as("share (I)"))
    for (th <- Seq(0.05, Double.NegativeInfinity))
      assert(ids(Ops.hotPathRows(renamed, "node", "the.path", "cost (I)", th), "node") ===
        ids(Ops.hotPath(pf, threshold = th).df))
    val layout = Ops.flameLayout(renamed, "node", "the.path", "share (I)", lo = 2, hi = Some(5))
    assert(layout.columns.toSeq === Seq("node", "depth", "x0", "width", "labeled"))
    assertSameGeo(geo(layout, "node"),
      geo(Ops.flameGeometry(pf, minDepth = Some(2), maxDepth = Some(5))), "renamed")
  }
}

object TreeEquivalenceSpec {
  private final case class Node(id: Long, callpath: Vector[Long],
      rot: Option[Double], rop: Option[Double])

  private final case class Tree(pf: ProfileFrame, nodes: Map[Long, Node],
      rootTie: (Long, Long), nanParent: Node, nanChild: Long, nullParent: Node,
      loneNullParent: Node, negParent: Node, negAllParent: Node)
}
