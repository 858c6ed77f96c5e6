package graft.hpct

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkTestBase.spark

/** Reference-parity end-to-end tests over the two HPCToolkit fixture XMLs, checked
  * against golden outputs computed by RUNNING THE REFERENCE (committed at
  * src/test/resources/golden/). Ports the reference's behavioral suite
  * (/root/reference/test/test_hpctoolkit_dataframe.py:34-60) and adds the full-frame
  * golden compare + SURVEY §5 invariants the reference never had.
  */
class ParitySpec extends AnyFunSuite {

  private val fixtureDir = "/root/reference/test/data"
  private def fixture(n: Int) = s"$fixtureDir/experiment$n.xml"
  private def hasFixtures = new File(fixture(1)).exists()

  private lazy val pf1 = ProfileLoad.load(spark, fixture(1))
  private lazy val pf2 = ProfileLoad.load(spark, fixture(2))

  private def goldenPath(name: String): String =
    getClass.getResource(s"/golden/$name").getPath

  /** Golden CSV (reference dump): rowid + columns in reference order, complex columns
    * split into `name#re` / `name#im`.
    */
  private def loadGolden(name: String): (Seq[String], Map[Long, Map[String, String]]) = {
    val df = spark.read.option("header", "true").csv(goldenPath(name))
    val cols = df.columns.toSeq
    val rows = df.collect().map { r =>
      val m = cols.zipWithIndex.map { case (c, i) => c -> r.getString(i) }.toMap
      m("rowid").toLong -> m
    }.toMap
    (cols, rows)
  }

  private def relEq(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Full-frame compare of a loaded ProfileFrame against its reference dump. */
  private def assertMatchesGolden(pf: ProfileFrame, goldenName: String): Unit = {
    val (gCols, golden) = loadGolden(goldenName)
    // expected column order = golden order with rowid dropped and #re/#im merged
    val expectedCols = gCols.drop(1).map(_.stripSuffix("#re").stripSuffix("#im")).distinct
    assert(pf.df.columns.toSeq === expectedCols, "column order mismatch vs reference")

    val schema: StructType = pf.df.schema
    val rows = pf.df.collect()
    assert(rows.length === golden.size, "row count mismatch vs reference")

    var checkedCells = 0L
    rows.foreach { row =>
      val id = row.getLong(schema.fieldIndex("id"))
      val g = golden.getOrElse(id, fail(s"row id=$id missing from golden"))
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        def gs(c: String): Option[String] = g.get(c).flatMap(Option(_))
        f.dataType.typeName match {
          case "struct" => // complex metric: golden name#re / name#im
            val gre = gs(f.name + "#re").map(_.toDouble)
            if (row.isNullAt(i)) {
              // our null complex == golden complex-NaN (reference cmath on NaN input)
              assert(gre.forall(_.isNaN), s"id=$id ${f.name}: null vs golden ${gre}")
            } else {
              val st = row.getStruct(i)
              assert(gre.isDefined && relEq(st.getDouble(0), gre.get),
                s"id=$id ${f.name}#re: ${st.getDouble(0)} vs ${gre}")
              val gim = gs(f.name + "#im").map(_.toDouble)
              assert(gim.isDefined && relEq(st.getDouble(1), gim.get),
                s"id=$id ${f.name}#im: ${st.getDouble(1)} vs ${gim}")
            }
          case "double" =>
            val gv = gs(f.name).map(_.toDouble)
            if (row.isNullAt(i)) assert(gv.isEmpty || gv.exists(_.isNaN),
              s"id=$id ${f.name}: null vs golden $gv")
            else assert(gv.isDefined && relEq(row.getDouble(i), gv.get),
              s"id=$id ${f.name}: ${row.getDouble(i)} vs $gv")
          case "long" =>
            assert(gs(f.name).exists(_.toDouble.toLong == row.getLong(i)),
              s"id=$id ${f.name}: ${row.getLong(i)} vs ${gs(f.name)}")
          case "array" =>
            val ours = row.getSeq[Long](i).mkString(",")
            assert(gs(f.name).getOrElse("") === ours, s"id=$id ${f.name}: $ours vs ${gs(f.name)}")
          case "string" =>
            val ours = if (row.isNullAt(i)) None else Some(row.getString(i))
            assert(gs(f.name) === ours, s"id=$id ${f.name}: $ours vs ${gs(f.name)}")
          case other => fail(s"unhandled dtype $other for ${f.name}")
        }
        checkedCells += 1
      }
    }
    info(s"$goldenName: ${rows.length} rows x ${schema.size} cols = $checkedCells cells compared")
  }

  test("experiment1 loads to the exact reference frame (3454 x 33)") {
    assume(hasFixtures)
    assert(pf1.df.columns.length === 33)
    assertMatchesGolden(pf1, "golden_experiment1.csv")
  }

  test("experiment2 loads to the exact reference frame (2854 x 33, fallback pct base)") {
    assume(hasFixtures)
    assert(pf2.df.columns.length === 33)
    assert(pf2.meta.percentageColumn === "PAPI_MEM_WCY:Mean (I)") // A7 fallback path
    assertMatchesGolden(pf2, "golden_experiment2.csv")
  }

  test("hot_path reproduces the reference id chains") {
    assume(hasFixtures)
    val hot1 = Ops.hotPath(pf1).df.select("id").collect().map(_.getLong(0)).sorted
    assert(hot1 === Array(-1L, 2, 4, 6, 797, 798, 813, 1456, 1477, 1479, 1512, 1547,
      1548, 1549, 1563, 1679, 1690, 1916).sorted)
    val hot2 = Ops.hotPath(pf2).df.select("id").collect().map(_.getLong(0)).sorted
    assert(hot2 === Array(-1L, 2, 4, 497, 573, 1588, 2029, 2555, 2557, 2880, 2933,
      2935, 2987, 3209, 3211, 3236).sorted)
  }

  test("one-shot hot path equals the driver-loop hot path (both fixtures, two thresholds)") {
    assume(hasFixtures)
    for (pf <- Seq(pf1, pf2); th <- Seq(0.05, 0.01)) {
      val loop = TreeReference.hotPathIterative(pf, threshold = th).df
        .select("id").collect().map(_.getLong(0)).sorted
      val oneShot = Ops.hotPath(pf, threshold = th).df
        .select("id").collect().map(_.getLong(0)).sorted
      assert(oneShot === loop, s"${pf.meta.dbPath} th=$th")
    }
  }

  test("one-shot hot path equals the driver loop from a prefix start (both fixtures)") {
    assume(hasFixtures)
    for (pf <- Seq(pf1, pf2)) {
      // restart from a mid-path node: the 3rd node of the root-start hot path
      val start = TreeReference.hotPathIterative(pf).df
        .filter(size(col("callpath")) === 2)
        .select("callpath").head().getSeq[Long](0).toSeq
      for (th <- Seq(0.05, 0.01)) {
        val loop = TreeReference.hotPathIterative(pf, callpath = start, threshold = th).df
          .select("id").collect().map(_.getLong(0)).sorted
        val oneShot = Ops.hotPath(pf, callpath = start, threshold = th).df
          .select("id").collect().map(_.getLong(0)).sorted
        assert(oneShot === loop, s"${pf.meta.dbPath} start=$start th=$th")
      }
    }
  }

  test("hot-path leaf is the reference's leaf") {
    assume(hasFixtures)
    val leaf = Ops.hotPath(pf1).df
      .withColumn("d", size(col("callpath"))).orderBy(desc("d"))
      .select("procedure", "type").head()
    assert(leaf.getString(0) === "hy_datareconstructnormaldir_ppm_")
    assert(leaf.getString(1) === "loop")
  }

  test("metadata propagates through hotPath and compact (reference T.py:40-45)") {
    assume(hasFixtures)
    val hp = pf1.hotPath() // reference-style chained instance API
    assert(hp.meta === pf1.meta)
    val cp = hp.compact
    assert(cp.meta === pf1.meta)
    assert(cp.df.columns.toSeq ===
      Seq(pf1.meta.percentageColumn,
        pf1.meta.percentageColumn + " ratio of total",
        pf1.meta.percentageColumn + " ratio of parent",
        "module", "file", "line", "procedure", "type"))
  }

  test("max_depth=4: depth 4 populated, depth 5 empty (reference T.py:47-52)") {
    assume(hasFixtures)
    val shallow = ProfileLoad.load(spark, fixture(1), maxDepth = Some(4))
    assert(Ops.atDepth(shallow, 4).df.count() > 0)
    assert(Ops.atDepth(shallow, 5).df.count() === 0)
  }

  test("callsite-keeping load works and emits the C rows (reference T.py:54-60)") {
    assume(hasFixtures)
    val withC = ProfileLoad.load(spark, fixture(1), skipCallsites = false)
    // FIXTURES.md: 3453 measured nodes + 563 C nodes + root
    assert(withC.df.count() === 3454 + 563)
    assert(withC.df.filter(col("type") === "callsite").count() === 563)
  }

  test("depth histogram matches the reference (exp1: max depth 25)") {
    assume(hasFixtures)
    val hist = pf1.df.groupBy(size(col("callpath")).as("d")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expected = Map(0 -> 1L, 1 -> 1L, 4 -> 3L, 10 -> 72L, 15 -> 431L, 20 -> 233L, 25 -> 1L)
    expected.foreach { case (d, n) => assert(hist.get(d).contains(n), s"depth $d") }
    assert(hist.keys.max === 25)
  }

  test("invariants: ratio sums, root ratios, id uniqueness, prefix closure (SURVEY §5)") {
    assume(hasFixtures)
    for ((pf, sumTol) <- Seq((pf1, 1e-9), (pf2, 1e-5))) {
      val rot = pf.meta.percentageColumn + " ratio of total"
      val rop = pf.meta.percentageColumn + " ratio of parent"
      // Σ ratio-of-total over depth-1 rows ≈ 1 (exp2: 0.9999971, keep tolerance)
      val s = pf.df.filter(size(col("callpath")) === 1)
        .agg(sum(col("`" + rot + "`"))).head().getDouble(0)
      assert(math.abs(s - 1.0) < math.max(sumTol, 3e-6), s"sum=$s")
      // root ratios are exactly 1
      val root = pf.df.filter(col("id") === Model.RootId)
        .select(col("`" + rot + "`"), col("`" + rop + "`")).head()
      assert(root.getDouble(0) === 1.0 && root.getDouble(1) === 1.0)
      // id uniqueness
      assert(pf.df.select("id").distinct().count() === pf.df.count())
      // prefix closure: every parent path exists as a row's callpath
      val paths = pf.df.select(col("callpath"))
      val parentsOnly = pf.df.filter(size(col("callpath")) > 0)
        .select(slice(col("callpath"), lit(1), size(col("callpath")) - 1).as("callpath"))
      assert(parentsOnly.except(paths).count() === 0)
    }
  }

  test("one-shot flame geometry equals the layer-join formulation on both fixtures") {
    assume(hasFixtures)
    for ((pf, key) <- Seq((pf1, "experiment1"), (pf2, "experiment2"))) {
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("id", "depth", "x0", "width", "labeled")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
        .toMap
      val loop = canon(TreeReference.flameGeometryIterative(pf))
      val oneShot = canon(Ops.flameGeometry(pf))
      assert(oneShot.keySet === loop.keySet, s"$key: node/layer set differs")
      oneShot.foreach { case (k, (x, w, l)) =>
        val (lx, lw, ll) = loop(k)
        // the unrolled product re-associates the float multiplies; 1e-9 relative
        assert(relEq(x, lx) && relEq(w, lw) && l === ll,
          s"$key $k: one-shot ($x,$w,$l) vs loop ($lx,$lw,$ll)")
      }
      // spot-check a restricted window too (prefix + depth bounds hit both the
      // global-group and per-parent normalization paths)
      val loopW = canon(TreeReference.flameGeometryIterative(pf, minDepth = Some(3), maxDepth = Some(6)))
      val oneW = canon(Ops.flameGeometry(pf, minDepth = Some(3), maxDepth = Some(6)))
      assert(oneW.keySet === loopW.keySet, s"$key: bounded node/layer set differs")
      oneW.foreach { case (k, (x, w, _)) =>
        val (lx, lw, _) = loopW(k)
        assert(relEq(x, lx) && relEq(w, lw), s"$key bounded $k")
      }
    }
  }

  test("flame-graph geometry matches the reference layer by layer") {
    assume(hasFixtures)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(new File(goldenPath("golden_flame.json")))
    for ((pf, key) <- Seq((pf1, "experiment1"), (pf2, "experiment2")) if tree.has(key)) {
      val node = tree.get(key)
      assert(pf.meta.percentageColumn + " ratio of parent" === node.get("column").asText())
      val geo = Ops.flameGeometry(pf)
        .select("depth", "x0", "width").collect()
        .groupBy(_.getInt(0))
        .view.mapValues(_.map(r => (r.getDouble(1), r.getDouble(2))).sorted.toSeq).toMap
      val layers = node.get("layers")
      (0 until layers.size()).foreach { li =>
        val layer = layers.get(li)
        val depth = layer.get("y").asDouble().toInt
        val offs = (0 until layer.get("offsets").size()).map(layer.get("offsets").get(_).asDouble())
        val wids = (0 until layer.get("widths").size()).map(layer.get("widths").get(_).asDouble())
        val want = offs.zip(wids).sorted
        val got = geo.getOrElse(depth, fail(s"$key: no layer at depth $depth"))
        assert(got.length === want.length, s"$key depth $depth: node count")
        got.zip(want).foreach { case ((gx, gw), (wx, ww)) =>
          assert(math.abs(gx - wx) < 1e-6 && math.abs(gw - ww) < 1e-6,
            s"$key depth $depth: ($gx,$gw) vs ($wx,$ww)")
        }
      }
      assert(geo.keys.max === layers.get(layers.size() - 1).get("y").asDouble().toInt,
        s"$key: extra layers beyond the reference's")
    }
  }
}
