package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.hpct.{FlameSvg, Ops, ProfileFrame, ProfileLoad, XmlReader}
import Main.noop

/** Output checks shared by the profile workloads, against [[XmlGen.Truth]]. */
object ProfileChecks {
  private val Tol = 1e-12

  private def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Row count, depth histogram, per-node ratio of total and of parent, root
    * ratio of total = 1, and the root fix of every `(E)` column.
    */
  def load(pf: ProfileFrame, t: XmlGen.Truth, family: String): Option[String] = {
    val base = t.base
    val rows = pf.df.select(col("id"), size(col("callpath")).as("d"),
        col(s"`$base ratio of total`"), col(s"`$base ratio of parent`"),
        col(s"`$family:Sum (E)`"), col(s"`$family:Sum (I)`"))
      .collect()
    val hist = rows.groupBy(_.getInt(1)).map { case (d, v) => d -> v.length }
    val bad = rows.iterator.filterNot { r =>
      val id = r.getLong(0)
      close(r.getDouble(2), t.ratioTotal(id), Tol) && close(r.getDouble(3), t.ratioParent(id), Tol)
    }.take(1).toSeq
    val root = rows.find(_.getLong(0) == XmlGen.RootId)
    if (rows.length != t.rows) Some(s"rows ${rows.length} != ${t.rows}")
    else if (hist != t.depthHist) Some("depth histogram differs")
    else if (root.forall(_.getDouble(2) != 1.0)) Some("root ratio of total is not 1")
    else if (root.forall(r => r.getDouble(4) != r.getDouble(5))) Some("root fix not applied")
    else bad.headOption.map(r => s"ratio mismatch at id ${r.getLong(0)}")
  }

  def hotPath(pf: ProfileFrame, t: XmlGen.Truth): Option[String] = {
    val ids = Ops.hotPath(pf, threshold = t.hotThreshold).df.select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    if (ids == t.hotPath.sorted) None else Some(s"hot path ${ids.take(8)} != ${t.hotPath.take(8)}")
  }

  /** Every parent's children tile its width, and the top layer tiles 2π. */
  def flame(geo: DataFrame, t: XmlGen.Truth): Option[String] = {
    val g = geo.select("id", "width").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    if (g.size != t.rows - 1) return Some(s"flame rows ${g.size} != ${t.rows - 1}")
    val byParent = g.keys.groupBy(t.parentOf)
    byParent.collectFirst {
      case (p, kids) if !close(kids.toSeq.map(g).sum,
          if (p == XmlGen.RootId) 2 * math.Pi else g(p), 1e-9) =>
        s"children of $p do not tile its width"
    }
  }

  def exactParent(df: DataFrame, colName: String, t: XmlGen.Truth): Option[String] = {
    val bad = df.select(col("id"), col(s"`$colName`")).collect()
      .filterNot(r => close(r.getDouble(1), t.ratioParentExact(r.getLong(0)), Tol))
    bad.headOption.map(r => s"exact parent ratio mismatch at id ${r.getLong(0)}")
  }

  /** Rows in the subtree under `top` (inclusive), from the truth's parents. */
  def subtreeSize(t: XmlGen.Truth, top: Long): Long = {
    val memo = mutable.HashMap(XmlGen.RootId -> false)
    def under(id: Long): Boolean =
      if (id == top) true else memo.getOrElseUpdate(id, under(t.parentOf(id)))
    t.parentOf.keys.count(under).toLong
  }
}

/** The paper's load-and-analyse path on generated experiment databases.
  *
  * Fixture part: per fixture-sized database (about 3k nodes, depth <= 25),
  * load, hot path, compact, flame geometry + SVG, path and depth filters and
  * an exact ratio-of-parent column, each into the no-op sink. At this size
  * time goes to planning and job launches.
  *
  * Study part: a many-run study of larger, deeper databases with disjoint
  * metric families: a multi-file load, the XML data source with a per-db
  * aggregate, and a parquet round trip of the merged frame with per-db
  * top-procedure queries. Here executor-side parsing and the per-db ratio
  * joins carry more of the time.
  */
final class ProfileSession(seed: Long, dir: Path) extends Workload {
  val FixtureDbs = 2
  val FixtureNodes = 3000
  val StudyDbs = 3
  private val fixtureFamilies = Seq("CPUTIME (usec)", "PAPI_MEM_WCY")
  private val studyFamilies = Seq("CPUTIME (usec)", "PAPI_TOT_CYC", "PAPI_L2_DCM", "REALTIME (usec)")
  private val fixtures = mutable.ArrayBuffer.empty[XmlGen.Db]
  private val study = mutable.ArrayBuffer.empty[XmlGen.Db]
  private var warm: XmlGen.Db = _
  private var parsedNodes = 0L
  private var merged: DataFrame = _
  private def parquetDir: String = dir.resolve("study.parquet").toString

  def generate(): Unit = {
    val rng = Main.rng(seed)
    for (i <- 0 until FixtureDbs)
      fixtures += XmlGen.write(dir.resolve(f"fixture_$i%02d.xml"), rng.nextLong(),
        XmlGen.Shape(FixtureNodes, 25, fixtureFamilies(i % fixtureFamilies.length)))
    // sizes are fixed so every seed moves the same volume; the seed draws
    // the trees and values
    for (i <- 0 until StudyDbs)
      study += XmlGen.write(dir.resolve(f"run_$i%02d.xml"), rng.nextLong(),
        XmlGen.Shape(2000 + 1000 * i, 40, studyFamilies(i % studyFamilies.length)))
    warm = XmlGen.write(dir.resolve("warmup.xml"), rng.nextLong(),
      XmlGen.Shape(1000, 25, fixtureFamilies.head))
  }

  /** Load a small database: session start-up work (JIT, the XML parser, the
    * load plan's code generation) that every analysis session pays once.
    */
  def setup(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val t0 = System.nanoTime()
    noop(ProfileLoad.load(spark, warm.path).df)
    Map("warmup" -> (System.nanoTime() - t0) / 1e9)
  }

  private def fixtureOps(spark: SparkSession, db: XmlGen.Db, i: Int): Seq[OpDef] = {
    val t = db.truth
    // parsed inside the timed load call; the later calls reuse its plan
    lazy val pf = ProfileLoad.load(spark, db.path)
    var geo: DataFrame = null
    val prefix = t.hotPath.slice(1, 3)
    Seq(
      OpDef(s"load:$i", "hpct.ProfileLoad.load", () => noop(pf.df)),
      OpDef(s"hot_path:$i", "hpct.Ops.hot_path", () => noop(Ops.hotPath(pf, threshold = t.hotThreshold).df)),
      OpDef(s"compact:$i", "hpct.Ops.compact", () => noop(Ops.compact(pf).df)),
      // the geometry is collected into a local frame, so the render call
      // times the SVG drawing and not the geometry again
      OpDef(s"flame:$i", "hpct.Ops.flame", () => {
        val g = Ops.flameGeometry(pf)
        geo = spark.createDataFrame(g.collect().toSeq.asJava, g.schema) }),
      OpDef(s"render:$i", "hpct.FlameSvg.render", () =>
        require(FlameSvg.render(geo, title = s"db $i").nonEmpty)),
      OpDef(s"at_paths:$i", "hpct.Ops.filter", () => noop(Ops.atPaths(pf, prefix = prefix).df)),
      OpDef(s"at_depths:$i", "hpct.Ops.filter", () => noop(Ops.atDepths(pf, Some(3), Some(8)).df)),
      OpDef(s"ratio_column:$i", "hpct.Ops.ratio_column", () =>
        noop(pf.addRatioColumn(t.base, "parent", Some("exact ratio of parent")).df)))
  }

  private def sumCol(families: Seq[String]) =
    families.distinct.map(f => coalesce(col(s"`$f:Sum (I)`"), lit(0.0))).reduce(_ + _)

  private def studyOps(spark: SparkSession): Seq[OpDef] = {
    val paths = study.map(_.path).toSeq
    val fams = study.map(_.family).toSeq
    Seq(
      OpDef("load_many", "hpct.ProfileLoad.load_many", () => {
        merged = ProfileLoad.loadMany(spark, paths).df; noop(merged) }),
      OpDef("scan", "sources.HpctXmlSource.scan", () => {
        spark.read.format("hpct-xml").option("path", paths.mkString(",")).load()
          .groupBy("db").agg(count(lit(1)), sum(sumCol(fams))).collect(); () }),
      OpDef("parquet_write", "spark.parquet", () =>
        merged.write.mode("overwrite").parquet(parquetDir))) ++
      paths.indices.map(i => OpDef(s"top_procs:$i", "spark.parquet", () => {
        spark.read.parquet(parquetDir).filter(col("db") === paths(i))
          .groupBy("procedure").agg(sum(col(s"`${fams(i)}:Sum (E)`")).as("excl"))
          .orderBy(desc("excl"), asc("procedure")).limit(5).collect(); () }))
  }

  def ops(spark: SparkSession): Seq[OpDef] =
    fixtures.indices.flatMap(i => fixtureOps(spark, fixtures(i), i)) ++ studyOps(spark)

  override def loadedNodes: Map[String, Long] =
    fixtures.indices.map(i => s"load:$i" -> fixtures(i).truth.rows.toLong).toMap ++ Map(
      "load_many" -> study.map(_.truth.rows.toLong).sum,
      "parse_nodes" -> parsedNodes)

  /** Output checks, in groups of the operations each one covers. */
  def check(spark: SparkSession): Map[String, String] = {
    val db = fixtures.head; val t = db.truth
    lazy val pf = { val p = ProfileLoad.load(spark, db.path); p.copy(df = p.df.cache()) }
    val paths = study.map(_.path).toSeq
    val truth = study.map(d => d.path -> d.truth).toMap
    val fams = study.map(_.family).toSeq
    def perDb(df: DataFrame): Map[String, (Long, Double)] =
      df.groupBy("db").agg(count(lit(1)), sum(sumCol(fams))).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def same(got: Map[String, (Long, Double)]): Option[String] =
      paths.find(p => !got.get(p).contains((truth(p).rows.toLong, truth(p).sumInclusive)))
        .map(p => s"per-db rows/sum differ for ${Path.of(p).getFileName}: ${got.get(p)}")
    def rows(n: Long, want: Long, what: String) =
      if (n == want) None else Some(s"$what rows $n != $want")
    val groups: Seq[(Seq[String], () => Option[String])] = Seq(
      Seq("load:0") -> (() => ProfileChecks.load(pf, t, db.family)),
      Seq("hot_path:0") -> (() => ProfileChecks.hotPath(pf, t)),
      Seq("compact:0", "at_paths:0", "at_depths:0") -> (() => {
        val c = Ops.compact(pf)
        if (c.df.columns.toSeq != pf.meta.compactColumns) Some("compact columns differ")
        else rows(c.df.count(), t.rows, "compact")
          .orElse(rows(Ops.atPaths(pf, prefix = t.hotPath.slice(1, 3)).df.count(),
            ProfileChecks.subtreeSize(t, t.hotPath(2)), "at_paths"))
          .orElse(rows(Ops.atDepths(pf, Some(3), Some(8)).df.count(),
            (3 to 8).map(t.depthHist.getOrElse(_, 0)).sum.toLong, "at_depths"))
      }),
      Seq("flame:0", "render:0") -> (() => {
        val geo = Ops.flameGeometry(pf)
        val arcs = "<path ".r.findAllMatchIn(FlameSvg.render(geo)).length
        ProfileChecks.flame(geo, t).orElse(rows(arcs, t.rows - 1, "rendered arc"))
      }),
      Seq("ratio_column:0") -> (() => ProfileChecks.exactParent(
        pf.addRatioColumn(t.base, "parent", Some("exact ratio of parent")).df,
        "exact ratio of parent", t)),
      Seq("load_many") -> (() => {
        val many = ProfileLoad.loadMany(spark, paths).df.cache()
        val roots = many.filter(col("id") === XmlGen.RootId).collect()
        same(perDb(many)).orElse(
          if (roots.forall(r => r.getAs[Double](s"${truth(r.getAs[String]("db")).base} ratio of total") == 1.0))
            None else Some("a root ratio of total is not 1"))
      }),
      Seq("scan") -> (() =>
        same(perDb(spark.read.format("hpct-xml").option("path", paths.mkString(",")).load()))),
      (Seq("parquet_write") ++ paths.indices.map(i => s"top_procs:$i")) -> (() => {
        val back = spark.read.parquet(parquetDir)
        val procs = back.groupBy("db").agg(countDistinct("procedure")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        same(perDb(back)).orElse(
          if (paths.forall(p => procs.getOrElse(p, 0L) > 0)) None else Some("no procedures read back"))
      }))
    groups.flatMap { case (ops, run) => run().toSeq.flatMap(e => ops.map(_ -> e)) }.toMap
  }

  override def pieces(spark: SparkSession, tracer: Tracer): Seq[OpDef] =
    ProfilePieces(spark, fixtures.head, n => parsedNodes = n)
}

/** The load path called one public piece at a time, each materialized (and
  * cached for the next piece), so each time is the piece's own.
  */
object ProfilePieces {
  def apply(spark: SparkSession, db: XmlGen.Db, nodes: Long => Unit): Seq[OpDef] = {
    var parsed: XmlReader.Parsed = null
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); held += c; c }
    var raw, evaluated, fixed: DataFrame = null
    var geo: DataFrame = null
    Seq(
      OpDef("parse", "hpct.XmlReader.parse", () => {
        parsed = XmlReader.parse(db.path); nodes(parsed.rows.length.toLong) }),
      OpDef("frame", "hpct.ProfileLoad.frame", () =>
        raw = keep(ProfileLoad.rawFrame(spark, parsed.meta, parsed.rows))),
      OpDef("formulas", "hpct.ProfileLoad.formulas", () =>
        evaluated = keep(ProfileLoad.applyFormulas(raw, parsed.meta))),
      OpDef("rootfix", "hpct.ProfileLoad.rootfix", () => fixed = keep(ProfileLoad.rootFix(evaluated))),
      OpDef("ratios", "hpct.ProfileLoad.ratios", () =>
        fixed = keep(ProfileLoad.addRatioColumns(fixed, parsed.meta.percentageColumn))),
      OpDef("flame", "hpct.Ops.flame", () =>
        geo = keep(Ops.flameGeometry(ProfileFrame(fixed, parsed.meta)))),
      OpDef("render", "hpct.FlameSvg.render", () => require(FlameSvg.render(geo).nonEmpty)),
      OpDef("release", "release", () => held.foreach(_.unpersist(blocking = true))))
  }
}

