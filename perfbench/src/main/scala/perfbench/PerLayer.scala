package perfbench

import scala.collection.immutable.ListMap

/** The per-layer metrics of a traced run. Every workload reports the same
  * names; a layer the workload never enters reads 0. Their units are in
  * BENCHMARK.json, and `run.py` checks that the names match it.
  */
object PerLayer {
  /** hpct spans: median seconds, jobs and tasks per call. */
  val HpctSpans: Seq[String] = Seq(
    "hpct.XmlReader.parse", "hpct.ProfileLoad.frame", "hpct.ProfileLoad.formulas",
    "hpct.ProfileLoad.rootfix", "hpct.ProfileLoad.ratios", "hpct.ProfileLoad.load_many",
    "sources.HpctXmlSource.scan", "hpct.Ops.hot_path", "hpct.Ops.flame", "hpct.Ops.filter",
    "hpct.Ops.compact", "hpct.Ops.ratio_column", "hpct.FlameSvg.render")

  val Modules: Seq[String] =
    Seq("Relational", "Hierarchy", "EventOps", "VectorOps", "MediaOps", "TextOps")

  val PrewarmStages: Seq[String] = Seq("text-bands", "text-simhash", "text-simhash128",
    "text-shingles", "text-decontam", "hierarchy-nodes", "emb-count", "vec-bands",
    "ivf-16-0", "ivf-16-1")

  val CleanQueries = Set("d09_dedup_clusters", "d10_clean_corpus", "d10_clean_staged")
  val TreeQueries = Set("a14_hot_path", "a15_flame")

  def apply(tracer: Tracer, ops: Seq[OpResult], pieces: Seq[OpResult], prewarm: Map[String, Double],
      cacheMb: Double, nodes: Map[String, Long], failed: Int, wallS: Double,
      after: Work, before: Work, cores: Int): ListMap[String, Double] = {
    val all = ops ++ pieces
    val self = tracer.selfTimes(tracer.allSpans)
    def med(xs: Seq[Double]) = Main.median(xs)
    val loads = ops.filter(o => o.layer.startsWith("hpct.ProfileLoad.load"))
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (s <- HpctSpans) {
      val rs = all.filter(_.layer == s)
      m(s"${s}_s") = med(rs.map(_.sec))
      m(s"$s.jobs") = med(rs.map(_.jobs.toDouble))
      m(s"$s.tasks") = med(rs.map(_.tasks.toDouble))
    }
    m("hpct.XmlReader.nodes") = nodes.getOrElse("parse_nodes", 0L).toDouble
    m("hpct.ProfileLoad.load_p50_s") =
      med(ops.filter(_.layer == "hpct.ProfileLoad.load").map(_.sec))
    val loadSec = loads.map(_.sec).sum
    m("hpct.ProfileLoad.nodes_per_s") =
      if (loadSec > 0) loads.map(o => nodes.getOrElse(o.name, 0L)).sum / loadSec else 0.0
    for (mod <- Modules) {
      val rs = ops.filter(_.layer == s"queries.$mod")
      m(s"queries.$mod.query_s") = rs.map(_.sec).sum
      m(s"queries.$mod.driver_s") = rs.map(r => self.getOrElse(r.span, 0L) / 1e9).sum
      m(s"queries.$mod.jobs") = rs.map(_.jobs).sum.toDouble
      m(s"queries.$mod.exchanges") = rs.map(_.exchanges).sum.toDouble
      m(s"queries.$mod.shuffle_mb") = rs.map(_.shuffleB).sum / 1e6
      m(s"queries.$mod.spill_mb") = rs.map(_.spillB).sum / 1e6
    }
    m("queries.TextOps.clean_s") = ops.filter(o => CleanQueries(o.name)).map(_.sec).sum
    m("queries.Hierarchy.tree_s") = ops.filter(o => TreeQueries(o.name)).map(_.sec).sum
    for (p <- PrewarmStages) m(s"prewarm.${p}_s") = prewarm.getOrElse(p, 0.0)
    m("prewarm.cache_mb") = cacheMb
    val runS = (after.runNs - before.runNs) / 1e9
    m("spark.executor_run_s") = runS
    m("spark.scheduler_delay_s") = (after.delayNs - before.delayNs) / 1e9
    m("spark.cpu_util") = runS / (wallS * cores)
    m("spark.task_failures") = (after.taskFailures - before.taskFailures).toDouble
    m("spark.stage_retries") = (after.stageRetries - before.stageRetries).toDouble
    m("run.shuffle_mb") = (after.shuffleBytes - before.shuffleBytes) / 1e6
    m("run.spill_mb") = (after.spillBytes - before.spillBytes) / 1e6
    m("run.failed_frac") = failed.toDouble / math.max(1, ops.length)
    m("trace.wall_s") = wallS
    ListMap(m.toSeq: _*)
  }
}
