package perfbench

import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.functions.VecDot
import graft.queries.{Hierarchy, TextOps}
import Main.noop

/** A query sweep over the star-schema tables: every query of [[QuerySweep.Queries]]
  * once, in an order drawn from the seed, each into the no-op sink. Set-up
  * builds the prewarm caches those queries read, on at most [[Main.cores]]
  * driver threads.
  *
  * Outputs are checked against the DuckDB oracle by `run.py`: after the timed
  * window the queries of [[QuerySweep.AlwaysChecked]] and one more, rotating
  * with the seed, are written to parquet beside their oracle SQL
  * (`oracleSqlFor`), so consecutive seeds check every query.
  */
final class QuerySweep(seed: Long, data: String, out: java.nio.file.Path) extends Workload {
  import QuerySweep._

  private val order: Seq[(String, String)] = Main.rng(seed).shuffle(Queries)
  val checkedQueries: Seq[String] = {
    val rest = Queries.map(_._2).filterNot(AlwaysChecked.contains).sorted
    AlwaysChecked :+ rest(Math.floorMod(seed - 1, rest.length.toLong).toInt)
  }

  def generate(): Unit =
    require(new java.io.File(s"$data/lineitem.parquet").isFile, s"no tables under $data")

  def setup(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    VecDot.register(spark) // s01 calls vec_dot
    val pool = Executors.newFixedThreadPool(Main.cores)
    try {
      pool.invokeAll(prewarm(spark, data).map { case (name, body) =>
        new Callable[(String, Double)] {
          def call(): (String, Double) = {
            val t0 = System.nanoTime()
            tracer.span(s"prewarm.$name")(body())
            name -> (System.nanoTime() - t0) / 1e9
          }
        }
      }.asJava).asScala.map(_.get).toMap
    } finally pool.shutdown()
  }

  def ops(spark: SparkSession): Seq[OpDef] = order.map { case (module, q) =>
    val fn = graft.SparkEntry.queries(q)
    OpDef(q, s"queries.$module", () => noop(fn(spark, data)))
  }

  def check(spark: SparkSession): Map[String, String] = {
    checkedQueries.flatMap { q =>
      try {
        graft.SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve("oracle").resolve(q).toString)
        None
      } catch { case e: Throwable => Some(q -> s"check write failed: $e") }
    }.toMap
  }

  def oracleSql(spark: SparkSession): Map[String, String] = {
    val all = graft.SparkEntry.oracleSqlFor(spark, data)
    checkedQueries.flatMap(q => all.get(q).map(q -> _)).toMap
  }
}

object QuerySweep {
  /** (module, key) of each query: the cleaning pipeline d10 (quality gate,
    * exact dedup, LSH candidates, Jaccard verify, connected components, keep)
    * with cheap TextOps peers; from the table modules the tree operators
    * a14/a15 and scan, filter, aggregate, window or sort queries of every
    * other module. Cheap queries are the majority, so the median operation
    * falls among them.
    */
  val Queries: Seq[(String, String)] =
    Seq("d10_clean_corpus", "d01_dedup_exact", "d03_minhash_bands", "m01_binary_meta",
      "t01_textstats", "t02_langid", "t03_fingerprint", "t04_token_count", "t08_quality_filter")
      .map("TextOps" -> _) ++
      Seq("a11_at_paths", "a12_at_depths", "a14_hot_path", "a15_flame").map("Hierarchy" -> _) ++
      Seq("b02_filter", "b03_key_lookup", "b04_scalar", "b05_argmax", "b16_sort_limit")
        .map("Relational" -> _) ++
      Seq("EventOps" -> "e02_hourly", "VectorOps" -> "s01_cosine_topk",
        "MediaOps" -> "m04_frame_sample")

  /** Checked on every run: the cleaning pipeline and the tree operators. */
  val AlwaysChecked: Seq[String] = Seq("d10_clean_corpus", "a14_hot_path", "a15_flame")

  /** The prewarm stages the queries read. */
  def prewarm(s: SparkSession, d: String): Seq[(String, () => Unit)] = {
    val text = Set("text-bands", "text-shingles")
    TextOps.prewarmStages(s, d).filter(st => text(st._1)) ++ Hierarchy.prewarmStages(s, d)
  }
}
