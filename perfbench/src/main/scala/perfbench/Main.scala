package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a workload: a call into the engine plus the sink
  * that materializes its result. `layer` names the module the call enters.
  */
final case class OpDef(name: String, layer: String, run: () => Unit)

/** What one timed operation cost and whether it held up. */
final case class OpResult(name: String, layer: String, sec: Double, err: Option[String],
    span: Long, exchanges: Long, jobs: Long, tasks: Long, shuffleB: Long, spillB: Long)

/** A workload: inputs made from the seed, a repeatable set-up step, the timed
  * operations, and output checks that run after the timed window.
  */
trait Workload {
  /** Make the inputs (excluded from set-up time). */
  def generate(): Unit
  /** The set-up step on a fresh session; runs once per [[Main.SetupReps]]. */
  def setup(spark: SparkSession, tracer: Tracer): Map[String, Double]
  def ops(spark: SparkSession): Seq[OpDef]
  /** Check outputs; returns an error per failed operation name. */
  def check(spark: SparkSession): Map[String, String]
  /** Traced runs only: load pieces called one at a time, after the window. */
  def pieces(spark: SparkSession, tracer: Tracer): Seq[OpDef] = Nil
  /** CCT nodes loaded per operation name (and `parse_nodes` for the parse piece). */
  def loadedNodes: Map[String, Long] = Map.empty
}

/** Benchmark entry point, started by `run.py`:
  * `perfbench.Main --workload W --seed N --trace 0|1 --out DIR --data DIR`.
  * Writes `DIR/result.json` (and with tracing `DIR/spans.jsonl`).
  */
object Main {
  val SetupReps = 5
  /** Spark's `local[N]`: all cores, at most 4. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val traced = args.getOrElse("trace", "0") == "1"
    val out = Paths.get(args("out"))
    val data = args("data")
    Files.createDirectories(out)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload = workload match {
      case "profile" => new ProfileSession(seed, out.resolve("input"))
      case "queries" => new QuerySweep(seed, data, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val g0 = System.nanoTime()
    w.generate()
    val genS = (System.nanoTime() - g0) / 1e9

    // set-up, repeated: each repetition starts a fresh session and runs the
    // set-up step on it, the first from JVM start (input generation
    // excluded); the median repetition is the set-up figure
    var spark: SparkSession = null
    var tracer: Tracer = null
    try {
      val reps = (1 to SetupReps).map { i =>
        if (spark != null) {
          tracer.close()
          graft.Caches.clearAll()
          spark.stop()
        }
        val t0 = System.nanoTime()
        spark = session(workload, out)
        tracer = new Tracer(spark, traced)
        val started = System.nanoTime()
        val stages = w.setup(spark, tracer)
        val t1 = System.nanoTime()
        val total =
          if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS else (t1 - t0) / 1e9
        (total, total - (t1 - started) / 1e9, stages)
      }
      val setupS = median(reps.map(_._1))
      tracer.drain()
      val cacheMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

      // timed window
      val ops = w.ops(spark)
      tracer.drain()
      val before = tracer.totals
      val wall0 = System.nanoTime()
      val results = ops.map(op => timeOp(tracer, op))
      val wallS = (System.nanoTime() - wall0) / 1e9
      tracer.drain()
      val after = tracer.totals

      // output checks, outside the timed window
      val c0 = System.nanoTime()
      val checkErr = try w.check(spark) catch {
        case e: Throwable => ops.map(_.name -> s"check threw: $e").toMap
      }
      val checkS = (System.nanoTime() - c0) / 1e9
      val failed = results.filter(r => r.err.isDefined || checkErr.contains(r.name))
      val pieces = if (traced) w.pieces(spark, tracer).map(op => timeOp(tracer, op)) else Nil

      val secs = results.map(_.sec).sorted
      val tailIdx = math.max(0, secs.length - 11) // 10 samples beyond it
      val record = mutable.LinkedHashMap[String, Any](
        "workload" -> workload, "seed" -> seed, "traced" -> traced, "cores" -> cores,
        "generate_s" -> genS, "check_s" -> checkS, "session_reps_s" -> reps.map(_._2),
        "setup_reps_s" -> reps.map(_._1),
        "setup_s" -> setupS, "wall_s" -> wallS,
        "op_p50_s" -> median(secs), "op_tail_s" -> secs(tailIdx),
        "op_tail_pct" -> (if (secs.length > 10) 100.0 * tailIdx / (secs.length - 1) else 0.0),
        "ops_n" -> secs.length,
        "shuffle_mb" -> (after.shuffleBytes - before.shuffleBytes) / 1e6,
        "spill_mb" -> (after.spillBytes - before.spillBytes) / 1e6,
        "cache_mb" -> cacheMb,
        "attempted" -> results.length, "failed" -> failed.length,
        "failures" -> failed.map(r => Map("op" -> r.name,
          "err" -> r.err.orElse(checkErr.get(r.name)).getOrElse(""))),
        "ops" -> results.map(r => Map("name" -> r.name, "layer" -> r.layer, "sec" -> r.sec,
          "ok" -> !failed.contains(r))),
        "spark" -> Map(
          "executor_run_s" -> (after.runNs - before.runNs) / 1e9,
          "scheduler_delay_s" -> (after.delayNs - before.delayNs) / 1e9,
          "cpu_util" -> (after.runNs - before.runNs) / 1e9 / (wallS * cores),
          "task_failures" -> (after.taskFailures - before.taskFailures),
          "stage_retries" -> (after.stageRetries - before.stageRetries),
          "jobs" -> (after.jobs - before.jobs), "tasks" -> (after.tasks - before.tasks)),
        "prewarm_s" -> reps.last._3,
        "oracle" -> (w match { case q: QuerySweep => q.checkedQueries case _ => Nil }))
      w.loadedNodes.foreach { case (k, v) => record(k) = v }
      if (traced) {
        tracer.drain()
        record("per_layer") = PerLayer(tracer, results, pieces, reps.last._3, cacheMb,
          w.loadedNodes, failed.length, wallS, after, before, cores)
        record("pieces") = pieces.map(r => Map("name" -> r.name, "sec" -> r.sec, "err" -> r.err))
        tracer.writeSpans(out.resolve("spans.jsonl"))
        System.err.println(selfTimeTable(tracer))
      }
      w match {
        case q: QuerySweep =>
          Files.write(out.resolve("oracle_sql.json"),
            Json.value(q.oracleSql(spark)).getBytes("UTF-8"))
        case _ =>
      }
      Files.write(out.resolve("result.json"), Json.value(record).getBytes("UTF-8"))
    } finally {
      if (tracer != null) tracer.close()
      graft.Caches.clearAll()
      if (spark != null) spark.stop()
    }
  }

  def session(workload: String, out: java.nio.file.Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Time one operation; the listener bus is drained outside the timing so
    * the operation's scheduler work is attributed to it.
    */
  private def timeOp(tracer: Tracer, op: OpDef): OpResult = {
    val before = tracer.totals
    val t0 = System.nanoTime()
    val (err, span) = tracer.spanned(op.layer, op.name) {
      try { op.run(); None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    tracer.drain()
    val after = tracer.totals
    OpResult(op.name, op.layer, sec, err, span, tracer.takeExchanges(),
      after.jobs - before.jobs, after.tasks - before.tasks,
      after.shuffleBytes - before.shuffleBytes, after.spillBytes - before.spillBytes)
  }

  /** Materialize a frame into the no-op sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Self time per span name, as a printable table. */
  def selfTimeTable(tracer: Tracer): String = {
    val all = tracer.allSpans
    val self = tracer.selfTimes(all)
    val rows = all.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.length, ss.map(_.dur).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9)
    }.sortBy(-_._4)
    val sb = new StringBuilder("SELFTIME span                                   n    total_s     self_s\n")
    rows.foreach { case (n, c, t, s) => sb ++= f"SELFTIME $n%-38s $c%4d $t%10.4f $s%10.4f\n" }
    sb.toString
  }

  /** A generator for a run seed. The seed is mixed first: java.util.Random
    * streams of nearby small seeds start out correlated.
    */
  def rng(seed: Long): Random = new Random(new java.util.SplittableRandom(seed).nextLong())
}
