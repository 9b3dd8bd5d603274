package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload reports back to Main. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    errors: Seq[String],
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    record: Map[String, Any] = Map.empty)

/** Shared state of one benchmark run. */
final class Ctx(val args: Map[String, String], val tracer: Tracer) {
  var spark: SparkSession = _
  val work: String = args("work")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val cpus: Int = args("cpus").toInt
  val jvm = new JvmProbe
  val groups = new GroupListener
  val plans = new PlanListener

  def newSession(): SparkSession = SparkSession.builder()
    .appName("perfbench")
    .master(s"local[$cpus]")
    // graft.Bench's session settings
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
    .config("spark.sql.codegen.cache.maxEntries", "4000")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  /** Attach the listeners to the current session. */
  def listen(): Unit = {
    spark.sparkContext.addSparkListener(groups)
    spark.listenerManager.register(plans)
  }
}

/** A workload: a setup that is repeated to time it, then one measured
  * phase on the state the last setup left.
  */
trait Workload {
  /** Build the workload's state from the generated inputs in `input`
    * (fixtures, tables, servers). Repeated; only the last one is kept.
    */
  def setup(ctx: Ctx, input: String, rep: Int): Unit
  /** Release what `setup` started when the setup is not the kept one. */
  def discard(ctx: Ctx): Unit = ()
  def measure(ctx: Ctx): Outcome
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cpus <n> --work <dir> --inputs <dir,...> --inputs-s <s,...> --out <file>`.
  * `inputs` holds one freshly generated input directory per setup
  * repetition; `inputs-s` the time each took to generate.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(args, new Tracer(args("trace") == "1"))
    System.setProperty("derby.stream.error.file", s"${ctx.work}/derby.log")
    val workload: Workload = args("workload") match {
      case "sql_analyst" => new BatchWorkload(BatchWorkload.SqlAnalystKeys)
      case "curation" => new BatchWorkload(BatchWorkload.CurationKeys)
      case "lake_dml" => new LakeDml
      case "speed_layer" => new SpeedLayer
      case other => sys.error(s"unknown workload $other")
    }
    val inputs = args("inputs").split(",").toSeq
    val inputS = args("inputs-s").split(",").map(_.toDouble).toSeq
    val setups = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    inputs.zipWithIndex.foreach { case (input, rep) =>
      val t0 = System.nanoTime()
      if (ctx.spark != null) ctx.spark.stop()
      ctx.spark = ctx.newSession()
      ctx.spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      ctx.tracer.span(0L, "setup", "fixture build", Map("rep" -> rep.toString)) { _ =>
        workload.setup(ctx, input, rep)
      }
      val t2 = System.nanoTime()
      setups += (((t1 - t0) / 1e9, inputS(rep), (t2 - t1) / 1e9))
      if (rep < inputs.length - 1) workload.discard(ctx)
    }
    ctx.listen()
    val wall0 = System.nanoTime()
    ctx.jvm.start()
    val out = try workload.measure(ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        Outcome(1, 1, Seq(s"workload aborted: $e"), Map.empty, Map.empty)
    }
    val jvm = ctx.jvm.stop()
    val wallS = (System.nanoTime() - wall0) / 1e9
    val totals = setups.map { case (a, b, c) => a + b + c }.toSeq
    val endToEnd = out.endToEnd + ("setup_s" -> Stats.median(totals))
    val perLayer = out.perLayer ++ Map(
      "heap_after_gc_peak_mb" -> jvm("heap_after_gc_peak_mb"),
      "setup.session_s" -> Stats.median(setups.map(_._1).toSeq),
      "setup.inputs_s" -> Stats.median(setups.map(_._2).toSeq),
      "setup.fixtures_s" -> Stats.median(setups.map(_._3).toSeq),
      "jvm.gc_ms" -> jvm("jvm.gc_ms"),
      "jvm.gc_count" -> jvm("jvm.gc_count"),
      "ops_failed_ratio" -> out.failed.toDouble / math.max(1L, out.attempted)) ++
      traceMetrics(ctx, wallS)
    if (ctx.tracer.enabled)
      Files.writeString(Paths.get(args("out") + ".spans.json"), ctx.tracer.toJson)
    val spark = ctx.spark
    val record = out.record ++ Map(
      "setups" -> setups.map { case (a, b, c) =>
        Map("session_s" -> a, "inputs_s" -> b, "fixtures_s" -> c) }.toSeq,
      "measure_wall_s" -> wallS,
      "jvm_options" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.toSeq.map(_.toString),
      "spark_conf" -> spark.conf.getAll.toMap,
      "available_processors" -> Runtime.getRuntime.availableProcessors())
    val json = Json.obj(Seq(
      "attempted" -> out.attempted, "failed" -> out.failed, "errors" -> out.errors.take(50),
      "end_to_end" -> endToEnd, "per_layer" -> perLayer, "record" -> record))
    Files.writeString(Paths.get(args("out")), json)
    spark.stop()
    // non-daemon threads of embedded servers must not keep the JVM alive
    System.exit(0)
  }

  private def traceMetrics(ctx: Ctx, wallS: Double): Map[String, Double] = {
    val layers = Seq("setup", "plans", "operators", "sources", "streaming", "serving")
    val self = ctx.tracer.selfMsByLayer
    layers.map(l => s"trace.self_ms.$l" -> self.getOrElse(l, 0.0)).toMap ++ Map(
      "trace.spans" -> ctx.tracer.all.size.toDouble,
      "trace.recorder_ms" -> ctx.tracer.costNs / 1e6,
      "trace.recorder_share" -> ctx.tracer.costNs / 1e9 / math.max(1e-9, wallS))
  }
}
