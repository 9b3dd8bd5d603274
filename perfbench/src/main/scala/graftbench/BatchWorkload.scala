package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.SparkEntry

/** Closed loop, one client: passes over a fixed key set of
  * `SparkEntry.queries`, each key fully materialized through the `noop`
  * sink. The seed shuffles the key order of every pass.
  *
  * An untimed first pass writes every key's output, with the key's oracle
  * SQL, for the DuckDB compare of scripts/check_oracle.py, and pays the
  * cold-codegen cost.
  */
final class BatchWorkload(keys: Seq[String]) extends Workload {
  private var dir: String = _
  require(keys.forall(SparkEntry.oracleSql.contains), "every benchmark key needs an oracle")

  /** The keys read the generated parquet directly: no fixtures to build. */
  def setup(ctx: Ctx, input: String, rep: Int): Unit = dir = input

  /** Timestamps as TIMESTAMP_NTZ so DuckDB compares naive to naive (the
    * same conversion graft.Verify applies before its oracle dump).
    */
  private def ntz(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampType) d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
      else d
    }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val rng = new scala.util.Random(ctx.seed)
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L
    def dump(k: String, to: String): Unit = {
      attempted += 1
      try ntz(queries(k)(spark, dir)).coalesce(1).write.mode("overwrite").parquet(to)
      catch { case e: Throwable => failed += 1; errors += s"$k (check pass): $e" }
      spark.catalog.clearCache()
    }
    val checkDir = s"${ctx.work}/check"
    rng.shuffle(keys).foreach(k => dump(k, s"$checkDir/$k"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
      Json.value(keys.map(k => k -> oracles(k)).toMap))
    ctx.groups.flush(spark)
    ctx.plans.drain()

    val samples = keys.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val counters = keys.map(_ -> mutable.Map.empty[String, Double]).toMap
    val passSums = mutable.ArrayBuffer.empty[Double]
    val cpu0 = ctx.groups.taskCpuNs
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    // at least three timed passes: the first still runs partly in the JIT's
    // warm-up, and the median of three rejects one pass disturbed by the host
    while (passSums.size < 3 || System.nanoTime() < deadline) {
      var sum = 0.0
      ctx.tracer.span(0L, "bench", "pass", Map("pass" -> passSums.size.toString)) { passId =>
        rng.shuffle(keys).foreach { k =>
          attempted += 1
          spark.sparkContext.setJobGroup(k, k)
          val t0 = System.nanoTime()
          val ok =
            try { queries(k)(spark, dir).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable => failed += 1; errors += s"$k: $e"; false }
          val t1 = System.nanoTime()
          spark.sparkContext.clearJobGroup()
          ctx.groups.flush(spark)
          val plan = PlanStats.sum(ctx.plans.drain().map(PlanStats.of))
          spark.catalog.clearCache()
          if (ok) {
            samples(k) += (t1 - t0) / 1e9
            sum += (t1 - t0) / 1e9
            plan.foreach { case (m, v) => counters(k)(m) = counters(k).getOrElse(m, 0.0) + v }
            val planNs = (Seq("plans.analysis_ms", "plans.optimization_ms", "plans.physical_ms")
              .map(plan.getOrElse(_, 0.0)).sum * 1e6).toLong.min(t1 - t0)
            val keyId = ctx.tracer.record(passId, "operators", k, t0, t1)
            ctx.tracer.record(keyId, "plans", "plan", t0, t0 + planNs)
            ctx.tracer.record(keyId, "operators", "execute", t0 + planNs, t1)
          }
        }
      }
      passSums += sum
    }
    val cpuMs = (ctx.groups.taskCpuNs - cpu0) / 1e6
    val runs = samples.values.map(_.size).sum

    val perKey = keys.map { k =>
      val n = math.max(1, samples(k).size).toDouble
      val task = ctx.groups.group(k).asMap(n)
      val plan = counters(k).map { case (m, v) => m -> v / n }.toMap
      k -> (plan ++ task)
    }.toMap
    val medians = keys.filter(samples(_).nonEmpty).map(k => Stats.median(samples(k).toSeq))
    // per-pass totals over the key set; a share is averaged instead
    val layer = perKey.values.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _).map {
      case (m @ "functions.codegen_share", v) => m -> v / keys.size
      case kv => kv
    }
    Outcome(
      attempted, failed, errors.toSeq,
      endToEnd = Map(
        "op_ms" -> Stats.geomean(medians) * 1e3,
        "result_s" -> Stats.median(passSums.toSeq)),
      perLayer = layer ++ Map(
        "cpu_ms_per_op" -> cpuMs / math.max(1, runs),
        "pass_s" -> Stats.median(passSums.toSeq),
        "key_geomean_s" -> Stats.geomean(medians)),
      record = Map(
        "passes" -> passSums.size,
        "pass_sums_s" -> passSums.toSeq,
        "keys" -> keys.map { k =>
          k -> Map("samples_s" -> samples(k).toSeq, "counters" -> perKey(k))
        }.toMap,
        "oracle_dir" -> checkDir))
  }
}

object BatchWorkload {
  /** TPC-H keys plus the reference's Trino-role SQL over `events`. */
  val SqlAnalystKeys: Seq[String] = Seq(
    "q1_pricing", "q3_top_orders", "q5_region_rev", "q9_profit_by_nation",
    "q18_large_orders", "q21_sole_late_supplier", "sql_groupby_avg", "sql_cte_window")

  /** Text kernels and near-dup detection. */
  val CurationKeys: Seq[String] = Seq(
    "doc_winnow_fingerprint", "dedup_simhash", "ngram_jaccard", "quality_repetition",
    "dedup_minhash_lsh", "tfidf_top_terms")
}
