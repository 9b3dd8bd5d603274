package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Percentiles, medians and geometric means over timing samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)
}

/** Executor-side task counters of every job run under one job group,
  * summed over the group's stages and tasks.
  */
final class TaskTotals {
  val execMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, stages, tasks = new AtomicLong()
  def asMap(div: Double): Map[String, Double] = Map(
    "operators.exec_ms" -> execMs.get / div,
    "operators.cpu_ms" -> cpuNs.get / 1e6 / div,
    "operators.gc_ms" -> gcMs.get / div,
    "operators.shuffle_read_bytes" -> shuffleRead.get / div,
    "operators.shuffle_write_bytes" -> shuffleWrite.get / div,
    "operators.spill_bytes" -> spill.get / div,
    "operators.stages" -> stages.get / div,
    "operators.tasks" -> tasks.get / div)
}

/** A SparkListener keyed by job group (`SparkContext.setJobGroup`): each
  * task's metrics land in its job's group. `flush` runs a one-task
  * sentinel job and waits for its end event; the listener bus is FIFO, so
  * afterwards every earlier event has been seen.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, TaskTotals]()
  private val ended = ConcurrentHashMap.newKeySet[String]()

  def group(g: String): TaskTotals = totals.computeIfAbsent(g, _ => new TaskTotals)

  /** Executor CPU time of every task so far, bar the flush sentinels. */
  def taskCpuNs: Long =
    totals.asScala.collect { case (g, t) if g != "__flush__" => t.cpuNs.get }.sum

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => group(g).stages.incrementAndGet())
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(s"job-${e.jobId}")
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    val m = e.taskMetrics
    if (m != null) {
      val t = group(g)
      t.tasks.incrementAndGet()
      t.execMs.addAndGet(m.executorRunTime)
      t.cpuNs.addAndGet(m.executorCpuTime)
      t.gcMs.addAndGet(m.jvmGCTime)
      t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def flush(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup("__flush__", "listener flush")
    val ids = sc.parallelize(Seq(1), 1).map(identity)
    val job = sc.submitJob(ids, (_: Iterator[Int]) => (), Seq(0), (_: Int, _: Unit) => (), ())
    job.get()
    val id = job.jobIds.head
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!ended.contains(s"job-$id") && System.nanoTime() < deadline) Thread.sleep(2)
    if (prior == null) sc.clearJobGroup() else sc.setJobGroup(prior, prior)
  }
}

/** Collects the QueryExecution of every action the session runs; the
  * batch workloads run one key at a time, so a flush window is one key.
  */
final class PlanListener extends QueryExecutionListener {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = buf.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drain(): Seq[QueryExecution] = {
    val out = mutable.ArrayBuffer.empty[QueryExecution]
    var q = buf.poll()
    while (q != null) { out += q; q = buf.poll() }
    out.toSeq
  }
}

/** Plan-side counters of one executed query, read from its public
  * QueryExecution: planning phases, plan shape, lambdas, codegen
  * coverage and scan-node SQL metrics.
  */
object PlanStats {
  private def physical(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => physical(a.executedPlan)
    case q: QueryStageExec => physical(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(physical)
  }

  private def wrapper(p: SparkPlan): Boolean = p match {
    case _: WholeStageCodegenExec | _: InputAdapter | _: AdaptiveSparkPlanExec |
        _: QueryStageExec => true
    case _ => false
  }

  private def inCodegen(p: SparkPlan): Seq[SparkPlan] = p match {
    case w: WholeStageCodegenExec =>
      def inner(q: SparkPlan): Seq[SparkPlan] = q match {
        case _: InputAdapter => Seq.empty
        case other => other +: other.children.flatMap(inner)
      }
      inner(w.child)
    case _ => Seq.empty
  }

  private def lambdas(plan: LogicalPlan): Int = {
    var n = 0
    plan.foreachWithSubqueries(_.expressions.foreach(_.foreach {
      case _: LambdaFunction => n += 1
      case _ =>
    }))
    n
  }

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  def of(qe: QueryExecution): Map[String, Double] = {
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val nodes = physical(qe.executedPlan)
    val ops = nodes.filterNot(wrapper)
    val codegen = nodes.flatMap(inCodegen).filterNot(wrapper)
    val fileScans = nodes.collect { case s: FileSourceScanExec => s }
    val scans = nodes.filter(n => n.isInstanceOf[FileSourceScanExec] ||
      n.isInstanceOf[BatchScanExec] || n.isInstanceOf[LeafExecNode])
    val pruned = fileScans.map { s =>
      val all = scala.util.Try(s.relation.location.inputFiles.length.toDouble).getOrElse(0.0)
      math.max(0.0, all - metric(s, "numFiles"))
    }.sum
    Map(
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimization_ms" -> phase("optimization"),
      "plans.physical_ms" -> phase("planning"),
      "plans.optimized_nodes" -> {
        var n = 0; qe.optimizedPlan.foreachWithSubqueries(_ => n += 1); n.toDouble
      },
      "plans.scans" -> scans.size.toDouble,
      "plans.exchanges" -> nodes.count(_.isInstanceOf[Exchange]).toDouble,
      "functions.hof_lambdas" -> lambdas(qe.optimizedPlan).toDouble,
      "functions.codegen_share" ->
        (if (ops.isEmpty) 0.0 else codegen.size.toDouble / ops.size),
      "sources.scan_plan_ms" -> fileScans.map(s =>
        metric(s, "metadataTime") + metric(s, "pruningTime")).sum,
      "sources.files_read" -> fileScans.map(metric(_, "numFiles")).sum,
      "sources.bytes_read" -> fileScans.map(metric(_, "filesSize")).sum,
      "sources.files_pruned" -> pruned)
  }

  /** Sum the counters of several executed queries (one key may run many). */
  def sum(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _).map {
      // a share does not add up across queries: average it instead
      case ("functions.codegen_share", v) => "functions.codegen_share" -> v / math.max(1, ms.size)
      case kv => kv
    }
}

/** JVM-wide GC time/count and the peak of heap-in-use right after each
  * collection, from the platform MXBeans and GC notifications.
  */
final class JvmProbe {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  @volatile private var peakAfterGc = 0L
  @volatile private var armed = false

  beans.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (armed && n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools.contains(pool) => u.getUsed
          }.sum
          if (used > peakAfterGc) peakAfterGc = used
        }
      }, null, null)
    case _ =>
  }
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private def gcTotals: (Long, Long) =
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  private var gc0 = (0L, 0L)

  def start(): Unit = { heapPools; gc0 = gcTotals; peakAfterGc = 0L; armed = true }

  /** Stop the window: one explicit full collection closes it, so every
    * run has at least one after-GC sample.
    */
  def stop(): Map[String, Double] = {
    val (t, c) = gcTotals
    System.gc()
    Thread.sleep(200)
    armed = false
    Map("jvm.gc_ms" -> (t - gc0._1).toDouble, "jvm.gc_count" -> (c - gc0._2).toDouble,
      "heap_after_gc_peak_mb" -> peakAfterGc / 1048576.0)
  }
}
