package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex
import org.apache.spark.sql.types._

import graft.Graft
import graft.sources.{LakeIO, Tables}

/** Content summary of one table version, from the benchmark's own model:
  * row count, sum of ids, sum of values in cents, and the same two sums
  * over the rows of the pruned hour range the reader aggregates.
  */
final case class Summary(rows: Long, ids: Long, cents: Long, rangeRows: Long, rangeCents: Long)

/** Closed loop on an hour-partitioned events-schema lake table written in
  * setup: one writer thread runs a fixed cycle of appends, merge-on-read
  * DML and maintenance on seeded rows, and checks the table
  * against its in-memory model after every commit; one reader thread
  * loops over a COUNT(*), a pruned-range hourly aggregate through
  * readMoR, and a VERSION AS OF read, each checked against the model of
  * a version it could have seen.
  */
final class LakeDml extends Workload {
  import LakeDml._

  private var path: String = _
  private val model = mutable.LinkedHashMap.empty[Long, (Long, Long)] // id -> (ts micros, cents)
  private val versions = new ConcurrentHashMap[Int, Summary]()

  def setup(ctx: Ctx, input: String, rep: Int): Unit = {
    val spark = ctx.spark
    path = s"${ctx.work}/lake_dml/rep$rep/events"
    val rows = Tables.events(spark, input)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    Graft.lake.write(rows, path)
    model.clear()
    versions.clear()
    rows.select(col("event_id"), unix_micros(col("ts")), round(col("value") * 100).cast("long"))
      .collect().foreach(r => model(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
    ManifestFileIndex.headVersion(path).foreach(v => versions.put(v, summarize()))
  }

  private def inRange(ts: Long): Boolean = ts >= RangeLo && ts < RangeHi

  private def summarize(): Summary = {
    var ids, cents, rr, rc = 0L
    model.foreach { case (id, (ts, c)) =>
      ids += id; cents += c
      if (inRange(ts)) { rr += 1; rc += c }
    }
    Summary(model.size.toLong, ids, cents, rr, rc)
  }

  /** Summary of a DataFrame with the table's columns, in one job. */
  private def observe(df: DataFrame): (Summary, DataFrame) = {
    val c = round(col("value") * 100).cast("long")
    val r = col("ts") >= lit(RangeLoTs) && col("ts") < lit(RangeHiTs)
    val q = df.agg(count(lit(1)), coalesce(sum(col("event_id")), lit(0L)),
      coalesce(sum(c), lit(0L)), count(when(r, 1)), coalesce(sum(when(r, c)), lit(0L)))
    val row = q.collect().head
    (Summary(row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4)), q)
  }

  private def rowsDf(spark: SparkSession, rows: Seq[(Long, Long, Long)]): DataFrame = {
    val data = rows.map { case (id, ts, cents) =>
      Row(id, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(ts * 1000)),
        id % 150, EventTypes((id % EventTypes.size).toInt), cents / 100.0)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), Schema)
  }

  private def entries(): Seq[ManifestFileIndex.Entry] =
    ManifestFileIndex.read(path).map(_._2).getOrElse(Seq.empty)

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rng = new scala.util.Random(ctx.seed)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val attempted, failed = new java.util.concurrent.atomic.AtomicLong()
    val commitS = mutable.ArrayBuffer.empty[Double]
    val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var filesAdded, filesRemoved, bytesAdded, appendBytes = 0L
    val readS = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val readPlans = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Double]]()
    val cas0 = ManifestFileIndex.casContentions.get
    var nextId = model.keys.max + 1
    @volatile var writerDone = false
    // compactDeletes deletes the DV sidecars that earlier snapshots and
    // in-flight reads of the old head still reference (a known defect of
    // the program): reads never overlap it and never travel before it
    val compactLock = new java.util.concurrent.locks.ReentrantReadWriteLock()
    @volatile var travelFloor = 0

    def fail(what: String, e: Any): Unit = { failed.incrementAndGet(); errors.add(s"$what: $e") }

    // each batch lands in one hour, as an ingest append does
    def batchTs(): () => Long = {
      val hour = Day0 + rng.nextInt(24) * 3600L * 1000000L
      () => hour + (rng.nextDouble() * 3600e6).toLong
    }
    def existing(n: Int): Seq[Long] = {
      val ids = model.keys.toVector
      Seq.fill(n)(ids(rng.nextInt(ids.size))).distinct
    }

    /** Run one writer op, replay it on the model and check the table
      * against the model; `timed` ops are the measured samples.
      */
    def writerOp(kind: String, timed: Boolean): Unit = {
      val before = entries()
      // the op runs against the table; `apply` replays it on the model
      val (op, apply): (() => Any, () => Unit) = kind match {
        case "append" =>
          val ts = batchTs()
          val rows = Seq.fill(200) { nextId += 1; (nextId - 1, ts(), 1L + rng.nextInt(50000).toLong) }
          (() => Graft.lake.append(rowsDf(spark, rows), path),
            () => rows.foreach { case (id, ts, c) => model(id) = (ts, c) })
        case "merge_mor" =>
          val old = existing(25).map(id => (id, model(id)._1, 1L + rng.nextInt(50000).toLong))
          val ts = batchTs()
          val fresh = Seq.fill(25) { nextId += 1; (nextId - 1, ts(), 1L + rng.nextInt(50000).toLong) }
          val rows = old ++ fresh
          (() => Graft.lake.mergeMoR(spark, path, rowsDf(spark, rows), "event_id"),
            () => rows.foreach { case (id, ts, c) => model(id) = (ts, c) })
        case "delete_mor" =>
          val ids = existing(30)
          (() => Graft.lake.deleteMoR(spark, path, col("event_id").isin(ids: _*)),
            () => ids.foreach(model.remove))
        case "update_mor" =>
          val lo = existing(1).head
          (() => Graft.lake.updateMoR(spark, path, col("event_id").between(lo, lo + 40),
            Seq("value" -> (col("value") + 1.0))),
            () => model.keys.filter(id => id >= lo && id <= lo + 40).toSeq.foreach { id =>
              val (ts, c) = model(id); model(id) = (ts, c + 100) })
        case "compact_deletes" => (() => Graft.lake.compactDeletes(spark, path), () => ())
        case "compact" => (() => Graft.lake.compact(spark, path), () => ())
        case "expire" => (() => Graft.lake.expireSnapshots(path, 10), () => ())
      }
      attempted.incrementAndGet()
      val exclusive = Option.when(kind == "compact_deletes")(compactLock.writeLock)
      exclusive.foreach(_.lock())
      try ctx.tracer.span(0L, "sources", "lake op", Map("kind" -> kind)) { opId =>
        val t0 = System.nanoTime()
        val ok =
          try { ctx.tracer.span(opId, "sources", "commit")(_ => op()); true }
          catch { case e: Throwable => fail(s"writer $kind", e); false }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) {
          apply()
          val after = entries()
          val added = after.map(_.relPath).toSet -- before.map(_.relPath)
          val removed = before.map(_.relPath).toSet -- after.map(_.relPath)
          val addedBytes = after.filter(e => added.contains(e.relPath)).map(_.size).sum
          if (timed) {
            filesAdded += added.size; filesRemoved += removed.size; bytesAdded += addedBytes
            if (kind == "append") appendBytes += addedBytes
          }
          val want = summarize()
          ManifestFileIndex.headVersion(path).foreach(v => versions.put(v, want))
          ctx.tracer.span(opId, "bench", "model check") { _ =>
            val (got, _) = observe(LakeIO.readMoR(spark, path))
            if (got != want) fail(s"writer $kind check", s"table $got != model $want")
          }
          if (kind == "compact_deletes") travelFloor = ManifestFileIndex.headVersion(path).getOrElse(0)
          if (timed) {
            commitS += dt
            byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
          }
        }
      } finally exclusive.foreach(_.unlock())
    }

    /** The model summary of some version in [lo, hi] equal to `got`. */
    def seen(lo: Int, hi: Int, got: Summary, part: Summary => (Long, Long)): Boolean = {
      val t = System.nanoTime()
      // the writer records a version's summary just after committing it
      while (!(lo to hi).forall(versions.containsKey) && System.nanoTime() - t < 5e9) Thread.sleep(5)
      (lo to hi).exists(v => Option(versions.get(v)).exists(s => part(s) == part(got)))
    }

    def readerQuery(kind: String, timed: Boolean): Unit = {
      attempted.incrementAndGet()
      compactLock.readLock.lock()
      try ctx.tracer.span(0L, "sources", "reader query", Map("kind" -> kind)) { _ =>
        val v0 = ManifestFileIndex.headVersion(path).getOrElse(0)
        val cls = s"$kind/${if (ManifestFileIndex.readDvs(path).nonEmpty) "dv" else "plain"}"
        val t0 = System.nanoTime()
        try {
          var got = Summary(0, 0, 0, 0, 0)
          val (ok, qe) = kind match {
            case "count" =>
              val q = Graft.lake.read(spark, path).agg(count(lit(1)))
              got = Summary(q.collect().head.getLong(0), 0, 0, 0, 0)
              val v1 = ManifestFileIndex.headVersion(path).getOrElse(0)
              (seen(v0, v1, got, s => (s.rows, 0L)), q.queryExecution)
            case "hourly_range" =>
              val q = LakeIO.readMoR(spark, path)
                .where(col("ts") >= lit(RangeLoTs) && col("ts") < lit(RangeHiTs))
                .groupBy(hour(col("ts")).as("h"))
                .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("c"))
              val rows = q.collect()
              val v1 = ManifestFileIndex.headVersion(path).getOrElse(0)
              got = Summary(0, 0, 0, rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
              (rows.length <= 8 && seen(v0, v1, got, s => (s.rangeRows, s.rangeCents)),
                q.queryExecution)
            case _ =>
              val v = math.max(travelFloor, math.max(1, v0 - 1))
              val (snap, q) = observe(Graft.lake.readSnapshot(spark, path, v))
              got = snap
              (seen(v, v, got, s => (s.rows, s.cents)) &&
                Option(versions.get(v)).exists(_.ids == got.ids), q.queryExecution)
          }
          val dt = (System.nanoTime() - t0) / 1e9
          if (!ok) fail(s"reader $kind check", s"$got matches no model version from $v0 on: " +
            versions.asScala.toSeq.sortBy(_._1).filter(_._1 >= v0 - 1).mkString(", "))
          else if (timed) { readS.add(cls -> dt); readPlans.add(PlanStats.of(qe)) }
        } catch { case e: Throwable => fail(s"reader $kind", e) }
      } finally compactLock.readLock.unlock()
    }

    // untimed warm-up: every op kind and query once, so the timed phase
    // measures warm code paths rather than first-use code generation
    Kinds.foreach(writerOp(_, timed = false))
    ReaderKinds.foreach(readerQuery(_, timed = false))

    ctx.groups.flush(spark)
    val cpu0 = ctx.groups.taskCpuNs
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val writer = new Thread(() => {
      spark.sparkContext.setJobGroup("writer", "writer")
      // whole cycles, at least one, so every op kind gets the same number of samples
      var i = 0
      while ((i % Cycle.size != 0 || i == 0 || System.nanoTime() < deadline) && failed.get == 0) {
        writerOp(Cycle(i % Cycle.size), timed = true)
        i += 1
      }
      writerDone = true
    })
    val reader = new Thread(() => {
      spark.sparkContext.setJobGroup("reader", "reader")
      var i = 0
      while (!writerDone) { readerQuery(ReaderKinds(i % ReaderKinds.size), timed = true); i += 1 }
    })

    writer.start(); reader.start()
    writer.join(); reader.join()
    ctx.groups.flush(spark)
    val cpuMs = (ctx.groups.taskCpuNs - cpu0) / 1e6
    if (failed.get == 0) {
      val readClasses = readS.asScala.map(_._1).toSet
      (Kinds.filterNot(byKind.contains) ++ ReadClasses.filterNot(readClasses)).foreach { k =>
        fail(k, "no timed sample in this run")
      }
    }

    val live = entries()
    val liveBytes = live.map(_.size).sum.toDouble
    val diskBytes = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
    val readByKind = readS.asScala.toSeq.groupMap(_._1)(_._2)
    val reads = readS.asScala.toSeq.map(_._2)
    /** Geometric mean of the per-kind medians, so the mix of kinds a run
      * happens to reach does not move the figure.
      */
    def typical(byKind: collection.Map[String, Seq[Double]], kinds: Seq[String]): Double =
      Stats.geomean(kinds.flatMap(byKind.get).filter(_.nonEmpty).map(Stats.median))
    val commits = commitS.size
    val ops = math.max(1, commits + reads.size)
    val readN = math.max(1, reads.size).toDouble
    val readLayer = readPlans.toArray.toSeq.map(_.asInstanceOf[Map[String, Double]])
      .flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _).map { case (k, v) => k -> v / readN }
    val task = Seq("reader", "writer").map(ctx.groups.group)
    val taskLayer = task.flatMap(_.asMap(ops).toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    Outcome(
      attempted.get, failed.get, errors.toArray.toSeq.map(_.toString),
      endToEnd = Map(
        "op_ms" -> typical(byKind.view.mapValues(_.toSeq).toMap, OpMsKinds) * 1e3,
        "result_s" -> typical(readByKind, ReadClasses)),
      perLayer = readLayer ++ taskLayer ++ Kinds.map(k =>
        s"sources.commit_ms.$k" -> byKind.get(k).map(b => Stats.median(b.toSeq) * 1e3).getOrElse(0.0)) ++
        Map(
          "cpu_ms_per_op" -> cpuMs / ops,
          "commit_s.p50" -> Stats.median(commitS.toSeq),
          "commit_s.p90" -> Stats.quantile(commitS.toSeq, 0.9),
          "lake_read_s.p50" -> Stats.median(reads),
          "lake_read_s.p90" -> Stats.quantile(reads, 0.9),
          "sources.cas_contentions" -> (ManifestFileIndex.casContentions.get - cas0).toDouble,
          "sources.files_added" -> filesAdded.toDouble / math.max(1, commits),
          "sources.files_removed" -> filesRemoved.toDouble / math.max(1, commits),
          "sources.write_amp" -> bytesAdded.toDouble / math.max(1L, appendBytes),
          "sources.space_amp" -> diskBytes / math.max(1.0, liveBytes),
          "sources.manifest_entries" -> live.size.toDouble,
          "sources.live_dvs" -> ManifestFileIndex.readDvs(path).size.toDouble),
      record = Map(
        "commits" -> commits, "reads" -> reads.size,
        "commit_s_by_kind" -> byKind.map { case (k, v) => k -> v.toSeq }.toMap,
        "read_s_by_kind" -> readByKind,
        "table_rows" -> model.size, "head_version" -> ManifestFileIndex.headVersion(path)))
  }
}

object LakeDml {
  /** Every writer op kind, in the order the warm-up runs them. */
  val Kinds: Seq[String] = Seq("append", "merge_mor", "delete_mor", "update_mor",
    "compact_deletes", "compact", "expire")
  /** The kinds `op_ms` is over: `expire` is a metadata-only op of about
    * 10 ms whose jitter alone would swing the geometric mean; it is
    * reported per layer as `sources.commit_ms.expire`.
    */
  val OpMsKinds: Seq[String] = Kinds.filterNot(_ == "expire")
  /** The writer's op sequence, repeated: four appends and every other kind
    * once. Each DML kind leaves deletion vectors live until
    * `compact_deletes` folds them, so `compact`, which refuses a table with
    * live deletion vectors, always follows it. The seed picks the rows.
    */
  val Cycle: Seq[String] = Seq("append", "merge_mor", "append", "delete_mor", "append",
    "update_mor", "compact_deletes", "append", "compact", "expire")
  val ReaderKinds: Seq[String] = Seq("count", "hourly_range", "version_as_of")
  /** A read's plan depends on whether deletion vectors are live at the
    * head (a plain COUNT(*) is answered from the manifest, one with live
    * deletion vectors scans), so reads are timed per kind and state; the
    * share of the cycle each state takes then does not move `result_s`.
    */
  val ReadClasses: Seq[String] = for (k <- ReaderKinds; s <- Seq("dv", "plain")) yield s"$k/$s"
  val Day0: Long = 1704067200L * 1000000L // 2024-01-01T00:00:00Z in micros
  val RangeLo: Long = Day0 + 4L * 3600L * 1000000L
  val RangeHi: Long = Day0 + 12L * 3600L * 1000000L
  val RangeLoTs: java.sql.Timestamp = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T04:00:00Z"))
  val RangeHiTs: java.sql.Timestamp = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T12:00:00Z"))
  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
}
