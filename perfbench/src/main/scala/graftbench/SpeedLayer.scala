package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.{Duration, LocalDateTime, ZoneOffset}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ManifestFileIndex
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.serving.{IngestServer, ServingServer}
import graft.streaming.{JdbcUpsert, Sources, WeatherPipeline}

/** One generated ingest request and what came back. `temp` None means the
  * request omits the temperature parameter (an expected 400).
  */
final case class Req(city: String, temp: Option[String], dueNs: Long) {
  @volatile var sentNs = 0L
  @volatile var ackNs = 0L
  @volatile var status = 0
  @volatile var ts: String = _
  def valid: Boolean = status == 200 && temp.exists(t => scala.util.Try(t.toDouble).isSuccess)
}

/** Open loop through the reference's speed layer: an async generator
  * sends `GET /log` to IngestServer at a fixed rate; the spool feeds
  * `Sources.stream`, read by two streams (`JdbcUpsert.run` into an
  * on-disk Derby table and `lakeSinkCommitted` into a graft-lake table);
  * a dashboard client polls ServingServer every 2 s. Pollers watch the
  * Derby table and the lake manifest to time when each result becomes
  * visible.
  */
final class SpeedLayer extends Workload {
  import SpeedLayer._

  private var ingest: IngestServer = _
  private var serving: ServingServer = _
  private var queries: Seq[StreamingQuery] = Seq.empty
  private var url: String = _
  private var lakePath: String = _
  private var checkpoint: String = _

  def setup(ctx: Ctx, input: String, rep: Int): Unit = {
    val spark = ctx.spark
    val base = s"${ctx.work}/speed_layer/rep$rep"
    val spool = s"$base/spool"
    lakePath = s"$base/lake/weather"
    checkpoint = s"$base/lake/_checkpoint"
    url = s"jdbc:derby:$base/derby/serving;create=true"
    ingest = new IngestServer(spool)
    val source = Sources.stream(spark, Sources.SourceConf.file(spool))
    queries = Seq(
      JdbcUpsert.run(source, url, Table),
      WeatherPipeline.lakeSinkCommitted(source, lakePath, checkpoint))
    serving = new ServingServer(() => JdbcUpsert.readBack(spark, url, Table), Cities,
      refreshMs = PollMs)
  }

  override def discard(ctx: Ctx): Unit = {
    queries.foreach(_.stop())
    ingest.close(); serving.close()
  }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rng = new scala.util.Random(ctx.seed)
    val errors = new ConcurrentLinkedQueue[String]()
    val failed = new AtomicLong()
    def fail(what: String, e: Any): Unit = { failed.incrementAndGet(); errors.add(s"$what: $e") }

    // wall-clock <-> nanoTime, to place progress events on the span clock
    val wall0Ms = System.currentTimeMillis(); val nano0 = System.nanoTime()
    def nanoOf(epochMs: Long): Long = nano0 + (epochMs - wall0Ms) * 1000000L
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach(x => fail("stream terminated", x.linesIterator.take(1).mkString))
    })

    // Derby poller: first time each (city, window) shows each record_count
    val storeSeen = new ConcurrentHashMap[(String, Long, Long), java.lang.Long]()
    // lake poller: (nanoTime, committed rows) at every change
    val lakeSeen = new ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var polling = true
    val storePoller = new Thread(() => {
      Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
      val c = java.sql.DriverManager.getConnection(url)
      try while (polling) {
        val now = System.nanoTime()
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT city, window_start, record_count FROM $Table")
          while (rs.next())
            storeSeen.putIfAbsent((rs.getString(1), rs.getTimestamp(2).getTime, rs.getLong(3)), now)
          rs.close()
        } catch { case e: java.sql.SQLException => fail("store poll", e) }
        finally st.close()
        Thread.sleep(StorePollMs)
      } finally c.close()
    })
    val lakePoller = new Thread(() => {
      var last = -1L
      while (polling) {
        val now = System.nanoTime()
        val n = scala.util.Try(ManifestFileIndex.read(lakePath).map(_._2.map(_.rowCount).sum)
          .getOrElse(0L)).getOrElse(last)
        if (n != last) { lakeSeen.add((now, n)); last = n }
        Thread.sleep(StorePollMs)
      }
    })
    storePoller.start(); lakePoller.start()

    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(5)).build()
    val inFlight = new AtomicInteger(); val inFlightMax = new AtomicInteger()
    val permits = new Semaphore(ctx.cpus)
    val ingestUri = s"http://127.0.0.1:${ingest.boundPort}/log"

    /** Send `n` requests on the fixed schedule from now; returns them once
      * every one has completed or failed.
      */
    def load(n: Int, label: String): Seq[Req] = {
      val t0 = System.nanoTime()
      val reqs = (0 until n).map { i =>
        val city = Cities(rng.nextInt(Cities.size))
        val p = rng.nextDouble()
        val temp =
          if (p < 0.02) None
          else if (p < 0.05) Some("n/a")
          else Some(BigDecimal(rng.nextDouble() * 120).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString)
        Req(city, temp, t0 + (i * 1e9 / RatePerS).toLong)
      }
      val done = new java.util.concurrent.CountDownLatch(n)
      reqs.zipWithIndex.foreach { case (r, i) =>
        val wait = r.dueNs - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        permits.acquire()
        r.sentNs = System.nanoTime()
        inFlightMax.accumulateAndGet(inFlight.incrementAndGet(), math.max)
        val q = s"city=${enc(r.city)}" + r.temp.map(t => s"&temperature=${enc(t)}").getOrElse("")
        val req = HttpRequest.newBuilder(URI.create(s"$ingestUri?$q"))
          .timeout(Duration.ofSeconds(10)).GET().build()
        client.sendAsync(req, HttpResponse.BodyHandlers.ofString()).whenComplete { (resp, err) =>
          r.ackNs = System.nanoTime()
          inFlight.decrementAndGet()
          permits.release()
          if (err != null) fail(s"$label request", err)
          else {
            r.status = resp.statusCode
            if (r.status == 200) TsField.findFirstMatchIn(resp.body).foreach(m => r.ts = m.group(1))
            val expected = if (r.temp.isEmpty) 400 else 200
            if (r.status != expected || (r.status == 200 && r.ts == null))
              fail(s"$label request", s"status ${r.status} for $r")
            else
              ctx.tracer.record(0L, "serving", "http request", r.sentNs, r.ackNs,
                Map("request_id" -> s"$label-$i", "status" -> r.status.toString))
          }
          done.countDown()
        }
      }
      if (!done.await(60, TimeUnit.SECONDS)) fail(s"$label requests", "not all completed in 60 s")
      reqs
    }

    def expectedWindows(reqs: Seq[Req]): Map[(String, Long), Seq[Req]] =
      reqs.filter(_.valid).groupBy(r => (r.city, windowStartMs(r.ts)))

    /** Wait until both sinks reflect every valid request in `reqs`. */
    def drain(reqs: Seq[Req], timeoutS: Double): Boolean = {
      val want = expectedWindows(reqs).map { case (k, rs) => (k._1, k._2, rs.size.toLong) }
      val valid = reqs.count(_.valid).toLong
      val t0 = System.nanoTime()
      def lakeRows = lakeSeen.asScala.lastOption.map(_._2).getOrElse(0L)
      while ((!want.forall(storeSeen.containsKey) || lakeRows < valid) &&
          System.nanoTime() - t0 < timeoutS * 1e9) Thread.sleep(20)
      want.forall(storeSeen.containsKey) && lakeRows >= valid
    }

    // untimed warm-up: first micro-batches pay codegen and Derby's cold start
    val warm = load(WarmupRequests, "warmup")
    if (!drain(warm, 60)) fail("warmup", "sinks did not catch up within 60 s")
    val progressSkip = progress.size

    @volatile var dashboardOn = true
    val pollMs = new ConcurrentLinkedQueue[java.lang.Double](); val points = new ConcurrentLinkedQueue[Integer]()
    val pollAttempts = new AtomicLong()
    val dashboardUri = URI.create(s"http://127.0.0.1:${serving.boundPort}/api/weather")
    val dashboard = new Thread(() => {
      while (dashboardOn) {
        val t0 = System.nanoTime()
        pollAttempts.incrementAndGet()
        try {
          val resp = client.send(HttpRequest.newBuilder(dashboardUri).timeout(Duration.ofSeconds(10))
            .GET().build(), HttpResponse.BodyHandlers.ofString())
          val t1 = System.nanoTime()
          if (resp.statusCode != 200) fail("dashboard poll", s"status ${resp.statusCode}")
          else {
            pollMs.add((t1 - t0) / 1e6)
            points.add("\"time\"".r.findAllMatchIn(resp.body).size)
            ctx.tracer.record(0L, "serving", "dashboard poll", t0, t1)
          }
        } catch { case e: Exception => fail("dashboard poll", e) }
        val sleep = PollMs - (System.nanoTime() - t0) / 1000000L
        if (sleep > 0) Thread.sleep(sleep)
      }
    })
    dashboard.start()
    ctx.groups.flush(spark)
    val cpu0 = ctx.groups.taskCpuNs
    val timed = load((ctx.seconds * RatePerS).toInt, "load")
    ctx.groups.flush(spark)
    val cpuMs = (ctx.groups.taskCpuNs - cpu0) / 1e6
    val all = warm ++ timed
    if (!drain(all, 30)) fail("drain", "sinks did not catch up within 30 s of the last request")
    dashboardOn = false; dashboard.join()
    polling = false; storePoller.join(); lakePoller.join()
    queries.foreach(_.stop())
    ingest.close(); serving.close()

    // correctness: Derby counts/averages and the lake's rows vs the accepted records
    val expect = expectedWindows(all)
    val derby = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          s"SELECT city, window_start, record_count, avg_temperature FROM $Table")
        val out = mutable.Map.empty[(String, Long), (Long, Double)]
        while (rs.next()) out((rs.getString(1), rs.getTimestamp(2).getTime)) = (rs.getLong(3), rs.getDouble(4))
        out.toMap
      } finally c.close()
    }
    if (derby.keySet != expect.keySet)
      fail("store check", s"${derby.size} windows in Derby, ${expect.size} expected")
    expect.foreach { case (k, rs) =>
      val avg = rs.map(r => BigDecimal(r.temp.get)).sum / rs.size
      derby.get(k) match {
        case Some((n, a)) if n == rs.size && (BigDecimal(a) - avg).abs <= BigDecimal("0.0000005") =>
        case other =>
          val seen = storeSeen.asScala.collect { case ((c, w, n), t) if (c, w) == k => (n, (t - nano0) / 1e9) }
          fail("store check", s"$k: Derby $other, expected (${rs.size}, $avg); counts seen ${seen.toSeq.sortBy(_._2)}" +
            s"; acks ${rs.map(r => (r.ackNs - nano0) / 1e9).sorted}")
      }
    }
    val lakeRows = spark.read.format("graft-lake").load(lakePath)
      .select(col("city"), col("temperature"), col("ts")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val accepted = all.filter(_.valid).map(r => (r.city, r.temp.get, r.ts))
    if (lakeRows.groupBy(identity).view.mapValues(_.size).toMap !=
        accepted.groupBy(identity).view.mapValues(_.size).toMap)
      fail("lake check", s"lake holds ${lakeRows.size} rows, ${accepted.size} accepted")

    // timings of the timed phase only
    val ok = timed.filter(r => r.status == 200 || r.status == 400)
    val ackMs = ok.map(r => (r.ackNs - r.dueNs) / 1e6)
    val lagMs = timed.map(r => (r.sentNs - r.dueNs) / 1e6)
    val lastAck = expectedWindows(timed).map { case (k, rs) => k -> rs.map(_.ackNs).max }
    val storeFresh = lastAck.toSeq.flatMap { case (k, ack) =>
      Option(storeSeen.get((k._1, k._2, expect(k).size.toLong))).map(seen => (seen - ack) / 1e9)
    }
    val lakeLog = lakeSeen.asScala.toVector
    val validByAck = all.filter(_.valid).sortBy(_.ackNs).zipWithIndex
    val lakeFresh = validByAck.filter(x => timed.contains(x._1)).flatMap { case (r, i) =>
      lakeLog.find(_._2 >= i + 1).map(s => math.max(0L, s._1 - r.ackNs) / 1e9)
    }
    val batches = progress.asScala.toSeq.drop(progressSkip)
    val dataBatches = batches.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val aggId = queries.head.id
    val aggBatches = dataBatches.filter(_.id == aggId)
    // spool files per batch of the lake stream, from its file source's own
    // log (a compacted log file repeats earlier entries, hence `distinct`)
    val filesByBatch = {
      val dir = java.nio.file.Paths.get(checkpoint, "sources", "0")
      val logs = scala.util.Using.resource(java.nio.file.Files.list(dir))(_.iterator.asScala.toVector)
        .filterNot(_.getFileName.toString.startsWith("."))
      logs.flatMap(f => java.nio.file.Files.readAllLines(f).asScala).distinct
        .flatMap(l => BatchIdField.findFirstMatchIn(l).map(_.group(1).toLong))
        .groupMapReduce(identity)(_ => 1)(_ + _)
    }
    val lakeBatches = dataBatches.filter(_.id == queries(1).id)
    val backlog = {
      val acks = all.filter(_.status == 200).map(_.ackNs).sorted
      var processed = 0L
      batches.filter(_.id == aggId).map { p =>
        val at = nanoOf(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val b = acks.count(_ <= at) - processed
        processed += p.numInputRows
        math.max(0L, b).toDouble
      }
    }
    if (ctx.tracer.enabled) queries.zip(Seq("upsert stream", "lake stream")).foreach { case (q, label) =>
      val mine = batches.filter(_.id == q.id)
      if (mine.nonEmpty) {
        val starts = mine.map(p => nanoOf(java.time.Instant.parse(p.timestamp).toEpochMilli))
        val qid = ctx.tracer.record(0L, "streaming", s"query: $label", starts.head,
          starts.last + (dur(mine.last, "triggerExecution") * 1e6).toLong)
        mine.zip(starts).foreach { case (p, s) =>
          ctx.tracer.record(qid, "streaming", "micro-batch", s, s + (dur(p, "triggerExecution") * 1e6).toLong,
            Map("batch" -> p.batchId.toString, "rows" -> p.numInputRows.toString))
        }
      }
    }
    val polls = pollMs.asScala.map(_.doubleValue).toSeq
    val rejected = timed.count(r => r.status == 400 || (r.status == 200 && !r.valid))
    Outcome(
      attempted = all.size + pollAttempts.get + 2, // + the store and lake checks
      failed = failed.get, errors = errors.asScala.toSeq,
      endToEnd = Map(
        "op_ms" -> Stats.median(ackMs),
        "result_s" -> Stats.median(lakeFresh)),
      perLayer = Map(
        "cpu_ms_per_op" -> cpuMs / math.max(1, ok.size),
        "ingest_ack_ms.p50" -> Stats.median(ackMs),
        "ingest_ack_ms.p99" -> Stats.quantile(ackMs, 0.99),
        "store_freshness_s.p50" -> Stats.median(storeFresh),
        "store_freshness_s.p90" -> Stats.quantile(storeFresh, 0.9),
        "lake_freshness_s.p50" -> Stats.median(lakeFresh),
        "lake_freshness_s.p90" -> Stats.quantile(lakeFresh, 0.9),
        "dashboard_poll_ms.p50" -> Stats.median(polls),
        "streaming.batch_ms" -> mean(dataBatches.map(dur(_, "triggerExecution"))),
        "streaming.get_batch_ms" -> mean(dataBatches.map(dur(_, "getBatch"))),
        "streaming.add_batch_ms" -> mean(dataBatches.map(dur(_, "addBatch"))),
        "streaming.query_planning_ms" -> mean(dataBatches.map(dur(_, "queryPlanning"))),
        "streaming.wal_commit_ms" -> mean(dataBatches.map(dur(_, "walCommit"))),
        "streaming.rows_per_batch" -> mean(dataBatches.map(_.numInputRows.toDouble)),
        "streaming.files_per_batch" -> mean(lakeBatches.map(p => filesByBatch.getOrElse(p.batchId, 0).toDouble)),
        "streaming.backlog_files" -> mean(backlog),
        "streaming.state_rows" -> mean(aggBatches.flatMap(_.stateOperators.headOption.map(_.numRowsTotal.toDouble))),
        "streaming.state_bytes" -> mean(aggBatches.flatMap(_.stateOperators.headOption.map(_.memoryUsedBytes.toDouble))),
        "serving.ingest_requests" -> timed.size.toDouble,
        "serving.ingest_rejected_4xx" -> rejected.toDouble,
        "serving.ingest_5xx" -> timed.count(_.status >= 500).toDouble,
        "serving.in_flight_max" -> inFlightMax.get.toDouble,
        "serving.generator_lag_ms" -> (if (lagMs.isEmpty) 0.0 else lagMs.max),
        "serving.points_returned" -> mean(points.asScala.map(_.doubleValue).toSeq)),
      record = Map(
        "rate_per_s" -> RatePerS, "dashboard_poll_interval_ms" -> PollMs,
        "sink_poll_interval_ms" -> StorePollMs, "warmup_requests" -> warm.size,
        "timed_requests" -> timed.size, "accepted_valid" -> accepted.size,
        "windows" -> expect.size, "micro_batches" -> batches.size,
        "generator_lag_ms.p50" -> Stats.median(lagMs),
        // the raw progress reports, kept when a check failed
        "progress" -> (if (failed.get > 0) batches.map(_.json) else Seq.empty)))
  }
}

object SpeedLayer {
  val Table = "weather"
  /** The reference producer's ten-city list. */
  val Cities: Seq[String] = Seq("New York", "London", "Tokyo", "Paris", "Sydney",
    "Berlin", "Moscow", "Beijing", "Mumbai", "Cairo")
  val RatePerS = 40.0
  val PollMs = 2000L
  val StorePollMs = 50L
  val WarmupRequests = 40
  private val TsField = "\"ts\":\"([^\"]+)\"".r
  private val BatchIdField = "\"batchId\":(\\d+)".r

  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  /** Start of the 5 s tumbling window holding a `yyyy-MM-dd HH:mm:ss`
    * stamp, read in the session time zone (UTC), as epoch millis.
    */
  def windowStartMs(ts: String): Long = {
    val s = LocalDateTime.parse(ts.replace(' ', 'T')).toEpochSecond(ZoneOffset.UTC)
    (s - Math.floorMod(s, 5L)) * 1000L
  }
}
