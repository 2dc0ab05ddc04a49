package perfbench

import graft.operators.Envelope
import graft.sources.Tables
import graft.streaming.{ConsumePipeline, PublishPipeline}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The open-loop consume workload: one generator thread replays wire-encoded
  * events into `ConsumePipeline.startFromWire` (decode, watermarked RocksDB
  * dedup with the 1 h TTL, validate and route, three parquet sinks) on a
  * MemoryStream, at fixed rates that do not slow when the pipeline does.
  */
object Stream {
  // Generator parameters, also recorded in perfbench/README.md. The record
  // size and the rate are the reference's load test; the shares are those
  // of the streaming scenario fixtures (FIXTURES.md section C), except that
  // the stream sends no invalid events (empty event id or null value): the
  // pipeline deduplicates before it validates, so all but the first invalid
  // event within the horizon share one dedup key and never reach the DLQ.
  val RecordBytes = 1000          // wire value size
  val LatencyRate = 1000          // events/s of the latency rung (the whole window)
  val RedeliveryShare = 0.10      // sends that repeat one of the last 1,000 events
  val StaleShare = 0.02           // events stamped 8 days back: past the 1 h horizon
  val Ladder = Seq(2000, 4000, 8000)  // traced runs, after the drains
  val LadderSeconds = 3.0
  val LatencyLimitMs = 5000.0     // p99 limit of a sustained rung
  val DrainEvents = 15000         // one drain's backlog: 15 s at the reference rate
  val Drains = 5                  // drains per run; pass_s is their median
  val SettleMs = 1500.0           // start of the latency rung left out of its percentiles
  val WarmupSeconds = 3.0
  val StartMicros = 1704067200000000L  // event time of the first event, 2024-01-01T00:00:00Z
  val StaleMicros = 8 * 24 * 3600000000L

  /** The dedup state lives in RocksDB, as in the reference deployment. */
  val StreamConf = Map("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** A wire record; `late` marks an event past the horizon, which the
    * pipeline is specified to drop.
    */
  final case class Rec(key: String, value: Array[Byte], topic: String, late: Boolean)

  /** One scheduled send: the record and its due time (ns after the phase start). */
  final case class Send(rec: Rec, dueNs: Long)

  /** Whether fresh event `i` is stale, drawn from the seed; no event before
    * `staleFrom` is stale, so the warm-up sets the watermark first.
    */
  def stale(seed: Long, staleFrom: Int)(i: Long): Boolean =
    // SplittableRandom mixes its seed, so neighbouring events draw independently
    i >= staleFrom && new java.util.SplittableRandom(seed * 1000003L + i).nextDouble() < StaleShare

  /** Event time of fresh event `i` in micros: the producer stamps events as
    * it sends them at the reference rate, so event time advances 1 ms per
    * event and no key ages out of the 1 h horizon within a run.
    */
  def eventTime(stale: Boolean, i: Long): Long =
    StartMicros + i * 1000000L / LatencyRate - (if (stale) StaleMicros else 0L)

  /** The generator's input: `n` distinct events, wire-encoded through the
    * engine's publish path, with ids continuing past the table size lap by
    * lap and the `event.props` header padded so each value is ~1,000 B.
    */
  def encode(spark: SparkSession, data: String, n: Int, staleOf: Long => Boolean): Array[Rec] = {
    val base = Tables.events(spark, data).select("event_id", "user_id", "event_type", "value", "props")
    val nBase = base.count()
    val ts = udf((i: Long) => eventTime(staleOf(i), i))
    val pad = "x" * (RecordBytes - 148) // 148 B: the envelope around the padding
    val prio = Envelope.priorities.zipWithIndex.foldLeft(lit(Envelope.priorities.head)) {
      case (acc, (name, i)) => when(col("seq") % 5 === i, lit(name)).otherwise(acc) }
    val events = spark.range(n).toDF("seq")
      .join(base, col("seq") % nBase === col("event_id"))
      .select(
        col("seq"),
        concat(lit("evt-"), col("seq").cast("string")).as("event_id_s"),
        concat(lit("corr-"), (col("seq") % 97).cast("string")).as("correlation_id"),
        lit("svc-pub").as("source_service"),
        timestamp_micros(ts(col("seq"))).as("ts"),
        (col("seq") % 3 + 1).as("version"),
        concat(expr("substr(props, 1, length(props) - 1)"), lit(s""", "pad": "$pad"}""")).as("props"),
        col("event_type"), col("value"),
        concat(lit("tenant-"), (col("user_id") % 50).cast("string")).as("tenant_id"),
        col("user_id").cast("string").as("user_s"),
        prio.as("priority"),
        (col("seq") % 5).as("retry_count"),
        concat(lit("nnipa.events."), col("event_type")).as("topic"))
    val wire = PublishPipeline.toKafkaRecordsProto(events.orderBy("seq"))
    val rows = wire.select(col("value"), col("topic")).collect()
    // event ids run 0 until nBase, so row i is event `seq` = i
    require(rows.length == n, s"encoded ${rows.length} of $n events")
    rows.zipWithIndex.map { case (r, i) =>
      Rec(s"e$i", r.getAs[Array[Byte]](0), r.getString(1), staleOf(i.toLong))
    }
  }

  /** Draws the sends of fixed-rate phases from `recs` in order, mixing in
    * redeliveries (byte-identical copies, as a broker redelivers them).
    */
  private final class Schedule(recs: Array[Rec], seed: Long) {
    private val rng = new java.util.Random(seed)
    private var next = 0
    private val recent = mutable.ArrayBuffer.empty[Rec]

    def phase(rate: Double, seconds: Double): IndexedSeq[Send] = {
      val n = (rate * seconds).round.toInt
      (0 until n).map { k =>
        val due = (k * 1e9 / rate).toLong
        if (rng.nextDouble() < RedeliveryShare && recent.nonEmpty) {
          Send(recent(rng.nextInt(recent.length)), due)
        } else {
          val r = recs(next); next += 1
          recent += r
          if (recent.length > 1000) recent.remove(0)
          Send(r, due)
        }
      }
    }
  }

  final class Generator(input: MemoryStream[(String, Array[Byte], String)]) {
    val dueMs = mutable.ArrayBuffer.empty[Double]      // per send, epoch ms
    val addMs = mutable.ArrayBuffer.empty[Double]
    val block = mutable.ArrayBuffer.empty[Long]        // MemoryStream offset of each send
    val blockEnd = mutable.Map.empty[Long, Int]        // offset -> sends up to and including it

    /** Sends a phase at its due times; returns the index range of its sends. */
    def play(sends: IndexedSeq[Send]): Range = {
      val from = dueMs.length
      val e0 = System.currentTimeMillis().toDouble
      val n0 = System.nanoTime()
      var i = 0
      while (i < sends.length) {
        val now = System.nanoTime() - n0
        var j = i
        while (j < sends.length && sends(j).dueNs <= now) j += 1
        if (j == i) {
          val wait = sends(i).dueNs - now
          if (wait > 200000L) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        } else {
          val off = input.addData(sends.slice(i, j).map(s => (s.rec.key, s.rec.value, s.rec.topic)))
            .json().toLong
          val added = System.currentTimeMillis().toDouble
          (i until j).foreach { k =>
            dueMs += e0 + sends(k).dueNs / 1e6; addMs += added; block += off
          }
          blockEnd(off) = dueMs.length
          i = j
        }
      }
      from until dueMs.length
    }

    /** Adds `sends` at once, as one block. */
    def preload(sends: IndexedSeq[Send]): Range = {
      val from = dueMs.length
      val now = System.currentTimeMillis().toDouble
      val off = input.addData(sends.map(s => (s.rec.key, s.rec.value, s.rec.topic))).json().toLong
      sends.foreach { _ => dueMs += now; addMs += now; block += off }
      blockEnd(off) = dueMs.length
      from until dueMs.length
    }

    def lastOffset: Long = if (block.isEmpty) -1L else block.last
  }

  /** The source as a Kafka topic with `partitions` partitions: each batch is
    * split that many ways, however many `addData` blocks it holds.
    */
  private def topic(spark: SparkSession, partitions: Int): MemoryStream[(String, Array[Byte], String)] = {
    import spark.implicits._
    MemoryStream[(String, Array[Byte], String)](spark, partitions)
  }

  private def frame(input: MemoryStream[(String, Array[Byte], String)]): DataFrame =
    input.toDF().toDF("key", "value", "topic")

  private def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.endOffset).map(_.toLong).getOrElse(-1L)

  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  private def commitMs(p: StreamingQueryProgress): Double =
    startMs(p) + p.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0)

  /** (start offset, end offset, commit epoch ms) of every batch so far. */
  private def commits(q: StreamingQuery): Seq[(Long, Long, Double)] =
    q.recentProgress.toSeq.filter(_.sources.nonEmpty).map { p =>
      (Option(p.sources.head.startOffset).map(_.toLong).getOrElse(-1L), endOffset(p), commitMs(p))
    }

  /** Waits until the batch holding `offset` has committed, or `timeoutS`. */
  private def awaitOffset(q: StreamingQuery, offset: Long, timeoutS: Double): Boolean = {
    val t0 = System.nanoTime()
    while ((Option(q.lastProgress).map(endOffset).getOrElse(-1L) < offset) &&
           (System.nanoTime() - t0) / 1e9 < timeoutS) {
      if (q.exception.isDefined) throw q.exception.get
      Thread.sleep(5)
    }
    Option(q.lastProgress).map(endOffset).getOrElse(-1L) >= offset
  }

  /** Due-to-commit latency (ms) of each send in `r`; a send not yet
    * committed counts as committed at `pendingMs`.
    */
  private def latencies(g: Generator, q: StreamingQuery, r: Range, pendingMs: Double): IndexedSeq[Double] = {
    val cs = commits(q)
    r.map { k =>
      val off = g.block(k)
      cs.find { case (s, e, _) => off > s && off <= e }.map(_._3).getOrElse(pendingMs) - g.dueMs(k)
    }
  }

  /** What a run leaves once its send plan is gone. `sample` is one drain's
    * sends, kept for the traced-run extras only.
    */
  private final case class Played(setupS: Double, drainS: Double, latency: IndexedSeq[Double],
                                  layers: Map[String, Any], attempted: Int, failed: Int,
                                  errors: Seq[String], generatorSha: String,
                                  rungs: Seq[Map[String, Any]], windowS: Double,
                                  recordBytes: Double, sample: IndexedSeq[Send])

  def run(a: Harness.Args): Map[String, Any] = {
    val spark: SparkSession = Harness.session(a, a.cpus,
      StreamConf + ("spark.sql.streaming.numRecentProgressUpdates" -> "100000"))
    spark.sparkContext.setLogLevel("WARN")
    val failure: Column = get_json_object(col("props"), "$['event.type']") === "error"
    val p = play(spark, a, failure)
    // the send plan went with play's frame: what the heap still holds is
    // the session's and the stopped pipeline's
    val heapMb = Harness.heapAfterGcMb()
    Harness.phase("heap measured")
    val endToEnd = Map(
      "setup_s" -> p.setupS,
      "pass_s" -> p.drainS,
      "latency_p50_ms" -> Harness.pct(p.latency, 50),
      "latency_p80_ms" -> Harness.pct(p.latency, 80),
      "heap_after_gc_mb" -> heapMb)
    val extras = if (a.trace) traceExtras(spark, a, p.sample, failure) else Map.empty
    SparkSession.active.stop()
    Map("workload" -> a.workload, "metrics" -> (endToEnd ++ p.layers ++ extras),
      "attempted" -> p.attempted, "failed" -> p.failed, "errors" -> p.errors,
      "generator_sha256" -> p.generatorSha, "rungs" -> p.rungs, "window_s" -> p.windowS,
      "record_bytes" -> p.recordBytes, "drain_eps" -> DrainEvents / p.drainS)
  }

  /** Plays the send plan into a running pipeline, then checks its sinks. */
  private def play(spark: SparkSession, a: Harness.Args, failure: Column): Played = {
    val errors = mutable.ArrayBuffer.empty[String]   // runs that did not drain in time

    // the send plan, fixed by the seed before anything runs, in the order it
    // is played: warm-up, the latency rung for the whole window, the drains,
    // then the ladder, which only traced runs play (and encode)
    val warmN = (LatencyRate * WarmupSeconds).toInt
    val planned = warmN + LatencyRate * a.seconds + Drains * DrainEvents +
      (if (a.trace) Ladder.map(_ * LadderSeconds).sum else 0.0)
    val fresh = (planned * 1.05).toInt
    Harness.phase("session")
    val recs = encode(spark, a.data, fresh, stale(a.seed, warmN))
    Harness.phase("encoded")
    val recordBytes = recs.map(_.value.length.toDouble).sum / recs.length
    val sched = new Schedule(recs, a.seed)
    val warmSends = sched.phase(LatencyRate, WarmupSeconds)
    val latencySends = sched.phase(LatencyRate, a.seconds)
    val drainSends = Seq.fill(Drains)(sched.phase(DrainEvents, 1.0).map(_.copy(dueNs = 0L)))
    val ladderSends = if (a.trace) Ladder.map(rate => sched.phase(rate, LadderSeconds)) else Nil
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    (warmSends ++ latencySends ++ drainSends.flatten).foreach { s =>
      digest.update(s.rec.key.getBytes)
      digest.update(s.rec.value)
      digest.update(java.nio.ByteBuffer.allocate(8).putLong(s.dueNs).array())
    }
    val generatorSha = digest.digest().map(b => f"$b%02x").mkString

    // a traced run listens from before the query starts, so every job,
    // stage and task it sees can be checked against the micro-batches
    val listener = new JobListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val input = topic(spark, a.cpus)
    val sinkDir = s"${a.work}/stream"
    val q = ConsumePipeline.startFromWire(frame(input), sinkDir,
      failurePredicate = failure, availableNow = false)
    val g = new Generator(input)
    val played = mutable.ArrayBuffer.empty[Send]
    played ++= warmSends
    g.play(warmSends)
    if (!awaitOffset(q, g.lastOffset, 60)) errors += "warm-up did not drain within 60 s"
    val setupS = Harness.uptimeS()

    val w0 = System.currentTimeMillis().toDouble
    val gc0 = graft.Bench.gcMillis()
    val rungs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var backlogAtTop = 0
    // the first batch of a rung is left out: it also waits for the batch in
    // flight when the rung began
    def settled(r: Range, lat: IndexedSeq[Double]): IndexedSeq[Double] =
      r.zip(lat).collect { case (k, l) if g.dueMs(k) - g.dueMs(r.start) >= SettleMs => l }
    /** Plays one fixed-rate rung; returns its sends and whether its p99 and
      * end backlog stayed within the latency limit.
      */
    def rung(rate: Int, sends: IndexedSeq[Send]): (Range, Boolean) = {
      played ++= sends
      val r = g.play(sends)
      val committed = Option(q.lastProgress).map(endOffset).getOrElse(-1L)
      val backlog = r.end - g.blockEnd.filter(_._1 <= committed).values.maxOption.getOrElse(0)
      val drained = awaitOffset(q, g.lastOffset, 30)
      if (!drained) errors += s"rung $rate: backlog did not drain within 30 s"
      val p99 = if (!drained) Double.PositiveInfinity
        else Harness.pct(settled(r, latencies(g, q, r, Double.PositiveInfinity)), 99)
      val ok = backlog <= rate * LatencyLimitMs / 1e3 && p99 <= LatencyLimitMs
      rungs += Map("rate" -> rate, "backlog_end" -> backlog, "p99_ms" -> p99, "ok" -> ok)
      if (ok) backlogAtTop = backlog
      (r, ok)
    }
    val (latencyRange, latencyOk) = rung(LatencyRate, latencySends)
    // drains: preloaded backlogs, one after another; a drain's time runs
    // from the start of the first batch that reads it to the commit of the
    // last
    val drainTimes = drainSends.map { sends =>
      played ++= sends
      val dr = g.preload(sends)
      if (!awaitOffset(q, g.lastOffset, 60)) errors += "drain did not finish within 60 s"
      val batches = q.recentProgress.toSeq.filter(p => endOffset(p) >= g.block(dr.start))
      (batches.map(p => commitMs(p)).max - startMs(batches.head)) / 1e3
    }
    val drainS = Harness.pct(drainTimes, 50)
    // the ladder comes last, as in the send plan, so event time only moves
    // forward; it climbs while each rung is sustained
    var sustained = if (latencyOk) LatencyRate else 0
    var climbing = latencyOk
    Ladder.zip(ladderSends).foreach { case (rate, sends) =>
      if (climbing) climbing = rung(rate, sends)._2
      if (climbing) sustained = rate
    }
    val w1 = System.currentTimeMillis().toDouble
    val gc1 = graft.Bench.gcMillis()
    if (a.trace) {
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    // latencies of the latency rung from every commit up to now, so sends
    // that missed the rung's own wait count with their real commit time; a
    // send never committed counts as committed now (and its run has failed)
    val lat = settled(latencyRange,
      latencies(g, q, latencyRange, System.currentTimeMillis().toDouble))
    val progress = q.recentProgress.toSeq
    q.stop()
    progress.foreach(p => System.err.println(s"[batch] ${p.batchId} rows=${p.numInputRows} " +
      p.stateOperators.map(o => s"state_rows=${o.numRowsTotal} state_updated=${o.numRowsUpdated} ").mkString +
      p.durationMs.asScala.map { case (k, v) => s"$k=$v" }.mkString(" ")))
    Harness.phase("window done")

    // correctness: the sinks against a batch route over the same sends
    val (lostEtc, detail) = verify(spark, played.toSeq, sinkDir, failure)
    Harness.phase("verified")

    val layers = if (!a.trace) Map.empty[String, Any] else {
      val inWindow = progress.filter(p => startMs(p) >= w0)
      def dur(k: String) = Harness.pct(inWindow.map(p =>
        p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)), 50)
      val st = progress.flatMap(_.stateOperators.headOption)
      val (jobs, intervals) = listener.snapshot()
      val windowJobs = jobs.filter(j => j.startMs >= w0 && j.startMs <= w1)
      val sinkFiles = Seq("processed", "dlq", "retry").flatMap { b =>
        val d = new java.io.File(s"$sinkDir/$b")
        Option(d.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      }
      val late = g.addMs.zip(g.dueMs).map { case (x, d) => x - d }.toSeq
      // one span per micro-batch; its jobs carry the batch id
      val batchSpans = inWindow.map(p => Span(p.batchId, 0L, "batch", startMs(p), commitMs(p)))
      val batchJobs = windowJobs.groupBy(_.batch)
      val batchSelf = batchSpans.map(b => b.durMs - Trace.covered(batchJobs.getOrElse(b.id.toString, Nil)
        .map(j => (j.startMs.toDouble, j.endMs.toDouble)), b.startMs, b.endMs))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.work, "spans.json"),
        Json(batchSpans.map(b => Map("id" -> b.id, "name" -> b.name, "start_ms" -> b.startMs,
          "end_ms" -> b.endMs, "jobs" -> batchJobs.getOrElse(b.id.toString, Nil).length))))
      Map(
        "streaming.batches" -> inWindow.length,
        "streaming.rows_per_batch" -> inWindow.map(_.numInputRows.toDouble).sum / math.max(1, inWindow.length),
        "streaming.jobs_per_batch" -> windowJobs.count(_.batch.nonEmpty).toDouble / math.max(1, inWindow.length),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.get_batch_ms" -> dur("getBatch"),
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.batch_self_ms" -> Harness.pct(batchSelf, 50),
        "streaming.backlog_events" -> backlogAtTop,
        "streaming.generator_late_ms" -> Harness.pct(late, 99),
        "streaming.latency_p99_ms" -> Harness.pct(lat, 99),
        "streaming.drain_eps" -> DrainEvents / drainS,
        "streaming.sustained_eps" -> sustained,
        "state.rows" -> st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "state.memory_mb" -> st.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
        "state.dropped_by_watermark" -> st.map(_.numRowsDroppedByWatermark.toDouble).sum,
        "state.commit_ms" -> Harness.pct(st.map(_.commitTimeMs.toDouble), 50),
        "sink.files" -> sinkFiles.length,
        "sink.mb" -> sinkFiles.map(_.length).sum / 1048576.0,
        "trace.spans" -> batchSpans.length) ++
        listener.unattributed(jobs.filter(_.batch.nonEmpty)) ++
        Trace.sparkLayers(windowJobs, intervals, Seq((w0, w1)), a.cpus, (gc1 - gc0) / 1e3, 1.0) ++
        Trace.cacheLayers(spark)
    }
    Played(setupS, drainS, lat, layers, played.length, lostEtc + errors.length,
      (errors ++ detail).toSeq, generatorSha, rungs.toSeq, (w1 - w0) / 1e3, recordBytes,
      if (a.trace) drainSends.head else IndexedSeq.empty)
  }

  /** Checks the three sinks against `ConsumePipeline.route` over a batch of
    * the same sends, deduplicated and without the late events the 1 h
    * horizon drops. Returns (events lost + duplicated + misrouted +
    * unexpected, details).
    */
  def verify(spark: SparkSession, sends: Seq[Send], sinkDir: String,
             failure: Column): (Int, Seq[String]) = {
    import spark.implicits._
    val branches = Seq("processed", "dlq", "retry")
    // a redelivery is a byte-identical copy of its event, so the batch is
    // deduplicated by key before it is shipped
    val batch = spark.sparkContext.parallelize(
      sends.map(_.rec).filterNot(_.late).distinctBy(_.key).map(r => (r.key, r.value, r.topic)),
      4 * spark.sparkContext.defaultParallelism).toDF("key", "value", "topic")
    // decoded once for the three branches, and released before the heap is measured
    val decoded = ConsumePipeline.fromWire(batch).drop("value").cache()
    val routed = ConsumePipeline.route(decoded, failurePredicate = failure)
    val want = try Seq(routed.processed, routed.dlq, routed.retry).zip(branches)
      .map { case (df, b) => df.select(col("key"), lit(b)) }.reduce(_ union _)
      .as[(String, String)].collect().toMap
      finally decoded.unpersist(blocking = true)
    val got = branches.filter(b => new java.io.File(s"$sinkDir/$b").exists())
      .map(b => spark.read.parquet(s"$sinkDir/$b").select(col("key"), lit(b)))
      .reduceOption(_ union _).map(_.as[(String, String)].collect().toSeq).getOrElse(Nil)
    val gotBy = got.groupBy(_._1)
    val lost = want.keySet.diff(gotBy.keySet)
    val dup = gotBy.filter(_._2.length > 1).keySet
    val unexpected = gotBy.keySet.diff(want.keySet)
    val misrouted = gotBy.filter { case (k, v) => want.get(k).exists(w => v.exists(_._2 != w)) }.keySet
    // each count split by the branch the batch route gives the event
    def show(label: String, ks: Set[String]) =
      if (ks.isEmpty) Nil else {
        val by = ks.toSeq.groupBy(k => want.getOrElse(k, "none")).map { case (b, v) => s"$b ${v.size}" }
        Seq(s"stream: ${ks.size} events $label (${by.toSeq.sorted.mkString(", ")}), " +
          s"e.g. ${ks.toSeq.sorted.take(5).mkString(",")}")
      }
    ((lost ++ dup ++ unexpected ++ misrouted).size,
     show("lost", lost) ++ show("duplicated", dup) ++ show("unexpected", unexpected) ++
       show("misrouted", misrouted))
  }

  /** Drains `sends`, preloaded as one block, through a fresh
    * pipeline (empty state, new checkpoint); returns the seconds from its
    * start to the last commit.
    */
  def drainFresh(spark: SparkSession, sends: IndexedSeq[Send], dir: String, failure: Column): Double = {
    val input = topic(spark, spark.sparkContext.defaultParallelism)
    val g = new Generator(input)
    g.preload(sends)
    val t0 = System.nanoTime()
    val q = ConsumePipeline.startFromWire(frame(input), dir,
      failurePredicate = failure, availableNow = false)
    try {
      if (!awaitOffset(q, g.lastOffset, 120)) throw new IllegalStateException(s"drain into $dir did not finish")
      (System.nanoTime() - t0) / 1e9
    } finally q.stop()
  }

  /** Traced-run extras: the decode rate of `fromWire` into noop, and
    * fresh-pipeline drains of the same backlog: untraced, traced, untraced
    * (for the tracing overhead) and on one core (for the scaling).
    */
  private def traceExtras(spark: SparkSession, a: Harness.Args, sends: IndexedSeq[Send],
                          failure: Column): Map[String, Any] = {
    import spark.implicits._
    val bytes = sends.map(s => (s.rec.key, s.rec.value, s.rec.topic)).toDF("key", "value", "topic")
    val decodeS = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      ConsumePipeline.fromWire(bytes).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val before = drainFresh(spark, sends, s"${a.work}/drain-before", failure)
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val traced = drainFresh(spark, sends, s"${a.work}/drain-traced", failure)
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val plain = (before + drainFresh(spark, sends, s"${a.work}/drain-after", failure)) / 2
    spark.stop()
    val single = Harness.session(a, 1, StreamConf)
    val one = drainFresh(single, sends, s"${a.work}/drain-one-core", failure)
    Map(
      "functions.decode_eps" -> sends.length / Harness.pct(decodeS, 50),
      "trace.overhead" -> (traced / plain - 1),
      "spark.scaling" -> one / plain) // drain_eps at local[cpus] / at local[1]
  }
}
