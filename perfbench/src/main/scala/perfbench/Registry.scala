package perfbench

import graft.{Bench, Caches, SparkEntry}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The closed-loop registry workload: one query at a time, in an order the
  * seed permutes anew for every pass.
  */
object Registry {

  /** The reference service's own operator surface: scan, wire-decode and
    * aggregation queries with few jobs each.
    */
  val Surface: Seq[String] = Seq(
    "a1_consumer_lag", "a2_lag_rollup", "a3_offset_ranges", "a4_event_stats",
    "a4_events_by_type", "a5_metrics_summary", "a6_schema_stats", "a7_latest_versions",
    "a8_latency_approx", "a8_latency_percentiles", "a9_replay_result", "a10_groups_for_topic",
    "a10_orphan_groups", "a11_offset_reset", "a12_events_page", "a13_topic_rates",
    "a14_lag_trend", "d1_dedup", "d3_scoped_dedup", "e1_retry_routing", "e4_error_classes",
    "e7_decode_tolerance", "e7_proto_tolerance", "f2_metadata_projection", "f3_validity",
    "f7_retry_source", "f8_topics", "f9_header_roundtrip", "f10_json_bridge",
    "f11_proto_roundtrip", "f12_proto_struct", "f13_proto_subject", "f14_proto_publish",
    "f15_proto_value_map", "f16_proto_evolution", "p1_keys", "p2_partition_families",
    "p2_partition_java", "p4_routing_rules", "p7_subscriptions", "s5_dlq_records",
    "s7_replay_window", "s8_replay_offsets", "w_click_attribution", "w_frame_funcs",
    "w_range_frame", "w_session_30m", "w_sliding_2h", "w_tumbling_hourly",
    "pipeline_consume_counts")

  private final case class Pass(traced: Boolean, wallS: Double, startMs: Double, endMs: Double,
                                gcS: Double, times: Seq[(String, Double)])

  def run(a: Harness.Args, names: Seq[String]): Map[String, Any] = {
    val spark = Harness.session(a, a.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val rng = new scala.util.Random(a.seed)
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    Harness.phase("session")
    // cold pass, which is also the warm-up: every query's output lands as
    // parquet for the oracle gate; first-run pin builds are paid here,
    // inside setup_s
    val outDir = s"${a.work}/out"
    rng.shuffle(names).foreach { n =>
      attempted += 1
      try SparkEntry.registry(n).build(spark, a.data).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$n")
      catch { case e: Throwable => errors += s"$n (cold): ${e.getClass.getSimpleName}: ${e.getMessage}" }
      finally Caches.release()
    }
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, "oracle_sql.json"), Json(oracle))
    val setupS = Harness.uptimeS()
    Harness.phase("cold pass done")

    val listener = new JobListener
    val spans = new Spans(sc)
    val contention = new Harness.Contention
    val passes = mutable.ArrayBuffer.empty[Pass]
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    // a traced run alternates untraced and traced passes, at least untraced,
    // traced, untraced, so tracing overhead is measured within one process
    // and against passes on both sides of it
    def need = passes.isEmpty || elapsed < a.seconds ||
      (a.trace && (passes.count(_.traced) < 1 || passes.count(!_.traced) < 2))
    while (need) {
      val traced = a.trace && passes.length % 2 == 1
      if (traced) sc.addSparkListener(listener)
      contention.start()
      val g0 = Bench.gcMillis()
      val p0 = System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      def span[T](name: String)(body: => T): T = if (traced) spans(name)(body) else body
      val times = rng.shuffle(names).map { n =>
        val q0 = System.nanoTime()
        attempted += 1
        try span(s"query:$n") {
          val df = span("build")(SparkEntry.registry(n).build(spark, a.data))
          span("write")(df.write.format("noop").mode("overwrite").save())
        }
        catch { case e: Throwable => errors += s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}" }
        finally span("release")(Caches.release())
        n -> (System.nanoTime() - q0) / 1e9
      }
      val wall = (System.nanoTime() - t0) / 1e9
      contention.stamp(s"pass${passes.length}${if (traced) "-traced" else ""}")
      if (traced) { org.apache.spark.perfbench.ListenerBus.drain(sc); sc.removeSparkListener(listener) }
      passes += Pass(traced, wall, p0, System.currentTimeMillis().toDouble,
        (Bench.gcMillis() - g0) / 1e3, times)
    }
    val windowS = elapsed
    val heapMb = Harness.heapAfterGcMb()

    val timed = passes.filter(p => !p.traced)
    val qTimes = timed.flatMap(_.times.map(_._2)).toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "pass_s" -> Harness.pct(timed.map(_.wallS).toSeq, 50),
      "latency_p50_ms" -> Harness.pct(qTimes, 50) * 1e3,
      "latency_p80_ms" -> Harness.pct(qTimes, 80) * 1e3,
      "heap_after_gc_mb" -> heapMb)
    val layers = if (a.trace) traceLayers(spark, listener, spans, passes.toSeq, a) else Map.empty
    spark.stop()
    Map("workload" -> a.workload, "metrics" -> (endToEnd ++ layers),
      "attempted" -> attempted, "failed" -> errors.length, "errors" -> errors.toSeq, "queries" -> names,
      "window_s" -> windowS, "passes" -> passes.length,
      "contention" -> contention.stamps.toSeq)
  }

  /** Per-layer numbers from the traced passes, per pass. Also counts the
    * jobs, stages and tasks the listener saw that no query accounts for, and
    * writes the spans and the per-query profile next to the result.
    */
  private def traceLayers(spark: SparkSession, l: JobListener, spans: Spans,
                          passes: Seq[Pass], a: Harness.Args): Map[String, Any] = {
    val traced = passes.filter(_.traced)
    val n = traced.length.toDouble
    val (jobs, intervals) = l.snapshot()
    val all = spans.done.toList
    val byId = all.map(s => s.id -> s).toMap
    def queryOf(id: Long): Option[String] = byId.get(id).flatMap { s =>
      if (s.name.startsWith("query:")) Some(s.name.stripPrefix("query:")) else queryOf(s.parent)
    }
    def spanName(id: String): String = id.toLongOption.flatMap(byId.get).map(_.name).getOrElse("")
    val perQuery = jobs.groupBy(j => j.group.toLongOption.flatMap(queryOf).getOrElse(""))
    val attributed = perQuery.filter(_._1.nonEmpty)
    val self = Trace.selfMsByName(all, jobs)
    val build = all.filter(_.name == "build")
    val write = all.filter(_.name == "write")
    val untracedMed = Harness.pct(passes.filter(!_.traced).map(_.wallS), 50)
    val tracedMed = Harness.pct(traced.map(_.wallS), 50)
    val profile = attributed.map { case (q, js) => q -> Map(
      "jobs" -> js.length, "stages" -> js.map(_.stages).sum, "tasks" -> js.map(_.tasks).sum,
      "build_jobs" -> js.count(j => spanName(j.group) == "build"),
      "task_cpu_s" -> js.map(_.cpuNs).sum / 1e9 / n,
      "scan_rows" -> js.map(_.inputRecords).sum / n) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.work, "profile.json"), Json(profile))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.work, "spans.json"),
      Json(all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
    Map(
      "queries.build_s" -> build.map(_.durMs).sum / 1e3 / n,
      "queries.build_jobs" -> jobs.count(j => spanName(j.group) == "build") / n,
      "queries.build_self_s" -> self.getOrElse("build", 0.0) / 1e3 / n,
      "queries.exec_s" -> write.map(_.durMs).sum / 1e3 / n,
      "queries.exec_self_s" -> self.getOrElse("write", 0.0) / 1e3 / n,
      "queries.release_s" -> all.filter(_.name == "release").map(_.durMs).sum / 1e3 / n,
      "trace.overhead" -> (if (untracedMed > 0) tracedMed / untracedMed - 1 else 0.0),
      "trace.spans" -> all.length / n) ++
      l.unattributed(attributed.values.flatten.toSeq) ++
      Trace.sparkLayers(jobs, intervals, traced.map(p => (p.startMs, p.endMs)), a.cpus,
        traced.map(_.gcS).sum, n) ++
      Trace.cacheLayers(spark)
  }
}
