package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <cpus>
  *
  * Runs one workload against the engine and writes its raw measurements to
  * `<workDir>/result.json`; run.py adds the DuckDB correctness gate and prints
  * the result line.
  */
object Harness {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val a = argv match {
      case Array(w, s, sec, t, d, o, c) =>
        Args(w, s.toLong, sec.toDouble, t == "1", d, o, c.toInt)
      case _ =>
        System.err.println("usage: Harness <workload> <seed> <seconds> <trace> <data> <work> <cpus>")
        sys.exit(2)
    }
    Files.createDirectories(Paths.get(a.work))
    val out: Map[String, Any] = a.workload match {
      case "registry_surface" => Registry.run(a, Registry.Surface)
      case "consume_stream"   => Stream.run(a)
      case other =>
        System.err.println(s"unknown workload $other")
        sys.exit(2)
    }
    Files.writeString(Paths.get(a.work, "result.json"), Json(out))
  }

  def session(a: Args, cpus: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
  }

  /** Marks a phase in the run log with the JVM uptime. */
  def phase(name: String): Unit = System.err.println(f"[phase] $name at ${uptimeS()}%.1f s")

  /** Seconds since this JVM started. */
  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Heap still in use after two full collections, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = (s.length - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Host contention around one pass, from the engine's own Bench probes:
    * load average, foreign JVMs, and cores burnt by other processes.
    */
  final class Contention {
    private var c0 = graft.Bench.cpuSample()
    private var t0 = System.nanoTime()
    val stamps = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def start(): Unit = { c0 = graft.Bench.cpuSample(); t0 = System.nanoTime() }
    def stamp(label: String): Unit = {
      val c1 = graft.Bench.cpuSample()
      val sec = (System.nanoTime() - t0) / 1e9
      val foreign =
        if (c0._1 < 0 || c1._1 < 0 || sec < 0.2) -1.0
        else ((c1._1 - c0._1) - (c1._2 - c0._2)) / (sec * 100.0)
      stamps += Map("pass" -> label, "load1" -> graft.Bench.load1(),
        "foreign_jvms" -> graft.Bench.foreignJvms(), "foreign_cores" -> foreign)
    }  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
