package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed op as the run record keeps it. `ok` is false when the
  * outcome differs from the expected one; `note` says how. */
final case class OpRec(name: String, lap: Int, ms: Double, ok: Boolean,
    note: String)

/** What a workload hands the harness. `lap` runs one fixed schedule of
  * ops through `run`; the harness times the laps and the ops. */
trait Workload {
  /** Writes the inputs under `dir` (fresh, empty) from the seed. */
  def generate(dir: Path): Unit
  /** Untimed pass that warms the JIT and the code paths. */
  def warmup(run: Runner): Unit
  def lap(run: Runner): Unit
  /** Untimed checks after the last lap; each failure is one message. */
  def finalChecks(): Seq[String]
}

/** Runs and times ops. `body` returns None when the outcome is the
  * expected one, else a message; an exception is a failed op. */
final class Runner {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[Span]
  var lap = 0
  var recording = true

  /** Failures of untimed warm-up ops, reported as failed checks. */
  val warmFailures = mutable.ArrayBuffer.empty[String]

  def apply(name: String)(body: => Option[String]): Unit = {
    val g0 = Gauges.now()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val outcome =
      try body
      catch {
        case scala.util.control.NonFatal(e) =>
          Some(s"unexpected ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val ms = (System.nanoTime() - n0) / 1e6
    val t1 = System.currentTimeMillis()
    if (recording) {
      ops += OpRec(name, lap, ms, outcome.isEmpty, outcome.getOrElse(""))
      spans += Span(name, lap, t0, t1, Gauges.now() - g0)
    } else outcome.foreach(m => warmFailures += s"warm-up $name: $m")
  }
}

object Main {
  val SetupReps = 3
  val MaxLaps = 50

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    if (workload == "layer_check") {
      val (lines, failures) = LayerCheck.run(spark, work, seed, opts("tables"))
      spark.stop()
      Files.writeString(out, Json(Json.Obj("layer_check" -> lines,
        "checks" -> failures)) + "\n")
      return
    }
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val w: Workload = Workloads(workload, spark, work, seed,
      opts.getOrElse("tables", ""))
    val run = new Runner

    // set-up: generate the inputs SetupReps times into fresh directories
    // (median reported), then one untimed warm-up pass
    val genS = (1 to SetupReps).map { r =>
      val dir = work.resolve(s"inputs-$r")
      val t = System.nanoTime()
      w.generate(dir)
      (System.nanoTime() - t) / 1e9
    }
    val t = System.nanoTime()
    run.recording = false
    w.warmup(run)
    run.recording = true
    val warmS = (System.nanoTime() - t) / 1e9
    val setupS = sessionS + median(genS) + warmS

    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    val lapMs = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      run.lap = lapMs.size + 1
      val t0 = System.nanoTime()
      w.lap(run)
      lapMs += (System.nanoTime() - t0) / 1e6
    } while (System.nanoTime() < deadline && lapMs.size < MaxLaps)
    tracer.foreach(_.stop())

    val checks = run.warmFailures.toSeq ++ w.finalChecks()
    val (layers, opDetails) = tracer.map(_.report(run.spans.toSeq, lapMs.size))
      .getOrElse((Map.empty[String, Double], Nil))
    val peakRssMb = vmHwmMb() // before the kernel probe's cached columns
    val kernels = if (trace) Kernels.probe(spark, seed) else Map.empty[String, Double]
    val rec = Json.Obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> cores,
      "setup" -> Json.Obj("setup_s" -> setupS, "session_s" -> sessionS,
        "generate_s" -> genS, "warmup_s" -> warmS),
      "lap_ms" -> lapMs.toSeq,
      "peak_rss_mb" -> peakRssMb,
      "ops" -> run.ops.toSeq.map(o => Json.Obj("name" -> o.name,
        "lap" -> o.lap, "ms" -> o.ms, "ok" -> o.ok,
        "note" -> o.note)),
      "checks" -> checks,
      "layers" -> (layers ++ kernels),
      "trace_ops" -> opDetails.map(_.json))
    spark.stop()
    Files.writeString(out, Json(rec) + "\n")
  }
}
