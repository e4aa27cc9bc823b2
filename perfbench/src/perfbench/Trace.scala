package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Process-wide counters sampled at span edges: Hadoop `file`-scheme
  * statistics and total GC time. */
final case class Gauges(readOps: Long, writeOps: Long, bytesRead: Long,
    bytesWritten: Long, gcMs: Long) {
  def -(o: Gauges): Gauges = Gauges(readOps - o.readOps,
    writeOps - o.writeOps, bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten, gcMs - o.gcMs)
}

object Gauges {
  def now(): Gauges = {
    val fs = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    Gauges(fs.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum,
      fs.map(_.getWriteOps.toLong).sum, fs.map(_.getBytesRead).sum,
      fs.map(_.getBytesWritten).sum, gc)
  }
}

/** One timed op: its wall-clock span, the lap it belongs to, and the
  * gauge deltas over it. Spans stay in memory until the run ends. */
final case class Span(name: String, lap: Int,
    startMs: Long, endMs: Long, gauges: Gauges)

/** Listener-side recorder for a traced run: Spark jobs and stages
  * (child spans of the ops), SQL execution call sites and the Catalyst
  * planning phases of each SQL execution. Attribution to this repo's
  * modules happens after the run, from the recorded call sites. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val execs = new ConcurrentHashMap[Long, (Long, String)]()
  private val planningMs = new ConcurrentHashMap[Long, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details)
      .getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, e.time, exec, site, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.add(Stage(i.stageId, i.numTasks, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, (s.time, s.details))
    case e: SparkListenerSQLExecutionEnd =>
      planningMs.put(e.executionId, PerfbenchBridge.planningMs(e))
    case _ =>
  }

  def start(): Unit = spark.sparkContext.addSparkListener(this)

  /** Waits for every posted event, then detaches. */
  def stop(): Unit = {
    PerfbenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Layer of the first call site, in order, that has a `graft.*`
    * frame; `spark` when none has one. */
  private def layerOf(sites: Seq[String]): String =
    sites.iterator.flatMap(graftLayer).nextOption().getOrElse("spark")

  /** Per-layer and global counters summed over `ops` and divided by
    * `laps`, plus one detail record per op. A job or SQL execution
    * belongs to the op whose span holds its start; the job's layer comes
    * from its SQL execution's call site, then from its own. */
  def report(ops: Seq[Span], laps: Int): (Map[String, Double], Seq[OpTrace]) = {
    def opAt(t: Long) = ops.find(o => t >= o.startMs && t <= o.endMs)
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    for (l <- Layers; c <- Counters) acc(s"$l.$c") = 0.0

    val byStage = stages.asScala.toSeq.groupBy(_.id)
    val stageOwner = mutable.Map.empty[Int, Int] // a reused stage counts once
    jobs.values.asScala.toSeq.sortBy(_.id).foreach(j =>
      j.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, j.id)))
    val perOp = mutable.LinkedHashMap.empty[Span, mutable.ArrayBuffer[(Long, Long, String)]]
    ops.foreach(o => perOp(o) = mutable.ArrayBuffer.empty)

    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      opAt(j.startMs).foreach { op =>
        val end = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(op.endMs)
        val sites = j.execId.flatMap(x => Option(execs.get(x))).map(_._2).toSeq :+
          j.callSite
        val l = layerOf(sites)
        perOp(op) += ((j.startMs, end, l))
        add(s"$l.jobs", 1)
        add(s"$l.job_ms", (end - j.startMs).toDouble)
        j.stageIds.filter(s => stageOwner(s) == j.id)
          .flatMap(s => byStage.getOrElse(s, Nil)).foreach { s =>
            add(s"$l.stages", 1)
            add(s"$l.tasks", s.tasks.toDouble)
            add(s"$l.cpu_ms", s.cpuNs / 1e6)
            add(s"$l.shuffle_read_bytes", s.shuffleRead.toDouble)
            add(s"$l.shuffle_write_bytes", s.shuffleWrite.toDouble)
            add(s"$l.input_bytes", s.input.toDouble)
            add(s"$l.output_bytes", s.output.toDouble)
            if (s.tasks == 1) add(s"$l.single_task_stages", 1)
          }
      }
    }
    planningMs.asScala.foreach { case (id, ms) =>
      Option(execs.get(id)).foreach { case (t, details) =>
        if (opAt(t).isDefined)
          add(s"${layerOf(Seq(details))}.planning_ms", ms.doubleValue)
      }
    }
    val details = ops.map { op =>
      val js = perOp(op).sortBy(_._1)
      // union of job intervals clipped to the span: the rest is driver gap
      var covered = 0L
      var reach = op.startMs
      js.foreach { case (s, e, _) =>
        val a = math.max(s, reach)
        val b = math.min(e, op.endMs)
        if (b > a) { covered += b - a; reach = b }
      }
      val span = op.endMs - op.startMs
      add("driver_gap_ms", (span - covered).toDouble)
      val g = op.gauges
      add("fs.read_ops", g.readOps.toDouble)
      add("fs.write_ops", g.writeOps.toDouble)
      add("fs.bytes_read", g.bytesRead.toDouble)
      add("fs.bytes_written", g.bytesWritten.toDouble)
      add("jvm.gc_ms", g.gcMs.toDouble)
      OpTrace(op, covered, js.groupBy(_._3).map { case (l, xs) =>
        l -> (xs.size, xs.map(x => x._2 - x._1).sum) })
    }
    (acc.map { case (k, v) => k -> v / math.max(1, laps) }.toMap, details)
  }
}

/** One op of a traced run: its span, the part of it Spark jobs covered,
  * and (jobs, job ms) per layer. */
final case class OpTrace(span: Span, jobUnionMs: Long,
    byLayer: Map[String, (Int, Long)]) {
  def spanMs: Long = span.endMs - span.startMs
  def json: Json.Obj = Json.Obj("op" -> span.name, "lap" -> span.lap,
    "start_ms" -> span.startMs, "span_ms" -> spanMs,
    "jobs" -> byLayer.values.map(_._1).sum, "job_union_ms" -> jobUnionMs,
    "driver_gap_ms" -> (spanMs - jobUnionMs),
    "jobs_by_layer" -> byLayer.map { case (l, v) => l -> v._1 },
    "job_ms_by_layer" -> byLayer.map { case (l, v) => l -> v._2 })
}

object Tracer {
  final case class Job(id: Int, startMs: Long, execId: Option[Long],
      callSite: String, stageIds: Seq[Int])
  final case class Stage(id: Int, tasks: Int, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, input: Long, output: Long)

  /** The call-site layers, in report order. */
  val Layers: Seq[String] =
    Seq("pipeline", "io", "store", "dq", "queries", "operators", "spark")
  val Counters: Seq[String] = Seq("jobs", "stages", "tasks", "job_ms",
    "cpu_ms", "planning_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "input_bytes", "output_bytes", "single_task_stages")

  /** Layer of the innermost `graft.*` frame of a call-site string. */
  def graftLayer(site: String): Option[String] =
    site.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { f =>
      val cls = f.takeWhile(_ != '(')
      if (cls.startsWith("graft.io.Snapshots") || cls.startsWith("graft.sources."))
        "store"
      else cls.split('.') match {
        case Array(_, "pipeline", _*) => "pipeline"
        case Array(_, "io", _*) => "io"
        case Array(_, "dq", _*) => "dq"
        // the query modules and the top-level entry points (SparkEntry,
        // the Tables loaders)
        case Array(_, "queries", _*) | Array(_, _, _) => "queries"
        // kernels, plan rules and the other library modules run inside
        // operator plans
        case _ => "operators"
      }
    }
}
