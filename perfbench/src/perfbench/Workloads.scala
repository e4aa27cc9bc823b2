package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.dq.DqReport
import graft.pipeline.{DqFailedException, Pipeline, PipelineConfig}

object Workloads {
  def apply(name: String, spark: SparkSession, work: Path, seed: Long,
      tablesDir: String): Workload =
    name match {
      case "daily_backfill" => new DailyBackfill(spark, work, seed)
      case "query_mix" => new QueryMix(spark, work, tablesDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** None when `r` has the expected status and the DQ counters the
    * generator wrote; else what differs. */
  def checkReport(r: DqReport, t: Gen.Truth, status: String = "PASS"): Option[String] = {
    val c = r.counters
    val got = (r.status, c.totalRows, c.nullUserId, c.dupExtraRows,
      c.nullEventId, c.nullEventType, c.invalidEventType)
    val want = (status, t.rows, t.nullUser, t.dupExtra, 0L, 0L, 0L)
    if (got == want) None
    else Some(s"${r.ingestionDate}: (status, rows, null_user, dup_extra, " +
      s"null_id, null_type, invalid) = $got, expected $want")
  }
}

/** The reference's daily traffic: 1,000-event days with +1% duplicate
  * ids and 2% null users, audit table on. A timed lap is one sequential
  * backfill from day 1 to day 8, past the 7 days that fill the anomaly
  * check's trailing week; a late file lands for day 8 and the day is
  * re-run; day 9, built to fail the null-rate gate, runs through
  * `runPartition` (expected: DqFailedException, curated untouched) and
  * then `runPartitionQuarantine` (expected: PASS with rows diverted).
  * Every partition run's DQ counters and status, and every zone's row
  * count, are checked against what the generator wrote. */
final class DailyBackfill(spark: SparkSession, work: Path, seed: Long)
    extends Workload {
  import Workloads._
  val Days = 8
  val Events = 1000
  val day0: LocalDate = LocalDate.parse("2025-01-01")
  val dates: Seq[String] = (0 until Days).map(day0.plusDays(_).toString)
  val lateDate: String = dates.last
  val failDate: String = day0.plusDays(Days).toString

  /** Output zones; the warm-up writes its own so every lap starts alike. */
  final class Zones(dir: Path) {
    val curated: String = dir.resolve("curated").toString
    val quarantine: String = dir.resolve("quarantine").toString
    val audit: String = dir.resolve("audit").toString
    var audited = 0L
    def conf: PipelineConfig = PipelineConfig(rawBase, curated,
      dir.resolve("metrics").toString, Some(audit))
  }
  val timed = new Zones(work.resolve("zones"))
  val warm = new Zones(work.resolve("zones-warm"))

  var in: Path = _
  var truth: Map[String, Gen.Truth] = Map.empty
  var late: Gen.Truth = Gen.NoRows

  def rawBase: String = in.resolve("raw/source_system=app").toString
  def rawDir(date: String): Path = Path.of(rawBase, s"ingestion_date=$date")
  def latePath(staged: Boolean): Path =
    if (staged) in.resolve("late/events-late.json")
    else rawDir(lateDate).resolve("events-late.json")

  private def writeFile(date: String, file: Int, n: Int, nDup: Int,
      nNull: Int, target: Path, types: Array[Int] = Array(0, 1, 2, 3)) =
    Gen.writeNdjson(target,
      Gen.events(seed, LocalDate.parse(date), file, n, nDup, nNull, types),
      nDup, nNull)

  def generate(dir: Path): Unit = {
    in = dir
    truth = (dates.map(d => d -> writeFile(d, 0, Events, Events / 100,
        Events / 50, rawDir(d).resolve("events.json"))) :+
      (failDate -> writeFile(failDate, 0, Events, Events / 100, Events / 20,
        rawDir(failDate).resolve("events.json")))).toMap
    // the late arrival: 50 extra view/cart/purchase events (FIXTURES §A.1)
    late = writeFile(lateDate, 1, 50, 0, 0, latePath(staged = true),
      Array(1, 2, 3))
  }

  /** One day into zones of its own. The gate failure and the quarantine
    * share its code paths up to the gate; the lap runs their own parts
    * cold, as a daily job does. */
  def warmup(run: Runner): Unit =
    partition(run, warm, dates.head, truth(dates.head))

  def lap(run: Runner): Unit = {
    Files.deleteIfExists(latePath(staged = false))
    dates.foreach(d => partition(run, timed, d, truth(d)))
    Files.copy(latePath(staged = true), latePath(staged = false),
      StandardCopyOption.REPLACE_EXISTING)
    run("late_rerun") {
      checkReport(Pipeline.runPartition(spark, timed.conf, lateDate),
        truth(lateDate) + late)
    }
    timed.audited += 1
    failAndQuarantine(run, timed)
  }

  /** One partition run through the sequential backfill entry point
    * (`backfill` is a fold of these, so each run is timed on its own). */
  private def partition(run: Runner, z: Zones, date: String,
      t: Gen.Truth): Unit = {
    run("partition") {
      checkReport(Pipeline.backfill(spark, z.conf, date, date).head, t)
    }
    z.audited += 1
  }

  private def failAndQuarantine(run: Runner, z: Zones): Unit = {
    run("gate_fail") {
      val before = listing(z, failDate)
      try {
        Pipeline.runPartition(spark, z.conf, failDate)
        Some(s"$failDate passed the gate; expected DqFailedException")
      } catch {
        case e: DqFailedException =>
          if (listing(z, failDate) != before) Some("failed run touched curated")
          else if (!e.report.failures.exists(_.startsWith("user_id null rate")))
            Some(s"unexpected failures ${e.report.failures}")
          else checkReport(e.report, truth(failDate), "FAIL")
      }
    }
    run("quarantine") {
      checkReport(Pipeline.runPartitionQuarantine(spark, z.conf, failDate,
        z.quarantine), truth(failDate))
    }
    z.audited += 2
  }

  private def listing(z: Zones, date: String): Seq[(String, Long)] = {
    val p = Path.of(z.curated, s"ingestion_date=$date")
    if (!Files.exists(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(f => f.getFileName.toString ->
        Files.getLastModifiedTime(f).toMillis).toSeq.sorted
      finally s.close()
    }
  }

  def finalChecks(): Seq[String] = {
    val ft = truth(failDate)
    val want = dates.map(d => d -> truth(d).rows).toMap +
      (lateDate -> (truth(lateDate).rows + late.rows)) +
      (failDate -> (ft.rows - ft.nullUser - ft.dupExtra))
    val got = spark.read.parquet(timed.curated).groupBy("ingestion_date")
      .count().collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val q = spark.read.parquet(timed.quarantine).count()
    val audit = graft.io.Snapshots.read(spark, timed.audit).count()
    Seq(
      if (got == want) None else Some(s"curated rows $got, expected $want"),
      if (q == ft.nullUser + ft.dupExtra) None
      else Some(s"quarantine rows $q, expected ${ft.nullUser + ft.dupExtra}"),
      if (audit == timed.audited) None
      else Some(s"audit rows $audit, expected ${timed.audited}")).flatten
  }
}
