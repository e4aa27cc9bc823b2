package perfbench

import java.nio.file.Path
import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.dq.DqCounters
import graft.io.{CuratedWriter, RawEvents}

/** Checks the tracer's layer attribution on tiny inputs: each op calls
  * one module's public entry point. Every job of the op that has a
  * `graft.*` frame must land in that module's layer, and there must be
  * at least one; jobs with no such frame land in `spark` and are only
  * counted. Returns one line per op and one message per failure. */
object LayerCheck {
  def run(spark: SparkSession, work: Path, seed: Long,
      tablesDir: String): (Seq[String], Seq[String]) = {
    val date = "2025-01-01"
    val rawBase = work.resolve("raw").toString
    Gen.writeNdjson(work.resolve(s"raw/ingestion_date=$date/events.json"),
      Gen.events(seed, LocalDate.parse(date), 0, 200, 2, 4), 2, 4)
    spark.conf.set("spark.sql.catalog.lc", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.lc.root", work.resolve("store").toString)
    spark.sql("CREATE TABLE lc.db.t PARTITIONED BY (d) AS SELECT 1L AS k, 'a' AS d")
    val df = RawEvents.curate(RawEvents.readPartition(spark, rawBase, date)).cache()

    val tracer = new Tracer(spark)
    val run = new Runner
    val expected = Seq("DqCounters.compute" -> "dq",
      "CuratedWriter.overwritePartition" -> "io", "catalog INSERT" -> "store",
      "inventory query dedup_ppjoin" -> "queries")
    tracer.start()
    run("DqCounters.compute") {
      DqCounters.compute(df)
      None
    }
    run("CuratedWriter.overwritePartition") {
      CuratedWriter.overwritePartition(df, work.resolve("curated").toString, date)
      None
    }
    run("catalog INSERT") {
      spark.sql("INSERT INTO lc.db.t SELECT 2L AS k, 'b' AS d")
      None
    }
    run("inventory query dedup_ppjoin") {
      SparkEntry.inventory.find(_.name == "dedup_ppjoin").get
        .run(spark, tablesDir).write.format("noop").mode("overwrite").save()
      None
    }
    tracer.stop()
    val (_, details) = tracer.report(run.spans.toSeq, 1)
    val jobs = details.zip(expected).map { case (d, (_, layer)) =>
      (d.span.name, layer, d.byLayer.map { case (l, v) => l -> v._1 })
    }
    (jobs.map { case (name, layer, js) =>
      s"$name: jobs by layer $js, expected $layer" },
      jobs.collect { case (name, layer, js)
          if !js.contains(layer) || js.keySet.exists(l => l != layer && l != "spark") =>
        s"$name: jobs by layer $js, expected $layer (and spark for jobs " +
          "with no graft frame)"
      } ++ run.ops.filterNot(_.ok).map(o => s"${o.name}: ${o.note}"))
  }
}
