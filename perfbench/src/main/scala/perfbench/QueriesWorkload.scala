package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, TempDirs}

/** The `queries` workload: read-only operator queries over the fixed
  * testdata in `perfbench/data`, through `SparkEntry.queries`. The seed
  * only permutes the order of each pass.
  */
final class QueriesWorkload(spark: SparkSession, trace: Trace, work: Path,
                            dataDir: String) {
  import QueriesWorkload._

  /** Between queries, outside timing, as `graft.Bench` does. */
  private def breather(): Unit = { spark.catalog.clearCache(); TempDirs.sweep() }

  def run(seed: Long, seconds: Double): Result = {
    val queries = SparkEntry.queries
    val setupDone = System.nanoTime()

    // Passes over the subset, each in its own seed-drawn order, at least
    // MinPasses of them. A query's latency is its best pass, as graft.Bench
    // reports it: that drops the first pass's share of a fresh JVM's
    // warm-up, which would otherwise land on whichever queries the order
    // puts first, and a slow spell of the machine that hits only one pass.
    // Each query is forced by writing its result to parquet; after the run,
    // run.py hashes the last pass's results against the DuckDB oracle's.
    val results = work.resolve("results")
    val rnd = new scala.util.Random(seed)
    val times = Subset.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    var passes = 0
    var failed = 0L
    var attempted = 0L
    val t0 = System.nanoTime()
    while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      rnd.shuffle(Subset).foreach { q =>
        breather()
        attempted += 1
        val s = System.nanoTime()
        try {
          val df = trace.span(s"q.$q.construct")(queries(q)(spark, dataDir))
          if (trace.enabled) trace.span(s"q.$q.plan")(df.queryExecution.executedPlan)
          trace.span(s"q.$q.force")(
            df.write.mode("overwrite").parquet(results.resolve(q).toString))
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] query $q failed: $e")
        }
        times(q) += (System.nanoTime() - s) / 1e9
      }
      passes += 1
    }
    breather()
    val heap = Heap.retainedMb()
    val best = Subset.map(q => times(q).min)
    val resultRows = Subset.map { q =>
      try spark.read.parquet(results.resolve(q).toString).count() catch { case _: Exception => 0L }
    }.sum

    // the unit of work is one pass at each query's best time
    val r = Result(setupDone, best.sum, 1, best, records = resultRows,
      attempted = attempted, failed = failed, heapMb = heap)
    if (trace.enabled) {
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val l = trace.listener
      val m = r.layers
      Subset.foreach { q =>
        m(s"q.$q.construct_s") = trace.seconds(s"q.$q.construct") / passes
        m(s"q.$q.construct_jobs") = l.sum(_ == s"q.$q.construct").jobs.toDouble / passes
        m(s"q.$q.force_s") = trace.seconds(s"q.$q.force") / passes
        m(s"q.$q.jobs") = l.sum(_.startsWith(s"q.$q.")).jobs.toDouble / passes
      }
      val all = l.sum(_.startsWith("q."))
      m("queries.plan_s") = Subset.map(q => trace.seconds(s"q.$q.plan")).sum / passes
      m("queries.exec_cpu_s") = all.cpuNs / 1e9 / passes
      m("queries.gc_s") = all.gcMs / 1e3 / passes
      m("queries.shuffle_mb") = all.shuffleBytes / 1e6 / passes
      m("queries.spill_mb") = all.spillBytes / 1e6 / passes
      m("spark.jobs") = all.jobs.toDouble / passes
    }
    r
  }
}

object QueriesWorkload {
  /** The timed subset: construct-heavy queries (tens of driver jobs while
    * the plan is built), an execute-heavy one, a streaming one, and the
    * paper's core hash dedup.
    */
  val Subset: Seq[String] = Seq(
    "q55_dedup_clusters", "q124_bpe_encode", "q70_interval_join_production",
    "q56_streaming_day_window", "q02_hash_dedup")

  val MinPasses = 2

}

/** Prints the DuckDB oracle SQL of the timed subset as one JSON object;
  * `oracle.py` runs it to derive the expected result digests.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    import graft.connect.MiniJson._
    val sql = SparkEntry.oracleSql
    println(render(JObj(scala.collection.immutable.VectorMap.from(
      QueriesWorkload.Subset.map(q => q -> JStr(sql(q)))))))
  }
}
