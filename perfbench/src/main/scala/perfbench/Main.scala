package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.Tables

/** What one workload run measured. `timedSeconds` covers `units` whole
  * units of work (DAG runs, or one pass over the query subset at each
  * query's best time); `latencies` holds one sample per operation (a DAG
  * run, or a query).
  */
final case class Result(setupDoneNs: Long,
                        timedSeconds: Double, units: Int,
                        latencies: Seq[Double], records: Long,
                        attempted: Long, failed: Long, heapMb: Double) {
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
}

object Heap {
  /** Heap in use after a full collection, in MB: the least of four
    * collections a quarter second apart. Spark's ContextCleaner frees
    * broadcast and shuffle state on its own thread, only after a collection
    * has found their handles unreachable, so one collection can still count
    * state that is already dead.
    */
  def retainedMb(): Double = (1 to 4).map { _ =>
    System.gc()
    Thread.sleep(250)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }.min / 1e6
}

/** One benchmark run inside the JVM. `run.py` starts it (and the stub) and
  * turns the `PERFBENCH_RESULT` line it prints into the benchmark's result.
  *
  * Usage: perfbench.Main --workload <etl_daily|queries>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *   --cores <n> [--stub <url>] [--trace-out <file>]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wall0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)

    val spark = Tables.session("perfbench", opts("cores"))
    try {
      val trace = new Trace(traced, s"$workload-$seed", spark.sparkContext)
      val r = workload match {
        case "etl_daily" =>
          new EtlDaily(spark, trace, work, new Stub(opts("stub"))).run(seed, seconds)
        case "queries" =>
          new QueriesWorkload(spark, trace, work, opts("data")).run(seed, seconds)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val setupS = (wall0 - jvmStartMs + (r.setupDoneNs - nano0) / 1e6) / 1e3
      val wallS = r.timedSeconds / r.units
      val e2e = Seq(
        "setup_s" -> setupS,
        "wall_s" -> wallS,
        "latency_s.geomean" -> math.exp(r.latencies.map(math.log).sum / r.latencies.size),
        "records_per_s" -> r.records / r.timedSeconds,
        "retained_heap_mb" -> r.heapMb)
      if (traced) {
        org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
        r.layers("storage.cached_rdds") = spark.sparkContext.getPersistentRDDs.size.toDouble
        graft.TempDirs.sweep()
        r.layers("tempdirs.left") = Option(new java.io.File(
          System.getProperty("java.io.tmpdir")).listFiles()).getOrElse(Array.empty)
          .count(_.getName.startsWith("graft-")).toDouble
        r.layers("trace.wall_s") = wallS
        opts.get("trace-out").foreach(p => trace.write(Paths.get(p)))
      }
      def obj(kv: Iterable[(String, Double)]): String =
        kv.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
          .mkString("{", ",", "}")
      println(s"""PERFBENCH_RESULT {"attempted":${r.attempted},"failed":${r.failed},""" +
        s""""end_to_end":${obj(e2e)},"per_layer":${obj(r.layers)}}""")
    } finally spark.stop()
  }
}
