package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.EtlJob
import graft.connect.{FileTransfer, JavaNetTransport}
import graft.etl.Stages
import graft.ledger.Ledger
import graft.sources.LookupCsv

/** The `etl_daily` workload: the steady state of a running study. The
  * ledger starts with ~300 nights (~45k recordings) of history; each DAG
  * run ingests the next night's per-site files (~150 recordings, a few
  * percent of them redelivered) and carries them through the seven stages,
  * with live transfer over `JavaNetTransport` to the loopback stub. DAG
  * runs are closed-loop: one starts when the previous one has finished.
  *
  * The pipeline is driven only through `EtlJob.runStage`, stage by stage,
  * so each stage is timed and attributed on its own.
  */
final class EtlDaily(spark: SparkSession, trace: Trace, work: Path, stub: Stub) {
  import EtlDaily._

  private val transport = new JavaNetTransport()
  private val ledgerPath = work.resolve("ledger").toString
  private def ledger = new Ledger(spark, ledgerPath)

  /** One trigger of the seven-task chain. Cleanup always runs, as under the
    * reference's ALL_DONE trigger rule; a stage that throws fails the
    * stages after it. Returns the stage summaries and the failed stages.
    */
  private def dagRun(opts: Map[String, String]): (Map[String, Long], Int) = {
    val summary = scala.collection.mutable.Map.empty[String, Long]
    def stage(s: String): Boolean =
      try { trace.span(s"etl.$s")(summary ++= EtlJob.runStage(spark, s, opts, transport)); true }
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] stage $s failed: $e")
          false
      }
    val chain = EtlJob.stageNames.filterNot(_ == "cleanup")
    val done = chain.takeWhile(stage).size
    val cleaned = stage("cleanup")
    (summary.toMap, chain.size - done + (if (cleaned) 0 else 1))
  }

  /** Ledger state: rows, non-null counts of the four columns the chain
    * fills, and uploaded rows. Summed deltas count the useful row changes
    * the ledger writes were made for.
    */
  private def state(): Array[Long] = trace.span("trace.state") {
    val r = ledger.read().agg(count(lit(1)), count(col("device_serial")),
      count(col("device_id")), count(col("patient_id")), count(col("dmp_id")),
      sum(col("is_uploaded").cast("long"))).head()
    Array.tabulate(6)(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  def run(seed: Long, seconds: Double): Result = {
    val spec = studySpec(seed)
    val files = trace.span("setup.generate")(
      Study.write(spark, spec, work.resolve("study").toString, firstNight = HistoryNights))
    trace.span("setup.ledger_init")(ledger.init(Study.history(spark, files, HistoryNights)))
    val opts = Map(
      "ledger" -> ledgerPath,
      "uid-serial" -> files.uidSerial, "serial-id" -> files.serialId,
      "assignments" -> files.assignments,
      "workdir" -> work.resolve("transfer").toString,
      "drm-base" -> s"${stub.url}/drm", "drm-jwt-url" -> s"${stub.url}/drm/token",
      "drm-user" -> "bench", "drm-pass" -> "bench",
      "dmp-url" -> s"${stub.url}/dmp/graphql", "dmp-jwt-url" -> s"${stub.url}/dmp/token",
      "dmp-user" -> "bench", "dmp-pass" -> "bench", "dmp-dataset" -> "BENCH")
    def nightOpts(n: Int) = opts ++ Map(
      "incoming" -> (0 until spec.sites).map(files.incoming(n, _)).mkString("\u0000"),
      "today" -> Study.dayString(n + 1))

    // No warm-up DAG run: the timed run is the first in the session, as a
    // DAG run is under `EtlJob run`, where each trigger is a fresh
    // spark-submit. Generating the study and initialising the ledger have
    // already warmed the JVM's parquet and codegen paths.
    val setupDone = System.nanoTime()

    val before = if (trace.enabled) state() else Array.emptyLongArray
    val stubBefore = stub.stats()
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var night = HistoryNights
    var failed = 0L
    var attempted = 0L
    var groupsAttempted = 0L
    var groupsUploaded = 0L
    val t0 = System.nanoTime()
    // stops early only if a DAG run ever takes under seconds / TimedNights
    while ((lat.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) && night < spec.nights) {
      val s = System.nanoTime()
      val (summary, f) = trace.span("dag_run")(dagRun(nightOpts(night)))
      lat += (System.nanoTime() - s) / 1e9
      failed += f
      attempted += EtlJob.stageNames.size
      groupsAttempted += summary.getOrElse("pending_groups", 0L)
      groupsUploaded += summary.getOrElse("uploaded_groups", 0L)
      night += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val stubAfter = stub.stats()
    val heap = trace.span("heap")(Heap.retainedMb())
    val after = if (trace.enabled) state() else Array.emptyLongArray

    // records carried to their terminal ledger state: every timed night's
    // new recordings, resolved, grouped and uploaded, or left unresolved
    // where the truth says so
    val truth = spark.read.parquet(files.truth)
    val timedNights = col("night") >= HistoryNights && col("night") < night
    val timedRecords = truth.filter(timedNights).count()
    val checks = trace.span("check")(Checks.etl(spark, ledger.read(),
      truth.filter(col("night") < night), truth.filter(timedNights), stubAfter))

    val r = Result(setupDone, wall, lat.size, lat.toSeq, records = timedRecords,
      attempted = attempted + groupsAttempted + checks.attempted,
      failed = failed + (groupsAttempted - groupsUploaded) + checks.failed,
      heapMb = heap)
    if (trace.enabled) r.layers ++= layers(files, nightOpts(night - 1), before, after,
      stubAfter.since(stubBefore), lat.size, groupsAttempted - groupsUploaded)
    r
  }

  /** Per-layer metrics: listener counts and spans of the timed DAG runs,
    * stub counters, then probes of the ledger, `etl.Stages` and `connect`
    * on the workload's own data. Per-run figures are means over the timed
    * DAG runs.
    */
  private def layers(files: Study.Files, opts: Map[String, String],
                     before: Array[Long], after: Array[Long], timedStub: Stub.Stats,
                     dagRuns: Int, failedGroups: Long): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val l = trace.listener
    EtlJob.stageNames.foreach { s =>
      m(s"etl.$s.s") = trace.seconds(s"etl.$s") / dagRuns
      m(s"etl.$s.jobs") = l.sum(_ == s"etl.$s").jobs.toDouble / dagRuns
    }
    // every Spark output of a DAG run is a ledger write
    val etlGroups = (g: String) => g.startsWith("etl.")
    val writes = l.sum(etlGroups)
    m("spark.jobs") = writes.jobs.toDouble / dagRuns
    val changed = before.indices.map(i => after(i) - before(i)).sum
    m("ledger.rows_written_per_row_changed") =
      if (changed > 0) writes.recordsWritten.toDouble / changed else 0.0
    m("ledger.mb_written") = writes.bytesWritten / 1e6 / dagRuns
    m("ledger.jobs") = l.sum(etlGroups, _.startsWith("Ledger")).jobs.toDouble / dagRuns
    val (nFiles, nBytes) = diskUsage(Paths.get(ledgerPath))
    m("ledger.files") = nFiles.toDouble
    m("ledger.bytes_per_row") = nBytes.toDouble / after(0)

    // ledger probes on a copy, with an update the size of one daily delta
    val copy = work.resolve("ledger_probe")
    copyTree(Paths.get(ledgerPath), copy)
    val probe = new Ledger(spark, copy.toString)
    val delta = probe.read().filter(col("dmp_id").isNotNull)
      .orderBy("hash").limit(ProbeDelta).cache()
    delta.count()
    m("ledger.merge_s") = timed(trace.span("probe.ledger.merge")(
      probe.mergeNoOverride(delta.select("hash", "device_serial"), Seq("device_serial"))))
    m("ledger.mark_uploaded_s") = timed(trace.span("probe.ledger.mark_uploaded")(
      probe.markUploaded(delta.select("dmp_id"))))
    m("ledger.read_s") = timed(trace.span("probe.ledger.read")(force(probe.read())))
    delta.unpersist()
    FileTransfer.rmTree(copy)

    // etl.Stages probes: each public stage function over the workload's
    // ledger and last night's files, forced in full by a noop write
    val cur = ledger.read()
    val incoming = opts("incoming").split('\u0000').toSeq.map(spark.read.parquet(_))
      .reduce(_.unionByName(_))
    val probes = Seq[(String, () => DataFrame)](
      "ingestDedup" -> (() => Stages.ingestDedup(incoming, cur)),
      "resolveSerials" -> (() => Stages.resolveSerials(cur,
        LookupCsv.read(spark, files.uidSerial, "uid", "serial"))),
      "resolveDeviceIds" -> (() => Stages.resolveDeviceIds(cur,
        LookupCsv.read(spark, files.serialId, "serial", "device_id"))),
      "resolvePatients" -> (() => Stages.resolvePatients(cur,
        spark.read.parquet(files.assignments), opts("today"))),
      "groupRecords" -> (() => Stages.groupRecords(cur, "12:00:00")),
      "uploadManifest" -> (() => Stages.uploadManifest(cur)))
    probes.foreach { case (name, df) =>
      m(s"stages.$name.s") = timed(trace.span(s"probe.stages.$name")(force(df())))
    }
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    m("stages.exec_cpu_s") = l.sum(_.startsWith("probe.stages.")).cpuNs / 1e9

    // connect: stub counters over the timed runs, then probes of the
    // fetch, zip, checksum and upload paths against the stub
    m("connect.requests") = timedStub.requests.toDouble / dagRuns
    m("connect.token_requests_per_upload") =
      if (timedStub.uploads > 0) timedStub.tokenRequests.toDouble / timedStub.uploads else 0.0
    m("connect.download_mb") = timedStub.downloadBytes / 1e6 / dagRuns
    m("connect.upload_mb") = timedStub.uploadBytes / 1e6 / dagRuns
    m("connect.transfer_tasks") = l.transferTasks(etlGroups).toDouble / dagRuns
    m("connect.failed") = (failedGroups + timedStub.invalidUploads).toDouble
    m ++= connectProbes(files, opts)
    m.toMap
  }

  private def connectProbes(files: Study.Files, opts: Map[String, String]): Map[String, Double] = {
    import spark.implicits._
    val refs = spark.read.parquet(files.truth).select("manufacturer_ref")
      .orderBy("manufacturer_ref").limit(ProbeFiles).as[String].collect().toSeq
    val (fetch, push) = EtlJob.liveTransfer(opts, transport)
    // zipFolder names the bundle after the folder, which Dmp.upload parses
    // as patient-device-start-end
    val dir = Files.createDirectories(
      work.resolve("probe_transfer").resolve("PROBE-DRM00000-20240101-20240102"))
    val fetchS = timed(trace.span("probe.connect.fetch")(
      refs.foreach(r => require(fetch(r, dir.resolve(s"$r.h5")), s"probe fetch of $r"))))
    val bytes = diskUsage(dir)._2
    var zip: Path = null
    val zipS = timed(trace.span("probe.connect.zip") { zip = FileTransfer.zipFolder(dir) })
    val zipBytes = Files.size(zip)
    val shaS = timed(trace.span("probe.connect.sha256")(FileTransfer.sha256File(zip)))
    var ok = false
    val upS = timed(trace.span("probe.connect.upload") { ok = push("probe", zip) })
    require(ok, "probe upload to the stub failed")
    FileTransfer.rmTree(work.resolve("probe_transfer"))
    Map("connect.fetch_mb_per_s" -> bytes / 1e6 / fetchS,
      "connect.zip_mb_per_s" -> bytes / 1e6 / zipS,
      "connect.sha256_mb_per_s" -> zipBytes / 1e6 / shaS,
      "connect.upload_mb_per_s" -> zipBytes / 1e6 / upS)
  }
}

object EtlDaily {
  /** Nights of history the ledger starts with. */
  val HistoryNights = 300
  /** New nights generated for the timed DAG runs (one per run). */
  val TimedNights = 16
  /** Rows in each ledger probe's update: about one night's delta. */
  val ProbeDelta = 150
  /** Files the connect probes fetch, zip, checksum and upload. */
  val ProbeFiles = 200

  /** ~160 devices over 2 sites, a new patient every 2–5 weeks, ~93% of
    * nights recorded: ~150 recordings a night, ~45k over the history, so a
    * night is ~0.3% of the ledger. 1% of
    * recordings lack a uid, 2% of devices have a serial the serial→id table
    * does not know, handover and gap nights have no patient, and each
    * night's files redeliver ~3% of earlier recordings.
    */
  def studySpec(seed: Long): Study.Spec = Study.Spec(seed = seed, devices = 160,
    sites = 2, nights = HistoryNights + TimedNights, periodMin = 14, periodMax = 35,
    gapProb = 0.3, gapMax = 3, pRecord = 0.93, pNullUid = 0.01,
    unknownSerialFrac = 0.02, redeliveryFrac = 0.03)

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  /** (number of data files, total bytes) under `dir`. */
  def diskUsage(dir: Path): (Long, Long) = {
    val walk = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      val fs = walk.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally walk.close()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach(p => Files.copy(p, dst.resolve(src.relativize(p).toString)))
    finally walk.close()
  }
}
