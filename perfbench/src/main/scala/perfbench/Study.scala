package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of a sleep study: devices spread over sites, patients
  * re-assigned to devices every few days or weeks, nightly recordings with
  * dropouts. Everything about one device follows from (seed, device), so
  * the generator runs as a plain Spark job and the same seed always yields
  * the same files.
  *
  * Alongside the inputs the pipeline reads, it emits the ground truth the
  * checks compare the ledger against. The truth is derived from the
  * generator's own model of who wore what when, never from program code.
  */
object Study {

  /** Knobs of one generated study. Days count from 2024-01-01 (day 0). */
  final case class Spec(
      seed: Long,
      devices: Int,
      sites: Int,
      nights: Int,
      periodMin: Int,
      periodMax: Int,
      gapProb: Double,
      gapMax: Int,
      pRecord: Double,
      pNullUid: Double,
      unknownSerialFrac: Double,
      redeliveryFrac: Double)

  /** One emitted incoming row plus its ground truth. `kind` is "new", or
    * "redelivery" for an earlier night's recording delivered again.
    */
  final case class Rec(
      night: Int, site: Int, kind: String,
      manufacturer_ref: String, device_type: String,
      start: Timestamp, end: Timestamp, meta: Map[String, String],
      t_serial: String, t_device: String, t_patient: String, t_dmp: String)

  final case class Assignment(device_id: String, patient_id: String,
                              start_wear: Timestamp, end_wear: Timestamp)

  final case class Device(uid: String, serial: String, deviceId: String,
                          registered: Boolean, site: Int)

  private val DaySec: Long = 86400L
  private val epoch0: Long =
    java.time.LocalDate.of(2024, 1, 1).toEpochDay * DaySec

  def dayTs(day: Int, secOfDay: Long = 0L): Timestamp =
    new Timestamp((epoch0 + day.toLong * DaySec + secOfDay) * 1000L)

  def dayString(day: Int): String =
    java.time.LocalDate.ofEpochDay(epoch0 / DaySec + day).toString

  private def yyyymmdd(day: Long): String =
    java.time.LocalDate.ofEpochDay(epoch0 / DaySec + day)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)

  private def rng(spec: Spec, device: Int, stream: Int): SplittableRandom =
    new SplittableRandom(spec.seed * 0x9E3779B97F4A7C15L + device * 31L + stream)

  def device(spec: Spec, d: Int): Device = {
    val r = rng(spec, d, 1)
    Device(uid = f"U${spec.seed}%dx$d%05d", serial = f"SN$d%05d",
      deviceId = f"DRM-$d%05d",
      registered = r.nextDouble() >= spec.unknownSerialFrac,
      site = d % spec.sites)
  }

  /** Wear periods of one device as (patient, firstDay, lastDay); the last
    * period is open-ended (lastDay = Int.MaxValue) and covers the horizon.
    * A new period starts the day after the previous one ends, or after a
    * gap of up to `gapMax` days; the handover night itself is covered by
    * neither period, so its recording stays without a patient.
    */
  def periods(spec: Spec, d: Int): Seq[(String, Int, Int)] = {
    val r = rng(spec, d, 2)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    var c = -r.nextInt(spec.periodMax)
    var k = 0
    while (c < spec.nights + 1) {
      val len = spec.periodMin + r.nextInt(spec.periodMax - spec.periodMin + 1)
      val last = c + len - 1
      val patient = f"P$d%05dx$k%03d"
      if (last >= spec.nights + 1) out += ((patient, c, Int.MaxValue))
      else out += ((patient, c, last))
      c = last + 1 + (if (r.nextDouble() < spec.gapProb) 1 + r.nextInt(spec.gapMax) else 0)
      k += 1
    }
    out.toSeq
  }

  def assignments(spec: Spec, d: Int): Seq[Assignment] = {
    val dev = device(spec, d)
    periods(spec, d).map { case (p, first, last) =>
      Assignment(dev.deviceId, p, dayTs(first, 9 * 3600L),
        if (last == Int.MaxValue) null else dayTs(last, 18 * 3600L))
    }
  }

  /** Every incoming row device `d` produces over the study's nights. */
  def records(spec: Spec, d: Int): Seq[Rec] = {
    val dev = device(spec, d)
    val ps = periods(spec, d)
    val r = rng(spec, d, 3)
    val out = scala.collection.mutable.ArrayBuffer.empty[Rec]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Rec]
    var n = 0
    while (n < spec.nights) {
      if (r.nextDouble() < spec.pRecord) {
        val startSec = 20 * 3600L + r.nextLong(5 * 3600L)
        val durSec = 5 * 3600L + r.nextLong(4 * 3600L)
        val start = dayTs(n, startSec)
        val end = dayTs(n, startSec + durSec)
        val nullUid = r.nextDouble() < spec.pNullUid
        val uid = if (nullUid) null else dev.uid
        val startDay = Math.floorDiv(start.getTime / 1000 - epoch0, DaySec)
        val endDay = Math.floorDiv(end.getTime / 1000 - epoch0, DaySec)
        val serial = if (uid == null) null else dev.serial
        val deviceId = if (serial != null && dev.registered) dev.deviceId else null
        // containment on whole days: the period must cover both the day
        // the recording starts and the day it ends
        val patient = if (deviceId == null) null else ps.collectFirst {
          case (p, first, last) if first <= startDay && endDay <= last => p
        }.orNull
        val dmp = if (patient == null) null else {
          val beforeCut = (start.getTime / 1000 - epoch0) % DaySec < 12 * 3600L
          val bs = if (beforeCut) startDay - 1 else startDay
          s"${deviceId.replace("-", "")}-${patient.replace("-", "")}-" +
            s"${yyyymmdd(bs)}-${yyyymmdd(bs + 1)}"
        }
        val rec = Rec(n, dev.site, "new", f"S${spec.seed}%dD$d%05dN$n%04d",
          "DRM", start, end, Map("dreem_uid" -> uid), serial, deviceId,
          patient, dmp)
        out += rec
        seen += rec
      }
      if (seen.size > 1 && r.nextDouble() < spec.redeliveryFrac) {
        val old = seen(r.nextInt(seen.size - 1))
        out += old.copy(night = n, kind = "redelivery")
      }
      n += 1
    }
    out.toSeq
  }

  /** Generated study on disk: one parquet leaf of incoming recordings per
    * (night, site), `incoming/night=<n>/site=<s>`, for the nights the
    * pipeline has still to ingest.
    */
  final case class Files(root: String) {
    def incoming(night: Int, site: Int): String = s"$root/incoming/night=$night/site=$site"
    def truth: String = s"$root/truth"
    def uidSerial: String = s"$root/uid_serial.csv"
    def serialId: String = s"$root/serial_id.csv"
    def assignments: String = s"$root/assignments"
  }

  /** Write inputs and ground truth for `spec` under `root`; incoming files
    * only from `firstNight` on (earlier nights are history).
    */
  def write(spark: SparkSession, spec: Spec, root: String, firstNight: Int): Files = {
    import spark.implicits._
    val files = Files(root)
    val ids = spark.range(0L, spec.devices.toLong, 1L,
      math.max(1, spark.sparkContext.defaultParallelism)).as[Long]
    val recs = ids.flatMap(d => records(spec, d.toInt)).cache()
    recs.filter($"night" >= firstNight)
      .select($"night", $"site", $"manufacturer_ref", $"device_type", $"start",
        $"end", $"meta")
      .write.partitionBy("night", "site").parquet(s"$root/incoming")
    recs.filter($"kind" === "new")
      .select($"night", $"manufacturer_ref", $"device_type", $"start",
        $"end", $"meta", $"t_serial", $"t_device", $"t_patient", $"t_dmp")
      .write.parquet(files.truth)
    recs.unpersist()
    ids.flatMap(d => assignments(spec, d.toInt)).coalesce(1)
      .write.parquet(files.assignments)
    val devs = (0 until spec.devices).map(device(spec, _))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(files.uidSerial),
      devs.map(d => s"${d.uid},${d.serial}\n").mkString)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(files.serialId),
      devs.filter(_.registered).map(d => s"${d.serial},${d.deviceId}\n").mkString)
    files
  }

  /** The history a running study already has in its ledger: every record
    * of nights before `nights`, enriched with its truth, and uploaded
    * where it has a group.
    */
  def history(spark: SparkSession, files: Files, nights: Int): DataFrame =
    spark.read.parquet(files.truth)
      .filter(col("night") < nights)
      .select(col("manufacturer_ref"), col("device_type"), col("start"),
        col("end"), col("meta"),
        sha2(concat(col("device_type"), col("manufacturer_ref")), 256).as("hash"),
        col("t_serial").as("device_serial"), col("t_device").as("device_id"),
        col("t_patient").as("patient_id"),
        lit(null).cast("string").as("dmp_dataset"), col("t_dmp").as("dmp_id"),
        col("t_dmp").isNotNull.as("is_uploaded"))
}
