package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks, run outside timing. Each check is one attempted
  * operation; a violated check is one failed operation and is described on
  * stderr.
  */
object Checks {
  final case class Outcome(attempted: Long, failed: Long)

  /** The ledger against the generator's ground truth, and the groups the
    * stub received against the groups that were due. With no upload limit
    * every group is due by the end of its DAG run, so a row is uploaded
    * exactly when its truth has a group.
    *
    * @param truth    truth rows of every night delivered so far
    * @param uploaded truth rows of the nights whose groups the stub must
    *                 have received
    */
  def etl(spark: SparkSession, ledger: DataFrame, truth: DataFrame,
          uploaded: DataFrame, stub: Stub.Stats): Outcome = {
    import spark.implicits._
    var attempted = 0L
    var failed = 0L
    def check(what: String, violations: Long): Unit = {
      attempted += 1
      if (violations != 0) {
        failed += 1
        System.err.println(s"[perfbench] check failed: $what ($violations violations)")
      }
    }

    check("duplicate hashes", ledger.filter(col("hash").isNotNull)
      .groupBy("hash").count().filter(col("count") > 1).count())

    def n(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val r = ledger.as("l").join(truth.as("t"), Seq("manufacturer_ref"), "full_outer")
      .agg(
        n(col("l.hash").isNull || col("t.night").isNull),
        n(!(col("l.device_serial") <=> col("t.t_serial")) ||
          !(col("l.device_id") <=> col("t.t_device")) ||
          !(col("l.patient_id") <=> col("t.t_patient")) ||
          !(col("l.dmp_id") <=> col("t.t_dmp"))),
        n(!(col("l.is_uploaded") <=> col("t.t_dmp").isNotNull)))
      .head()
    check("ledger rows missing or unexpected", r.getLong(0))
    check("enrichment differs from truth", r.getLong(1))
    check("is_uploaded differs from the groups that were due", r.getLong(2))

    val due = uploaded.filter(col("t_dmp").isNotNull)
      .groupBy("t_dmp").agg(sort_array(collect_list("manufacturer_ref")).as("refs"))
      .as[(String, Seq[String])].collect().toMap
    check("groups received by the stub differ from the groups due",
      (due.keySet ++ stub.groups.keySet).count(g =>
        !stub.groups.get(g).contains(due.getOrElse(g, Nil))).toLong)
    check("uploads the stub rejected", stub.invalidUploads)
    Outcome(attempted, failed)
  }
}
