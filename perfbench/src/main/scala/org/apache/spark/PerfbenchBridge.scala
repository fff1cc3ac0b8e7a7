package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Spark internals the harness reads, which Spark keeps package-private. */
object PerfbenchBridge {
  /** Block until every listener event posted so far has been handled:
    * events are delivered asynchronously, so counters are read only after
    * this.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Names of the operator scopes whose RDDs a stage runs, e.g.
    * "MapPartitions" for a `Dataset.mapPartitions`.
    */
  def scopeNames(stage: StageInfo): Seq[String] =
    stage.rddInfos.flatMap(_.scope.map(_.name))
}
