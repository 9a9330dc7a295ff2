package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Accessor for the `private[sql]` Column↔Expression conversions in
  * Spark 4's classic API (`org.apache.spark.sql.classic.ExpressionUtils`).
  * Needed to register dialect functions as native expression builders
  * (graft.functions.Registry) without any UDF indirection. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a transformed logical plan (`Dataset.ofRows` is
    * `private[sql]`). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until queued listener-bus events are delivered
    * (`SparkContext.listenerBus` is `private[spark]`): task-metric
    * listeners (spill telemetry) are asynchronous, so a before/after
    * metric snapshot around a job must drain the bus on both sides.
    * `waitUntilEmpty` gives up after 10 s — a congested bus must not
    * turn a SUCCESSFUL materialization into a recorded failure, so a
    * timeout degrades to slightly-misattributed spill bytes instead of
    * propagating. */
  def drainListenerBus(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => }

  /** Whether EVERY partition of `rddId` is present in the block store —
    * the exact, SYNCHRONOUS materialization probe for locally
    * checkpointed relations. `SparkContext.getRDDStorageInfo` reads the
    * AppStatusStore, which is fed by the async listener bus with
    * throttled (~100 ms) live-entity updates, so it can report a
    * just-cached RDD as uncached; the BlockManagerMaster is the ground
    * truth the block reads themselves go through. */
  def rddFullyCached(spark: SparkSession, rddId: Int,
      numPartitions: Int): Boolean = {
    val master = spark.sparkContext.env.blockManager.master
    (0 until numPartitions).forall(i => master
      .getLocations(org.apache.spark.storage.RDDBlockId(rddId, i))
      .nonEmpty)
  }

  /** The session's Hadoop configuration, as Spark's own file reads use. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Whether `key` was EXPLICITLY set on this session (SQLConf's
    * settings map holds only set values; `conf.getOption` returns
    * registered defaults too, so it cannot distinguish "user chose the
    * default value" from "never touched"). Used by engine-default
    * seeding that must never override a deployment's explicit choice. */
  def isConfSet(spark: SparkSession, key: String): Boolean =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.conf.settings.containsKey(key)
}
