package org.apache.spark.sql

import java.io.CharArrayWriter

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType, TemporaryViewRelation}
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** The handful of `private[sql]` internals graft's deferred-view leaf
  * and serving session need, exposed through the standard library-shim
  * pattern (a tiny object compiled into the `org.apache.spark.sql`
  * package — the same technique public Spark connectors use). Everything
  * here is a thin forwarder; all logic lives in `graft.plans.DeferredView`
  * and `graft.ServingHttp`.
  */
object GraftSqlShim {

  private def classicSession(s: SparkSession): classic.SparkSession =
    s.asInstanceOf[classic.SparkSession]

  /** A child session of `s`: same SparkContext, shared state and cache
    * manager, and a snapshot of `s`'s SQL conf, function registry, temp
    * views and experimental strategies taken now (`cloneSession`). Later
    * changes to either session do not reach the other. */
  def cloneSession(s: SparkSession): SparkSession =
    classicSession(s).cloneSession()

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows`). */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classicSession(s), plan)

  /** `df.toJSON.collect()` with the JSON written on the driver: the
    * executed plan's rows are collected as one SQL execution, then each
    * is written by the generator `Dataset.toJSON` uses in its tasks (same
    * schema, same default options, same session time zone), so every
    * string is byte-identical. Rows that are already on the driver (a
    * plan folded into a `LocalRelation`) need no Spark job, where
    * `toJSON`'s `MapPartitions` would launch one. */
  def collectJson(df: DataFrame): Array[String] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rows = collectInternal(df)
    val writer = new CharArrayWriter()
    val gen = new JacksonGenerator(ds.schema, writer,
      new JSONOptions(Map.empty[String, String], ds.sparkSession.sessionState.conf.sessionLocalTimeZone))
    try rows.map { row =>
      writer.reset()
      gen.write(row)
      gen.flush()
      writer.toString
    } finally gen.close()
  }

  /** The executed plan's rows, collected as one SQL execution, in
    * Spark's internal form: strings stay the `UTF8String` bytes Spark
    * compares and hashes, where `collect()` would decode them. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** The executed plan's InternalRow RDD — the physical hand-off a
    * custom leaf exec node returns from `doExecute`. */
  def toRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** Runtime strategy injection point (`spark.experimental`). */
  def experimental(s: SparkSession): ExperimentalMethods =
    classicSession(s).experimental

  /** A DataFrame's analyzed logical plan — what a stored-plan temp view
    * keeps, and what the deferred-view pass-through re-registers once a
    * build has produced the concrete frame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** The logical plan currently stored for temp view `name`, if any —
    * lets a deferred view's post-build re-registration verify the
    * catalog still holds ITS node before overwriting (a newer
    * registration under the same name must win). */
  def tempViewPlan(s: SparkSession, name: String): Option[LogicalPlan] =
    classicSession(s).sessionState.catalog.getRawTempView(name).collect {
      case TemporaryViewRelation(_, Some(plan)) => plan
    }

  /** Register `plan` as a temp view WITHOUT analyzing it (the
    * `createOrReplaceTempView` path analyzes eagerly, which would force
    * a deferred leaf to resolve its schema — and so run its builds — at
    * registration time). The stored-analyzed-plan temp-view shape is
    * what `CreateViewCommand` itself produces; the catalog-table schema
    * is left empty because resolution takes the view's output from the
    * stored plan, not the metadata (the metadata schema only feeds
    * DESCRIBE cosmetics). */
  def registerTempView(s: SparkSession, name: String,
      plan: LogicalPlan): Unit = {
    val meta = CatalogTable(
      identifier = TableIdentifier(name),
      tableType = CatalogTableType.VIEW,
      storage = CatalogStorageFormat.empty,
      schema = new StructType(),
      // TemporaryViewRelation requires this marker when a plan is stored
      // — it is exactly what we are: a view serving a stored plan
      properties = Map(CatalogTable.VIEW_STORING_ANALYZED_PLAN -> "true"))
    classicSession(s).sessionState.catalog.createTempView(name,
      TemporaryViewRelation(meta, Some(plan)), overrideIfExists = true)
  }
}
