package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}

/** Column ↔ Catalyst Expression bridge for custom expressions.
  *
  * Spark 4 made the classic converters `private[sql]`
  * (`columnNodeSupport.scala` in the spark-sql module), so libraries adding
  * native `Expression`s need a shim compiled inside the `org.apache.spark
  * .sql` package tree — the established extension pattern (same technique
  * used by public Spark connectors for other `private[sql]` surfaces). */
object Bridge {
  def column(e: Expression): Column =
    Column(ExpressionColumnNode(e))

  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** Whether the session's CacheManager holds NO persisted plans —
    * observability for cache-ownership contracts (e.g. the per-shard
    * dedup loop must release every cache it creates; a leaked persist
    * accumulates across shards). `sharedState.cacheManager` is
    * `private[sql]` in Spark 4 — same shim rationale as above. */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Catalog metadata of a table — what [[graft.util.CatalogStore]]
    * reads a store's layout, family and location from.
    * `sessionState` is `private[sql]` in Spark 4 — same shim rationale
    * as above. */
  private def metadata(spark: org.apache.spark.sql.SparkSession,
                       table: String) = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    ss.catalog.getTableMetadata(ss.sqlParser.parseTableIdentifier(table))
  }

  /** The bucket count of a catalog table, if it is bucketed. */
  def bucketCount(spark: org.apache.spark.sql.SparkSession,
                  table: String): Option[Int] =
    metadata(spark, table).bucketSpec.map(_.numBuckets)

  /** A table property of a catalog table, if present. */
  def tableProperty(spark: org.apache.spark.sql.SparkSession,
                    table: String, key: String): Option[String] =
    metadata(spark, table).properties.get(key)

  /** The storage location of a catalog table, if set. */
  def tableLocation(spark: org.apache.spark.sql.SparkSession,
                    table: String): Option[java.net.URI] =
    Option(metadata(spark, table).storage.locationUri).flatten

  /** DataFrame over a custom LogicalPlan (`Dataset.ofRows` is
    * `private[sql]` in Spark 4 — same shim rationale as above; used by
    * the native whole-operator plans in `graft.plans`). */
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
