package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Thin bridge into Spark's `private[sql]` Column <-> Expression APIs.
  * Lives under `org.apache.spark.sql` so the compiler grants package
  * access; everything else in the library stays in `graft.*` and goes
  * through this object only.
  */
/** (double, bigint) input contract with analyzer-inserted widening casts.
  * Lives here because `AbstractDataType` is `private[sql]` — graft code
  * can extend the trait but cannot name the type in a signature. */
trait DoubleLongInputTypes
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.DoubleType, org.apache.spark.sql.types.LongType)
}

/** Single-bigint input contract with analyzer-inserted widening casts
  * (same motivation as [[DoubleLongInputTypes]]). */
trait LongInputTypes
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.LongType)
}

object Shims {
  /** Wrap a raw Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function builder on a live session (so
    * `expr("graft_l2(a,b)")` / spark.sql work without extensions). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Block until every event posted so far has reached the session's
    * listeners (the listener bus is `private[spark]`). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A clone of `spark` (same context and caches, a copy of its
    * runtime conf) with `conf` set on the clone alone. Frames moved
    * onto it with [[onSession]] plan under that conf while `spark`,
    * which concurrent queries may share, keeps its own. */
  def cloneWith(spark: SparkSession, conf: (String, String)*): SparkSession = {
    val c = spark.asInstanceOf[classic.SparkSession].cloneSession()
    conf.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** `df`'s plan as a frame of session `s`: every frame derived from
    * it is planned under `s`'s conf. */
  def onSession(s: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq s) df
    else classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** The parquet schema and footer entries Spark's parquet writer gives
    * a file of `schema` under `spark`'s conf: the converter
    * `ParquetWriteSupport` uses (three-level lists, the session's
    * timestamp and legacy-format settings), the Spark version and the
    * Catalyst schema its reader prefers over the parquet one. */
  def parquetLayout(spark: SparkSession, schema: org.apache.spark.sql.types.StructType)
      : (org.apache.parquet.schema.MessageType, Map[String, String]) = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetReadSupport, SparkToParquetSchemaConverter}
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    (new SparkToParquetSchemaConverter(conf).convert(schema),
      Map(org.apache.spark.sql.SPARK_VERSION_METADATA_KEY ->
          org.apache.spark.SPARK_VERSION_SHORT,
        ParquetReadSupport.SPARK_METADATA_KEY -> schema.json))
  }

  /** Apply an extensions object's injected functions to a LIVE session —
    * `withExtensions` only takes effect for newly built sessions, so this
    * is the path for attaching to an existing one (and for testing the
    * extension registrations without tearing down the shared context). */
  def applyFunctionExtensions(spark: SparkSession,
      f: org.apache.spark.sql.SparkSessionExtensions => Unit): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    f(ext)
    ext.registerFunctions(spark.sessionState.functionRegistry)
  }
}
