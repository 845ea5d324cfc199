package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.functions.{GraftCachedBatchSerializer, GraftCachedBatchSerializer => GCBS}

/** Columnar-ONLY wrapper over an in-memory cache scan. Spark's
  * transition rule prefers a scan's row path whenever the scan
  * `supportsRowBased` (InMemoryTableScanExec hard-codes true), so the
  * GraftCachedBatchSerializer's zero-copy columnar read — the whole
  * point of the flat-float cache format — would never execute: every
  * consumer would take the serializer's row path and pay a per-row
  * UnsafeProjection. This node declares columnar support only
  * (supportsRowBased defaults to !supportsColumnar = false), which
  * makes the planner insert a codegen'd ColumnarToRow above it; fused
  * into the consuming stage, each row's vector access is then ONE bulk
  * copy off the cached flat float[] (ColumnarArray.toFloatArray →
  * GraftFloatsVector.getFloats) with no row materialization at all. */
case class GraftColumnarCacheScanExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    child.output
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning
  override def outputOrdering: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder] =
    child.outputOrdering
  override def supportsColumnar: Boolean = true
  override def vectorTypes: Option[Seq[String]] = child.vectorTypes
  override protected def doExecute(): RDD[InternalRow] =
    throw new IllegalStateException(
      "GraftColumnarCacheScanExec is columnar-only; the planner must " +
        "insert a ColumnarToRow transition above it")
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    child.executeColumnar()
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Session extension registering ONLY the cache-scan columnar rule —
  * wired via `spark.sql.extensions` by [[graft.GraftSession]] next to
  * the `spark.sql.cache.serializer` static conf. Restricted to scans
  * whose cache is (a) built by the graft serializer and (b) an eligible
  * flat-float schema, so the default serializer's paths (and any
  * delegated cache) are untouched. */
class GraftCacheScanExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
        private def eligibleScan(s: InMemoryTableScanExec): Boolean =
          s.supportsColumnar &&
            s.relation.cacheBuilder.serializer
              .isInstanceOf[GraftCachedBatchSerializer] &&
            GCBS.eligible(s.relation.output.map(_.dataType))
        override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
          // non-AQE (and freshly-planned) shape: the scan appears inline
          case s: InMemoryTableScanExec if eligibleScan(s) =>
            GraftColumnarCacheScanExec(s)
          // AQE shape: the scan rides inside a table-cache query stage,
          // which is a LEAF — transformUp cannot see through it, and the
          // stage delegates supportsRowBased=true, so the row path would
          // win again. Wrap the stage itself.
          case t: org.apache.spark.sql.execution.adaptive.TableCacheQueryStageExec
              if (t.plan match {
                case s: InMemoryTableScanExec => eligibleScan(s)
                case _ => false
              }) =>
            GraftColumnarCacheScanExec(t)
        }
      }
    })
}
