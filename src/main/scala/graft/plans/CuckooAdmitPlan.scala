package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, Literal, Pmod}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

import graft.frontier.LongOpenHashSet

/** Whole-operator form of the frontier admission step (SURVEY §2.9 item 3,
  * the "optional `SparkStrategy`" axis): a custom logical operator +
  * planner strategy + physical operator, so first-seen admission shows up
  * in `explain()` as its own node instead of an opaque
  * `flatMapGroupsWithState`/`flatMapGroups`.
  *
  * Semantics: emit exactly the first row seen for each value of `keyExpr`
  * (a 64-bit key, e.g. `xxhash64(canonicalize_domain(col))`), tracked by a
  * per-partition *exact* [[LongOpenHashSet]] of full keys — not the crawl's
  * [[graft.frontier.CuckooFilter]], whose fingerprint false-positives would
  * silently drop the only row for a key and break the operator's documented
  * `dropDuplicates` equivalence (q39 oracle). A null key is a key of its
  * own: the first null-keyed row is kept, later ones dropped, matching
  * `dropDuplicates`' null-equals-null grouping.
  *
  * `requiredChildDistribution` demands clustering by
  * `pmod(key, partitions)` with exactly `partitions` partitions, so
  * Catalyst plans the shuffle (or elides it when the child is already
  * co-partitioned — the property the mapGroups form can't express) and
  * every key meets exactly one set shard.
  *
  * Within a partition the kept row for a key is the first in partition
  * order, as in `Engine.admitUnseen`, which streams each filter partition's
  * run of entries through that partition's filter. The crawl's admission
  * is co-partitioned another way: it runs in the stage of its dedup's
  * `pmod(key, P)` exchange, after a coalesce Catalyst cannot see through,
  * so it checks a mark the dedup leaves on its plan instead of requiring
  * a distribution.
  */
case class CuckooAdmit(
    keyExpr: Expression,
    partitions: Int,
    capacityPerPartition: Long,
    child: LogicalPlan) extends UnaryNode {
  require(partitions > 0, "CuckooAdmit: partitions must be positive")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  // Surface a non-Long key at analysis time (vague "unresolved plan"
  // beats a runtime ClassCastException inside doExecute; admitFirstSeen
  // raises the precise message before the plan is even built).
  override lazy val resolved: Boolean =
    childrenResolved && keyExpr.resolved && keyExpr.dataType == LongType
  override protected def withNewChildInternal(newChild: LogicalPlan): CuckooAdmit =
    copy(child = newChild)
}

case class CuckooAdmitExec(
    keyExpr: Expression,
    partitions: Int,
    capacityPerPartition: Long,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(
      Pmod(keyExpr, Literal(partitions.toLong)) :: Nil,
      requireAllClusterKeys = false,
      requiredNumPartitions = Some(partitions)) :: Nil

  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val bound = BindReferences.bindReference(keyExpr, child.output)
    val cap = capacityPerPartition
    child.execute().mapPartitions({ it =>
      val initial = math.min(math.max(cap / 64, 1L << 10), 1L << 20).toInt
      val seen = new LongOpenHashSet(initial)
      var seenNull = false
      it.filter { row =>
        val v = bound.eval(row)
        if (v == null) {
          if (seenNull) false else { seenNull = true; true }
        } else seen.add(v.asInstanceOf[Long])
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): CuckooAdmitExec =
    copy(child = newChild)
}

/** Plans [[CuckooAdmit]] → [[CuckooAdmitExec]]; injected via
  * `SparkSessionExtensions.injectPlannerStrategy` ([[graft.GraftExtensions]])
  * or `spark.experimental.extraStrategies` (self-registered by
  * [[GraftOps.admitFirstSeen]]).
  */
object CuckooAdmitStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CuckooAdmit(k, p, c, child) =>
      CuckooAdmitExec(k, p, c, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Dataset-API surface for the custom operator. */
object GraftOps {

  /** Keep only the first row per `key` (a LongType column — hash upstream
    * with `xxhash64`/`domain_key`). Plans as [[CuckooAdmitExec]] behind a
    * Catalyst-planned hash repartition on `pmod(key, partitions)`.
    * Exactly equivalent to `dropDuplicates` on the key (nulls group
    * together); the kept row per key is the partition-first.
    */
  def admitFirstSeen(df: DataFrame, key: Column, partitions: Int = 32,
      capacityPerPartition: Long = 1L << 20): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(CuckooAdmitStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ CuckooAdmitStrategy
    // Resolve the key against this df to type-check it eagerly — the
    // unresolved-column case previously slipped through to a runtime
    // ClassCastException inside doExecute.
    val keyType = df.select(key).schema.head.dataType
    require(keyType == LongType,
      s"admitFirstSeen: key must be a LongType column, got $keyType")
    val keyE = GraftSqlBridge.toExprEager(key)
    GraftSqlBridge.ofRows(spark,
      CuckooAdmit(keyE, partitions, capacityPerPartition,
        df.queryExecution.analyzed))
  }
}
