package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** Standing volume-decomposition instrument for the pair engines
  * (r13 verdict #4). The 512× lesson: wall-clock on this host is
  * era-noise-bound (identical queries measured 8–54 s across 3 h),
  * so the numbers that actually grade a pair engine's scaling are its
  * VOLUMES — candidates generated, τ/radius survivors, distinct
  * output — and the r13 round hand-ran spark-shell probes to get
  * them. This makes those counts a product of every instrumented run
  * instead: the pair stages call [[observe]] at their named points,
  * which is a NO-OP (the frame returned untouched, zero plan nodes)
  * unless observation is enabled, so bench wall-clock purity, plan
  * pins, and codegen spans are unaffected by default. When enabled
  * (SPARK_GRAFT_OBSERVE=1, or [[enable]]), each point becomes a
  * `Dataset.observe` CollectMetrics node — an accumulator-backed
  * row count over the rows passing that point, no extra scan, no
  * shuffle — and the harvested counts land in [[snapshot]] keyed by
  * point name. Bench resets/harvests around each query, so its
  * artifact attributes volumes per query; the scaling artifact then
  * asserts candidates ∝ N across decades from measured numbers, with
  * no hand-run probes.
  */
object Volumes {

  @volatile private var enabled = GraftSession.env("SPARK_GRAFT_OBSERVE").contains("1")

  // unique CollectMetrics names per plan (Spark requires uniqueness
  // within a query; reruns of the same query function mint new ones)
  private val seq = new AtomicLong
  private val recorded = new ConcurrentHashMap[String, Long]()
  private val installed =
    java.util.Collections.newSetFromMap(new ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  private val Prefix = "graft_vol::"

  /** Tag `df` with a named row-count observation point. Returns `df`
    * unchanged (and adds NOTHING to the plan) unless observation is
    * enabled.
    */
  def observe(df: DataFrame, point: String): DataFrame =
    if (!enabled) df
    else df.observe(s"$Prefix$point::${seq.incrementAndGet()}", count(lit(1)).as("rows"))

  /** Turn observation on and register the harvesting listener on the
    * session (idempotent). The listener rides the shared async bus —
    * callers that need a consistent [[snapshot]] right after an
    * action should drain the bus first (Bench already does).
    */
  def enable(spark: SparkSession): Unit = {
    enabled = true
    if (installed.add(spark))
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            // record per MINTED name (point::seq): a point whose frame
            // is evaluated more than once between resets (an operator
            // invoked twice in one query, a localCheckpoint
            // materialization plus the final action) must not silently
            // last-write-win — snapshot surfaces the multiplicity
            if (name.startsWith(Prefix)) recorded.put(name.stripPrefix(Prefix), row.getAs[Long]("rows"))
          }
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      })
  }

  def isEnabled: Boolean = enabled

  /** Harvested counts per point name since the last [[reset]]. A point
    * observed under several minted names (re-invocation / re-evaluation)
    * reports the MAX — the fullest row set that passed the point — and
    * shows up in [[multiplicity]] so the ambiguity is visible instead
    * of silently overwritten.
    */
  def snapshot: Map[String, Long] =
    recorded.asScala.toMap.groupBy(_._1.split("::")(0)).map { case (p, m) => p -> m.values.max }

  /** Points harvested under MORE than one minted name since the last
    * reset, with their observation counts — the attribution-ambiguity
    * surface the scaling artifact must not hide.
    */
  def multiplicity: Map[String, Int] =
    recorded.asScala.toMap
      .groupBy(_._1.split("::")(0))
      .collect { case (p, m) if m.size > 1 => p -> m.size }

  def reset(): Unit = recorded.clear()
}
