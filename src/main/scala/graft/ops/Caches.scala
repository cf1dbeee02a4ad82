package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's two lifetimes for Spark state: one query and one
  * session.
  *
  * One query: every frame an operator persists or local-checkpoints for
  * the rest of a query is registered here, and every harness calls
  * [[releaseCaches]] once after each query: no query runs on another's
  * intermediates, and a long run never accumulates them.
  *
  * Why operators persist at all: Catalyst plans are TREES, so a
  * DataFrame referenced twice in one result plan is COMPUTED twice
  * (exchange reuse only dedups identical shuffles, not arbitrary
  * subtrees). Graph frontiers, consume chunks, sig-terms counts, merge
  * deltas and dedup indexes persist here so the heavy upstream work
  * runs once per query; iterative operators (p+ closures, connected
  * components) local-checkpoint each round here to cut lineage.
  * Everything registered is result-, delta- or index-sized, never a
  * base table. An operator that knows an intermediate is dead early
  * frees it with [[release]].
  *
  * One session: [[perSession]] is the one memo for values served to
  * several queries of a session (stores, merged store clones, pair and
  * cluster corpora). A build that keeps its own persists for the
  * session says so with [[sessionLifetime]]. Outside both stay only the
  * raw sites CachesGuardSpec names (the quads view, a stream's snapshot
  * chain). */
object Caches {
  private val registered =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val unregistered = ThreadLocal.withInitial[Boolean](() => false)

  private def register(df: DataFrame): Unit =
    if (!unregistered.get) registered.add(df)

  private def scoped[A](unregister: Boolean)(body: => A): A = {
    val outer = unregistered.get
    unregistered.set(unregister)
    try body finally unregistered.set(outer)
  }

  /** Persist a multi-referenced intermediate (MEMORY_AND_DISK) and
    * register it for the end-of-query release. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    register(p.toDF())
    p
  }

  /** Local checkpoint (lineage cut; eager materializes now) registered
    * for the end-of-query release. */
  def localCheckpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val c = df.localCheckpoint(eager)
    register(c)
    c
  }

  /** For a [[perSession]] build: what `build` persists or checkpoints
    * on this thread is not registered, so it stays for the session
    * instead of one query. */
  def sessionLifetime[A](build: => A): A = scoped(unregister = true)(build)

  /** A [[perSession]] value, built once by the first caller. A build
    * that throws leaves the entry empty, so the next caller retries. */
  private final class Held(build: () => Any) { lazy val value: Any = build() }

  // keyed by (session, key): a same-JVM session restart must rebuild
  // instead of serving frames bound to the dead session
  private val held =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Held]()

  /** The value `build` gives for (`spark`, `key`), built once per
    * session and served to every later caller. `key` names what is
    * built and from which input (`"store:<dir>"`). The build always
    * starts in the registered scope, whatever scope its caller is in:
    * its per-query intermediates go to the caller's release, and only
    * what it wraps in [[sessionLifetime]] stays. Entries of stopped
    * sessions are dropped first, so a session restart does not pin the
    * dead session's frames. Builds may call [[perSession]] for other
    * keys. */
  def perSession[A](spark: SparkSession, key: String)(build: => A): A = {
    val it = held.keySet.iterator()
    while (it.hasNext)
      if (it.next()._1.sparkContext.isStopped) it.remove()
    held.computeIfAbsent((spark, key),
      _ => new Held(() => scoped(unregister = false)(build)))
      .value.asInstanceOf[A]
  }

  /** Free one intermediate now (non-blocking): the frame [[persist]]
    * or [[localCheckpoint]] returned. A checkpoint is a [[LogicalRDD]]
    * over its blocks' RDD, which `unpersist` alone does not reach. */
  def release(df: Dataset[_]): Unit = {
    df.unpersist(false)
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(false)
      case _ =>
    }
  }

  /** Free every registered intermediate — once per query, after its
    * result has been consumed. */
  def releaseCaches(): Unit = {
    var df = registered.poll()
    while (df != null) { release(df); df = registered.poll() }
  }

  /** True when `df`'s physical plan contains ANY exchange (shuffle or
    * broadcast). Cheap: inspects the pre-execution adaptive plan only
    * — unlike `df.rdd`, which under AQE MATERIALIZES every query stage
    * (shuffle AND broadcast stages — a full throwaway execution of the
    * frame's subtrees) just to expose the RDD. Used by the
    * spread-before-heavy-compute guards: a shuffled frame is already
    * distributed at the session's shuffle width, and a broadcast-join
    * frame's probe cost (executing the build side once, discarding it)
    * exceeds what the guard's repartition could save. */
  def hasExchange(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    // NOTE: unwrap the adaptive node via its public `executedPlan`
    // accessor (the CURRENT physical plan — the initial plan before
    // execution), NOT `inputPlan`: inputPlan predates the
    // queryStagePreparation rules, so every ENSURE_REQUIREMENTS
    // exchange is still missing from it. After (partial) execution the
    // current plan holds QueryStageExec leaves wrapping the exchanges
    // — they count too.
    def walk(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _: ShuffleExchangeLike => true
      case _: BroadcastExchangeLike => true
      case _: QueryStageExec => true
      case other => other.children.exists(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Persist `df` iff a global sort directly above it would execute
    * heavy work twice: a range-partitioned ORDER BY runs a SAMPLE pass
    * over its child to build the partition bounds, and everything
    * between the child's last materialized exchange and the sort —
    * the whole pipeline for a pushed-scans-plus-broadcast-joins shape,
    * the join itself for a sort-merge join — executes once for the
    * sample and again for the shuffle. Join-of-scans shapes (≥2 file
    * scans) qualify; single-scan pipelines are deliberately excluded
    * because re-running one pushed-filter scan costs about what the
    * cache round-trip does (measured r17: q_sparql_lang regressed
    * under a blanket rule). The r17 formulation also required "no
    * shuffle in the child", but that test ran over
    * AdaptiveSparkPlanExec.inputPlan — which predates the
    * queryStagePreparation rules and therefore NEVER showed an
    * ENSURE_REQUIREMENTS exchange — so its de-facto (and measured:
    * q_sparql_negset 3.63 → 0.27 s steady, a sort-merge join of two
    * scans) behavior was scans-only; the condition now says what the
    * code always did. Subquery/plan EXPRESSIONS are deliberately not
    * descended — a scalar-subquery scan executes once as its own job,
    * not per sort pass. */
  def persistForSort(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    var scans = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: FileSourceScanExec => scans += 1
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    if (scans >= 2) persist(df) else df
  }
}
