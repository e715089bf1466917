package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.columnar.DefaultCachedBatchSerializer
import org.apache.spark.storage.StorageLevel

/**
 * Parallelism guard for CPU-heavy per-row operators (pair joins, shingle
 * explodes, per-vector math). A small single-file parquet table arrives as
 * ONE input partition, serializing everything downstream; and a bare
 * `repartition(col)` is undone by AQE, which coalesces the tiny shuffle
 * right back to one partition. `repartition(n, col)` carries the
 * REPARTITION_BY_NUM shuffle origin, which AQE must honor.
 *
 * At cluster scale the explicit count equals `defaultParallelism` (total
 * executor cores), so this stays correct on 1000 executors — it only ever
 * widens a degenerate input, never narrows a wide one by much more than the
 * core count.
 */
object Spread {
  def byKey(df: DataFrame, key: Column): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)

  import org.apache.spark.sql.functions._

  /**
   * Skew-proof pair join on a low-cardinality equi-condition (scope / LSH
   * bucket / IVF cell). A plain shuffle join keyed on few distinct values
   * lands on a handful of skewed tasks; a `broadcast()` of the right side
   * collects an unbounded table to the driver and every executor — both die
   * at 100 TB. Instead:
   *
   *  - the LEFT side is salted deterministically: `salt = pmod(hash(saltKey),
   *    s)` with `saltKey` a high-cardinality column (the row id);
   *  - the RIGHT side is replicated s ways (explode over 0..s-1);
   *  - the join runs on (original equi-keys, salt) with a shuffle-hash hint
   *    on the LEFT side, whose per-task build set is |scope|/s rows —
   *    bounded by choosing s ∝ scope size.
   *
   * Output is identical to the unsalted join (the salt columns are internal
   * and dropped); `hash` is Murmur3 with a fixed seed, so the plan is
   * deterministic across runs.
   */
  def saltedJoin(a: DataFrame, b: DataFrame, cond: Column, saltKey: Column,
                 s: Int): DataFrame = {
    val sa = a.withColumn("__lsalt", pmod(hash(saltKey), lit(s)))
    val sb = b.withColumn("__rsalt", explode(sequence(lit(0), lit(s - 1))))
    sa.hint("shuffle_hash")
      .join(sb, cond && col("__lsalt") === col("__rsalt"))
      .drop("__lsalt", "__rsalt")
  }

  /**
   * Mark a DataFrame consumed by multiple plan branches as shared: persisted
   * MEMORY_AND_DISK so the (expensive) sub-plan runs once instead of once
   * per branch. Spark's ReusedExchange can't dedupe these sub-plans because
   * Spread.byKey pre-partitions them — the aggregate then has no exchange
   * boundary to reuse. The cache entry is small (per-doc signatures /
   * normalized vectors) and evicted LRU; spill-safe at scale via the DISK
   * tier. Lifecycle: repeated runs of the same query do NOT grow the cache
   * (CacheManager keys on the canonicalized plan, so a plan-identical
   * re-persist reuses the existing entry rather than adding one), but a
   * Dataset.persist is pinned by CacheManager until an explicit unpersist —
   * ContextCleaner cannot reclaim it, because CacheManager itself keeps the
   * InMemoryRelation (and its RDD) strongly reachable. So every shared()
   * output is tracked and [[release]] is the query/batch-completion hook
   * that drops a session's tracked entries deterministically.
   */
  def shared(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    registry.synchronized {
      // de-dup on the canonicalized plan — the same key CacheManager uses —
      // so re-running a query tracks (and later releases) one entry, not
      // one per run
      val c = p.queryExecution.analyzed.canonicalized
      if (!registry.exists(e => (e.sparkSession eq p.sparkSession) &&
            e.queryExecution.analyzed.canonicalized == c))
        registry += p
    }
    p
  }

  /** `rows`, laid out as `attrs`, kept in Spark's columnar cache format
    * (the encoder InMemoryRelation uses) and persisted MEMORY_AND_DISK until
    * [[release]] of `spark`: [[shared]] for the rows an exec node reads more
    * than once (a sweep's ranged input). Each partition's rows come back in
    * one reused buffer, so a reader copies any row it holds past `next()`. */
  private[graft] def kept(spark: SparkSession, rows: RDD[InternalRow],
                          attrs: Seq[Attribute]): RDD[InternalRow] = {
    val codec = new DefaultCachedBatchSerializer
    val conf = spark.sessionState.conf
    val batches = codec.convertInternalRowToCachedBatch(rows, attrs,
      StorageLevel.MEMORY_AND_DISK, conf).persist(StorageLevel.MEMORY_AND_DISK)
    registry.synchronized(keptRows += spark -> batches)
    codec.convertCachedBatchToInternalRow(batches, attrs, attrs, conf)
  }

  // strong refs are deliberate: CacheManager already pins the cached data
  // until unpersist, so the registry adds no reachability beyond what Spark
  // holds — it adds the handle needed to let go.
  private val registry = scala.collection.mutable.ArrayBuffer[DataFrame]()
  private val keptRows = scala.collection.mutable.ArrayBuffer[(SparkSession, RDD[_])]()

  /** Unpersist every [[shared]] output and [[kept]] RDD tracked for `spark` — the explicit
    * query-completion hook for deterministic cache pressure (the r5 advice:
    * persisted shared plans otherwise live for the session under a 100 TB
    * working set). Only graft-tracked entries are dropped; user caches are
    * untouched. */
  def release(spark: SparkSession): Unit =
    // one lock for select+remove: a shared() registration racing a release
    // must never be dropped untracked (it would stay pinned with no handle)
    registry.synchronized {
      val mine = registry.filter(_.sparkSession eq spark)
      mine.foreach { df =>
        try df.unpersist(false) catch { case _: Throwable => () }
      }
      registry.filterInPlace(df => !(df.sparkSession eq spark))
      keptRows.filter(_._1 eq spark).foreach(_._2.unpersist(false))
      keptRows.filterInPlace(k => !(k._1 eq spark))
    }

  /** Tracked-entry count for `spark`, [[kept]] rows included (lifecycle
    * spec hook). */
  private[graft] def trackedCount(spark: SparkSession): Int =
    registry.synchronized(registry.count(_.sparkSession eq spark) + keptRows.count(_._1 eq spark))

  /**
   * Blocked cross join — the scale-safe form of `a.crossJoin(broadcast(b))`.
   * Both sides are tiled: a keeps block `pmod(hash(aKey), sa)` and is
   * replicated over b's sb blocks; b keeps block `pmod(hash(bKey), sb)` and
   * is replicated over a's sa blocks. The equi-join on (block_a, block_b)
   * yields sa×sb independent tasks, each pairing |a|/sa × |b|/sb rows with
   * an |b|/sb-row hash build side — no task ever materializes a full table,
   * so the O(n²) pair work distributes across the cluster instead of
   * requiring b to fit in every executor. Shuffle volume is |a|·sb + |b|·sa.
   */
  def blockedCross(a: DataFrame, b: DataFrame, aKey: Column, bKey: Column,
                   sa: Int, sb: Int, cond: Column): DataFrame = {
    val ta = a.withColumn("__ba", pmod(hash(aKey), lit(sa)))
      .withColumn("__bb", explode(sequence(lit(0), lit(sb - 1))))
    val tb = b.withColumn("__bb", pmod(hash(bKey), lit(sb)))
      .withColumn("__ba", explode(sequence(lit(0), lit(sa - 1))))
    ta.join(tb.hint("shuffle_hash"), Seq("__ba", "__bb"))
      .filter(cond)
      .drop("__ba", "__bb")
  }
}
