package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partition-count hygiene for compute-bound operators.
  *
  * A scan's task count is bounded by parquet row-group granularity, not by
  * file size: a table written as one row group is read by ONE task no matter
  * how many cores exist, and every narrow transform downstream (chunking,
  * embedding, hashing UDFs) inherits that. On a production table (thousands
  * of row groups across many files) scans parallelize naturally and
  * [[ensureParallelism]] is a no-op; on under-partitioned input it pays one
  * round-robin shuffle to unlock the cluster for the expensive stage that
  * follows — the classic "repartition before the heavy map" pattern.
  */
object Partitioning {

  /** Evaluate independent result ARMS as overlapped jobs and union their
    * materialized outputs. A union of k independent audit pipelines
    * executes as one mostly sequential stage chain, and on small inputs
    * wall tracks STAGE COUNT (~85 ms per AQE stage cycle measured r16 on
    * local[32]) rather than task work; running each arm as its own job
    * from a small thread pool overlaps those chains (the optimization
    * guide's "overlap independent jobs" pattern) and the localCheckpoint
    * truncates the union's plan (its "materialize an intermediate"
    * pattern for planning-bound trees). Arms must be independent and
    * their results small (they are collected onto executor block storage
    * whole); per-arm plans and values are exactly the lazy union's.
    *
    * CONTRACT (r17): arms must not mutate session state — in particular
    * [[withShuffleWidth]]-style `spark.sql.shuffle.partitions` edits —
    * because overlapped arms would race on the shared conf; an arm that
    * needs a width override must set it per-plan (repartition(n, ...)),
    * not per-session. In-flight arms are capped at `maxConcurrent`
    * (guide §2.6: "2-3 jobs in flight is plenty — enough to fill the
    * tail, not so many that they fight for executors"); queued arms run
    * as slots free, preserving submission order. `timeout` bounds the
    * whole batch so a wedged arm fails loudly instead of hanging the
    * caller forever.
    */
  def unionOverlapped(arms: Seq[() => DataFrame],
                      maxConcurrent: Int = 7,
                      timeout: scala.concurrent.duration.Duration =
                        scala.concurrent.duration.Duration(30, "min")): DataFrame = {
    require(arms.nonEmpty, "unionOverlapped: need at least one arm")
    require(maxConcurrent >= 1, "unionOverlapped: maxConcurrent must be >= 1")
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(arms.size, maxConcurrent))
    try {
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val done = arms.map(a => Future(a().localCheckpoint()))
      Await.result(Future.sequence(done), timeout).reduce(_.union(_))
    } finally pool.shutdown()
  }

  /** Repartition `df` up to the cluster's default parallelism iff its
    * current plan yields fewer partitions; never coalesces.
    */
  def ensureParallelism(df: DataFrame): DataFrame = {
    // Streaming frames can't be inspected via .rdd (and micro-batch
    // parallelism is governed by the source anyway) — pass through.
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Shuffle width for an ITERATIVE operator, from the measured row count
    * of its per-round working set: a loop over a tiny table must not pay
    * (session-width tasks) x (stages/round) x rounds of scheduling
    * overhead, while a cluster-scale working set keeps full width.
    * ~4M (long, long) rows ≈ 64 MB per task, the usual shuffle sweet spot.
    */
  def iterationWidth(spark: org.apache.spark.sql.SparkSession, rows: Long,
                     rowsPerPartition: Long = 4L * 1000 * 1000): Int = {
    val defaultParts = spark.sessionState.conf.numShufflePartitions
    math.max(1L, math.min(defaultParts.toLong, rows / rowsPerPartition + 1)).toInt
  }

  /** Cache `df` co-partitioned on `key` at a width measured from its own
    * row count (see [[iterationWidth]]): repartition at session width,
    * persist, count (the cache-populating pass), and — when the measured
    * width is narrower — re-layout once FROM the cache and swap the persist.
    * Returns (cached frame, width); the CALLER owns the unpersist and
    * should hold it in a try/finally so a mid-loop failure doesn't leak the
    * cache.
    */
  def measuredCoPartition(df: DataFrame,
                          key: org.apache.spark.sql.Column): (DataFrame, Int) = {
    val spark = df.sparkSession
    val wide = df.repartition(key).persist()
    try {
      val rows = wide.count()
      val n = iterationWidth(spark, rows)
      if (n == spark.sessionState.conf.numShufflePartitions) (wide, n)
      else {
        val narrow = wide.repartition(n, key).persist()
        narrow.count()
        wide.unpersist()
        (narrow, n)
      }
    } catch {
      case e: Throwable => wide.unpersist(); throw e
    }
  }

  /** Run `f` with `spark.sql.shuffle.partitions` pinned to `n`, restoring
    * the previous value after. Spark sizes every exchange from that conf,
    * so an eagerly-executed iteration loop is the one place a temporary
    * session-conf mutation is the right tool; the caller must ensure the
    * loop owns the session while it runs (Bench/Verify run queries
    * sequentially) and return only checkpointed leaves.
    */
  def withShuffleWidth[T](spark: org.apache.spark.sql.SparkSession, n: Int)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Morton / Z-order value of two non-negative dimension columns — the
    * multi-dimensional data-layout key behind Delta/Iceberg `ZORDER BY`:
    * sorting by the interleaved bits keeps rows close in EITHER dimension
    * close on disk, so min/max zone maps prune scans filtered on x OR y
    * (a plain sort key only prunes its leading column). Writing is just
    * `repartitionByRange(zorder).sortWithinPartitions(zorder)`; this
    * computes the key.
    *
    * `bits` low-order bits of each dimension interleave (x in the even
    * positions, y in the odd): pure integer HOF arithmetic
    * (`floor-div/mod` bit extraction, power-of-two shifts as exact
    * doubles below 2^52), identical on any engine; dimensions must
    * already be non-negative and fit `bits` bits — out-of-range inputs
    * fail loudly rather than silently aliasing distant rows together.
    */
  /** Rendezvous (highest-random-weight) shard placement: each key lands
    * on the shard maximizing `hash(key, shard)` — the consistent-placement
    * scheme whose MINIMAL-DISRUPTION law (removing a shard moves ONLY
    * that shard's keys; every other key's argmax is untouched) is what a
    * resharding embedding store / document cache needs, with none of
    * ring-hashing's virtual-node bookkeeping. Ties (engine-neutral md5
    * hashes, ~2^-32) break by shard name.
    *
    * One narrow codegen'd expression per row — placement never shuffles.
    */
  def rendezvousShard(key: Column, shards: Seq[String]): Column = {
    require(shards.nonEmpty && shards.distinct.size == shards.size,
      "need a non-empty set of distinct shard names")
    val scored = shards.map { sh =>
      struct(
        conv(substring(md5(concat(key.cast("string"), lit("|"), lit(sh))),
          1, 8), 16, 10).cast("long").as("h"),
        lit(sh).as("s"))
    }
    array_max(array(scored: _*)).getField("s")
  }

  def zorder(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 26, s"bits must be in [1, 26], got $bits")
    val bound = math.pow(2, bits).toLong
    val guard = when(x < 0 || y < 0 || x >= bound || y >= bound,
      raise_error(concat(lit(s"graft.zorder: dimension out of [0, $bound): x="),
        x.cast("string"), lit(" y="), y.cast("string"))))
      .otherwise(lit(true))
    val interleaved = aggregate(
      sequence(lit(0), lit(bits - 1)),
      lit(0L),
      (acc, i) => acc +
        (floor(x / pow(lit(2.0), i)).cast("long") % 2) *
          pow(lit(2.0), i * 2).cast("long") +
        (floor(y / pow(lit(2.0), i)).cast("long") % 2) *
          pow(lit(2.0), i * 2 + 1).cast("long"))
    when(guard, interleaved)
  }
}
