package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Vector-store sinks re-expressed as partitioned parquet tables with
  * delete-by-source upsert semantics.
  *
  * The reference sinks (`yamlpipe/components/sinks.py:33-162`) implement
  * idempotent re-ingest as "DELETE WHERE source IN (incoming sources), then
  * append". At Spark scale the equivalent is DYNAMIC PARTITION OVERWRITE:
  * the table is partitioned by a bucket of `source` and a write with
  * `partitionOverwriteMode=dynamic` replaces exactly the partitions present
  * in the incoming batch, leaving all others untouched — no full-table
  * rewrite, no driver-side delete loop.
  *
  * Because `source` is an arbitrary string (path/url/dsn), we partition on
  * `source_bucket = pmod(hash(source), numBuckets)` and pair every read with
  * a re-filter on the real `source` value. A bucket collision means a few
  * extra sources are rewritten with identical content (idempotent), never
  * lost.
  *
  * Record projection matches the reference sink schema
  * (`yamlpipe/utils/dynamic_schemas.py:44-51`): fixed `text` + `vector(dim)`
  * plus promoted metadata columns; `uuid()` ids mirror the Chroma sink
  * (`sinks.py:143`).
  */
object Sink {

  val DefaultBuckets = 64

  /** Per-table write locks: concurrent upserts from ONE JVM (the usual
    * single-driver deployment) serialize instead of racing the shared
    * `_temporary` committer dir and each other's partition overwrites.
    * Cross-JVM concurrent writers need a transactional table format
    * (Delta/Iceberg) — out of scope for a parquet sink, documented here.
    */
  private val pathLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def lockFor(path: String): Object =
    pathLocks.computeIfAbsent(path, _ => new Object)

  /** The table's version marker: a hidden file at the table root holding
    * one random token per committed upsert. The leading `_` keeps it out of
    * Spark's file listing and out of [[touchedRows]]' layout check.
    */
  private val VersionMarker = "_graft_version"

  /** The version token of the table at `path`, or None when the marker is
    * absent or unreadable: an upsert is in flight or failed, or the table
    * was written before markers existed. Readers key a held snapshot on it
    * ([[graft.sinks.VectorTableSink.read]]); a partly written marker is not
    * a well-formed token and reads as None.
    */
  private[graft] def version(spark: SparkSession, path: String): Option[String] = {
    val marker = new org.apache.hadoop.fs.Path(path, VersionMarker)
    try {
      val in = marker.getFileSystem(spark.sparkContext.hadoopConfiguration).open(marker)
      val token = try new String(in.readAllBytes(), UTF_8) finally in.close()
      Some(token).filter(t =>
        scala.util.Try(java.util.UUID.fromString(t).toString == t).getOrElse(false))
    } catch { case _: java.io.IOException => None }
  }

  /** Reap leftover staging dirs from crashed writes: the UUID names make
    * them unidentifiable to their (dead) writer, so any
    * `<table>.migrate-*` / `<table>.old-*` (schema migrations) or
    * `<table>.survivors-*` (left by upserts of earlier versions, which
    * staged survivors) whose LAST WRITE is older than the reap age is
    * treated as garbage. Staleness is judged by the newest mtime found in a
    * bounded-depth recursive scan of the dir, not the dir's creation time —
    * an in-flight Spark write lands task output nested under
    * `_temporary/<job>/_temporary/<task>/part-…` (direct children only
    * appear at job commit), so a live writer in ANOTHER JVM (the table lock
    * is JVM-local) refreshes the signal through its deepest in-progress
    * files. Residual cross-JVM hazard, documented: a writer that finished
    * writing >reap-age ago but is still in its read-back phase could still
    * lose its dir — tune `graft.sink.stagingReapAgeMs` (Spark conf, default
    * 24h) above the slowest expected migration, or use a transactional
    * table format for true multi-writer deployments.
    */
  private[graft] def reapStaleStaging(spark: SparkSession, path: String): Unit = {
    val maxAgeMs = spark.conf.getOption("graft.sink.stagingReapAgeMs")
      .map(_.toLong).getOrElse(24L * 3600 * 1000)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = p.getParent
    if (parent != null && fs.exists(parent)) {
      // migrate-/old- are full-table-sized: a kill -9 between write and
      // promote would otherwise leak 1-2x the table size permanently.
      val prefixes = Seq(".survivors-", ".migrate-", ".old-").map(p.getName + _)
      val cutoff = System.currentTimeMillis() - maxAgeMs
      // Depth 5 reaches <staging>/_temporary/<job>/_temporary/<task>/part-…
      // (the FileOutputCommitter layout while a write is in flight).
      def newestMtime(st: org.apache.hadoop.fs.FileStatus, depth: Int): Long = {
        val self = st.getModificationTime
        if (depth <= 0 || !st.isDirectory) self
        else {
          val kids =
            try fs.listStatus(st.getPath)
            catch { case _: java.io.IOException => Array.empty[org.apache.hadoop.fs.FileStatus] }
          (self +: kids.map(newestMtime(_, depth - 1)).toSeq).max
        }
      }
      fs.listStatus(parent).foreach { st =>
        if (prefixes.exists(st.getPath.getName.startsWith)) {
          if (newestMtime(st, depth = 5) < cutoff) fs.delete(st.getPath, true)
        }
      }
    }
  }

  /** Project the canonical chunk frame into the sink schema. */
  def project(df: DataFrame, textCol: String = "chunk", vecCol: String = "embedding",
              sourceCol: String = "source"): DataFrame = {
    val metaCols = df.columns
      .filter(c => c != textCol && c != vecCol && c != sourceCol)
      .map(col).toSeq
    df.select(
      Seq(
        expr("uuid()").as("id"),
        col(textCol).as("text"),
        col(vecCol).as("vector"),
        col(sourceCol).as("source")) ++ metaCols: _*)
  }

  /** The bucket of a source: `pmod(hash(source), numBuckets)`. A table
    * constant — every writer of one table must use the same `numBuckets`.
    */
  private def bucketOf(source: Column, numBuckets: Int): Column =
    pmod(hash(source), lit(numBuckets))

  /** Upsert `df` into the table at `path`: source buckets present in `df`
    * are overwritten, everything else is untouched. This is the scale-safe
    * version of the reference's delete-by-source + append (`sinks.py:66-93`).
    *
    * Per-run cost is proportional to the buckets the batch touches, not to
    * the table: the batch is pinned (persisted unless the caller already
    * did) and its touched buckets collected; then ONE read of exactly the
    * existing `source_bucket=k` directories of those buckets (with
    * `basePath`, so no listing of the other bucket directories) serves the
    * schema check and the survivors. Whether the table exists is decided
    * from the filesystem, so a table that exists but cannot be read makes
    * the upsert fail instead of being taken for absent — overwriting its
    * touched buckets with the batch alone would drop their survivors.
    *
    * Bucket-collision safety: overwriting a bucket must not drop UNCHANGED
    * sources that merely hash into it. Survivors — rows in touched buckets
    * whose source is not in the batch — are carried through the rewrite
    * straight from the table's own files, with no staging copy: dynamic
    * partition overwrite writes to a job staging directory and replaces the
    * touched bucket directories only at job commit, after every task that
    * reads them has finished. Each rewritten bucket is written as ONE file.
    *
    * Schema: the existing schema is compared with the batch's modulo
    * nullability ([[graft.sinks.SinkSchemas.compatible]]); only a real type
    * or column change takes the full-table migration.
    *
    * Version: the table's marker ([[version]]) is deleted before anything
    * is written and a fresh token is written after the commit — after the
    * bucket overwrite, the cold write, or the migration's promote rename.
    */
  def upsertBySource(df: DataFrame, path: String, sourceCol: String = "source",
                     numBuckets: Int = DefaultBuckets): Unit = lockFor(path).synchronized {
    val spark = df.sparkSession
    val marker = new org.apache.hadoop.fs.Path(path, VersionMarker)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Withdraw the version before anything is written and publish a new one
    // only after the commit: a failed upsert leaves no marker, so no reader
    // keeps serving a snapshot of files it may have replaced.
    fs.delete(marker, false)
    reapStaleStaging(spark, path)
    // Pinned: the touched-bucket collect and the write must see the same
    // rows (a batch row in a bucket the survivors read never loaded would
    // replace that bucket without its survivors), and the upstream lineage
    // (chunk + embed) then runs once.
    val owned = df.storageLevel == StorageLevel.NONE
    val batch = if (owned) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    try {
      val withBucket = batch.withColumn("source_bucket", bucketOf(col(sourceCol), numBuckets))
      touchedRows(spark, path, withBucket) match {
        case None => writeBuckets(withBucket, path)
        case Some(old) if !graft.sinks.SinkSchemas.compatible(
            old.drop("source_bucket").schema, batch.schema) =>
          migrate(batch, path, sourceCol, numBuckets)
        case Some(old) =>
          val incomingSources = batch.select(col(sourceCol).as("__in_src")).distinct()
          val survivors = old.join(broadcast(incomingSources),
            col(sourceCol) === col("__in_src"), "left_anti")
          writeBuckets(withBucket.unionByName(survivors), path)
      }
    } finally if (owned) batch.unpersist()
    val out = fs.create(marker, true)
    try out.write(java.util.UUID.randomUUID().toString.getBytes(UTF_8)) finally out.close()
  }

  /** The existing rows of the buckets `withBucket` touches, read from
    * those bucket directories only; None when there is no table or it holds
    * no bucket yet. When none of the touched buckets exists yet, one other
    * bucket directory is read for its schema and filtered empty. A path
    * holding anything but bucket directories is not taken for an empty
    * table: writing buckets into it would mix two layouts.
    */
  private def touchedRows(spark: SparkSession, path: String,
                          withBucket: DataFrame): Option[DataFrame] = {
    val table = new org.apache.hadoop.fs.Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(table)) None
    else {
      val (buckets, other) = fs.listStatus(table).toSeq
        .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
        .partition(st => st.isDirectory && st.getPath.getName.startsWith("source_bucket="))
      require(other.isEmpty, s"graft.Sink.upsertBySource: $path is not a bucketed sink table " +
        s"(found '${other.headOption.map(_.getPath.getName).getOrElse("")}')")
      val existing = buckets.map(_.getPath).sortBy(_.getName)
      if (existing.isEmpty) None
      else {
        // Bounded by numBuckets, so the collect is driver-safe.
        val touched = withBucket.select("source_bucket").distinct()
          .collect().map(_.getInt(0)).toSet
        val dirs = existing.filter(p => touched(p.getName.stripPrefix("source_bucket=").toInt))
        val read = if (dirs.nonEmpty) dirs else existing.take(1)
        Some(spark.read.option("basePath", path).parquet(read.map(_.toString): _*)
          .filter(col("source_bucket").isin(touched.toSeq: _*)))
      }
    }
  }

  /** Dynamic-overwrite the bucket directories present in `out`, one file
    * per bucket.
    */
  private def writeBuckets(out: DataFrame, path: String): Unit =
    out.repartition(col("source_bucket")).write
      .partitionBy("source_bucket")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)

  /** Schema migration (`sinks.py:40-48`), the path for a real type or
    * column change only: the WHOLE table is rewritten under the merged
    * schema — old rows of sources not in `df` carried with missing columns
    * nulled — into a staging directory, then swapped in atomically.
    */
  private def migrate(df: DataFrame, path: String, sourceCol: String,
                      numBuckets: Int): Unit = {
    val spark = df.sparkSession
    val oldData = spark.read.parquet(path).drop("source_bucket")
    val merged = df.unionByName(oldData
        .join(df.select(sourceCol).distinct(), Seq(sourceCol), "left_anti"),
      allowMissingColumns = true)
    // Unique staging dir (concurrent migrations must not clobber each
    // other), and move-old-aside-then-promote instead of
    // delete-then-rename so readers never observe a missing table:
    // the table path is absent only between two metadata-level renames,
    // not for the duration of a recursive delete.
    val runId = java.util.UUID.randomUUID().toString
    val tmp = path + ".migrate-" + runId
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pathP = new org.apache.hadoop.fs.Path(path)
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val oldAside = new org.apache.hadoop.fs.Path(path + ".old-" + runId)
    // Hadoop rename signals failure by RETURNING FALSE (and renaming
    // onto an existing dir nests the source inside it) — every rename
    // result is checked so a failed step can't silently "succeed" with
    // stale data. On a failed promote the old table is restored.
    var promoted = false
    try {
      writeBuckets(merged.withColumn("source_bucket", bucketOf(col(sourceCol), numBuckets)), tmp)
      require(fs.rename(pathP, oldAside),
        s"sink migration: rename $pathP -> $oldAside failed")
      try {
        require(fs.rename(tmpP, pathP),
          s"sink migration: rename $tmpP -> $pathP failed")
        promoted = true
      } catch {
        case e: Throwable =>
          fs.rename(oldAside, pathP) // best-effort restore of the old table
          throw e
      }
      fs.delete(oldAside, true)
    } finally {
      if (!promoted) fs.delete(tmpP, true)
    }
  }

  /** Compacting, clustering write — the 100 TB answer to the small-files
    * problem and its mirror image (one giant unsplittable file per task):
    * range-repartition on `clusterCols` into `numFiles` partitions, sort
    * rows within each, and write with `maxRecordsPerFile` as the overflow
    * valve. Range partitioning + in-file ordering give every parquet
    * column chunk tight min/max bounds on the cluster key, so downstream
    * scans filtering on it prune at BOTH the file and row-group level —
    * poor-man's z-ordering for the 1-key case, at the cost of one range
    * shuffle (sampled boundaries, skew-tolerant).
    */
  def compactWrite(df: DataFrame, path: String, clusterCols: Seq[String],
                   numFiles: Int, maxRecordsPerFile: Long = 5000000L): Unit = {
    require(clusterCols.nonEmpty, "graft.Sink.compactWrite: clusterCols is empty")
    val keys = clusterCols.map(col)
    df.repartitionByRange(numFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(path)
  }

  /** The distinct incoming sources that scope an upsert — the reference's
    * `set(doc.metadata["source"])` (`sinks.py:66-72,129-135`).
    */
  def distinctSources(df: DataFrame, sourceCol: String = "source"): DataFrame =
    df.select(sourceCol).distinct()
}
