package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental-processing state, re-expressed as a small parquet state table
  * instead of the reference's driver-side JSON/Redis dict
  * (`yamlpipe/utils/state_manager.py:38-125`, shape
  * `{"processed_items": {id -> sha256|etag}, "last_run_timestamp": iso}`).
  *
  * Schema: `item_id string, fingerprint string, updated_at timestamp`, plus a
  * single watermark row keyed `__last_run__`. The state table is tiny
  * relative to the corpus, so every join against it is a broadcast join —
  * change detection costs one scan of the incoming batch at any scale.
  *
  * Semantics preserved:
  *  - new-or-changed = fingerprint differs or id unseen
  *    (`state_manager.py:155-178`) -> left_anti join on (item_id, fingerprint)
  *  - hash failure treated as unchanged (`state_manager.py:167-170`) -> rows
  *    with null fingerprint are excluded from the "changed" set
  *  - upsert keeps the latest fingerprint per id (`state_manager.py:180-196`)
  *  - corrupt/missing state -> fresh empty state (`state_manager.py:59-61`)
  *  - state persisted only after a successful sink (`core/pipeline.py:96-98`)
  *    -> callers invoke [[save]] after the sink action returns
  */
object StateStore {

  val WatermarkKey = "__last_run__"

  private lazy val log = org.slf4j.LoggerFactory.getLogger(StateStore.getClass)

  /** Fraction of buckets a batch may touch before the bucketed paths emit
    * a LOUD advisory (r13 verdict #4): `tools.StateBench` measured that a
    * batch striding all buckets makes [[upsertBucketed]]'s survivor
    * rewrite cost ≈ a full [[saveBucketed]] rewrite (and
    * [[changedBucketed]]'s pruned read ≈ a full read) — the merge-on-read
    * layout silently degrades to the thing it exists to avoid. Dense
    * batches are sometimes legitimate (a bootstrap, a full recrawl); the
    * advisory prices them instead of forbidding them.
    */
  val DenseBatchAdvisoryFraction = 0.5

  /** Last density advisory emitted (None when the last bucketed call was
    * sparse) — exposed so specs and ops probes can assert the advisory
    * fires without scraping logs.
    */
  private[graft] val lastDensityAdvisory =
    new java.util.concurrent.atomic.AtomicReference[Option[String]](None)

  private def adviseDensity(caller: String, path: String, touched: Int,
                            numBuckets: Int): Unit = {
    val msg =
      if (numBuckets > 1 && touched > numBuckets * DenseBatchAdvisoryFraction)
        Some(s"graft.StateStore.$caller: batch touches $touched/$numBuckets " +
          s"buckets at $path - a dense batch pays ~full-table cost (measured: " +
          s"tools.StateBench, SCALE.md sizing table). If every run looks like " +
          s"this, the layout is undersized: rebucket() to a larger numBuckets " +
          s"(keep a bucket under ~10M rows) or accept save()'s rewrite cost.")
      else None
    lastDensityAdvisory.set(msg)
    msg.foreach(log.warn(_))
  }

  def schema: StructType = StructType(Seq(
    StructField("item_id", StringType),
    StructField("fingerprint", StringType),
    StructField("updated_at", TimestampType)))

  /** Load the state table; missing or unreadable -> empty state (the
    * reference's corrupt-file recovery, `state_manager.py:59-61`).
    */
  def load(spark: SparkSession, path: String): DataFrame =
    try {
      val df = spark.read.schema(schema).parquet(path)
      df.select("item_id", "fingerprint", "updated_at")
    } catch {
      // NonFatal only (r12 advice): the corrupt->fresh contract covers
      // analysis-time failures on a missing/garbled table; fatal errors
      // (OOM, interrupts) must propagate — a caller that "recovered" from
      // one would rebuild empty state and overwrite a healthy table.
      case scala.util.control.NonFatal(_) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Rows of `incoming` that are new or changed w.r.t. the state: anti-join
    * on (item_id, fingerprint). Null fingerprints are treated as unchanged.
    * The state side is broadcast (it is orders of magnitude smaller than the
    * incoming corpus). At the 10⁹-item state regime the broadcast no longer
    * fits — use [[changedBucketed]] against a [[saveBucketed]] table
    * instead: it reads ONLY the bucket directories the batch touches and
    * lets AQE pick the join strategy.
    */
  def changed(incoming: DataFrame, state: DataFrame,
              idCol: String = "item_id", fpCol: String = "fingerprint"): DataFrame = {
    val st = broadcast(
      state.filter(col("item_id") =!= WatermarkKey)
        .select(col("item_id").as("__st_id"), col("fingerprint").as("__st_fp")))
    incoming
      .filter(col(fpCol).isNotNull)
      .join(st, col(idCol) === col("__st_id") && col(fpCol) === col("__st_fp"), "left_anti")
  }

  /** [[changed]] for the BUCKETED 10⁹-item state regime: the read side is
    * PARTITION-PRUNED to the bucket directories the batch actually
    * touches (`pmod(murmur3(id), numBuckets)` is the same function the
    * table was written with, so pruning is exact), and the anti-join is
    * NOT force-broadcast — the pruned slice is
    * |state| · touched/numBuckets rows, and AQE picks broadcast vs
    * shuffle from its runtime size. Per-batch read cost therefore scales
    * with the batch's bucket footprint, never the accumulated state —
    * the read-path twin of [[upsertBucketed]]'s write-cost contract.
    *
    * The batch is PINNED (eager localCheckpoint) for the same reason as
    * [[upsertBucketed]]: the touched-bucket collect and the returned
    * join read the batch in separate actions, and a nondeterministic
    * lineage re-evaluated between them could emit rows in buckets the
    * state read never loaded — those rows would surface as (wrongly)
    * "changed". Missing table -> everything with a non-null fingerprint
    * is new, the fresh-state contract.
    */
  def changedBucketed(spark: SparkSession, path: String, incoming: DataFrame,
                      numBuckets: Int = 64,
                      idCol: String = "item_id",
                      fpCol: String = "fingerprint"): DataFrame = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val inc = incoming.filter(col(fpCol).isNotNull).localCheckpoint(true)
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val exists = fsPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(fsPath)
    if (!exists) inc
    else {
      // Layout check (r13 advice): a flat save() table here would read
      // bucket = NULL everywhere and silently mark the whole batch
      // changed — fail loudly instead.
      requireBucketedLayout(
        fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration),
        fsPath, "changedBucketed")
      // Bounded by numBuckets, driver-safe by construction.
      val touched = inc
        .select(stateBucket(col(idCol), numBuckets).as("__bucket"))
        .distinct().collect().map(_.getInt(0)).toSeq
      adviseDensity("changedBucketed", path, touched.length, numBuckets)
      if (touched.isEmpty) inc // empty batch: nothing to compare
      else {
        val st = spark.read
          .schema(schema.add(StructField("bucket", IntegerType)))
          .parquet(path)
          .filter(col("bucket").isin(touched: _*))
          .filter(col("item_id") =!= WatermarkKey)
          .select(col("item_id").as("__st_id"),
            col("fingerprint").as("__st_fp"))
        inc.join(st,
          col(idCol) === col("__st_id") && col(fpCol) === col("__st_fp"),
          "left_anti")
      }
    }
  }

  /** Full snapshot diff between two corpus versions — the dataset-iteration
    * report (what did this crawl/curation pass add, drop, or rewrite?):
    * `(id, status)` with status `added` (id only in `newDf`), `removed`
    * (only in `oldDf`), or `changed` (both, fingerprints differ);
    * unchanged rows are included only when `includeUnchanged`.
    *
    * One full-outer shuffle join on the id — both sides are corpus-scale,
    * so unlike [[changed]] nothing broadcasts; at 100 TB this is the one
    * unavoidable co-partitioning of the two snapshots (bucket both by id
    * to eliminate it entirely).
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
                 idCol: String, fpCol: String,
                 includeUnchanged: Boolean = false): DataFrame = {
    // Presence comes from explicit marker columns, NOT fingerprint
    // nullability — a legitimately null fingerprint must not turn an
    // existing row into 'added'/'removed'. Fingerprint comparison is
    // null-safe (<=>): null vs value = changed, null vs null = unchanged.
    val o = oldDf.select(col(idCol).as("__id"), col(fpCol).as("__old_fp"),
      lit(true).as("__in_old"))
    val n = newDf.select(col(idCol).as("__id"), col(fpCol).as("__new_fp"),
      lit(true).as("__in_new"))
    val joined = o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(!(col("__old_fp") <=> col("__new_fp")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
    if (includeUnchanged) joined else joined.filter(col("status") =!= "unchanged")
  }

  /** Merge new fingerprints into the state, keeping the newest per item.
    * Duplicate ids WITHIN the batch (one crawl visiting a URL twice) are
    * collapsed to one row first — a batch carries no intra-batch order, so
    * the pick is the deterministic `max(fingerprint)` rather than
    * whichever partition happened to write last.
    */
  def upsert(state: DataFrame, updates: DataFrame,
             idCol: String = "item_id", fpCol: String = "fingerprint"): DataFrame = {
    val newRows = dedupBatch(updates, idCol, fpCol)
    // Prefer the update side on id collision: old rows are anti-joined away.
    val kept = state.join(newRows.select("item_id"), Seq("item_id"), "left_anti")
    kept.unionByName(newRows)
  }

  /** One state row per batch id: duplicate `idCol`s collapse to the
    * deterministic `max(fingerprint)` (a batch has no intra-batch order to
    * define "newest" by — r12 advice: without this, [[upsert]] /
    * [[upsertBucketed]] wrote duplicate-id batches twice, breaking the
    * one-row-per-id state invariant). Batch-sized shuffle.
    */
  private def dedupBatch(updates: DataFrame, idCol: String,
                         fpCol: String): DataFrame =
    updates
      .select(col(idCol).cast("string").as("item_id"),
        col(fpCol).cast("string").as("fingerprint"))
      .groupBy("item_id")
      .agg(max(col("fingerprint")).as("fingerprint"))
      .select(col("item_id"), col("fingerprint"),
        current_timestamp().as("updated_at"))

  /** Read the run watermark (the reference's `last_run_timestamp`,
    * `state_manager.py:198-202`); None when never set.
    */
  def lastRunTimestamp(state: DataFrame): Option[java.sql.Timestamp] =
    state.filter(col("item_id") === WatermarkKey)
      .select("updated_at").collect()
      .headOption.map(_.getTimestamp(0))

  /** Set the run watermark to now. */
  def touchWatermark(state: DataFrame): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    val wm = Seq(WatermarkKey).toDF("item_id")
      .withColumn("fingerprint", lit(null).cast("string"))
      .withColumn("updated_at", current_timestamp())
    state.filter(col("item_id") =!= WatermarkKey).unionByName(wm)
  }

  /** Atomically persist state: write to a temp dir then rename over the old
    * table (the reference overwrites its JSON file in place,
    * `state_manager.py:63-67`; a rename avoids the torn-write window).
    *
    * Reader-race caveat (the [[rebucket]] contract, r13 advice): between
    * the two renames the table is briefly ABSENT at `path` — a reader
    * racing the swap bootstraps fresh-empty via the corrupt->fresh read
    * contract, and a crash mid-swap leaves the preserved
    * `<path>.old-<uuid>` copy needing manual recovery. The single-writer
    * contract therefore extends to "no concurrent readers during the
    * swap".
    */
  def save(state: DataFrame, path: String): Unit = {
    val spark = state.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val dst = new org.apache.hadoop.fs.Path(path)
    // State tables are tiny: coalesce(1) keeps them a single file.
    state.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    // Rename-aside swap (r13 review, the [[rebucket]] discipline): a
    // complete copy exists on disk at every step, so a crash mid-swap
    // never silently loses the table to the corrupt->fresh read path.
    val old = new org.apache.hadoop.fs.Path(
      path + ".old-" + java.util.UUID.randomUUID().toString)
    val hadOld = fs.exists(dst)
    if (hadOld && !fs.rename(dst, old))
      throw new java.io.IOException(
        s"graft.StateStore.save: could not move $dst aside to $old")
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"graft.StateStore.save: could not install $tmp at $dst" +
          (if (hadOld) s"; previous state preserved at $old" else ""))
    if (hadOld) fs.delete(old, true)
  }

  // -------------------------------------------------------------------------
  // Bucketed merge-on-read state (the 10^9-item regime)
  // -------------------------------------------------------------------------

  /** Deterministic bucket of an item id: `pmod(murmur3(id), numBuckets)`.
    * A table constant — every writer of one state table must use the same
    * `numBuckets` or merges will duplicate ids across buckets.
    */
  def stateBucket(id: Column, numBuckets: Int): Column =
    pmod(hash(id.cast("string")), lit(numBuckets))

  /** Fail LOUDLY when an existing table at `path` is not a
    * [[saveBucketed]] layout (r13 advice): pointed at a flat [[save]]
    * table, the explicit-schema bucketed read yields `bucket = NULL` for
    * every row, `isin(touched)` prunes ALL state away, and
    * [[changedBucketed]] silently reports the whole batch as new/changed
    * (and [[upsertBucketed]] would splice partition dirs into a flat
    * table). A legitimately EMPTY bootstrapped table (metadata files
    * only, no partition dirs yet) passes — it really is empty state.
    * Bounded: one directory listing.
    */
  private def requireBucketedLayout(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, caller: String): Unit = {
    val entries = fs.listStatus(path)
    val offenders = entries.filter { st =>
      val n = st.getPath.getName
      val meta = n.startsWith("_") || n.startsWith(".")
      if (st.isDirectory) !meta && !n.startsWith("bucket=")
      else !meta
    }
    if (offenders.nonEmpty)
      throw new IllegalStateException(
        s"graft.StateStore.$caller: $path is not a bucketed state table " +
          s"(found non-bucket entries like '${offenders.head.getPath.getName}'" +
          s"; expected only 'bucket=N' directories). Flat tables written by " +
          s"save() must be migrated once via saveBucketed()/rebucket().")
  }

  /** Bootstrap (or fully rewrite) a BUCKETED state table: the same rows as
    * [[save]], hash-partitioned into `numBuckets` directories on a derived
    * `bucket` column. This is the scale posture for [[upsert]]'s
    * full-rewrite problem: [[save]] rewrites the whole table every run
    * (fine at the reference's whole-file-JSON scale, quadratic-ish total
    * I/O at a 10^9-item state), while a bucketed table lets
    * [[upsertBucketed]] rewrite ONLY the buckets an update batch touches —
    * per-run write cost scales with the BATCH, not the accumulated state.
    */
  def saveBucketed(state: DataFrame, path: String,
                   numBuckets: Int = 64): Unit = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    state
      .withColumn("bucket", stateBucket(col("item_id"), numBuckets))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
  }

  /** Load a [[saveBucketed]] table back to the public state schema (the
    * partition column is an internal layout detail). Missing/unreadable
    * -> empty state, the [[load]] contract.
    */
  def loadBucketed(spark: SparkSession, path: String): DataFrame =
    try {
      // Schema INFERENCE on purpose (unlike [[upsertBucketed]]'s
      // explicit-schema survivors read): inference reads footers eagerly
      // inside this try, so missing, EMPTY-bootstrapped, and corrupt
      // tables all land in the catch and load as fresh empty state — the
      // read-path corrupt->fresh contract. An explicit schema would defer
      // corruption to first action, crashing the pipeline instead of
      // recovering. The write path wants the opposite (fail loudly, never
      // silently drop survivors), which is why upsertBucketed differs.
      spark.read.parquet(path).select("item_id", "fingerprint", "updated_at")
    } catch {
      // NonFatal only (r12 advice): see [[load]] — fresh-state recovery is
      // licensed for analysis failures, never for fatal/transient JVM
      // errors a save-after-load would turn into silent state loss.
      case scala.util.control.NonFatal(_) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** MERGE an update batch into a bucketed state table, rewriting only the
    * touched buckets (dynamic partition overwrite — Spark replaces exactly
    * the partition directories present in the written frame, untouched
    * buckets' files stay byte-identical). Semantics are [[upsert]]'s:
    * newest fingerprint wins per id.
    *
    * Write cost per run: O(|batch| + |state rows sharing a bucket with the
    * batch|) = |batch| * (1 + |state| / numBuckets) in expectation — size
    * `numBuckets` so a bucket is a few files, and the per-run rewrite
    * scales with the batch while lookups stay partition-prunable.
    * Tradeoff vs [[save]]'s rename: replacement is atomic per PARTITION
    * directory, not across the table — a failure mid-write can leave some
    * buckets new and some old; the state contract tolerates that (state
    * rows are idempotent fingerprints, and the reference's own JSON save
    * has the same torn-window, `state_manager.py:63-67`).
    *
    * HARD CONTRACT — single writer per table: `Sink.lockFor` serializes
    * writers within THIS JVM only. Two processes upserting the same path
    * concurrently can interleave one writer's survivor read with the
    * other's dynamic partition overwrite and drop surviving rows. Cross-
    * process coordination (a scheduler, a filesystem lease) is the
    * caller's responsibility — same contract as the reference's JSON
    * state file, which has no cross-process lock either
    * (`state_manager.py:63-67`).
    */
  def upsertBucketed(spark: SparkSession, path: String, updates: DataFrame,
                     numBuckets: Int = 64,
                     idCol: String = "item_id",
                     fpCol: String = "fingerprint"): Unit =
    Sink.lockFor(path).synchronized {
      require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
      // The batch is PINNED (eager localCheckpoint) before anything else:
      // the touched-bucket collect and the final write are separate
      // actions, and a nondeterministic updates lineage (a sample, a live
      // view) re-evaluated between them could emit a bucket the survivor
      // fetch never saw — dynamic overwrite would then replace that
      // bucket with the batch rows alone, deleting its surviving state.
      // Checkpointing makes both actions read the same materialized batch
      // (also why current_timestamp here is consistent across actions).
      // Intra-batch duplicate ids collapse BEFORE the write ([[dedupBatch]])
      // — the scaladoc's one-row-per-id promise.
      val newRows = dedupBatch(updates, idCol, fpCol)
        .withColumn("bucket", stateBucket(col("item_id"), numBuckets))
        .localCheckpoint(true)
      // Touched buckets: bounded by numBuckets, so the collect is
      // driver-safe by construction.
      val touched = newRows.select("bucket").distinct()
        .collect().map(_.getInt(0)).toSeq
      adviseDensity("upsertBucketed", path, touched.length, numBuckets)
      if (touched.nonEmpty) {
        // Surviving rows of the touched buckets are carried through the
        // rewrite straight from the table's own files, with no staging
        // copy (the Sink.upsertBySource discipline): dynamic partition
        // overwrite writes to a job staging directory and replaces the
        // touched bucket directories only at job commit, after every task
        // reading them has finished.
        //
        // Bootstrap is decided by an EXPLICIT existence check, not a
        // broad catch: a transient read failure on an existing table must
        // propagate loudly — swallowing it would dynamic-overwrite the
        // touched buckets with the batch alone and silently discard
        // their surviving rows (a write-path data loss the read-path
        // corrupt->fresh contract does not license).
        val fsPath = new org.apache.hadoop.fs.Path(path)
        val exists = fsPath
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(fsPath)
        // Explicit schema (public schema + the bucket partition column):
        // a legitimately EMPTY bootstrapped table (_SUCCESS only, no
        // partition dirs) has nothing to infer from and would otherwise
        // throw on every subsequent upsert — the load() discipline.
        // Same layout check as changedBucketed: survivors read against a
        // flat table would prune to nothing and the dynamic overwrite
        // would splice bucket dirs into it — a corrupted mixed layout.
        if (exists) requireBucketedLayout(
          fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration),
          fsPath, "upsertBucketed")
        val survivors =
          if (!exists) None
          else Some(spark.read
            .schema(schema.add(StructField("bucket", IntegerType)))
            .parquet(path)
            .filter(col("bucket").isin(touched: _*))
            .join(newRows.select("item_id"), Seq("item_id"), "left_anti")
            .select(col("item_id"), col("fingerprint"), col("updated_at"),
              col("bucket")))
        survivors.fold(newRows)(newRows.unionByName(_))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket").parquet(path)
      }
    }

  /** Re-bucket a [[saveBucketed]] table to a new bucket count — the GROWTH
    * escape hatch for [[upsertBucketed]]'s static `numBuckets`: when the
    * accumulated state outgrows the layout (rule of thumb from the
    * measured `tools.StateBench` table: keep a bucket under ~10M rows /
    * a few hundred MB so a touched-bucket rewrite stays file-sized),
    * rewrite once at a larger count instead of paying oversized survivor
    * rewrites on every run. Full-table rewrite BY DESIGN (it is the
    * one-off compaction, not the steady state), staged to a scratch dir
    * and swapped in via rename-aside (never delete-then-rename): at every
    * point of the swap a complete copy of the state exists on disk, so a
    * crash mid-swap is recoverable — the old table survives at
    * `<path>.old-<uuid>` until the new layout is in place. (A reader
    * racing the two renames can still observe a missing path for an
    * instant — the read-path corrupt->fresh contract turns that into
    * empty state, which is why the single-writer contract below should
    * extend to "no concurrent readers during a rebucket".) Same
    * single-writer contract as [[upsertBucketed]].
    */
  def rebucket(spark: SparkSession, path: String,
               newNumBuckets: Int): Unit =
    Sink.lockFor(path).synchronized {
      require(newNumBuckets >= 1,
        s"newNumBuckets must be >= 1, got $newNumBuckets")
      val conf = spark.sparkContext.hadoopConfiguration
      val dst = new org.apache.hadoop.fs.Path(path)
      val fs = dst.getFileSystem(conf)
      val uuid = java.util.UUID.randomUUID().toString
      val tmp = new org.apache.hadoop.fs.Path(path + ".rebucket-" + uuid)
      // Explicit schema (the upsertBucketed discipline): an empty
      // bootstrapped table re-buckets to an empty table, it does not throw.
      spark.read
        .schema(schema.add(StructField("bucket", IntegerType)))
        .parquet(path)
        .select("item_id", "fingerprint", "updated_at")
        .withColumn("bucket", stateBucket(col("item_id"), newNumBuckets))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
      // Rename-aside swap (r13 review): delete-then-rename had a window
      // where NO copy of the state existed — a crash there lost the table
      // silently (corrupt->fresh would bootstrap empty). Here the old
      // layout survives until the new one is in place.
      val old = new org.apache.hadoop.fs.Path(path + ".old-" + uuid)
      val hadOld = fs.exists(dst)
      if (hadOld) {
        if (!fs.rename(dst, old))
          throw new java.io.IOException(
            s"graft.rebucket: could not move $dst aside to $old")
      }
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(
          s"graft.rebucket: could not install $tmp at $dst" +
            (if (hadOld) s"; previous layout preserved at $old" else ""))
      if (hadOld) fs.delete(old, true)
    }

  /** Apply a snapshot to an SCD-type-2 fingerprint history (Kimball slowly-
    * changing dimension): where [[corpusDiff]] reports WHAT changed between
    * two snapshots, this keeps WHEN — every fingerprint a document ever had,
    * with its validity interval — so an incremental pipeline can answer
    * "what did the corpus look like at version V" and audit re-crawls.
    *
    * `history` rows: `(idCol, fpCol, valid_from long, valid_to long|null,
    * is_current boolean)`; an empty history bootstraps from the snapshot.
    * `version` is the caller-supplied monotonic snapshot version (a run id
    * or epoch — never wall-clock inside the plan, so replays are
    * deterministic). Per apply:
    *  - unchanged fp   -> current row passes through untouched
    *  - changed fp     -> current row closes at `version`, a new current
    *    row opens (two output rows)
    *  - id gone        -> current row closes (a later re-appearance opens a
    *    fresh row at its then-version)
    *  - id new         -> current row opens at `version`
    *  - already-closed rows always pass through (history is append-only)
    *
    * Fingerprint comparison is null-safe like [[corpusDiff]]. One shuffle:
    * the full-outer join of current rows vs snapshot on id; closed rows
    * never join. At 100 TB both sides partition by id and AQE handles the
    * skewless hash join; history grows by O(changed), not O(corpus).
    */
  def scd2Apply(history: DataFrame, snapshot: DataFrame,
                idCol: String, fpCol: String, version: Long): DataFrame = {
    val closedRows = history.filter(!col("is_current"))
      .select(col(idCol), col(fpCol), col("valid_from"), col("valid_to"),
        col("is_current"))
    val cur = history.filter(col("is_current"))
      .select(col(idCol).as("__id"), col(fpCol).as("__cur_fp"),
        col("valid_from").as("__cur_from"), lit(true).as("__in_cur"))
    val snap = snapshot
      .select(col(idCol).as("__id"), col(fpCol).as("__new_fp"),
        lit(true).as("__in_new"))
    val j = cur.join(snap, Seq("__id"), "full_outer")
    val changed = col("__in_cur").isNotNull && col("__in_new").isNotNull &&
      !(col("__cur_fp") <=> col("__new_fp"))
    // Closing side: current rows whose doc changed or disappeared.
    val closes = j.filter(col("__in_cur").isNotNull &&
        (col("__in_new").isNull || changed))
      .select(col("__id").as(idCol), col("__cur_fp").as(fpCol),
        col("__cur_from").as("valid_from"),
        lit(version).as("valid_to"), lit(false).as("is_current"))
    // Opening side: new ids and changed fingerprints.
    val opens = j.filter(col("__in_cur").isNull || changed)
      .select(col("__id").as(idCol), col("__new_fp").as(fpCol),
        lit(version).as("valid_from"),
        lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
    // Unchanged current rows ride through with their original interval.
    val carries = j.filter(col("__in_cur").isNotNull && col("__in_new").isNotNull &&
        (col("__cur_fp") <=> col("__new_fp")))
      .select(col("__id").as(idCol), col("__cur_fp").as(fpCol),
        col("__cur_from").as("valid_from"),
        lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
    closedRows.unionByName(closes).unionByName(opens).unionByName(carries)
  }

  /** Point-in-time-correct lookup against an SCD2 history: for every probe
    * row, return the history version whose validity interval
    * `[valid_from, valid_to)` (open-ended when `valid_to` is null) covers
    * the probe's version — "what did this document look like AS OF
    * version v", the temporal-join correctness contract that prevents
    * feature leakage when training data is reconstructed from a mutating
    * store (the feature-store / time-travel staple). Probes with no
    * covering interval (not yet ingested, or already deleted at v) come
    * back with null history columns — a left join, so the probe set is
    * never silently filtered.
    *
    * Scale shape: an equi-join on the id with a residual interval
    * predicate — per-id history rows are bounded by the version count, so
    * the residual filter scans a handful of rows per key; no range-join
    * machinery needed.
    */
  def scd2Lookup(history: DataFrame, probes: DataFrame, idCol: String,
                 versionCol: String): DataFrame = {
    val h = history.withColumnRenamed(idCol, "__scd2_id")
    probes.join(h,
        probes(idCol) === h("__scd2_id") &&
          h("valid_from") <= probes(versionCol) &&
          (h("valid_to").isNull || h("valid_to") > probes(versionCol)),
        "left")
      .drop("__scd2_id", "is_current")
  }

  /** Bootstrap an empty SCD2 history frame with [[scd2Apply]]'s schema. */
  def scd2Empty(spark: SparkSession, idCol: String, fpCol: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField(idCol, LongType), StructField(fpCol, StringType),
        StructField("valid_from", LongType), StructField("valid_to", LongType),
        StructField("is_current", BooleanType))))

  /** CDC APPLY — collapse an ordered change log (upserts + deletes) into
    * the final snapshot, MERGE-INTO semantics: per key, the LAST operation
    * wins — a trailing delete removes the key, a trailing upsert (even
    * after earlier deletes — resurrection) carries its value. The
    * lakehouse primitive behind applying a Debezium/binlog feed to a
    * table; [[scd2Apply]] keeps the history, this produces the state.
    *
    * One row per SURVIVING key:
    * `(key, value, last_ts, n_ops, n_upserts, n_deletes, resurrected)` —
    * `resurrected` marks keys whose surviving upsert follows at least one
    * delete (the merge edge case naive `anti-join deletes` implementations
    * get wrong). Values ride integer cents, counts are exact.
    *
    * Order within a key is `(tsCol, idCol)` — the log's total order must
    * be reconstructible or CDC apply is undefined; ties on both columns
    * would be an upstream bug this operator inherits.
    *
    * Scale shape: ONE window per key (the shuffle), then a filter — the
    * associative formulation (apply(a ++ b) == apply(apply(a) as log ++ b),
    * pinned in spec) is what makes incremental batch application sound.
    */
  def cdcApply(log: DataFrame, keyCol: String, tsCol: String, idCol: String,
               valueCol: String, deleteCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__k")).orderBy(col("__ts"), col("__id"))
    val wAll = Window.partitionBy(col("__k"))
    val typed = log
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).cast("long").as("__ts"),
        col(idCol).as("__id"),
        round(col(valueCol).cast("double") * 100, 0).cast("long").as("__cents"),
        deleteCol.cast("boolean").as("__del"))
    typed
      .withColumn("__rn", row_number().over(w))
      .withColumn("__last", max(col("__rn")).over(wAll))
      .withColumn("__n_del",
        sum(col("__del").cast("long")).over(wAll))
      .withColumn("__n_ops", count(lit(1)).over(wAll))
      .filter(col("__rn") === col("__last") && !col("__del"))
      .select(col("__k").as("key"),
        round(col("__cents").cast("double") / 100.0, 6).as("value"),
        col("__ts").as("last_ts"),
        col("__n_ops").as("n_ops"),
        (col("__n_ops") - col("__n_del")).as("n_upserts"),
        col("__n_del").as("n_deletes"),
        (col("__n_del") > 0).as("resurrected"))
  }
}
