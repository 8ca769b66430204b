package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.operators.{Sink, StateStore}

/** The write path (SURVEY §3.1; reference `yamlpipe/core/pipeline.py:51-98`)
  * as ONE lazy Spark lineage:
  *
  * {{{
  * source.load -> anti-join state (change detection) -> chunk (flatMap)
  *   -> embed -> sink projection -> upsert-by-source write
  * }}}
  *
  * then the state update as a second small job. Semantics preserved:
  *  - unchanged documents are skipped before any chunking/embedding work
  *    (cheap-first ordering, `sources.py:79-81`);
  *  - empty inputs exit early (`pipeline.py:58-61,82-84`);
  *  - state is updated ONLY for documents that produced >= 1 chunk
  *    (`pipeline.py:74-78,96-97`) and ONLY after a successful sink write
  *    (`pipeline.py:96-98` — at-least-once);
  *  - the run watermark is advanced on success (`sources.py:299-300`).
  *
  * Unlike the reference — which materializes every document, chunk, and
  * embedding in driver memory (`pipeline.py:57-94`) — nothing here leaves
  * the cluster: the driver only sees counts.
  */
object Pipeline {

  final case class RunReport(documentsLoaded: Long, documentsChanged: Long,
                             chunksWritten: Long, sourcesProcessed: Long)

  def run(spark: SparkSession, config: PipelineConfig): RunReport = {
    val chunker = Factory.chunker(config.chunker)
    val embedder = Factory.embedder(config.embedder)
    val sink = Factory.sink(config.sink)
    val stateManager = Factory.stateManager(config.stateManager)

    val state = stateManager.load(spark)
    // T3: watermark-capable sources (JDBC) push `ts > last_run_timestamp`
    // into the source query server-side (`sources.py:266-272`).
    val source = Factory.source(config.source)
      .withRunWatermark(StateStore.lastRunTimestamp(state))
    val docs = source.load(spark)
    val nDocs = docs.count()
    if (nDocs == 0) return RunReport(0, 0, 0, 0)

    // T1 change detection: fingerprint anti-join; docs with null
    // fingerprints (stateless sources) always pass through as "changed".
    val tracked = StateStore.changed(
      docs.filter(col("fingerprint").isNotNull), state, idCol = "source")
    val untracked = docs.filter(col("fingerprint").isNull)
    // `changed` feeds the main lineage plus the state update and the report
    // counts; persist so chunk/embed upstream is computed exactly once.
    val changed = tracked.unionByName(untracked)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nChanged = changed.count()
      if (nChanged == 0) return RunReport(nDocs, 0, 0, 0)

      val chunked = chunker.chunk(changed, "content")
      val embedded = embedder.embed(chunked, "chunk")
      // Persisted: the sink write and the bookkeeping below read the same
      // rows, and chunk/embed run once.
      val projected = Sink.project(embedded, textCol = "chunk", vecCol = "embedding")
        .drop("content") // the chunk is the sink text; full doc content is not re-stored
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        sink.write(projected)
        // Post-write bookkeeping reads the written batch, not the sink: no
        // listing or read-back of the table. A source produced >= 1 chunk
        // this run iff it is in the batch; one aggregate gives both counts.
        val counts = projected.agg(count(lit(1)), countDistinct(col("source"))).first()
        val (nChunks, nProcessed) = (counts.getLong(0), counts.getLong(1))
        val processedSources = projected.select("source").distinct()

        // State update AFTER the successful write, keyed by the sources that
        // produced chunks.
        val processedFps = changed
          .join(processedSources, Seq("source"), "left_semi")
          .select(col("source").as("item_id"), col("fingerprint"))
          .filter(col("fingerprint").isNotNull)
        val newState = StateStore.touchWatermark(StateStore.upsert(state, processedFps))
        stateManager.save(newState)

        RunReport(nDocs, nChanged, nChunks, nProcessed)
      } finally projected.unpersist()
    } finally changed.unpersist()
  }
}
