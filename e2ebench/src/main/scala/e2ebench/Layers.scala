package e2ebench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.Pipeline
import graft.config.ComponentConfig
import graft.operators.{Similarity, StateStore}
import graft.Factory

/** Per-layer metrics of a traced run: the spans the benchmark recorded
  * around its calls into each module, the jobs the listener attributed to
  * them, and probes that time one module's public function on the
  * workload's final documents. Probes run after the lifecycle, so they do
  * not disturb its spans.
  */
final class Layers(run: Run, l: JobListener, lifecycle: Span,
                   deltas: Vector[(Pipeline.RunReport, Span)], noops: Vector[Span],
                   questions: String, nQuestions: Int, chunks: Int, maxExactRows: Long,
                   files: Long, bytes: Long, opsS: Double) {
  import Bench.median
  private val spark = run.spark

  private def timeMs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
  /** Median of three timings, after one untimed call. */
  private def timeMs3(f: => Unit): Double = { f; median(Seq.fill(3)(timeMs(f))) }
  private def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def perSpan(prefix: String)(f: Seq[JobRec] => Double): Double = {
    val ss = run.spans.all.filter(_.name.startsWith(prefix)).toSeq
    median(ss.map(s => f(l.within(s))))
  }

  /** One search is its build span plus its exec span. */
  private def perSearch(f: Seq[JobRec] => Double): Double = {
    val ss = run.spans.all.filter(_.name.startsWith("search.")).grouped(2).toSeq
    median(ss.map(pair => f(pair.toSeq.flatMap(l.within))))
  }

  private def searchMs(suffix: String): Double =
    median(run.spans.all.filter(s => s.name.startsWith("search.") && s.name.endsWith(suffix)).map(_.ms).toSeq)

  def apply(): Seq[(String, Double, String)] = {
    l.settle()
    val jobs = l.within(lifecycle)
    val spans = run.spans

    // Isolated probes, each a public function of one module, drained into
    // Spark's noop format; later stages subtract the stages before them.
    val docs = run.source.load(spark)
    val chunked = run.chunker.chunk(docs, "content")
    val state = run.stateManager.load(spark)
    val probe = Factory.stateManager(ComponentConfig("table", Map("path" -> run.work.resolve("state-probe").toString)))
    val sourceMs = timeMs3(drain(run.source.load(spark)))
    val chunkMs = timeMs3(drain(run.chunker.chunk(run.source.load(spark), "content")))
    val embedMs = timeMs3(drain(run.embedder.embed(run.chunker.chunk(run.source.load(spark), "content"), "chunk")))
    val stateLoadMs = timeMs3(drain(run.stateManager.load(spark)))
    val stateSaveMs = timeMs3(probe.save(state))
    val detectMs = timeMs3(drain(StateStore.changed(
      run.source.load(spark).filter(col("fingerprint").isNotNull), run.stateManager.load(spark), idCol = "source")))
    val listingMs = timeMs3(run.sink.read(spark))
    val (nDocs, nChunks, stateRows) = (docs.count(), chunked.count(), state.count())

    // Candidate pairs of the evaluator's route: all pairs on the exact
    // route; on the blocked route, every pair the banding keeps (the
    // evaluator's own call with k unbounded, so no candidate is cut).
    val pairs =
      if (chunks <= maxExactRows) nQuestions.toDouble * chunks
      else {
        val qs = run.embedder.embed(spark.read.json(questions).select(col("question"))
          .withColumn("qid", org.apache.spark.sql.functions.monotonically_increasing_id()), "question")
          .select(col("qid"), col("embedding").as("qvec"))
        val corpus = run.sink.read(spark).select(col("id"), col("vector").as("embedding"))
        Similarity.blockedTopKPerQuery(qs, corpus, Int.MaxValue, qidCol = "qid", qvecCol = "qvec",
          idCol = "id", vecCol = "embedding", multiprobe = true).count().toDouble
      }

    def sinkJobs(js: Seq[JobRec]) = js.filter(_.module == "sink")
    def wallMs(js: Seq[JobRec]) = js.map(j => (j.endMs - j.startMs).toDouble).sum
    val deltaSink = deltas.map { case (rep, s) =>
      val js = sinkJobs(l.within(s))
      (wallMs(js), js.map(_.outputRecords).sum.toDouble, rep.chunksWritten.toDouble, rep.documentsChanged.toDouble)
    }

    Seq(
      ("config.load_ms", spans.named("config.load").head.ms, "ms"),
      ("factory.build_ms", spans.named("factory.build").head.ms, "ms"),
      ("sources.load_ms", sourceMs, "ms"),
      ("sources.docs", nDocs.toDouble, "count"),
      ("state.load_ms", stateLoadMs, "ms"),
      ("state.save_ms", stateSaveMs, "ms"),
      ("state.rows", stateRows.toDouble, "count"),
      ("change.detect_ms", detectMs - sourceMs - stateLoadMs, "ms"),
      ("change.docs_changed", median(deltaSink.map(_._4)), "count"),
      ("chunk.ms", chunkMs - sourceMs, "ms"),
      ("chunk.chunks", nChunks.toDouble, "count"),
      ("embed.ms", embedMs - chunkMs, "ms"),
      ("embed.vectors", nChunks.toDouble, "count"),
      ("sink.write_ms", median(deltaSink.map(_._1)), "ms"),
      ("sink.rows_written", median(deltaSink.map(_._2)), "count"),
      ("sink.write_amplification", median(deltaSink.map(d => d._2 / d._3)), "ratio"),
      ("sink.listing_ms", listingMs, "ms"),
      ("sink.files", files.toDouble, "count"),
      ("sink.bytes", bytes.toDouble, "bytes"),
      ("pipeline.cold.jobs", perSpan("pipeline.cold")(_.size.toDouble), "count"),
      ("pipeline.noop.jobs", perSpan("pipeline.noop")(_.size.toDouble), "count"),
      ("pipeline.noop.idle_ms", median(noops.map(s => JobListener.idleMs(s, l.within(s)))), "ms"),
      ("pipeline.delta.jobs", perSpan("pipeline.delta")(_.size.toDouble), "count"),
      ("pipeline.delta.stages", perSpan("pipeline.delta")(_.map(_.stages).sum.toDouble), "count"),
      ("pipeline.delta.tasks", perSpan("pipeline.delta")(_.map(_.tasks).sum.toDouble), "count"),
      ("pipeline.delta.idle_ms", median(deltas.map { case (_, s) => JobListener.idleMs(s, l.within(s)) }), "ms"),
      ("search.build_ms", searchMs(".build"), "ms"),
      ("search.exec_ms", searchMs(".exec"), "ms"),
      ("search.jobs", perSearch(_.size.toDouble), "count"),
      ("search.bytes_read", perSearch(_.map(_.inputBytes).sum.toDouble), "bytes"),
      ("eval.route_ms", spans.named("eval.build").head.ms, "ms"),
      ("eval.exec_ms", spans.named("eval.exec").head.ms, "ms"),
      ("eval.jobs", (l.within(spans.named("eval.build").head) ++ l.within(spans.named("eval.exec").head)).size.toDouble, "count"),
      ("similarity.candidate_pairs", pairs, "count"),
      ("similarity.candidate_fraction", pairs / (nQuestions.toDouble * chunks), "ratio"),
      ("spark.task_cpu_s", jobs.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.gc_ms", jobs.map(_.gcMs).sum.toDouble, "ms"),
      ("spark.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum.toDouble, "bytes"),
      ("spark.output_records", jobs.map(_.outputRecords).sum.toDouble, "count"),
      ("spark.input_bytes", jobs.map(_.inputBytes).sum.toDouble, "bytes"),
      ("trace.ops_s", opsS, "s")
    ) ++ JobListener.modules.map(m => (s"jobs.$m", jobs.count(_.module == m).toDouble, "count"))
  }
}
