package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.operators.{Search, Similarity}

/** The read path (SURVEY §2.6/§2.7; reference `yamlpipe/core/evaluation.py`
  * and `app.py:29-61`): vector top-k search and retrieval evaluation over a
  * sink table. The (embedder config, sink config) pair is the session
  * handle, exactly as in the reference UI.
  */
object Engine {

  /** Q3 — Searcher: embed the query on the driver, exact top-k over the
    * corpus (TakeOrderedAndProject — per-partition top-k + k-row merge,
    * no full sort at any corpus size). Returns (source, text, score).
    *
    * One Searcher holds one sink, so repeated searches share its snapshot
    * ([[graft.sinks.VectorTableSink.read]]): while the table is unchanged a
    * search costs one marker read plus the top-k job; the first search
    * after an upsert lists the table and reads its schema again, and sees
    * the upsert. A search planned before a concurrent upsert commits can
    * still race it. Keep the instance across queries to keep the snapshot.
    */
  final case class Searcher(config: PipelineConfig) {
    private val embedder = Factory.embedder(config.embedder)
    private val sink = Factory.sink(config.sink)

    def search(spark: SparkSession, query: String, k: Int = 3): DataFrame = {
      val qv = embedder.embedQuery(query)
      Search.topKCosine(sink.read(spark), qv, k, vecCol = "vector", idCol = "id")
        .select(col("source"), col("text"), col("score"))
    }
  }

  /** A1–A3 — Evaluator: hit@k per question -> hit-rate aggregate, as ONE
    * set-oriented plan (the reference loops questions on the driver,
    * `evaluation.py:83-95`). Dataset: JSONL of
    * `{question, expected_source}` (`eval_dataset.jsonl` shape).
    *
    * Routing (SCALE.md "evaluator routing"): corpora at or under
    * `maxExactRows` run the EXACT all-pairs kernel
    * ([[Search.topKPerQuery]], already guarded); larger corpora route
    * through [[Similarity.blockedTopKPerQuery]] — hyperplane-LSH banded
    * candidates with multiprobe ON for recall, identical re-rank tail —
    * so the evaluator never plans O(|Q|·|N|) at corpus scale. The route
    * decision costs one columnar count over the sink table. Like
    * [[Searcher]], one instance reuses its sink's snapshot across calls.
    */
  final case class Evaluator(config: PipelineConfig) {
    private val embedder = Factory.embedder(config.embedder)
    private val sink = Factory.sink(config.sink)

    /** Returns a 1-row frame (hit_rate, total_questions, hits). */
    def evaluate(spark: SparkSession, datasetPath: String, k: Int = 5,
                 maxExactRows: Long = Similarity.DefaultMaxExactRows): DataFrame = {
      val questions = spark.read.json(datasetPath)
        .select(col("question"), col("expected_source"))
        .withColumn("qid", monotonically_increasing_id())
      val embedded = embedder.embed(questions, "question")
        .select(col("qid"), col("expected_source"), col("embedding").as("qvec"))
      val corpus = sink.read(spark)
        .select(col("id"), col("source"), col("vector").as("embedding"))
      // Route blocked when EITHER side exceeds the cap: the exact kernel
      // guards both inputs, so a 25k-question set over a 1k-row corpus
      // must route blocked rather than trip the queries-side guard
      // mid-flight. The question count comes from the PRE-embedding frame:
      // counting `embedded` would run the whole embedder (a remote HTTP
      // batch client in the openai binding) once for the count and again
      // in the eval plan.
      val topk =
        if (Similarity.fitsExactRegime(maxExactRows, corpus, questions))
          Search.topKPerQuery(embedded, corpus, k,
            qidCol = "qid", qvecCol = "qvec", idCol = "id", vecCol = "embedding",
            maxExactRows = maxExactRows)
        else {
          // LEFT join from the question side: a question whose banded
          // signature collides with no corpus row must still count in
          // hit-rate's denominator as a MISS (its source stays null →
          // hit 0), exactly as the exact route's cross join sees every
          // question. Dropping it would inflate hit_rate precisely when
          // recall fails — the moment the metric matters.
          val cand = Similarity.blockedTopKPerQuery(embedded, corpus, k,
              qidCol = "qid", qvecCol = "qvec", idCol = "id", vecCol = "embedding",
              multiprobe = true)
            .join(corpus.select(col("id"), col("source")), "id")
            .select(col("qid"), col("id"), col("source"))
          embedded.select(col("qid"), col("expected_source"))
            .join(cand, Seq("qid"), "left")
        }
      Search.hitRate(topk, "qid", "source", "expected_source")
    }
  }
}
