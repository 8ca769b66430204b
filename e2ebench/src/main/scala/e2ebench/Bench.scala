package e2ebench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Engine, Factory, Pipeline}
import graft.config.{Configs, PipelineConfig}
import graft.operators.{Similarity, StateStore}

/** Input make-up of a workload. `coldDocs` documents are ingested first;
  * every delta re-run then edits `edits` documents and adds `adds`.
  */
final case class Shape(coldDocs: Int, minParas: Int, maxParas: Int,
                       edits: Int, adds: Int, maxExactRows: Long)

/** The end-to-end benchmark of the YAML pipeline. One run is one JVM: set-up,
  * a cold ingest, re-runs, searches and one evaluation, all through the
  * program's public API, then the output checks. See README.md.
  */
object Bench {
  val ChunkSize = 150
  val ChunkOverlap = 30
  val Dim = 384 // the sentence_transformer embedder's default dimension
  val K = 5
  val Questions = 40 // half verbatim chunks, half shuffled half-paragraphs

  val ownFiles = Set("Bench.scala", "Checks.scala", "Corpus.scala", "Layers.scala", "SelfTest.scala", "Trace.scala")

  val shapes: Map[String, Shape] = Map(
    // 4,575 chunks; 1% of documents edited and 2 added per delta re-run;
    // the evaluator takes its exact route.
    "incremental" -> Shape(coldDocs = 200, minParas = 16, maxParas = 30, edits = 2, adds = 2,
      maxExactRows = Similarity.DefaultMaxExactRows),
    // 4,575 chunks, evaluated with an exact-route cap of 3,000 rows, so the
    // evaluator takes the blocked route that corpora over the default cap
    // (20,000) take.
    "serve" -> Shape(coldDocs = 200, minParas = 16, maxParas = 30, edits = 3, adds = 3,
      maxExactRows = 3000L))

  def main(args: Array[String]): Unit = {
    def arg(name: String): Option[String] = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    val work = Paths.get(arg("--work").getOrElse(sys.error("--work <dir> is required"))).toAbsolutePath
    if (args.contains("--selftest")) sys.exit(SelfTest.run(work))
    val workload = arg("--workload").getOrElse(sys.error("--workload is required"))
    val shape = shapes.getOrElse(workload,
      sys.error(s"unknown workload '$workload' (known: ${shapes.keys.toSeq.sorted.mkString(", ")})"))
    val seed = arg("--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg("--seconds").map(_.toDouble).getOrElse(6.0)
    val trace = arg("--trace").contains("1")
    val run = new Run(work, trace)
    val result = try new Lifecycle(run, workload, shape, seed, seconds).apply()
                 finally { phase("lifecycle done"); run.stop(); phase("spark stopped") }
    println(result)
  }

  def phase(what: String): Unit =
    System.err.println(f"[phase] $what at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2f s")

  /** Peak resident memory of this JVM, from its own /proc/self/status. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": ${java.lang.Double.toString(v)}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** One benchmark JVM: the Spark session, the pipeline config written as YAML
  * and loaded with `Configs.load`, and the components the benchmark calls.
  * Construction is the timed set-up (`setup_s`).
  */
final class Run(val work: Path, trace: Boolean) {
  val spans = new Spans
  val corpusDir: String = work.resolve("corpus").toString
  val sinkDir: Path = work.resolve("sink")
  private val yamlPath = work.resolve("pipeline.yaml")

  Files.createDirectories(work)
  Files.writeString(yamlPath,
    s"""source:
       |  type: parquet
       |  config: {path: "$corpusDir", text_field: text, id_field: doc_id}
       |chunker:
       |  type: recursive_character
       |  config: {chunk_size: ${Bench.ChunkSize}, chunk_overlap: ${Bench.ChunkOverlap}}
       |embedder:
       |  type: sentence_transformer
       |  config: {}
       |sink:
       |  type: table
       |  config: {uri: "$sinkDir"}
       |state_manager:
       |  type: table
       |  config: {path: "${work.resolve("state")}"}
       |""".stripMargin)

  /** Local threads: fixed at 4, or fewer on a smaller machine. */
  val threads: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  // graft.Cli's session, plus scratch directories kept inside the run's
  // work directory.
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$threads]")
    .appName("graft")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  val listener: Option[JobListener] =
    if (trace) { val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l) } else None

  val cfg: PipelineConfig = spans.time("config.load")(Configs.load(yamlPath.toString))._1
  val (source, chunker, embedder, sink, stateManager, searcher, evaluator) = spans.time("factory.build") {
    (Factory.source(cfg.source), Factory.chunker(cfg.chunker), Factory.embedder(cfg.embedder),
      Factory.sink(cfg.sink), Factory.stateManager(cfg.stateManager),
      Engine.Searcher(cfg), Engine.Evaluator(cfg))
  }._1

  /** Seconds from the JVM's start to here. */
  val setupS: Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def sourceOf(d: Doc): String = s"$corpusDir#${d.id}"

  // ---- inputs (untimed) ----

  /** Writes the corpus as four parquet files (doc_id, text) with the
    * parquet library alone, so no Spark job runs for it.
    */
  def writeCorpus(docs: Seq[Doc]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message doc { required binary doc_id (UTF8); required binary text (UTF8); }")
    val dir = Paths.get(corpusDir)
    if (Files.exists(dir)) org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    val groups = new SimpleGroupFactory(schema)
    docs.grouped((docs.size + 3) / 4).zipWithIndex.foreach { case (part, i) =>
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(dir.resolve(f"part-$i%05d.parquet").toString))
        .withType(schema).withConf(new org.apache.hadoop.conf.Configuration())
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
      try part.foreach(d => w.write(groups.newGroup().append("doc_id", d.id).append("text", d.text)))
      finally w.close()
    }
  }

  def writeQuestions(qs: Seq[(String, String)]): String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
    }
    val p = work.resolve("questions.jsonl")
    Files.writeString(p, qs.map { case (q, s) =>
      s"""{"question": "${esc(q)}", "expected_source": "${esc(s)}"}""" }.mkString("", "\n", "\n"))
    p.toString
  }

  // ---- timed operations ----

  def pipelineRun(kind: String): (Pipeline.RunReport, Span) =
    spans.time(s"pipeline.$kind")(Pipeline.run(spark, cfg))

  /** `Searcher.search` plus collect; returns the hits and the latency in ms. */
  def search(query: String, kind: String): (Seq[Hit], Double) = {
    val (df, b) = spans.time(s"search.$kind.build")(searcher.search(spark, query, Bench.K))
    val (rows, e) = spans.time(s"search.$kind.exec")(df.collect())
    (rows.toSeq.map(r => Hit(r.getString(0), r.getString(1), r.getDouble(2))), b.ms + e.ms)
  }

  /** `Evaluator.evaluate` plus collect: (hit_rate, total_questions, hits) and seconds. */
  def evaluate(questions: String, maxExactRows: Long): ((Double, Long, Long), Double) = {
    val (df, b) = spans.time("eval.build")(evaluator.evaluate(spark, questions, Bench.K, maxExactRows))
    val (rows, e) = spans.time("eval.exec")(df.collect())
    val r = rows.head
    ((r.getDouble(0), r.getLong(1), r.getLong(2)), (b.ms + e.ms) / 1000.0)
  }

  // ---- outputs, read back for the checks (untimed) ----

  def sinkRows(): Vector[SinkRow] = {
    import spark.implicits._
    sink.read(spark).select("id", "source", "chunk_index", "text", "vector")
      .as[(String, String, Int, String, Array[Float])].collect().toVector
      .map { case (id, source, idx, text, vec) => SinkRow(id, source, idx, text, vec) }
  }

  def stateItems(): Map[String, String] =
    stateManager.load(spark).collect().toSeq
      .filter(_.getString(0) != StateStore.WatermarkKey)
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** (files, bytes) of the sink table on disk; files counts parquet parts. */
  def sinkDisk(): (Long, Long) = {
    val files = Files.walk(sinkDir).iterator().asScala.filter(Files.isRegularFile(_)).toVector
    (files.count(_.getFileName.toString.endsWith(".parquet")).toLong, files.map(Files.size).sum)
  }

  def stop(): Unit = spark.stop()
}

object Lifecycle {
  // Cheap operations repeat within a round, so their metric is a median.
  // The timed evaluations follow one untimed call (see Lifecycle.apply).
  val NoopsPerRound = 2
  val StaticPerRound = 4
  val FreshPerDelta = 3
  val EvalsPerRun = 2
}

/** The operations of one workload run, timed, then checked, then reported. */
final class Lifecycle(run: Run, workload: String, shape: Shape, seed: Long, seconds: Double) {
  import run.spans

  private val gen = new Corpus(seed)
  private var docs: Vector[Doc] = gen.docs(0, shape.coldDocs, shape.minParas, shape.maxParas)
  private var nextId = shape.coldDocs
  private def docMap(ds: Seq[Doc]) = ds.map(d => run.sourceOf(d) -> d).toMap

  /** Seconds spent outside the timed operations: inputs, read-backs, checks. */
  private var asideS = 0.0
  private def aside[T](f: => T): T = {
    val t0 = System.nanoTime(); try f finally asideS += (System.nanoTime() - t0) / 1e9
  }

  private val errors = Seq.newBuilder[String]
  private var attempted = 0
  private val latencies = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
  private def record(metric: String, v: Double): Unit = { attempted += 1; latencies(metric) :+= v }

  /** Deferred brute-force checks: (what, sink rows at the time, query, hits). */
  private val searchChecks = Seq.newBuilder[(String, Vector[SinkRow], String, Seq[Hit])]
  private var deltaReports = Vector.empty[(Pipeline.RunReport, Span)]
  private var noopSpans = Vector.empty[Span]

  private def verbatim(d: Doc): String = d.paragraphs(gen.pick(d.paragraphs.size, 1).head)

  private def cold(): Vector[SinkRow] = {
    aside(run.writeCorpus(docs))
    val (rep, s) = run.pipelineRun("cold")
    record("cold_s", s.ms / 1000)
    val rows = aside(run.sinkRows())
    val all = docMap(docs)
    errors ++= Checks.report("cold run", rep, docs.size, docs.size, docs.map(_.paragraphs.size).sum, docs.size)
    errors ++= Checks.chunks(rows, all, Bench.Dim, Bench.ChunkSize, exhaustive = true)
    errors ++= Checks.state(aside(run.stateItems()), all)
    rows
  }

  /** No-op re-runs, then a check that they left the sink as it was. */
  private def noops(before: Vector[SinkRow]): Vector[SinkRow] = {
    for (_ <- 1 to Lifecycle.NoopsPerRound) {
      val (rep, s) = run.pipelineRun("noop")
      record("noop_s", s.ms / 1000); noopSpans :+= s
      errors ++= Checks.report("no-op re-run", rep, docs.size, 0, 0, 0)
    }
    val after = aside(run.sinkRows())
    errors ++= Checks.unchanged("no-op re-run", before, after)
    after
  }

  /** A search for a verbatim paragraph of an existing document. */
  private def staticSearch(rows: Vector[SinkRow]): Unit = {
    val d = docs(gen.pick(docs.size, 1).head)
    val q = verbatim(d)
    val (hits, ms) = run.search(q, "static")
    record("search_ms", ms)
    errors ++= Checks.rankOne("search", hits, run.sourceOf(d))
    searchChecks += (("search", rows, q, hits))
  }

  /** Edits and additions, a delta re-run, then searches for fresh text. */
  private def delta(before: Vector[SinkRow]): Vector[SinkRow] = {
    val edited = gen.pick(docs.size, shape.edits).map(i => i -> gen.edit(docs(i)))
    val added = gen.docs(nextId, shape.adds, shape.minParas, shape.maxParas)
    nextId += shape.adds
    docs = edited.foldLeft(docs) { case (ds, (i, d)) => ds.updated(i, d) } ++ added
    aside(run.writeCorpus(docs))
    val touched = edited.map(_._2) ++ added

    val (rep, s) = run.pipelineRun("delta")
    record("delta_s", s.ms / 1000); deltaReports :+= (rep -> s)
    val fresh = gen.pick(touched.size, Lifecycle.FreshPerDelta).map(touched).map { d =>
      val q = verbatim(d)
      val (hits, ms) = run.search(q, "fresh")
      record("fresh_ms", ms)
      (d, q, hits)
    }

    val after = aside(run.sinkRows())
    errors ++= Checks.report("delta re-run", rep, docs.size, touched.size,
      touched.map(_.paragraphs.size).sum, touched.size)
    errors ++= Checks.conserved(before, after, touched.map(run.sourceOf).toSet)
    errors ++= Checks.chunks(after, docMap(touched), Bench.Dim, Bench.ChunkSize)
    fresh.foreach { case (d, q, hits) =>
      errors ++= Checks.rankOne("fresh search", hits, run.sourceOf(d))
      searchChecks += (("fresh search", after, q, hits))
    }
    after
  }

  private def timedSince(n0: Int): Double = spans.all.drop(n0).map(_.ms).sum / 1000

  def apply(): String = {
    val lifecycle0 = System.currentTimeMillis()
    Bench.phase("setup done")
    var rows = cold()
    Bench.phase("cold done")
    // One untimed search first, so the timed ones do not pay the search
    // path's first compilation.
    aside(run.searcher.search(run.spark, verbatim(docs.head), Bench.K).collect())
    // Either the measured seconds repeat whole re-run rounds (incremental),
    // or one round builds the served sink and the seconds repeat searches.
    val loops = workload == "incremental"
    val n0 = spans.all.size
    do {
      rows = noops(rows)
      for (_ <- 1 to Lifecycle.StaticPerRound) staticSearch(rows)
      rows = delta(rows)
    } while (loops && timedSince(n0) < seconds)
    if (!loops) {
      val n1 = spans.all.size
      do staticSearch(rows) while (timedSince(n1) < seconds)
    }
    if ((workload == "serve") != (rows.size > shape.maxExactRows))
      errors += s"$workload sink holds ${rows.size} chunks against an exact-route cap of ${shape.maxExactRows}"

    val qs = Vector.tabulate(Bench.Questions) { i =>
      val d = docs(gen.pick(docs.size, 1).head)
      if (i % 2 == 0) (verbatim(d), run.sourceOf(d)) else (gen.looseQuestion(d), run.sourceOf(d))
    }
    Bench.phase("rounds done")
    val qPath = aside(run.writeQuestions(qs))
    // One untimed evaluation first, as for the searches: the timed ones then
    // measure the evaluation path, not its first compilation in this JVM.
    aside(run.evaluator.evaluate(run.spark, qPath, Bench.K, shape.maxExactRows).collect())
    val evals = Vector.fill(Lifecycle.EvalsPerRun) {
      val (r, s) = run.evaluate(qPath, shape.maxExactRows)
      record("eval_s", s)
      r
    }
    val lifecycle = Span("lifecycle", lifecycle0, System.currentTimeMillis(), 0L)
    val opsS = spans.all.filter(s => s.name.startsWith("pipeline.") || s.name.startsWith("search.") ||
      s.name.startsWith("eval.")).map(_.ms).sum / 1000

    Bench.phase("eval done")
    // Checks that need no more Spark work, run after all timing.
    evals.foreach { case (hitRate, total, hits) =>
      errors ++= Checks.eval(hitRate, total, hits, qs.size, (qs.size + 1) / 2)
    }
    aside(searchChecks.result().foreach { case (what, snap, q, hits) =>
      errors ++= Checks.topK(what, snap, run.embedder.embedQuery(q), Bench.K, hits)
    })
    Bench.phase("checks done")
    val (files, bytes) = run.sinkDisk()
    val errs = errors.result()
    errs.take(20).foreach(e => System.err.println(s"CHECK FAILED: $e"))

    val e2e = Seq(
      ("setup_s", run.setupS, "s"),
      ("cold_docs_per_s", shape.coldDocs / latencies("cold_s").head, "docs/s"),
      ("noop_rerun_s", Bench.median(latencies("noop_s")), "s"),
      ("delta_rerun_s", Bench.median(latencies("delta_s")), "s"),
      ("fresh_search_ms", Bench.median(latencies("fresh_ms")), "ms"),
      ("search_p50_ms", Bench.median(latencies("search_ms")), "ms"),
      ("eval_s", Bench.median(latencies("eval_s")), "s"),
      ("sink_bytes_per_chunk", bytes.toDouble / rows.size, "bytes"),
      ("peak_rss_mb", Bench.peakRssMb(), "MB"))
    System.err.println(s"[$workload seed=$seed] " + e2e.map { case (n, v, _) => f"$n=$v%.4f" }.mkString(" ") +
      f" ops_s=$opsS%.3f aside_s=$asideS%.3f searches=${latencies("search_ms").size} rounds=${latencies("delta_s").size}" +
      Seq("search_ms", "fresh_ms", "eval_s").map(m => s" $m=" + latencies(m).map(v => f"$v%.4g").mkString(",")).mkString)
    println(f"# ops_s $opsS%.6f")

    val metrics = run.listener match {
      case None => e2e
      case Some(l) =>
        new Layers(run, l, lifecycle, deltaReports, noopSpans, qPath, qs.size, rows.size, shape.maxExactRows,
          files, bytes, opsS).apply()
    }
    Bench.json(errs.isEmpty, attempted, 0, metrics)
  }
}
