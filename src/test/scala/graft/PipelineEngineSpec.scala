package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.config.Configs

/** End-to-end write path + read path (SURVEY §3.1/§3.2): YAML config ->
  * pipeline run -> sink table -> search + eval, plus rerun idempotence
  * (change detection makes the second run a no-op).
  */
class PipelineEngineSpec extends AnyFunSuite with SparkTestBase {

  private def setup() = {
    val root = tempDir("graft-e2e")
    val data = root.resolve("data")
    Files.createDirectories(data)
    Files.writeString(data.resolve("spark.txt"),
      "Apache Spark is a distributed analytics engine for large scale data processing. " +
        "Spark uses resilient distributed datasets and a catalyst optimizer.")
    Files.writeString(data.resolve("cooking.txt"),
      "A good tomato sauce needs garlic, olive oil, basil and patience. " +
        "Simmer the tomatoes slowly and season the sauce with salt.")
    val yaml =
      s"""source:
         |  type: local_files
         |  config:
         |    directory: ${data.toString}
         |    glob: "*.txt"
         |chunker:
         |  type: recursive_character
         |  config:
         |    chunk_size: 80
         |    chunk_overlap: 10
         |embedder:
         |  type: hashing
         |  config:
         |    dim: 64
         |sink:
         |  type: lancedb
         |  config:
         |    uri: ${root.resolve("sink").toString}
         |state_manager:
         |  type: json
         |  config:
         |    path: ${root.resolve("state.json").toString}
         |""".stripMargin
    val cfgPath = root.resolve("pipeline.yaml")
    Files.writeString(cfgPath, yaml)
    (root, data, Configs.load(cfgPath.toString))
  }

  test("run -> sink populated -> rerun skips unchanged -> search finds the right doc") {
    val (root, data, cfg) = setup()

    val r1 = Pipeline.run(spark, cfg)
    assert(r1.documentsLoaded == 2 && r1.documentsChanged == 2)
    assert(r1.chunksWritten > 2 && r1.sourcesProcessed == 2)

    val sink = Factory.sink(cfg.sink)
    val table = sink.read(spark)
    assert(table.columns.contains("text") && table.columns.contains("vector")
      && table.columns.contains("source") && table.columns.contains("id"))
    assert(table.count() == r1.chunksWritten)

    // Rerun with nothing changed: change detection skips everything.
    val r2 = Pipeline.run(spark, cfg)
    assert(r2.documentsLoaded == 2 && r2.documentsChanged == 0 && r2.chunksWritten == 0)
    assert(sink.read(spark).count() == r1.chunksWritten)

    // Modify one file -> only that source re-ingested.
    Files.writeString(data.resolve("cooking.txt"),
      "Fresh pasta with tomato sauce, garlic and basil. Salt to taste.")
    val r3 = Pipeline.run(spark, cfg)
    assert(r3.documentsChanged == 1 && r3.sourcesProcessed == 1)
    val sources = sink.read(spark).select("source").distinct().collect().map(_.getString(0))
    assert(sources.length == 2)

    // Search: token-overlap embedding puts the spark doc on top for a
    // sparky query, the cooking doc for a cooking query.
    val s = Engine.Searcher(cfg)
    val sparkHit = s.search(spark, "distributed analytics engine spark", 1).collect()(0)
    assert(sparkHit.getAs[String]("source").endsWith("spark.txt"))
    val cookHit = s.search(spark, "tomato sauce garlic basil", 1).collect()(0)
    assert(cookHit.getAs[String]("source").endsWith("cooking.txt"))
  }

  /** The descriptions of the jobs the calling thread starts while `f`
    * runs, seen by a listener. A tagged sentinel job follows `f`: the
    * listener bus delivers events in order, so once the sentinel's start
    * is seen, every job `f` started has been seen too.
    */
  private def jobsOf[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = s"jobs-of-${java.util.UUID.randomUUID()}"
    val sentinel = s"$tag-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).map(_.getProperty("spark.job.tags", "")).getOrElse("")
          .split(",").toSet
        if (tags(tag)) seen.add(Option(e.properties.getProperty("spark.job.description"))
          .getOrElse(e.stageInfos.map(_.name).mkString(";")))
        if (tags(sentinel)) drained.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try f finally sc.removeJobTag(tag)
      sc.addJobTag(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(sentinel)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("one Searcher sees each upsert: bucket overwrite, then schema migration") {
    import spark.implicits._
    val (_, data, cfg) = setup()
    Pipeline.run(spark, cfg)
    val s = Engine.Searcher(cfg)
    def top(q: String) = s.search(spark, q, 1).collect()(0)
    assert(top("tomato sauce garlic basil").getAs[String]("source").endsWith("cooking.txt"))
    assert(top("tomato sauce garlic basil").getAs[String]("source").endsWith("cooking.txt"))

    // Bucket overwrite: the re-run rewrites only the edited source's bucket.
    Files.writeString(data.resolve("cooking.txt"), "Saffron risotto with zucchini and parmesan.")
    assert(Pipeline.run(spark, cfg).documentsChanged == 1)
    val fresh = top("saffron risotto zucchini parmesan")
    assert(fresh.getAs[String]("source").endsWith("cooking.txt"))
    assert(fresh.getAs[String]("text").contains("Saffron risotto"))

    // Schema migration: a batch with an extra column rewrites the table.
    val text = "lattice chromodynamics quark gluon plasma"
    val vec = Factory.embedder(cfg.embedder).embedQuery(text)
    Factory.sink(cfg.sink).write(Seq(("q-1", text, vec.toSeq, "physics.txt", "en"))
      .toDF("id", "text", "vector", "source", "lang"))
    assert(Factory.sink(cfg.sink).read(spark).columns.contains("lang"), "the write did not migrate")
    val migrated = top(text)
    assert(migrated.getAs[String]("source") == "physics.txt")
    assert(top("distributed analytics engine spark").getAs[String]("source").endsWith("spark.txt"))
  }

  test("a warm search runs one job; the first search after an upsert lists and reads footers again") {
    import spark.implicits._
    val root = tempDir("graft-warm")
    val cfg = Configs.parse(
      s"""source:
         |  type: local_files
         |  config: {directory: ${root.resolve("unused").toString}}
         |chunker:
         |  type: recursive_character
         |  config: {chunk_size: 80, chunk_overlap: 10}
         |embedder:
         |  type: hashing
         |  config: {dim: 1024}
         |sink:
         |  type: table
         |  config: {uri: ${root.resolve("sink").toString}}
         |state_manager:
         |  type: memory
         |""".stripMargin)
    val embedder = Factory.embedder(cfg.embedder)
    def batch(sources: Range, version: String) = sources.map { i =>
      val text = s"$version alpha$i beta$i gamma$i"
      (s"$version-$i", text, embedder.embedQuery(text).toSeq, s"src_$i")
    }.toDF("id", "text", "vector", "source")
    // 600 sources fill all 64 buckets: more bucket directories than the
    // session's parallel-discovery threshold (32), so a fresh read lists
    // them with a job.
    val writer = Factory.sink(cfg.sink)
    writer.write(batch(0 until 600, "v1"))
    val s = Engine.Searcher(cfg)
    def search(q: String) = jobsOf(s.search(spark, q, 1).collect()(0).getAs[String]("source"))

    val (first, cold) = search("v1 alpha5 beta5 gamma5")
    assert(first == "src_5")
    assert(cold.size == 3, s"a first search lists, reads a footer and runs the top-k: $cold")
    assert(cold.exists(_.startsWith("Listing leaf files")), cold)
    for (i <- Seq(7, 8)) {
      val (hit, warm) = search(s"v1 alpha$i beta$i gamma$i")
      assert(hit == s"src_$i")
      assert(warm.size == 1, s"a warm search runs the top-k alone: $warm")
    }

    writer.write(batch(40 until 41, "v2"))
    val (fresh, miss) = search("v2 alpha40 beta40 gamma40")
    assert(fresh == "src_40")
    assert(miss.size == cold.size && miss.exists(_.startsWith("Listing leaf files")),
      s"the first search after an upsert must read the table again: $miss")
    assert(search("v2 alpha40 beta40 gamma40")._2.size == 1)
  }

  test("evaluator computes hit-rate over a JSONL dataset (evaluation.py:66-109)") {
    val (root, data, cfg) = setup()
    Pipeline.run(spark, cfg)
    val ds = root.resolve("eval.jsonl")
    val sparkSrc = "file:" + data.resolve("spark.txt").toString
    val cookSrc = "file:" + data.resolve("cooking.txt").toString
    Files.writeString(ds,
      s"""{"question": "distributed analytics engine spark", "expected_source": "$sparkSrc"}
         |{"question": "tomato sauce garlic basil", "expected_source": "$cookSrc"}
         |{"question": "quantum chromodynamics lattice", "expected_source": "file:/nowhere.txt"}
         |""".stripMargin)
    val row = Engine.Evaluator(cfg).evaluate(spark, ds.toString, k = 3).collect()(0)
    assert(row.getAs[Long]("total_questions") == 3)
    assert(row.getAs[Long]("hits") == 2)
    assert(math.abs(row.getAs[Double]("hit_rate") - 200.0 / 3).abs < 0.01)
  }

  test("evaluator routes blocked above the exact cap with identical hit-rate") {
    val (root, data, cfg) = setup()
    Pipeline.run(spark, cfg)
    val ds = root.resolve("eval_routing.jsonl")
    val sparkSrc = "file:" + data.resolve("spark.txt").toString
    val cookSrc = "file:" + data.resolve("cooking.txt").toString
    Files.writeString(ds,
      s"""{"question": "distributed analytics engine spark", "expected_source": "$sparkSrc"}
         |{"question": "tomato sauce garlic basil", "expected_source": "$cookSrc"}
         |{"question": "quantum chromodynamics lattice", "expected_source": "file:/nowhere.txt"}
         |""".stripMargin)
    val ev = Engine.Evaluator(cfg)
    // Default cap -> exact route (fixture corpus is tiny).
    val exact = ev.evaluate(spark, ds.toString, k = 3).collect()(0)
    // Cap 0 -> every corpus is "over the cap" -> blocked route.
    val blocked = ev.evaluate(spark, ds.toString, k = 3, maxExactRows = 0)
      .collect()(0)
    assert(exact.getAs[Long]("total_questions") == 3
      && blocked.getAs[Long]("total_questions") == 3)
    assert(exact.getAs[Long]("hits") == 2)
    assert(blocked.getAs[Long]("hits") == exact.getAs[Long]("hits"))
    assert(blocked.getAs[Double]("hit_rate") == exact.getAs[Double]("hit_rate"))
  }

  test("mrr scores 1/rank of the first relevant result, 0 when absent") {
    import spark.implicits._
    // q1 hits at rank 2, q2 at rank 1, q3 never.
    val topk = Seq(
      (1L, 1, "a", "b"), (1L, 2, "b", "b"), (1L, 3, "b", "b"),
      (2L, 1, "x", "x"), (2L, 2, "y", "x"),
      (3L, 1, "p", "z"), (3L, 2, "q", "z")
    ).toDF("qid", "rank", "source", "expected_source")
    val row = graft.operators.Search.mrr(topk, "qid", "source", "expected_source")
      .collect()(0)
    assert(row.getAs[Long]("total_questions") == 3)
    assert(row.getAs[Long]("answered") == 2)
    assert(row.getAs[Double]("mrr") ==
      BigDecimal((0.5 + 1.0 + 0.0) / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("ndcg discounts by rank and normalizes by the honest corpus-wide ideal") {
    import spark.implicits._
    def log2(x: Double): Double = math.log(x) / math.log(2)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // q1: relevant at ranks 1 and 3 of 3, corpus holds 4 relevant -> ideal
    //     covers min(k=3, 4)=3 front ranks, so retrieving only 2 cannot
    //     reach 1.0. q2: perfect single hit with exactly 1 relevant -> 1.0.
    //     q3: nothing relevant -> 0.0.
    val topk = Seq(
      (1L, 1, "a", "a"), (1L, 2, "b", "a"), (1L, 3, "a", "a"),
      (2L, 1, "x", "x"), (2L, 2, "y", "x"),
      (3L, 1, "p", "z"), (3L, 2, "q", "z")
    ).toDF("qid", "rank", "source", "expected_source")
    val totals = Seq((1L, 4L), (2L, 1L), (3L, 0L)).toDF("qid", "n_relevant")
    val row = graft.operators.Search.ndcg(topk, "qid", "source",
      "expected_source", rankCol = "rank", k = 3, relevantTotals = totals)
      .collect()(0)
    assert(row.getAs[Long]("total_questions") == 3)
    val q1 = r6((1.0 / log2(2) + 1.0 / log2(4)) /
      (1.0 / log2(2) + 1.0 / log2(3) + 1.0 / log2(4)))
    assert(row.getAs[Double]("ndcg") == r6((q1 + 1.0 + 0.0) / 3))
  }

  test("ndcg: missing totals row and empty input degrade to 0 without error") {
    import spark.implicits._
    val topk = Seq((1L, 1, "a", "a")).toDF("qid", "rank", "source", "expected_source")
    // qid 1 absent from totals -> n_relevant coalesces to 0 -> idcg 0 -> 0.0.
    val totals = Seq((9L, 3L)).toDF("qid", "n_relevant")
    val row = graft.operators.Search.ndcg(topk, "qid", "source",
      "expected_source", rankCol = "rank", k = 3, relevantTotals = totals)
      .collect()(0)
    assert(row.getAs[Double]("ndcg") == 0.0)
    val empty = graft.operators.Search.ndcg(topk.limit(0), "qid", "source",
      "expected_source", rankCol = "rank", k = 3, relevantTotals = totals)
      .collect()(0)
    assert(empty.getAs[Double]("ndcg") == 0.0)
    assert(empty.getAs[Long]("total_questions") == 0)
  }

  test("adaptive chunker + markdown docs flow through the pipeline") {
    val root = tempDir("graft-md")
    val data = root.resolve("data")
    Files.createDirectories(data)
    Files.writeString(data.resolve("doc.md"),
      "intro text\n# Section One\ncontent one\n# Section Two\ncontent two\n# Three\nmore")
    val yaml =
      s"""source:
         |  type: local_files
         |  config: {directory: ${data.toString}}
         |chunker:
         |  type: adaptive
         |  config: {chunk_size: 100, chunk_overlap: 10}
         |embedder:
         |  type: hashing
         |  config: {dim: 32}
         |sink:
         |  type: chromadb
         |  config: {uri: ${root.resolve("sink").toString}}
         |state_manager:
         |  type: memory
         |""".stripMargin
    val cfg = Configs.parse(yaml)
    val r = Pipeline.run(spark, cfg)
    assert(r.chunksWritten >= 3) // markdown path: one chunk per section
    val texts = Factory.sink(cfg.sink).read(spark)
      .select("text").collect().map(_.getString(0))
    assert(texts.exists(_.contains("# Section One")))
  }

  test("csv source -> jsonl sink end-to-end through a YAML config") {
    val root = tempDir("graft-e2e-csv")
    val data = root.resolve("data")
    Files.createDirectories(data)
    Files.writeString(data.resolve("corpus.csv"),
      "text,id,lang\n\"Spark runs, at scale\",c1,en\nsegunda fila,c2,es\n")
    val yaml =
      s"""source:
         |  type: csv
         |  config:
         |    directory: ${data.toString}
         |    id_field: id
         |    meta_fields: lang
         |chunker:
         |  type: recursive_character
         |  config:
         |    chunk_size: 200
         |    chunk_overlap: 0
         |embedder:
         |  type: hashing
         |  config:
         |    dim: 16
         |sink:
         |  type: jsonl
         |  config:
         |    path: ${root.resolve("out").toString}
         |state_manager:
         |  type: memory
         |  config: {}
         |""".stripMargin
    val cfgPath = root.resolve("pipeline.yaml")
    Files.writeString(cfgPath, yaml)
    val cfg = graft.config.Configs.load(cfgPath.toString)
    val r = Pipeline.run(spark, cfg)
    assert(r.documentsLoaded == 2 && r.chunksWritten == 2)
    val back = Factory.sink(cfg.sink).read(spark)
    assert(back.count() == 2)
    val texts = back.select("text").collect().map(_.getString(0)).toSet
    assert(texts.contains("Spark runs, at scale")) // CSV quoting survived
  }
}
