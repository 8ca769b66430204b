package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{CollectionSink, VectorTableSink}

/** Sink semantics K1–K3 (reference `yamlpipe/components/sinks.py`):
  * delete-by-source upsert, uuid ids, schema validation + migration.
  */
class SinksSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def frame(rows: Seq[(String, Seq[Float], String)]) =
    rows.toDF("text", "vector", "source")

  test("upsert replaces only the incoming sources (sinks.py:66-93)") {
    val dir = tempDir("graft-sink").resolve("t1").toString
    val sink = VectorTableSink(dir)
    sink.write(frame(Seq(
      ("a1", Seq(1f, 0f), "src_a"), ("b1", Seq(0f, 1f), "src_b"))))
    // re-ingest src_a with new content; src_b untouched
    sink.write(frame(Seq(("a2", Seq(0.5f, 0.5f), "src_a"))))
    val out = sink.read(spark).select("text", "source").as[(String, String)].collect().toSet
    assert(out == Set(("a2", "src_a"), ("b1", "src_b")))
  }

  test("bucket collision: upsert never drops an unchanged source sharing a bucket") {
    // numBuckets=1 forces EVERY source into the same partition — the
    // worst-case collision. Overwriting that bucket for src_a must carry
    // src_b's rows through as survivors.
    val dir = tempDir("graft-sink").resolve("t1c").toString
    val sink = VectorTableSink(dir, numBuckets = 1)
    sink.write(frame(Seq(
      ("a1", Seq(1f, 0f), "src_a"), ("b1", Seq(0f, 1f), "src_b"))))
    sink.write(frame(Seq(("a2", Seq(0.5f, 0.5f), "src_a"))))
    val out = sink.read(spark).select("text", "source").as[(String, String)].collect().toSet
    assert(out == Set(("a2", "src_a"), ("b1", "src_b")),
      s"collision dropped a surviving source: $out")
  }

  test("upsert is idempotent on re-ingest of identical batch") {
    val dir = tempDir("graft-sink").resolve("t2").toString
    val sink = VectorTableSink(dir)
    val batch = frame(Seq(("x", Seq(1f, 2f), "s1"), ("y", Seq(3f, 4f), "s2")))
    sink.write(batch); sink.write(batch)
    assert(sink.read(spark).count() == 2)
  }

  test("collection sink adds uuid ids (sinks.py:143)") {
    val dir = tempDir("graft-sink").resolve("t3").toString
    val sink = CollectionSink(dir)
    sink.write(frame(Seq(("x", Seq(1f), "s1"), ("y", Seq(2f), "s1"))))
    val ids = sink.read(spark).select("id").as[String].collect()
    assert(ids.length == 2 && ids.distinct.length == 2)
    assert(ids.forall(_.matches("[0-9a-f-]{36}")))
  }

  test("schema validation: text+vector required, exotic types rejected") {
    val dir = tempDir("graft-sink").resolve("t4").toString
    val sink = VectorTableSink(dir)
    assertThrows[IllegalArgumentException](
      sink.write(Seq(("a", "b")).toDF("text", "not_vector")))
    val bad = frame(Seq(("a", Seq(1f), "s")))
      .withColumn("weird", struct(lit(1).as("x"))) // nested struct unsupported
    assertThrows[IllegalArgumentException](sink.write(bad))
  }

  test("concurrent upserts to one table both land (in-JVM writers serialize)") {
    // Worst case: numBuckets=1 puts every source in the same partition, so
    // the two writers overwrite the SAME bucket. The per-path lock
    // serializes them; each must carry the other's rows (and the seed row)
    // through as survivors — nothing lost regardless of order.
    val dir = tempDir("graft-sink").resolve("t6").toString
    val sink = VectorTableSink(dir, numBuckets = 1)
    sink.write(frame(Seq(("seed", Seq(9f), "src_seed"))))
    val errors = java.util.Collections.synchronizedList(new java.util.ArrayList[Throwable]())
    val threads = Seq("src_a" -> "a", "src_b" -> "b").map { case (src, txt) =>
      new Thread(() =>
        try sink.write(frame(Seq((txt, Seq(1f), src))))
        catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"concurrent writer failed: ${errors}")
    val out = sink.read(spark).select("text", "source").as[(String, String)].collect().toSet
    assert(out == Set(("seed", "src_seed"), ("a", "src_a"), ("b", "src_b")),
      s"a concurrent writer's rows were lost: $out")
  }

  test("compactWrite clusters into the requested file count with in-file key order") {
    import graft.operators.Sink
    val dir = tempDir("graft-sink").resolve("compact").toString
    val df = spark.range(10000).toDF("k")
      .withColumn("v", col("k") % 97)
    Sink.compactWrite(df, dir, Seq("k"), numFiles = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4, s"expected 4 data files, got ${files.length}")
    // range partitioning: file-level key ranges are disjoint, so a point
    // filter on k prunes to ONE file's range; rows are sorted within files
    val perFile = files.map { f =>
      val ks = spark.read.parquet(f.getPath).select("k").as[Long].collect()
      assert(ks.sameElements(ks.sorted), s"${f.getName} not sorted")
      (ks.min, ks.max)
    }.sortBy(_._1)
    perFile.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, "file key ranges overlap")
      case _ =>
    }
    // whole table round-trips
    assert(spark.read.parquet(dir).count() == 10000)
  }

  test("schema mismatch migrates the table, preserving old rows (sinks.py:40-48)") {
    val dir = tempDir("graft-sink").resolve("t5").toString
    val sink = VectorTableSink(dir)
    sink.write(frame(Seq(("old", Seq(1f, 1f), "src_old"))))
    // new batch has an extra metadata column -> migration path
    val wider = Seq(("new", Seq(2f, 2f), "src_new", "en"))
      .toDF("text", "vector", "source", "lang")
    sink.write(wider)
    val out = sink.read(spark)
    assert(out.columns.toSet == Set("text", "vector", "source", "lang"))
    val rows = out.select("text", "lang").as[(String, String)].collect().toMap
    assert(rows == Map("old" -> null, "new" -> "en"))
  }

  test("schema compatibility ignores nullability at every nesting level, not real changes") {
    import org.apache.spark.sql.types._
    import graft.sinks.SinkSchemas.compatible
    def schema(vec: DataType, meta: DataType, nested: DataType) = StructType(Seq(
      StructField("text", StringType, nullable = false),
      StructField("vector", vec),
      StructField("tags", meta),
      StructField("doc", nested)))
    def fields(nullable: Boolean) = StructType(Seq(
      StructField("title", StringType, nullable),
      StructField("pages", ArrayType(LongType, containsNull = nullable), nullable)))
    val declared = schema(ArrayType(FloatType, containsNull = false),
      MapType(StringType, ArrayType(StringType, containsNull = false), valueContainsNull = false),
      fields(nullable = false))
    // What parquet reads back: every nested type nullable.
    val readBack = schema(ArrayType(FloatType, containsNull = true),
      MapType(StringType, ArrayType(StringType, containsNull = true), valueContainsNull = true),
      fields(nullable = true))
    assert(compatible(declared, readBack))
    assert(compatible(readBack, declared))
    assert(compatible(declared, StructType(declared.fields.reverse)), "column order must not matter")
    // Real changes stay incompatible.
    assert(!compatible(declared, declared.add("lang", StringType)))
    assert(!compatible(declared, StructType(declared.fields.map(f =>
      if (f.name == "vector") f.copy(dataType = ArrayType(DoubleType, containsNull = false)) else f))))
    assert(!compatible(declared, schema(ArrayType(FloatType, containsNull = false),
      MapType(StringType, ArrayType(StringType, containsNull = false), valueContainsNull = false),
      fields(nullable = false).add("year", IntegerType))))
  }

  test("an upsert rewrites only the touched buckets of an embedder-shaped table, never migrating") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = tempDir("graft-sink-buckets")
    val dir = base.resolve("t").toString
    // The embedders declare the vector non-null; parquet reads it back
    // nullable, which must not count as a schema change.
    val schema = StructType(Seq(
      StructField("text", StringType),
      StructField("vector", ArrayType(FloatType, containsNull = false)),
      StructField("source", StringType)))
    def batch(sources: Seq[Int], version: String) = spark.createDataFrame(
      (for (s <- sources; i <- 0 until 3)
        yield Row(s"$version-$s-$i", Seq(s.toFloat, i.toFloat), s"src_$s")).asJava,
      schema)
    val sink = VectorTableSink(dir)
    sink.write(batch(0 until 600, "v1"))

    def bucketFiles(): Map[String, Seq[(String, Int, Long)]] =
      new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("source_bucket="))
        .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .sortBy(_.getName)
          .map(f => (f.getName, java.util.Arrays.hashCode(
            java.nio.file.Files.readAllBytes(f.toPath)), f.lastModified())).toSeq)
        .toMap
    val before = bucketFiles()
    assert(before.size == 64, s"fixture should fill every bucket: ${before.size}")

    // Any `<table>.migrate-*` / `<table>.old-*` directory means a full rewrite.
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var watching = true
    val watcher = new Thread(() => while (watching) {
      Option(base.toFile.list()).foreach(_.foreach(seen.add))
      Thread.sleep(2)
    })
    watcher.start()
    val edited = Seq(7, 42, 133)
    try sink.write(batch(edited, "v2"))
    finally { watching = false; watcher.join() }
    assert(!seen.asScala.exists(n => n.startsWith("t.migrate-") || n.startsWith("t.old-")),
      s"the upsert migrated the table: $seen")

    val touched = batch(edited, "v2")
      .select(pmod(hash(col("source")), lit(64)).as("b")).distinct()
      .collect().map(r => s"source_bucket=${r.getInt(0)}").toSet
    val after = bucketFiles()
    assert(after.keySet == before.keySet)
    before.foreach { case (b, files) =>
      if (touched(b)) assert(after(b).size == 1, s"rewritten bucket $b is not one file: ${after(b)}")
      else assert(after(b) == files, s"untouched bucket $b was rewritten")
    }
    val out = sink.read(spark).select("text", "source").as[(String, String)].collect()
    assert(out.length == 1800)
    assert(out.toSet == (0 until 600).flatMap { s =>
      val v = if (edited.contains(s)) "v2" else "v1"
      (0 until 3).map(i => (s"$v-$s-$i", s"src_$s"))
    }.toSet)
  }

  test("an unreadable existing sink fails the upsert instead of being taken for absent") {
    val dir = tempDir("graft-sink").resolve("corrupt").toString
    val sink = VectorTableSink(dir, numBuckets = 4)
    sink.write(frame((0 until 20).map(i => (s"t$i", Seq(i.toFloat), s"src_$i"))))
    val parts = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toVector
    parts.foreach(p => java.nio.file.Files.write(p, "not parquet".getBytes))
    intercept[Exception](sink.write(frame(Seq(("new", Seq(1f), "src_3")))))
    // Nothing was overwritten: every (corrupt) file is still in place.
    parts.foreach(p => assert(new String(java.nio.file.Files.readAllBytes(p)) == "not parquet", p))
    // A path holding a table of another layout is not an empty sink either.
    val flat = tempDir("graft-sink").resolve("flat").toString
    frame(Seq(("old", Seq(1f), "src_old"))).write.parquet(flat)
    intercept[IllegalArgumentException](
      VectorTableSink(flat).write(frame(Seq(("new", Seq(1f), "src_new")))))
  }

  test("staging reap spares a dir with fresh nested task output, deletes a truly stale one") {
    // An in-flight Spark write only has fresh mtimes DEEP under
    // _temporary/<job>/_temporary/<task>/part-… — direct children of the
    // staging dir stay old until job commit. The reap must look that deep.
    val base = tempDir("graft-reap")
    val table = base.resolve("t6")
    java.nio.file.Files.createDirectories(table)
    val old = System.currentTimeMillis() - 48L * 3600 * 1000

    def mkStaging(name: String): java.io.File = {
      val leaf = base.resolve(name).resolve("_temporary").resolve("0")
        .resolve("_temporary").resolve("attempt_0")
      java.nio.file.Files.createDirectories(leaf)
      val part = leaf.resolve("part-00000").toFile
      java.nio.file.Files.write(part.toPath, "x".getBytes)
      // age every level, then selectively refresh below
      var d = base.resolve(name).toFile
      Iterator.iterate(d)(f => f.listFiles().head)
        .takeWhile(_ != null).take(6).foreach(_.setLastModified(old))
      part
    }
    val livePart = mkStaging("t6.survivors-live")
    mkStaging("t6.survivors-dead")
    livePart.setLastModified(System.currentTimeMillis()) // writer still streaming bytes

    graft.operators.Sink.reapStaleStaging(spark, table.toString)
    assert(base.resolve("t6.survivors-live").toFile.exists(),
      "reap deleted a staging dir whose nested task output is fresh")
    assert(!base.resolve("t6.survivors-dead").toFile.exists(),
      "reap failed to delete a fully stale staging dir")
  }

  test("jsonl export sink: shard count follows partitioning, null fields kept, gzip round-trips") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-jsonl-sink")
    val df = Seq(("a", "s1", null.asInstanceOf[String]), ("b", "s2", "m"))
      .toDF("content", "source", "note").repartition(2)
    val sink = graft.sinks.JsonlExportSink(dir.resolve("out").toString)
    sink.testConnection(spark)
    sink.write(df)
    val shards = java.nio.file.Files.list(dir.resolve("out")).iterator()
    val parts = Iterator.continually(shards).takeWhile(_.hasNext).map(_.next())
      .filter(_.getFileName.toString.startsWith("part-")).toList
    assert(parts.size == 2)
    // a null field is serialized, not dropped
    val lines = parts.flatMap(p =>
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(p)).asScala)
    assert(lines.exists(_.contains("\"note\":null")))
    val back = sink.read(spark)
    assert(back.count() == 2 &&
      back.filter(col("note").isNull).count() == 1)
    // gzip variant round-trips through spark.read.json
    val gz = graft.sinks.JsonlExportSink(dir.resolve("gz").toString, compress = true)
    gz.write(df)
    assert(gz.read(spark).count() == 2)
    intercept[IllegalStateException](
      graft.sinks.JsonlExportSink(dir.resolve("no/such/parent/x").toString)
        .testConnection(spark))
  }
}
