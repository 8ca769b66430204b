package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.RemoteEmbedder.jsonEscape

/** Real over-the-wire vector-DB connector: the reference's ChromaDB sink
  * (`yamlpipe/components/sinks.py:105-162`) as an HTTP client speaking the
  * public Chroma REST surface (`/api/v1/heartbeat`, `/api/v1/collections`
  * get-or-create, `…/{id}/delete`, `…/{id}/upsert`, `…/{id}/get`).
  *
  * Scale stance: the UPSERT path is distributed — `foreachPartition` opens
  * one HTTP client per partition and streams bounded batches, so the write
  * throughput scales with executors, not the driver. Only the
  * delete-by-source scope (distinct incoming `source` values — the same set
  * the reference collects, `sinks.py:129-135`; sources ≪ rows by
  * construction) and the collection-id handshake run on the driver.
  * `read` pages the whole collection through the driver and is a
  * validation/debug surface, not a data path (exactly the reference's
  * `collection.get()`).
  *
  * Protocol helpers live on the companion so they are testable without a
  * server; the fake-server round-trip is in `RestSinksSpec`.
  */
final case class ChromaRestSink(baseUrl: String, collection: String,
                                batchSize: Int = 256,
                                timeoutSeconds: Int = 30) extends GraftSink {
  import ChromaRestSink._

  override def write(df: DataFrame): Unit = {
    SinkSchemas.validate(df.schema)
    // Pin the lineage: the scope/null-check job and the upsert job below
    // must observe IDENTICAL rows. Without the persist, a nondeterministic
    // upstream (sampling, uuid, repartition+limit) could pass the null
    // guard in job 1 yet produce different rows in job 2 — reopening the
    // delete-then-NPE data-loss window the guard exists to close.
    // A frame the caller already persisted is used as is and left cached.
    val owned = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val pinned = if (owned) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else df
    try writePinned(pinned)
    finally if (owned) pinned.unpersist(blocking = false)
  }

  private def writePinned(df: DataFrame): Unit = {
    // ONE driver-side job computes both the delete scope and the null
    // check (folding them halves the upstream lineage re-executions — the
    // frame may be an expensive pipeline). The null validation must run
    // BEFORE the per-source delete below: a null source/text/vector would
    // NPE mid-upsert AFTER existing records for those sources were already
    // dropped — silent data loss behind an opaque NullPointerException.
    val scope = df.agg(
      collect_set(col("source")).as("srcs"),
      max(when(col("source").isNull || col("text").isNull || col("vector").isNull, 1)
        .otherwise(0)).as("bad")).first()
    require(scope.isNullAt(1) || scope.getInt(1) == 0,
      "graft.ChromaRestSink: null source/text/vector in the incoming frame — " +
        "filter or fill nulls before writing (the delete-then-upsert scope is not null-safe)")
    val client = newClient(timeoutSeconds)
    val collectionId = getOrCreateCollection(client, baseUrl, collection, timeoutSeconds)
    // Reference upsert scope: drop every existing record whose source is in
    // the incoming batch, then add (`sinks.py:129-156`).
    val sources = scope.getSeq[String](0)
    if (sources.nonEmpty)
      post(client, s"$baseUrl/api/v1/collections/$collectionId/delete",
        s"""{"where":{"source":{"$$in":[${sources.map(s => "\"" + jsonEscape(s) + "\"").mkString(",")}]}}}""",
        timeoutSeconds)
    val (url, bs, ts) = (s"$baseUrl/api/v1/collections/$collectionId/upsert", batchSize, timeoutSeconds)
    val hasId = df.columns.contains("id")
    // Deterministic content-derived ids instead of the reference's fresh
    // uuid4 per record (`sinks.py:143`): Chroma upsert is keyed by id, and
    // a task RETRY or speculative attempt re-posts its partition — with
    // nondeterministic uuid() the first attempt's rows would survive under
    // their old ids as silent duplicates. Hashing the whole row makes the
    // distributed write idempotent (identical rows are true duplicates and
    // legitimately collapse).
    val prepared = (if (hasId) df
      else df.withColumn("id", md5(to_json(struct(df.columns.map(col): _*)))))
      .select(col("id").cast("string"), col("text").cast("string"),
        col("vector").cast("array<float>"), col("source").cast("string"))
    prepared.foreachPartition { (rows: Iterator[Row]) =>
      val c = newClient(ts)
      rows.grouped(bs).foreach { batch =>
        post(c, url, upsertBody(batch.map(r =>
          (r.getString(0), r.getString(1), r.getSeq[Float](2), r.getString(3)))), ts)
      }
    }
  }

  override def read(spark: SparkSession): DataFrame = {
    val client = newClient(timeoutSeconds)
    val collectionId = getOrCreateCollection(client, baseUrl, collection, timeoutSeconds)
    val body = post(client, s"$baseUrl/api/v1/collections/$collectionId/get",
      """{"include":["documents","embeddings","metadatas"]}""", timeoutSeconds)
    val rows = parseGet(body).map { case (id, doc, emb, src) => Row(id, doc, emb, src) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("id", StringType), StructField("text", StringType),
        StructField("vector", ArrayType(FloatType)), StructField("source", StringType))))
  }

  override def testConnection(spark: SparkSession): Unit = {
    // The reference heartbeats (`sinks.py:158-162`).
    val client = newClient(timeoutSeconds)
    val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$baseUrl/api/v1/heartbeat"))
      .timeout(java.time.Duration.ofSeconds(timeoutSeconds)).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() < 200 || resp.statusCode() >= 300)
      throw new IllegalStateException(
        s"chroma heartbeat $baseUrl -> HTTP ${resp.statusCode()}")
  }
}

object ChromaRestSink {

  def newClient(timeoutSeconds: Int): java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds))
      .build()

  /** One POST; throws on non-2xx with the body in the message. */
  def post(client: java.net.http.HttpClient, url: String, body: String,
           timeoutSeconds: Int): String = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(timeoutSeconds))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() < 200 || resp.statusCode() >= 300)
      throw new IllegalStateException(
        s"chroma POST $url -> HTTP ${resp.statusCode()}: ${resp.body().take(500)}")
    resp.body()
  }

  /** Resolve a collection id, creating the collection if absent. */
  def getOrCreateCollection(client: java.net.http.HttpClient, baseUrl: String,
                            name: String, timeoutSeconds: Int): String = {
    val body = post(client, s"$baseUrl/api/v1/collections",
      s"""{"name":"${jsonEscape(name)}","get_or_create":true}""", timeoutSeconds)
    val root = graft.functions.Json.parse(body)
      .asInstanceOf[java.util.Map[String, Any]]
    val id = root.get("id")
    require(id != null, s"collections response missing id: ${body.take(200)}")
    id.toString
  }

  /** Chroma upsert payload: parallel ids/documents/embeddings/metadatas. */
  def upsertBody(records: Seq[(String, String, Seq[Float], String)]): String = {
    val ids = records.map(r => "\"" + jsonEscape(r._1) + "\"").mkString(",")
    val docs = records.map(r => "\"" + jsonEscape(r._2) + "\"").mkString(",")
    val embs = records.map(_._3.mkString("[", ",", "]")).mkString(",")
    val metas = records.map(r => s"""{"source":"${jsonEscape(r._4)}"}""").mkString(",")
    s"""{"ids":[$ids],"documents":[$docs],"embeddings":[$embs],"metadatas":[$metas]}"""
  }

  /** Parse a collection `get` response into (id, document, embedding,
    * source) tuples.
    */
  def parseGet(body: String): Seq[(String, String, Seq[Float], String)] = {
    import scala.jdk.CollectionConverters._
    val root = graft.functions.Json.parse(body)
      .asInstanceOf[java.util.Map[String, Any]]
    def list(k: String) = Option(root.get(k))
      .map(_.asInstanceOf[java.util.List[Any]].asScala.toSeq).getOrElse(Seq.empty)
    val ids = list("ids").map(_.toString)
    val docs = list("documents").map(_.toString)
    val embs = list("embeddings").map(_.asInstanceOf[java.util.List[Any]]
      .asScala.map(_.asInstanceOf[Number].floatValue()).toSeq)
    val metas = list("metadatas").map(_.asInstanceOf[java.util.Map[String, Any]])
    require(ids.size == docs.size && ids.size == embs.size && ids.size == metas.size,
      s"collection get: misaligned arrays (${ids.size}/${docs.size}/${embs.size}/${metas.size})")
    ids.indices.map(i => (ids(i), docs(i), embs(i),
      Option(metas(i).get("source")).map(_.toString).orNull))
  }
}
