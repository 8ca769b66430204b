package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Sink

/** Vector-store sinks (SURVEY §2.4; reference
  * `yamlpipe/components/sinks.py:33-162`) as partitioned parquet tables
  * with delete-by-source upsert semantics.
  *
  * Upsert = DYNAMIC PARTITION OVERWRITE on a `source` hash bucket: only the
  * partitions containing incoming sources are rewritten (the reference's
  * "DELETE WHERE source IN (...) then append", `sinks.py:66-80`), everything
  * else untouched — no full-table rewrite at any scale.
  *
  * Schema semantics preserved from `yamlpipe/utils/dynamic_schemas.py`:
  *  - fixed `text` + `vector` columns always present (`:44-51`);
  *  - metadata columns restricted to the supported type set
  *    str/int/float/list/datetime (`:16-22`), unsupported -> error (`:56-60`);
  *  - on schema mismatch with the existing table, MIGRATE by rewriting:
  *    old rows are unioned in with missing columns nulled
  *    (`sinks.py:40-48,59-63`), via write-new-then-atomic-rename (the
  *    reference recreates the table in place, which has a loss window).
  */
trait GraftSink {
  def write(df: DataFrame): Unit

  /** The sink's rows as a lazy frame. A sink may return the same frame
    * again while its table is unchanged ([[VectorTableSink.read]]); the
    * frame then holds the file listing and schema of the version it was
    * built from. A query planned from it before a concurrent write commits
    * can still race that write, as a query over a fresh read can.
    */
  def read(spark: SparkSession): DataFrame
  def testConnection(spark: SparkSession): Unit
}

object SinkSchemas {

  /** The supported metadata types (reference `dynamic_schemas.py:16-22`):
    * str/int/float/list/datetime plus the fixed text/vector columns.
    */
  def validate(schema: StructType): Unit = {
    require(schema.fieldNames.contains("text"), "sink schema must contain 'text'")
    require(schema.fieldNames.contains("vector"), "sink schema must contain 'vector'")
    schema.fields.foreach { f =>
      val ok = f.dataType match {
        case StringType | LongType | IntegerType | DoubleType | FloatType |
             TimestampType | DateType | BooleanType => true
        case ArrayType(_, _) => true
        case MapType(StringType, StringType, _) => true // promoted metadata map
        case _ => false
      }
      if (!ok) throw new IllegalArgumentException(
        s"unsupported metadata type for sink column '${f.name}': ${f.dataType.simpleString}")
    }
  }

  /** Schemas compatible = same names+types modulo column order and
    * nullability at every nesting level — array elements, map values and
    * struct fields (first-observed-type-wins in the reference collapses to:
    * the DataFrame's own schema is the inferred schema). Parquet reads every
    * nested type back as nullable, so a batch declaring `vector` as
    * `array<float>` without nulls (the embedders do) is compatible with the
    * table it was written into.
    */
  def compatible(a: StructType, b: StructType): Boolean = {
    def nullable(t: DataType): DataType = t match {
      case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
      case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
      case StructType(fs) => StructType(fs.map(f => StructField(f.name, nullable(f.dataType))))
      case other => other
    }
    def norm(s: StructType) = s.fields.map(f => (f.name, nullable(f.dataType))).sortBy(_._1).toSeq
    norm(a) == norm(b)
  }
}

/** K1 — table sink with the `text + vector + metadata` projection and
  * delete-by-source upsert (the reference's LanceDB sink).
  *
  * A write costs what the batch touches ([[Sink.upsertBySource]]): it reads
  * and rewrites only the `source_bucket=k` directories of the batch's
  * sources — each rewritten bucket as one file, survivors carried from the
  * table's own files without a staging copy — and compares schemas modulo
  * nullability, so only a real type or column change takes the full-table
  * migration.
  *
  * A read is served from a snapshot while the table is unchanged: the sink
  * holds the frame of its last read, keyed by the session and the table's
  * version marker ([[Sink.version]]), which every upsert withdraws before
  * writing and renews after its commit. A read of the same version in the
  * same session costs one marker read and returns the held frame, whose
  * resolved relation already holds the file listing and the parquet schema;
  * any other read lists the table and infers its schema again. Only the
  * listing and schema are held, never the rows. A table without a marker
  * (written before markers existed, or after a failed upsert) is read fresh
  * on every call. A query planned from a held frame before a concurrent
  * upsert commits can still race it, as a query over a fresh read can.
  */
final case class VectorTableSink(path: String, numBuckets: Int = Sink.DefaultBuckets)
    extends GraftSink {

  /** (session, version, frame) of the last read made while the marker
    * stayed put.
    */
  @volatile private var snapshot: Option[(SparkSession, String, DataFrame)] = None

  override def write(df: DataFrame): Unit = {
    SinkSchemas.validate(df.schema)
    Sink.upsertBySource(df, path, numBuckets = numBuckets)
  }

  override def read(spark: SparkSession): DataFrame = {
    val version = Sink.version(spark, path)
    snapshot match {
      case Some((s, v, df)) if (s eq spark) && version.contains(v) => df
      case _ =>
        val df = spark.read.parquet(path).drop("source_bucket")
        // Held only if no upsert began or committed during the read.
        snapshot = version.filter(v => Sink.version(spark, path).contains(v))
          .map(v => (spark, v, df))
        df
    }
  }

  override def testConnection(spark: SparkSession): Unit = {
    // The reference probes `table_names()` (`sinks.py:95-100`); here:
    // the parent directory must be usable.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = p.getParent
    if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
  }
}

/** K2 — collection sink (the reference's ChromaDB sink): same upsert, but
  * every record gets a fresh uuid id (`sinks.py:143`) and the row shape is
  * ids + documents + embeddings + metadata.
  */
final case class CollectionSink(path: String, numBuckets: Int = Sink.DefaultBuckets)
    extends GraftSink {

  private val inner = VectorTableSink(path, numBuckets)

  override def write(df: DataFrame): Unit = {
    val withIds = if (df.columns.contains("id")) df
                  else df.withColumn("id", expr("uuid()"))
    inner.write(withIds)
  }

  override def read(spark: SparkSession): DataFrame = inner.read(spark)
  override def testConnection(spark: SparkSession): Unit = inner.testConnection(spark)
}

/** Corpus-export sink: sharded JSONL (optionally gzip), the interchange
  * format every downstream trainer/tokenizer reads. One JSON object per
  * document; shard count = the frame's partitioning (repartition upstream
  * to choose shard size — at 100 TB you want ~1 GiB shards, not one file).
  * `ignoreNullFields = false` keeps schema-stable lines (a missing key and
  * a null are different things to a reader contract).
  */
final case class JsonlExportSink(path: String, compress: Boolean = false,
                                 mode: String = "overwrite") extends GraftSink {

  override def write(df: DataFrame): Unit = {
    val w = df.write.mode(mode).option("ignoreNullFields", "false")
    (if (compress) w.option("compression", "gzip") else w).json(path)
  }

  override def read(spark: SparkSession): DataFrame = spark.read.json(path)

  override def testConnection(spark: SparkSession): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = p.getParent
    if (parent != null && !fs.exists(parent))
      throw new IllegalStateException(s"parent directory does not exist: $parent")
  }
}
