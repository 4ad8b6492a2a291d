package graft.sources

import graft.pipeline.Uris.ParsedUri
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.UnsupportedSourceInEnv.guard

/** A readable pipeline endpoint. Implementations build *declarative* plans
  * (spark.read / readStream) so Catalyst keeps pushdown and pruning.
  */
trait DfSource {
  def read(): DataFrame
}

/** A writable pipeline endpoint. Returns false on non-fatal write failure
  * (the pipeline stops at the first failing sink, matching the reference
  * /root/reference/etl/src/main/scala/dev/mauch/spark/dfio/ETL.scala:121-127).
  */
trait DfSink {
  def write(df: DataFrame): Boolean
}

/** Thrown by schemes whose connector jars aren't on this classpath
  * (delta/kafka/excel/solr in the zero-egress container). The URI still
  * parses and plans — only the physical I/O is unavailable.
  */
final class UnsupportedSourceInEnv(scheme: String, cause: Throwable = null)
    extends RuntimeException(
      s"scheme '$scheme' parsed OK but its connector is not on this classpath",
      cause
    )

object UnsupportedSourceInEnv {
  /** True when the failure chain is a missing connector class/format. */
  def isMissingClass(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists {
      case _: ClassNotFoundException | _: NoClassDefFoundError => true
      case t => Option(t.getMessage).exists(m => m.contains("Failed to find") || m.contains("DATA_SOURCE_NOT_FOUND"))
    }

  /** Runs `body`; a missing-connector failure is rewrapped as
    * [[UnsupportedSourceInEnv]] for `scheme`, any other failure propagates. */
  def guard[A](scheme: String)(body: => A): A =
    try body
    catch { case scala.util.control.NonFatal(e) if isMissingClass(e) => throw new UnsupportedSourceInEnv(scheme, e) }
}

/** Shared write-side flatten: top-level complex columns become JSON
  * strings (ref DataFrameUtils.flattenSchema:1-15 — used by the text and
  * excel sinks, which target flat tabular consumers). */
object WriteFlatten {
  def jsonFlatten(df: DataFrame): DataFrame = {
    val flat = df.schema.fields.map { f =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType => to_json(col(f.name)).as(f.name)
        case _                                         => col(f.name)
      }
    }
    df.select(flat.toIndexedSeq: _*)
  }
}

/** A scheme provider: parses a URI into a source+sink factory. */
trait SchemeProvider {
  def schemes: Seq[String]
  /** Extra spark confs this scheme needs (e.g. delta extensions). */
  def sparkConfigs: Map[String, String] = Map.empty
  def apply(uri: ParsedUri): SparkSession => DfSource with DfSink
}

/** Generic file-format endpoint. Batch reads via `spark.read`; `*-stream`
  * schemes go through `readStream` with an optional `schema` (JSON-encoded
  * StructType) and `watermark=col:duration` param — semantics follow
  * /root/reference/core/src/main/scala/dev/mauch/spark/dfio/DataFrameSource.scala:26-55.
  */
class FormatEndpoint(
    spark: SparkSession,
    format: String,
    path: String,
    options: Map[String, String],
    isStream: Boolean,
    writeMode: SaveMode = SaveMode.Overwrite
) extends DfSource
    with DfSink {
  private val passOptions =
    options -- Seq("schema", "watermark", "trigger-interval", "partitionBy", "mode")

  /** The `mode` query param maps to a real SaveMode for EVERY format
    * provider (previously it was forwarded as a writer option STRING,
    * which DataFrameWriter ignores — a pipeline validated against the
    * embedded delta backend with mode=append would silently OVERWRITE
    * the table when the real connector is present). Unknown modes fail
    * loudly instead of falling back to the default. */
  private def resolvedMode: SaveMode = options.get("mode").map {
    case "append"                  => SaveMode.Append
    case "overwrite"               => SaveMode.Overwrite
    case "ignore"                  => SaveMode.Ignore
    case "error" | "errorifexists" => SaveMode.ErrorIfExists
    case other =>
      throw new IllegalArgumentException(
        s"unknown write mode '$other' (append|overwrite|ignore|error)")
  }.getOrElse(writeMode)

  private def schemaOpt: Option[StructType] =
    options.get("schema").map(s => DataType.fromJson(s).asInstanceOf[StructType])

  private def applyWatermark(df: DataFrame): DataFrame =
    options.get("watermark").map(_.split(":", 2)) match {
      case Some(Array(col, dur)) => df.withWatermark(col.trim, dur.trim)
      case _                     => df
    }

  override def read(): DataFrame =
    if (isStream) {
      val rs = schemaOpt.foldLeft(spark.readStream)(_.schema(_))
      applyWatermark(rs.format(format).options(passOptions).load(path))
    } else {
      spark.read.format(format).options(passOptions).load(path)
    }

  override def write(df: DataFrame): Boolean =
    // non-fatal write failure → false, so the ETL runner can report
    // "Writing to sink failed" and stop at the first failing sink instead
    // of crashing (reference ParquetDataFrameIO.write:1-20 contract);
    // missing-connector errors still escalate to UnsupportedSourceInEnv
    // in the guarded providers, which wrap BEFORE this catch
    try {
      if (df.isStreaming) {
        val w0 = df.writeStream.format(format).options(passOptions)
        val w = options.get("trigger-interval").foldLeft(w0) { (w, iv) =>
          w.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(iv))
        }
        val q = w.start(path)
        // by default stream sinks only START the query (reference
        // semantics — the CLI exits after the first microbatch schedules);
        // await-timeout=<ms> blocks up to that long so a CLI invocation
        // can actually drain a bounded replay before the JVM exits
        options.get("await-timeout").foreach(ms => q.awaitTermination(ms.toLong))
      } else {
        val w0 = df.write.mode(resolvedMode).format(format).options(passOptions)
        val w = options.get("partitionBy") match {
          case Some(cols) => w0.partitionBy(cols.split(",").toIndexedSeq: _*)
          case None       => w0
        }
        w.save(path)
      }
      true
    } catch {
      case e: UnsupportedSourceInEnv => throw e
      case scala.util.control.NonFatal(e) if UnsupportedSourceInEnv.isMissingClass(e) =>
        throw e // guarded providers rewrap as UnsupportedSourceInEnv
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] write to $format://$path failed: ${e.getMessage}")
        false
    }
}

class FileFormatProvider(format: String, val schemes: Seq[String], guarded: Boolean = false)
    extends SchemeProvider {
  override def apply(uri: ParsedUri): SparkSession => DfSource with DfSink = { spark =>
    val inner = new FormatEndpoint(spark, format, uri.path, uri.queryParams, isStream = uri.scheme.endsWith("-stream"))
    if (!guarded) inner
    else
      new DfSource with DfSink {
        override def read(): DataFrame = guard(uri.scheme)(inner.read())
        override def write(df: DataFrame): Boolean = guard(uri.scheme)(inner.write(df))
      }
  }
}

/** console:// — empty read; show() on write (console stream sink when
  * streaming). Ref: ConsoleDataFrameSink.scala:1-20. */
object ConsoleProvider extends SchemeProvider {
  val schemes = Seq("console")
  override def apply(uri: ParsedUri): SparkSession => DfSource with DfSink = { spark =>
    new DfSource with DfSink {
      override def read(): DataFrame = spark.emptyDataFrame
      override def write(df: DataFrame): Boolean = {
        if (df.isStreaming) df.writeStream.outputMode("append").format("console").start()
        else df.show(10000, truncate = false)
        true
      }
    }
  }
}

/** values:///?header=a:int,b&values=1,x;2,y — inline literal table with a
  * typed header (ref ValuesSource.scala:1-70). Built as a local relation:
  * tiny by construction (CLI literals), no files involved.
  */
object ValuesProvider extends SchemeProvider {
  val schemes = Seq("values")

  private def fieldOf(spec: String): StructField = spec.split(":", 2) match {
    case Array(n, t) =>
      val dt = t.trim.toLowerCase match {
        case "int"               => IntegerType
        case "long"              => LongType
        case "double"            => DoubleType
        case "boolean" | "bool"  => BooleanType
        case "date"              => DateType
        case "timestamp"         => TimestampType
        case _                   => StringType
      }
      StructField(n, dt)
    case _ => StructField(spec, StringType)
  }

  override def apply(uri: ParsedUri): SparkSession => DfSource with DfSink = { spark =>
    val params = uri.queryParams
    val header = params.getOrElse("header", "").split(",").toIndexedSeq.filter(_.nonEmpty).map(fieldOf)
    val rows = params
      .getOrElse("values", "")
      .split(";")
      .toIndexedSeq
      .filter(_.nonEmpty)
      .map(_.split(",", -1).toIndexedSeq)
    new DfSource with DfSink {
      override def read(): DataFrame = {
        val schema = StructType(header)
        rows.zipWithIndex.foreach { case (r, i) =>
          // zip would silently truncate a short row → Row arity below the
          // declared schema → a confusing downstream failure; fail up front
          require(r.length == header.length,
            s"values row ${i + 1} has ${r.length} fields but header declares ${header.length}: '${r.mkString(",")}'")
        }
        val typed = rows.map { r =>
          Row.fromSeq(header.zip(r).map { case (f, v) =>
            f.dataType match {
              case IntegerType   => v.trim.toInt
              case LongType      => v.trim.toLong
              case DoubleType    => v.trim.toDouble
              case BooleanType   => v.trim.toBoolean
              case DateType      => java.sql.Date.valueOf(v.trim)
              case TimestampType => java.sql.Timestamp.from(java.time.Instant.parse(v.trim))
              case _             => v
            }
          })
        }
        spark.createDataFrame(java.util.Arrays.asList(typed: _*), schema)
      }
      override def write(df: DataFrame): Boolean = { df.show(10000, truncate = false); true }
    }
  }
}

/** text:///path/file.csv — CSV/TSV by extension, header param
  * (ref TextFileDataFrameSource.scala:1-40). Writes flatten complex columns
  * to JSON strings and coalesce to one file (CSV sinks are exports, not
  * scale paths; coalesce avoids the reference's repartition(1) shuffle).
  */
object TextProvider extends SchemeProvider {
  val schemes = Seq("text")
  override def apply(uri: ParsedUri): SparkSession => DfSource with DfSink = { spark =>
    val delim = uri.pathParts.lastOption.flatMap(_.split("\\.").lastOption) match {
      case Some("tsv") => "\t"
      case _           => ","
    }
    val header = uri.queryParams.getOrElse("header", "true").toBoolean
    val path = uri.path
    new DfSource with DfSink {
      override def read(): DataFrame =
        spark.read
          .options(Map("header" -> header.toString, "delimiter" -> delim, "inferSchema" -> "true"))
          .csv(path)
      override def write(df: DataFrame): Boolean = {
        WriteFlatten.jsonFlatten(df)
          .coalesce(1)
          .write
          .mode(SaveMode.Overwrite)
          .option("header", header.toString)
          .option("delimiter", delim)
          .csv(path)
        true
      }
    }
  }
}

/** hive://db/table?partitionCols=a,b — catalog tables via the session
  * catalog (works against the built-in or Hive metastore; the reference
  * targets the HWC variant — /root/reference/hive/src/main/scala/dev/mauch/spark/dfio/HiveDataFrameSource.scala).
  */
object CatalogProvider extends SchemeProvider {
  val schemes = Seq("hive", "table")
  override def apply(uri: ParsedUri): SparkSession => DfSource with DfSink = { spark =>
    val parts = uri.pathParts
    val fqn = parts.mkString(".")
    val partitionCols =
      uri.queryParams.getOrElse("partitionCols", "").split(",").toIndexedSeq.filter(_.nonEmpty)
    new DfSource with DfSink {
      override def read(): DataFrame = spark.table(fqn)
      override def write(df: DataFrame): Boolean = {
        val w = df.write.mode(SaveMode.Append)
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).saveAsTable(fqn)
        true
      }
    }
  }
}

/** kafka://broker:port/topic?serde=json — Kafka endpoint; plans the
  * standard `kafka` format read/write wrapped in a serde
  * (ref KafkaDataFrameSource.scala:1-60). The connector jar is absent in
  * this container, so read()/write() surface UnsupportedSourceInEnv —
  * unless `embedded=true`
  * routes the topic to [[EmbeddedTopicLog]], the file-backed partitioned
  * offset log that exercises append/offset/consumer-replay semantics
  * in-container (the EmbeddedCommitLog posture applied to kafka; the
  * serde layer is IDENTICAL on both paths). `dir=<path>` overrides the
  * topic's directory (default: <java.io.tmpdir>/graft_kafka/<topic>);
  * `partitions=N` sizes a topic created by its first append. */
object KafkaProvider extends SchemeProvider {
  val schemes = Seq("kafka", "kafka-stream")
  override def apply(uri: ParsedUri): SparkSession => DfSource with DfSink = { spark =>
    val broker = s"${uri.host.getOrElse("localhost")}:${uri.port}"
    val topic = uri.pathParts.headOption.getOrElse("topic")
    val serdeName = uri.queryParams.getOrElse("serde", "json")
    // topic-name strategy: a bare serde=avro-registry resolves its schema
    // subject from THIS uri's topic (reference wires sparkConfig the same
    // way — the registry serde follows the topic it rides on)
    val serde = graft.sources.Serde(
      if (serdeName == "avro-registry") s"avro-registry:$topic" else serdeName)
    val embeddedKeys = Seq("embedded", "dir", "partitions", "maxFilesPerTrigger",
      "checkpointLocation")
    val extra = uri.queryParams -- ("serde" +: embeddedKeys)
    val isStream = uri.scheme == "kafka-stream"
    def useEmbedded: Boolean = uri.queryParams.get("embedded").contains("true")
    def topicDir: String = uri.queryParams.getOrElse("dir",
      java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_kafka", topic).toString)
    def nPartitions: Int = uri.queryParams.get("partitions").map(_.toInt).getOrElse(2)
    new DfSource with DfSink {
      override def read(): DataFrame =
        if (useEmbedded) {
          val base =
            if (isStream)
              EmbeddedTopicLog.readStream(spark, topicDir,
                uri.queryParams.get("maxFilesPerTrigger")
                  .map("maxFilesPerTrigger" -> _).toMap)
            else EmbeddedTopicLog.read(spark, topicDir)
          serde.deserialize(base)
        } else guard(uri.scheme) {
          val base =
            if (isStream)
              spark.readStream.format("kafka").option("kafka.bootstrap.servers", broker)
                .option("subscribe", topic).options(extra).load()
            else
              spark.read.format("kafka").option("kafka.bootstrap.servers", broker)
                .option("subscribe", topic).options(extra).load()
          serde.deserialize(base)
        }
      override def write(df: DataFrame): Boolean =
        if (useEmbedded) {
          val ser = serde.serialize(df)
          if (ser.isStreaming) {
            // microbatch appends: each batch lands as one offset-dense
            // append per partition; AvailableNow drains a bounded source
            // then returns, the CLI-friendly embedded contract
            val q = ser.writeStream
              .foreachBatch { (b: DataFrame, _: Long) =>
                EmbeddedTopicLog.append(b, topicDir, topic, nPartitions); ()
              }
              .option("checkpointLocation", uri.queryParams.getOrElse(
                "checkpointLocation",
                java.nio.file.Files.createTempDirectory("graft_kafka_ckpt").toString))
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          } else EmbeddedTopicLog.append(ser, topicDir, topic, nPartitions)
          true
        } else guard(uri.scheme) {
          serde.serialize(df).write.format("kafka")
            .option("kafka.bootstrap.servers", broker).option("topic", topic)
            .options(extra).save()
          true
        }
    }
  }
}

/** delta:///path — plans against the `delta` format with the session confs
  * the connector needs (ref delta/src/main/scala/dev/mauch/dfio/DeltaUriParser.scala:55-66);
  * jar absent here → UnsupportedSourceInEnv at I/O time, UNLESS the URI
  * opts into the embedded commit-log backend (`embedded=true`):
  * [[EmbeddedCommitLog]] then
  * exercises the scheme's transaction-log semantics — atomic
  * append/overwrite commits, optimistic version races, snapshot reads,
  * `versionAsOf=N` time travel — against a minimal file-backed log
  * (round-12 verdict item 7: the Delta OSS jar is not vendorable in this
  * zero-egress image; explicit opt-in keeps a production run with the
  * real connector from silently landing a non-Delta table). */
object DeltaProvider extends SchemeProvider {
  val schemes = Seq("delta", "delta-stream")
  override def sparkConfigs: Map[String, String] =
    // only inject the Delta session extension when the connector exists —
    // otherwise every CLI startup logs a ClassNotFoundException
    if (scala.util.Try(Class.forName("io.delta.sql.DeltaSparkSessionExtension")).isSuccess)
      Map(
        "spark.sql.extensions" -> "io.delta.sql.DeltaSparkSessionExtension",
        "spark.sql.catalog.spark_catalog" -> "org.apache.spark.sql.delta.catalog.DeltaCatalog"
      )
    else Map.empty
  private def deltaJarPresent: Boolean =
    scala.util.Try(Class.forName("io.delta.sql.DeltaSparkSessionExtension")).isSuccess
  override def apply(uri: ParsedUri): SparkSession => DfSource with DfSink = { spark =>
    val inner = new FormatEndpoint(
      spark, "delta", uri.path, uri.queryParams, isStream = uri.scheme.endsWith("-stream"))
    def useEmbedded: Boolean = !deltaJarPresent && !uri.scheme.endsWith("-stream") &&
      uri.queryParams.get("embedded").contains("true")
    new DfSource with DfSink {
      override def read(): DataFrame =
        if (useEmbedded)
          EmbeddedCommitLog.read(spark, uri.path,
            uri.queryParams.get("versionAsOf").map(_.toInt))
        else guard(uri.scheme)(inner.read())
      override def write(df: DataFrame): Boolean =
        if (useEmbedded) {
          EmbeddedCommitLog.write(df, uri.path,
            overwrite = !uri.queryParams.get("mode").contains("append"))
          true
        } else guard(uri.scheme)(inner.write(df))
    }
  }
}

/** xlsx:///path — Excel depends on com.crealytics (absent); scheme parses,
  * I/O surfaces UnsupportedSourceInEnv (ref ExcelFileDataFrameSource
  * .scala:1-40: inferSchema+header defaults, generic option passthrough
  * incl. dataAddress, write = json-flattened schema in one file — the
  * reference's DataFrameUtils.flattenSchema (complex cols → JSON strings)
  * + coalesce instead of repartition(1), same result, no shuffle). */
object ExcelProvider extends SchemeProvider {
  val schemes = Seq("excel", "xlsx")
  override def apply(uri: ParsedUri): SparkSession => DfSource with DfSink = { spark =>
    val inner = new FormatEndpoint(
      spark, "com.crealytics.spark.excel", uri.path,
      Map("inferSchema" -> "true", "header" -> "true") ++ uri.queryParams, isStream = false)
    new DfSource with DfSink {
      override def read(): DataFrame = guard(uri.scheme)(inner.read())
      override def write(df: DataFrame): Boolean =
        guard(uri.scheme)(inner.write(WriteFlatten.jsonFlatten(df).coalesce(1)))
    }
  }
}

/** synth://?rows=N&partitions=P — deterministic synthetic scale-test
  * rows from the DataSource V2 implementation
  * (graft.sources.v2.SyntheticTableProvider): id-range filters push down
  * into the generator bounds (pruning input partitions at the source)
  * and column pruning skips unrequested generators. Read-only.
  */
object SynthProvider extends SchemeProvider {
  val schemes = Seq("synth")
  override def apply(uri: ParsedUri): SparkSession => DfSource with DfSink = { spark =>
    new DfSource with DfSink {
      override def read(): DataFrame =
        spark.read.format("graft.sources.v2.SyntheticTableProvider")
          .options(uri.queryParams).load()
      override def write(df: DataFrame): Boolean = {
        System.err.println("[graft] synth:// is a read-only source")
        false
      }
    }
  }
}

object SourceRegistry {
  val providers: Seq[SchemeProvider] = Seq(
    ConsoleProvider,
    SynthProvider,
    ValuesProvider,
    TextProvider,
    new FileFormatProvider("parquet", Seq("parquet", "parquet-stream")),
    new FileFormatProvider("json", Seq("jsonfile", "jsonfile-stream")),
    new FileFormatProvider("orc", Seq("orc", "orc-stream")),
    new FileFormatProvider("avro", Seq("avro", "avro-stream"), guarded = true),
    new FileFormatProvider("csv", Seq("csv")),
    new FileFormatProvider("binaryFile", Seq("binary")),
    CatalogProvider,
    KafkaProvider,
    DeltaProvider,
    ExcelProvider,
    SolrProvider
  )

  def schemes: Seq[String] = providers.flatMap(_.schemes)

  /** Every provider's confs plus the `file:` binding to graft's fork-free
    * local filesystem ([[graft.io.LocalFileSystems]]). */
  def sparkConfigs: Map[String, String] =
    graft.io.LocalFileSystems.sparkConfigs ++ providers.flatMap(_.sparkConfigs)

  def forUri(uri: ParsedUri): SparkSession => DfSource with DfSink =
    providers
      .find(_.schemes.contains(uri.scheme))
      .map(_.apply(uri))
      .getOrElse(throw new IllegalArgumentException(
        s"URI scheme '${uri.scheme}' not in supported schemes: ${schemes.mkString(", ")}"))
}
