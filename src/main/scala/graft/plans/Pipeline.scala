package graft.plans

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import javax.xml.parsers.DocumentBuilderFactory
import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.functions.{col, expr}
import graft.Tables
import graft.streaming.StreamingOps

/** Declarative dataflow-DAG pipeline: the reference's control-plane model
  * (SURVEY.md §1.3) re-done Spark-first.
  *
  * The reference parses an XML operator graph, Kahn-topo-sorts it, and
  * reflectively dispatches operators that pass DStreams through a mutable
  * global port map (OpContainer.java:56-63 parse, :197-223 topo sort,
  * :92-150 dispatch, :43 RESULT_MAP). Here the spec compiles by FOLDING
  * nodes in topological order into a pure `Map[port, DataFrame]` — lazy
  * DataFrame composition gives "execute in dependency order" for free and
  * Catalyst owns all actual planning. No reflection: a sealed registry of
  * operator factories (the MySQL registry of OpContainerTest.java:124-145
  * becomes a Map — no SQL-built-by-concat).
  *
  * Preserved error semantics: a cycle aborts compilation
  * (OpContainer.java:207-210), and a failing operator fail-fasts with
  * "<name> run failed." (OpContainer.java:138-145).
  */
final case class OpNode(name: String, opClass: String, args: Map[String, String])
final case class Edge(from: String, to: String) // "nodeA.outport1" -> "nodeB.inport1"
final case class PipelineSpec(nodes: Seq[OpNode], edges: Seq[Edge])

class PipelineException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

object PipelineSpec {

  /** Parse the reference-shaped XML:
    * {{{
    * <pipeline>
    *   <operator name="in" class="parquetInput"><arg key="table" value="lineitem"/></operator>
    *   <operator name="f"  class="filter"><arg key="predicate" value="l_quantity &gt; 10"/></operator>
    *   <connect from="in.outport1" to="f.inport1"/>
    * </pipeline>
    * }}}
    * (JDK DOM — no external XML dependency.)
    */
  def parseXml(xml: String): PipelineSpec = {
    val doc = DocumentBuilderFactory.newInstance().newDocumentBuilder()
      .parse(new ByteArrayInputStream(xml.getBytes(StandardCharsets.UTF_8)))
    def attr(n: org.w3c.dom.Node, a: String): String =
      Option(n.getAttributes.getNamedItem(a)).map(_.getNodeValue)
        .getOrElse(throw new PipelineException(s"missing attribute '$a' on <${n.getNodeName}>"))
    def elems(tag: String): Seq[org.w3c.dom.Node] = {
      val nl = doc.getElementsByTagName(tag)
      (0 until nl.getLength).map(nl.item)
    }
    val nodes = elems("operator").map { n =>
      val args = {
        val kids = n.getChildNodes
        (0 until kids.getLength).map(kids.item)
          .filter(_.getNodeName == "arg")
          .map(a => attr(a, "key") -> attr(a, "value")).toMap
      }
      OpNode(attr(n, "name"), attr(n, "class"), args)
    }
    val edges = elems("connect").map(c => Edge(attr(c, "from"), attr(c, "to")))
    PipelineSpec(nodes, edges)
  }

  /** Parse the JSON twin of the XML spec (SURVEY §1.3's second declared
    * serialization) into the SAME [[PipelineSpec]] ADT — one parser per
    * format, one compiler:
    * {{{
    * { "operators": [
    *     {"name": "in", "class": "parquetInput", "args": {"table": "lineitem"}},
    *     {"name": "f",  "class": "filter", "args": {"predicate": "l_quantity > 10"}} ],
    *   "connect": [ {"from": "in.outport1", "to": "f.inport1"} ] }
    * }}}
    * `args` is optional (defaults empty), arg values may be JSON strings,
    * numbers, or booleans (canonicalized to the registry's string-typed
    * args — the XML attr model). Uses the Jackson tree model shipped with
    * Spark; no new dependency. */
  def parseJson(json: String): PipelineSpec = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    val root =
      try new ObjectMapper().readTree(json)
      catch { case e: com.fasterxml.jackson.core.JacksonException =>
        throw new PipelineException(s"malformed JSON pipeline spec: ${e.getMessage}", e) }
    if (root == null || !root.isObject)
      throw new PipelineException("JSON pipeline spec must be an object")
    def field(n: JsonNode, f: String, where: String): JsonNode = {
      val v = n.get(f)
      if (v == null || v.isNull)
        throw new PipelineException(s"missing field '$f' on $where")
      v
    }
    def scalarText(v: JsonNode, where: String): String =
      if (v.isTextual) v.asText()
      else if (v.isNumber || v.isBoolean) v.asText()
      else throw new PipelineException(
        s"arg values must be scalars on $where; got ${v.getNodeType}")
    def arr(f: String): Seq[JsonNode] = root.get(f) match {
      case null => Seq.empty
      case a if a.isArray => a.elements().asScala.toSeq
      case other => throw new PipelineException(
        s"field '$f' must be an array; got ${other.getNodeType}")
    }
    val nodes = arr("operators").map { n =>
      val name = scalarText(field(n, "name", "operator"), "operator.name")
      val args = n.get("args") match {
        case null => Map.empty[String, String]
        case a if a.isObject =>
          a.properties().asScala.map(e =>
            e.getKey -> scalarText(e.getValue, s"operator '$name' arg '${e.getKey}'")).toMap
        case other => throw new PipelineException(
          s"'args' of operator '$name' must be an object; got ${other.getNodeType}")
      }
      OpNode(name, scalarText(field(n, "class", s"operator '$name'"), "operator.class"), args)
    }
    val edges = arr("connect").map { c =>
      Edge(scalarText(field(c, "from", "connect"), "connect.from"),
        scalarText(field(c, "to", "connect"), "connect.to"))
    }
    PipelineSpec(nodes, edges)
  }

  /** Load a spec from any Hadoop-visible path — `file://`, `hdfs://`,
    * `s3a://` — matching the reference's HDFS spec load
    * (OpContainer.java:236-262) without hardcoding a filesystem. */
  def parseXmlFile(spark: SparkSession, path: String): PipelineSpec =
    parseFile(spark, path, parseXml)

  /** [[parseJson]] over a Hadoop-visible path, the JSON twin of
    * [[parseXmlFile]]. */
  def parseJsonFile(spark: SparkSession, path: String): PipelineSpec =
    parseFile(spark, path, parseJson)

  private def parseFile(spark: SparkSession, path: String,
      parse: String => PipelineSpec): PipelineSpec = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try parse(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }
}

/** An operator: input ports → output ports. Conventional ports are
  * "inport1"/"inport2" and "outport1" (matching KafkaInput.java:19). */
trait PipelineOperator {
  def apply(spark: SparkSession, inputs: Map[String, DataFrame],
      args: Map[String, String]): Map[String, DataFrame]
}

/** SPI for runtime-pluggable operators — the one reference-R8 capability
  * the sealed Map alone drops: OpContainer resolves operator names at
  * RUNTIME (XML attrs OpContainer.java:181-195; MySQL registry
  * OpContainerTest.java:124-145), so a user can ship an operator without
  * recompiling the container. Implementations are discovered via
  * `java.util.ServiceLoader` (a `META-INF/services/
  * graft.plans.PipelineOperatorProvider` entry in the extension jar) and
  * merged UNDER the sealed registry — the sealed side wins on name
  * collision, so an external jar can extend the operator vocabulary but
  * never shadow a built-in operator's semantics (the safety property the
  * reference's reflective `Class.forName` dispatch lacked). Providers
  * need a public no-arg constructor.
  *
  * Load-once semantics: the ServiceLoader scan runs ONCE per JVM, from
  * `PipelineCompiler`'s defining classloader, at the first compile.
  * Extension jars added to the classpath afterwards (REPL/notebook
  * `:require`-style dynamic jars) are NOT discovered — restart the JVM
  * (or a fresh classloader hosting PipelineCompiler) to pick them up.
  * Deliberate: a per-compile rescan would make "unknown operator"
  * resolution time-dependent, which is harder to debug than a documented
  * static vocabulary. */
trait PipelineOperatorProvider {
  /** operator-class-name → implementation, as [[PipelineCompiler.registry]]. */
  def operators: Map[String, PipelineOperator]
}

object PipelineCompiler {

  /** The only accepted input-port shape for variadic ops (rrfFuse). */
  private[plans] val InportN = "^inport(\\d+)$".r

  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, throw new PipelineException(s"missing operator arg '$k'"))

  /** ;-separated `name:ppm` entries → map (split on the LAST ':' so names
    * may contain one). Absent arg = empty map (callers pair it with a
    * default-rate arg). */
  private def ratesOf(args: Map[String, String], k: String): Map[String, Long] =
    args.get(k).map(_.split(';').toIndexedSeq.map { s =>
      val i = s.lastIndexOf(':')
      if (i <= 0) throw new PipelineException(
        s"$k entries must be 'name:ppm'; got '$s'")
      s.substring(0, i).trim -> s.substring(i + 1).trim.toLong
    }.toMap).getOrElse(Map.empty)

  /** The typed input of an ordered stream twin: the `key`, `ts` and
    * `tiebreak` args cast to its (long, timestamp, long) position, then
    * each `extra` arg cast to its SQL type, named by `T`'s fields. */
  private def orderedIn[T <: Product : TypeTag](df: DataFrame,
      args: Map[String, String], extra: (String, String)*): Dataset[T] = {
    val enc = Encoders.product[T]
    df.select((Seq("key" -> "long", "ts" -> "timestamp",
        "tiebreak" -> "long") ++ extra).map { case (k, t) =>
        expr(arg(args, k)).cast(t) }: _*)
      .toDF(enc.schema.fieldNames.toIndexedSeq: _*).as(enc)
  }

  /** The k-column curve ops' `cols` (comma-separated expressions), each
    * paired with its width: `bits` is one int (uniform) or a comma list
    * matching `cols` (per-column widths — z and compactHilbert; the
    * Skilling hilbert walk needs a uniform hypercube). */
  private def curveCols(args: Map[String, String]): Seq[(Column, Int)] = {
    val cols = arg(args, "cols").split(",").map(c => expr(c.trim)).toSeq
    val bits = args.getOrElse("bits", "8").split(",").map(_.trim.toInt).toSeq
    if (bits.length == 1) cols.map(_ -> bits.head)
    else {
      require(bits.length == cols.size,
        s"bits list (${bits.length}) must match cols (${cols.size})")
      cols.zip(bits)
    }
  }

  /** Long→Int for ppm-scale rate values: a value outside Int range is a
    * malformed spec and must fail the compile loudly — `.toInt` would wrap
    * silently (4294967296 becomes 0, i.e. "drop everything"). */
  private def ppmInt(k: String)(v: Long): Int =
    if (v >= Int.MinValue && v <= Int.MaxValue) v.toInt
    else throw new PipelineException(s"$k value $v out of Int range")

  /** Streaming sinks honor an optional `triggerMs` arg; absent, they run on
    * the reference's fixed 10 s micro-batch cadence (OpContainer.java:47-49
    * → StreamingOps.ReferenceTrigger). `triggerMs=0` = as-fast-as-possible
    * micro-batches (what tests want under processAllAvailable).
    * `trigger=availableNow` instead runs the catch-up mode: consume
    * everything currently available in bounded micro-batches, then STOP —
    * how a 100 TB backfill replays a stream pipeline as a finite job with
    * the same exactly-once state/checkpoint semantics. A negative
    * `triggerMs`, or both args at once, fails the compile. */
  private def triggerOf(args: Map[String, String]): Trigger =
    (args.get("trigger"), args.get("triggerMs").map(_.toLong)) match {
      case (Some(_), Some(_)) => throw new PipelineException(
        "give trigger or triggerMs, not both")
      case (Some("availableNow"), None) => Trigger.AvailableNow()
      case (Some(other), None) => throw new PipelineException(
        s"unknown trigger '$other' (supported: availableNow, or use triggerMs)")
      case (None, Some(ms)) if ms < 0 => throw new PipelineException(
        s"triggerMs must be >= 0 (0 = as fast as possible); got $ms")
      case (None, Some(ms)) => Trigger.ProcessingTime(ms)
      case (None, None) => StreamingOps.ReferenceTrigger
    }

  /** A streaming sink's writer: input ports, args and the query name →
    * the writer [[streamSink]] starts. */
  private type SinkWriter =
    (Map[String, DataFrame], Map[String, String], String) => DataStreamWriter[Row]

  /** Streaming sinks: compiling a spec that ends in one STARTS the query
    * (the streaming analogue of the batch sinks' eager action) through
    * [[streamSink]], which owns the start protocol — query name, trigger,
    * shuffle partitions. Each entry only builds its writer; the log
    * sinks' replay postures are StreamingOps's (its object doc). */
  private val streamSinks: Map[String, SinkWriter] = Map(
    "memoryStreamSink" -> ((in, args, _) =>
      in("inport1").writeStream.format("memory").queryName(arg(args, "name"))
        .outputMode(args.getOrElse("outputMode", "append"))),
    "parquetStreamSink" -> ((in, args, name) =>
      in("inport1").writeStream.format("parquet").queryName(name)
        .option("path", arg(args, "path"))
        .option("checkpointLocation", arg(args, "checkpoint"))),
    // Incremental ANN index maintenance: the streaming completion of the
    // ivfPqEncode/ivfPqSearch lifecycle — each micro-batch of new vectors
    // (inport1, streaming) is encoded against the frozen models (inport2 =
    // coarse, inport3 = pq; batch inputs, collected once at compile) and
    // appended to the at-rest (id, cell, codes) parquet index at `path`.
    // Search-after-append equals search-over-rebuild exactly (PqSpec).
    // tier=residual switches the encoder to the residual (IVFADC) codes —
    // inport3 must then be a pqFitResidual model trained against the SAME
    // frozen coarse model on inport2.
    "indexAppendSink" -> ((in, args, name) => {
      val sink = args.getOrElse("tier", "raw") match {
        case "raw" => StreamingOps.ivfPqAppendSink _
        case "residual" => StreamingOps.ivfRpqAppendSink _
        case other => throw new PipelineException(
          s"indexAppendSink tier must be one of raw, residual; got '$other'")
      }
      sink(in("inport1"), expr(arg(args, "id")), expr(arg(args, "vec")),
        in("inport2"), in("inport3"), arg(args, "dim").toInt,
        arg(args, "path"), name, arg(args, "checkpoint"))
    }),
    // Admission-index append maintenance (round 14): each micro-batch of
    // admitted content appends its own index rows to the at-rest parquet
    // index (append == rebuild, S19); the span tier appends MERGEABLE
    // counts and `spanIndexFromCounts` derives the index on read.
    "fingerprintAppendSink" -> ((in, args, name) =>
      StreamingOps.fingerprintAppendSink(in("inport1"), expr(arg(args, "id")),
        expr(arg(args, "text")), arg(args, "path"), name, arg(args, "checkpoint"))),
    "nearDupAppendSink" -> ((in, args, name) => {
      val (id, text) = (expr(arg(args, "id")), expr(arg(args, "text")))
      val (width, hashes, bands) = (args.getOrElse("shingleWidth", "3").toInt,
        args.getOrElse("numHashes", "16").toInt, args.getOrElse("bands", "4").toInt)
      StreamingOps.appendSink(in("inport1"), arg(args, "path"), name,
        arg(args, "checkpoint"))(StreamingOps.nearDupIndex(_, id, text, width, hashes, bands))
    }),
    // S25 semantic tier (inport1 = admitted stream, inport2 = frozen
    // kmeans model): same per-row append == rebuild law, same
    // model-retrain lifecycle rule as the residual-PQ sink.
    "semanticDupAppendSink" -> ((in, args, name) =>
      StreamingOps.semanticDupAppendSink(in("inport1"), expr(arg(args, "id")),
        expr(arg(args, "vec")), in("inport2"), arg(args, "path"), name,
        arg(args, "checkpoint"))),
    "mediaDupAppendSink" -> ((in, args, name) => {
      val (id, payload) = (expr(arg(args, "id")), expr(arg(args, "payload")))
      val nChunks = args.getOrElse("nChunks", "4").toInt
      val index: DataFrame => DataFrame = args.getOrElse("kind", "image") match {
        case "image" => StreamingOps.imageDupIndex(_, id, payload, nChunks)
        case "audio" => StreamingOps.audioDupIndex(_, id, payload, nChunks)
        case "video" => StreamingOps.videoDupIndex(_, id, payload)
        case other => sys.error(s"mediaDupAppendSink kind must be " +
          s"image/audio/video; got '$other'")
      }
      StreamingOps.appendSink(in("inport1"), arg(args, "path"), name,
        arg(args, "checkpoint"))(index)
    }),
    "spanIndexAppendSink" -> ((in, args, name) =>
      StreamingOps.spanIndexAppendSink(in("inport1"), expr(arg(args, "id")),
        expr(arg(args, "text")), args.getOrElse("width", "5").toInt,
        arg(args, "path"), name, arg(args, "checkpoint"))),
    // S20 upsert family: per-batch winners append to a parquet log
    "upsertAppendSink" -> ((in, args, name) =>
      StreamingOps.upsertAppendSink(in("inport1"),
        arg(args, "key").split(",").map(_.trim).toSeq, arg(args, "version"),
        arg(args, "tiebreak"), arg(args, "path"), name, arg(args, "checkpoint"))),
    // S26 golden-record family: per-batch per-field winners append
    "goldenRecordAppendSink" -> ((in, args, name) =>
      StreamingOps.goldenRecordAppendSink(in("inport1"),
        arg(args, "key").split(",").map(_.trim).toSeq, arg(args, "version"),
        arg(args, "tiebreak"), arg(args, "fields").split(",").map(_.trim).toSeq,
        arg(args, "path"), name, arg(args, "checkpoint"))),
    // S29/S30 sketch-algebra streaming faces: per-batch sketches append
    "cmsAppendSink" -> ((in, args, name) =>
      StreamingOps.cmsAppendSink(in("inport1"), arg(args, "key"),
        arg(args, "depth").toInt, arg(args, "width").toInt, arg(args, "path"),
        name, arg(args, "checkpoint"))),
    "kmvAppendSink" -> ((in, args, name) =>
      StreamingOps.kmvAppendSink(in("inport1"), arg(args, "group"),
        arg(args, "value"), arg(args, "k").toInt, arg(args, "path"), name,
        arg(args, "checkpoint"))),
    // S31 Gram/PCA model-stat streaming face: per-batch packed Gram
    // summaries append
    "gramAppendSink" -> ((in, args, name) =>
      StreamingOps.gramAppendSink(in("inport1"), arg(args, "vec"),
        arg(args, "dim").toInt, arg(args, "path"), name, arg(args, "checkpoint"))),
    // S32 scoring faces: apply a stored model table (ridge | logistic |
    // pca, re-read once per batch) or the S31 gram log's live ridge
    // refit to every micro-batch as a pure narrow map; each batch's
    // scored rows land in its own partition under `path`
    "scoreStreamSink" -> ((in, args, name) =>
      StreamingOps.scoreStreamSink(in("inport1"), arg(args, "vec"),
        arg(args, "dim").toInt, arg(args, "model"), arg(args, "kind"),
        arg(args, "path"), name, arg(args, "checkpoint"))),
    "ridgeScoreStreamSink" -> ((in, args, name) =>
      StreamingOps.ridgeScoreStreamSink(in("inport1"), arg(args, "vec"),
        arg(args, "dim").toInt, arg(args, "gramLog"),
        arg(args, "lambdaPpm").toLong, arg(args, "path"), name,
        arg(args, "checkpoint"))),
    // R3 KafkaOutput: declared for real-broker deployments (needs the
    // spark-sql-kafka connector jar — absent in this offline container,
    // see README "Kafka connectivity"; memoryStreamSink is the test twin).
    "kafkaOutput" -> ((in, args, _) =>
      StreamingOps.toKafkaJson(in("inport1")).writeStream.format("kafka")
        .option("kafka.bootstrap.servers", arg(args, "brokers"))
        .option("topic", arg(args, "topic"))
        .option("checkpointLocation", arg(args, "checkpoint"))))

  /** Start the writer a [[SinkWriter]] builds. The writer gets its query
    * name — the `name` arg, default the op name — under which the query
    * is discoverable in `spark.streams.active`; `triggerOf` picks the
    * trigger; the optional `shufflePartitions` arg applies to this query
    * alone — a query over small micro-batches should run FEWER shuffle
    * partitions than the session default, since stateful streaming pays
    * a per-partition per-batch state-store tax (see
    * StreamingOps.sizedShufflePartitions; BASELINE.md has the measured
    * 8-vs-32-partition replay numbers). A sink returns no ports (ref R3
    * KafkaOutput, KafkaOutput.java:18-19). */
  private def streamSink(op: String, writer: SinkWriter): PipelineOperator =
    (spark, in, args) => {
      withQueryShufflePartitions(spark, args) {
        writer(in, args, args.getOrElse("name", op)).trigger(triggerOf(args)).start()
      }
      Map.empty
    }

  /** Sealed operator registry (ref R8 parity, minus reflection). */
  val registry: Map[String, PipelineOperator] = Map[String, PipelineOperator](
    // Sources. "parquetInput" doubles for KafkaInput in batch tests; the
    // streaming twin is readStream on the same schema (StreamingOps).
    "parquetInput" -> ((spark, _, args) =>
      Map("outport1" -> Tables.load(spark, arg(args, "dir"), arg(args, "table")))),
    "viewInput" -> ((spark, _, args) =>
      Map("outport1" -> spark.table(arg(args, "table")))),
    // Columnar file scan by explicit path+format (parquet default; orc
    // ships in Spark — both self-describing, no schema arg needed).
    "fileInput" -> ((spark, _, args) =>
      Map("outport1" -> spark.read.format(args.getOrElse("format", "parquet"))
        .load(arg(args, "path")))),
    // Both text scans honor Spark's malformed-record contract: `mode`
    // (PERMISSIVE default / DROPMALFORMED / FAILFAST) and, in PERMISSIVE
    // runs, `corruptColumn` captures the raw bad line — the named column
    // must also appear (as STRING) in the declared schema. At 100 TB a
    // single bad line must neither kill the job (FAILFAST everywhere) nor
    // vanish silently; a corrupt-record column makes the damage queryable.
    "csvInput" -> ((spark, _, args) => {
      val r = spark.read.schema(arg(args, "schema"))
        .option("header", args.getOrElse("header", "false"))
        .option("mode", args.getOrElse("mode", "PERMISSIVE"))
      Map("outport1" -> args.get("corruptColumn")
        .fold(r)(c => r.option("columnNameOfCorruptRecord", c))
        .csv(arg(args, "path")))
    }),
    "jsonInput" -> ((spark, _, args) => {
      val r = spark.read.schema(arg(args, "schema"))
        .option("mode", args.getOrElse("mode", "PERMISSIVE"))
      Map("outport1" -> args.get("corruptColumn")
        .fold(r)(c => r.option("columnNameOfCorruptRecord", c))
        .json(arg(args, "path")))
    }),
    // Kafka endpoints (ref R1/R3). Requires the spark-sql-kafka-0-10
    // connector jar on the classpath for a real broker (see README
    // "Kafka connectivity"); that jar isn't in this offline container, so
    // these are exercised via the file/memory test doubles
    // (parseKafkaJson/toKafkaJson in StreamingOps); on a real cluster the
    // spec binds brokers/topic here.
    "kafkaInput" -> ((spark, _, args) =>
      Map("outport1" -> spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", arg(args, "brokers"))
        .option("subscribe", arg(args, "topic")).load())),
    // Streaming file source: the connector-free way to compile the
    // reference's S1 flow (R1→R2→R3) as a STREAMING spec end-to-end —
    // schema'd readStream over a directory, micro-batched like KafkaInput.
    "fileStreamInput" -> ((spark, _, args) =>
      Map("outport1" -> spark.readStream
        .schema(arg(args, "schema")) // DDL string, e.g. "id BIGINT, v STRING"
        .format(args.getOrElse("format", "json"))
        .load(arg(args, "path")))),
    "rateInput" -> ((spark, _, args) =>
      Map("outport1" -> spark.readStream.format("rate")
        .option("rowsPerSecond", args.getOrElse("rowsPerSecond", "1")).load())),
    // Transforms (ref R2 AddField + the core relational verbs).
    "addField" -> ((_, in, args) =>
      Map("outport1" -> in("inport1").withColumn(arg(args, "name"), expr(arg(args, "expr"))))),
    "filter" -> ((_, in, args) =>
      Map("outport1" -> in("inport1").filter(expr(arg(args, "predicate"))))),
    "select" -> ((_, in, args) =>
      Map("outport1" -> in("inport1").selectExpr(arg(args, "exprs").split(';').toIndexedSeq: _*))),
    // Optional `salt` turns the declarative join into the skew-safe form
    // (GraftOps.saltedJoin): the big side (inport1) spreads each hot key
    // over `salt` sub-partitions, the small side (inport2) replicates once
    // per salt — same rows as the plain join, shuffle layout changed. The
    // salted form is an equi-join on the single `key` column (the shape
    // where one hot key actually concentrates on one reducer), inner or
    // left_outer (big rows carry ONE salt each, so left misses
    // null-extend exactly once); right/full outer and arbitrary
    // `condition` stay on the unsalted path.
    "join" -> ((_, in, args) =>
      Map("outport1" -> (args.get("salt") match {
        case Some(s) =>
          val saltedTypes = Set("inner", "left_outer", "left")
          if (args.contains("condition") ||
              args.get("joinType").exists(!saltedTypes.contains(_)))
            throw new PipelineException(
              "salted join is inner or left_outer equi-join on `key`; " +
                "drop condition/joinType or drop salt")
          graft.api.GraftOps.saltedJoin(in("inport1"), in("inport2"),
            arg(args, "key"), s.toInt, args.getOrElse("joinType", "inner"))
        case None =>
          in("inport1").join(in("inport2"), expr(arg(args, "condition")),
            args.getOrElse("joinType", "inner"))
      }))),
    "aggregate" -> ((_, in, args) => {
      val g = arg(args, "groupBy").split(';').toIndexedSeq.map(col)
      val aggs = arg(args, "aggs").split(';').toIndexedSeq.map(expr)
      Map("outport1" -> in("inport1").groupBy(g: _*).agg(aggs.head, aggs.tail: _*))
    }),
    // Pivot with an EXPLICIT value list (mandatory here: an open pivot
    // needs a pre-pass distinct scan AND makes the output schema
    // data-dependent — both wrong for a declarative DAG whose downstream
    // ops reference columns by name).
    "pivot" -> ((_, in, args) => {
      val g = arg(args, "groupBy").split(';').toIndexedSeq.map(col)
      val aggs = arg(args, "aggs").split(';').toIndexedSeq.map(expr)
      Map("outport1" -> in("inport1").groupBy(g: _*)
        .pivot(arg(args, "pivotCol"),
          arg(args, "values").split(';').toIndexedSeq)
        .agg(aggs.head, aggs.tail: _*))
    }),
    // Unpivot/melt: ids/values are ;-separated column lists.
    "unpivot" -> ((_, in, args) =>
      Map("outport1" -> in("inport1").unpivot(
        arg(args, "ids").split(';').toIndexedSeq.map(col).toArray,
        arg(args, "values").split(';').toIndexedSeq.map(col).toArray,
        args.getOrElse("variable", "variable"),
        args.getOrElse("value", "value")))),
    // Curation family (GraftOps) as declarative ops, so the reference's
    // XML DAG surface (OpContainer.java:56-63) expresses a full curation
    // chain — dedup → validate → mixture → sample → pack → shard — not
    // just the relational verbs. Args mirror the Scala API; column/
    // predicate args are SQL expressions over the input schema; rate
    // maps are ;-separated `name:ppm` entries.
    // `checks` = ;-separated `name:predicate` entries, applied in
    // declaration order (the order the violations array reports).
    "validate" -> ((_, in, args) => {
      val checks = arg(args, "checks").split(';').toIndexedSeq.map { spec =>
        val i = spec.indexOf(':')
        if (i <= 0) throw new PipelineException(
          s"validate checks must be 'name:predicate'; got '$spec'")
        spec.substring(0, i).trim -> expr(spec.substring(i + 1))
      }
      Map("outport1" -> graft.api.GraftOps.withViolations(in("inport1"), checks))
    }),
    // `shares` = ;-separated `source:ppm`; the plan (outport1) is the
    // |sources|-row rates table mixtureApply consumes on inport2.
    "mixturePlan" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.mixtureRates(in("inport1"),
        expr(arg(args, "source")), expr(arg(args, "tokens")),
        ratesOf(args, "shares").map { case (k, v) => k -> ppmInt("shares")(v) },
        arg(args, "defaultSharePpm").toInt,
        arg(args, "budgetTokens").toLong))),
    "mixtureApply" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.applyMixture(in("inport1"),
        expr(arg(args, "source")), expr(arg(args, "key")), in("inport2")))),
    "gapFill" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.gapFill(in("inport1"),
        expr(arg(args, "key")), expr(arg(args, "ts")), arg(args, "stepUs").toLong,
        args.get("maxBucketsPerKey").map(_.toLong).getOrElse(Long.MaxValue)))),
    "quantileFilter" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.topQuantileFilter(in("inport1"),
        expr(arg(args, "strata")), expr(arg(args, "score")),
        arg(args, "quantile").toDouble))),
    "quantileFilterApprox" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.topQuantileFilterApprox(in("inport1"),
        expr(arg(args, "strata")), expr(arg(args, "score")),
        arg(args, "quantile").toDouble,
        args.getOrElse("accuracy", "10000").toInt))),
    // Dedup family: near-dup pair generation, cluster resolution, and
    // the survivor-only apply (inport1 = corpus, inport2 = pairs).
    "ngramContainment" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.ngramContainment(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        shingleWidth = args.getOrElse("shingleWidth", "3").toInt,
        dfCap = args.getOrElse("dfCap", "100").toInt,
        threshold = args.getOrElse("threshold", "0.9").toDouble))),
    // Z-order layout family (q89): `zorder` adds the interleaved curve
    // value over two integer columns (stats collected eagerly, like any
    // trainer); `zorderSink` is the range-partitioned layout terminal.
    "zorder" -> ((_, in, args) => {
      val curve = args.getOrElse("curve", "z")
      if (curve != "z" && curve != "hilbert") throw new PipelineException(
        s"zorder curve must be one of z, hilbert; got '$curve'")
      val df = in("inport1")
      val bits = args.getOrElse("bits", "12").toInt
      val Seq(xn, yn) = graft.api.GraftOps.zorderNormalizeCols(df,
        Seq(expr(arg(args, "x")) -> bits, expr(arg(args, "y")) -> bits),
        "zorder")
      val curveCol =
        if (curve == "hilbert") graft.api.GraftOps.hilbertValue(xn, yn, bits)
        else graft.api.GraftOps.zorderValue(xn, yn, bits)
      Map("outport1" -> df.withColumn(
        args.getOrElse("as", "zvalue"), curveCol.cast("bigint")))
    }),
    "zorderSink" -> ((_, in, args) => {
      graft.api.GraftOps.zorderWrite(in("inport1"),
        expr(arg(args, "x")), expr(arg(args, "y")),
        bits = args.getOrElse("bits", "12").toInt,
        path = arg(args, "path"),
        nFiles = args.getOrElse("nFiles", "16").toInt,
        curve = args.getOrElse("curve", "z"))
      Map.empty
    }),
    // k-column curve family (round 14): `zorderN` adds the curve value
    // over `cols` (comma-separated) — curve = z (round-robin interleave),
    // hilbert (Skilling, uniform bits only), or compactHilbert (Hamilton,
    // per-column bits); `zorderSinkN` is the k-D layout terminal.
    "zorderN" -> ((_, in, args) => {
      val df = in("inport1")
      val cols = curveCols(args)
      require(cols.size >= 2, "zorderN needs >= 2 cols")
      val perCol = cols.map(_._2)
      val normed = graft.api.GraftOps.zorderNormalizeCols(df, cols, "zorderN")
      val curveCol = args.getOrElse("curve", "z") match {
        case "hilbert" =>
          require(perCol.distinct.size == 1,
            "curve=hilbert needs uniform bits (use compactHilbert for mixed widths)")
          graft.api.GraftOps.hilbertValueN(normed, perCol.head)
        case "compactHilbert" =>
          graft.api.GraftOps.compactHilbertValue(normed.zip(perCol))
        case "z" => graft.api.GraftOps.zorderValueN(normed.zip(perCol))
        case other => sys.error(
          s"zorderN curve must be 'z', 'hilbert', or 'compactHilbert'; got '$other'")
      }
      Map("outport1" -> df.withColumn(
        args.getOrElse("as", "zvalue"), curveCol.cast("bigint")))
    }),
    "zorderSinkN" -> ((_, in, args) => {
      graft.api.GraftOps.zorderWriteNW(in("inport1"), curveCols(args),
        path = arg(args, "path"),
        nFiles = args.getOrElse("nFiles", "16").toInt,
        curve = args.getOrElse("curve", "z"))
      Map.empty
    }),
    // Document chunking: overlapping fixed-token windows (the splitter
    // complement of tokenPack's concatenator) — q86 semantics.
    "chunkDocuments" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.chunkDocuments(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        maxTokens = arg(args, "maxTokens").toInt,
        stride = arg(args, "stride").toInt))),
    // Span-level exact-substring dedup: mask width-token windows repeated
    // across >= minDf documents, keep the documents (q85's ExactSubstr).
    "maskRepeatedSpans" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.maskRepeatedSpans(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        width = args.getOrElse("width", "5").toInt,
        minDf = args.getOrElse("minDf", "2").toInt,
        minCount = args.getOrElse("minCount", "0").toInt))),
    "minhashPairs" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.minhashNearDup(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        shingleWidth = args.getOrElse("shingleWidth", "3").toInt,
        numHashes = args.getOrElse("numHashes", "16").toInt,
        bands = args.getOrElse("bands", "4").toInt,
        minMatches = args.getOrElse("minMatches", "8").toInt))),
    "dedupClusters" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.dedupClusters(in("inport1"),
        expr(arg(args, "idA")), expr(arg(args, "idB"))))),
    "dedupApply" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.applyDedup(in("inport1"),
        expr(arg(args, "id")), in("inport2"),
        expr(arg(args, "idA")), expr(arg(args, "idB"))))),
    // Keep-best survivor policy (inport1 = corpus, inport2 = pairs):
    // q76's curation-grade apply — `score` picks each cluster's survivor.
    "dedupApplyBest" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.applyDedupBest(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "score")), in("inport2"),
        expr(arg(args, "idA")), expr(arg(args, "idB"))))),
    // Semantic (embedding-cluster, SemDeDup-shaped) dedup: candidate
    // pairs from a LEARNED k-means cell equi-join (never all-pairs),
    // and the end-to-end pairs -> components -> keep-best apply.
    // NOTE kmeansFit trains at COMPILE of the node — batch inputs only.
    "semanticPairs" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.semanticDedupPairs(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "vec")),
        k = arg(args, "k").toInt,
        threshold = arg(args, "threshold").toDouble,
        iters = args.getOrElse("iters", "2").toInt,
        nprobe = args.getOrElse("nprobe", "1").toInt))),
    "semanticDedup" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.semanticDedup(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "score")),
        expr(arg(args, "vec")),
        k = arg(args, "k").toInt,
        threshold = arg(args, "threshold").toDouble,
        iters = args.getOrElse("iters", "2").toInt,
        nprobe = args.getOrElse("nprobe", "1").toInt))),
    // Event-time family: directional as-of enrichment (inport1 = right/
    // probe side, inport2 = left/enrich side — the side whose columns
    // surface prefixed), linear interpolation, robust outlier scoring.
    "asofJoin" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.asofJoin(
        in("inport2"), in("inport1"), arg(args, "key"), arg(args, "ts"),
        leftPrefix = args.getOrElse("prefix", "asof_"),
        tiebreak = args.get("tiebreak"),
        forward = args.getOrElse("forward", "false").toBoolean,
        toleranceUs = args.get("toleranceUs").map(_.toLong)
          .getOrElse(Long.MaxValue)))),
    "interpolate" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.interpolate(in("inport1"),
        expr(arg(args, "key")), expr(arg(args, "ts")),
        expr(arg(args, "value")), arg(args, "stepUs").toLong,
        args.get("maxBucketsPerKey").map(_.toLong).getOrElse(Long.MaxValue)))),
    "cohortRetention" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.cohortRetention(in("inport1"),
        expr(arg(args, "key")), expr(arg(args, "ts")),
        args.getOrElse("unit", "week")))),
    "funnel" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.funnel(in("inport1"),
        expr(arg(args, "key")), expr(arg(args, "ts")),
        expr(arg(args, "stage")),
        arg(args, "stages").split(",").map(_.trim).toSeq,
        arg(args, "horizonUs").toLong))),
    // phrases: ';'-separated phrase list, each phrase whitespace-split
    "phraseMatch" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.phraseMatch(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        arg(args, "phrases").split(";").map(_.trim).filter(_.nonEmpty)
          .map(_.split("\\s+").toSeq).toSeq))),
    "trendingTopK" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.trendingTopK(in("inport1"),
        expr(arg(args, "item")), expr(arg(args, "ts")),
        halfLifeDays = arg(args, "halfLifeDays").toInt,
        k = arg(args, "k").toInt))),
    "attributionReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.attributionReport(in("inport1"),
        expr(arg(args, "key")), expr(arg(args, "ts")),
        expr(arg(args, "tiebreak")), expr(arg(args, "channel")),
        expr(arg(args, "isConversion")),
        lookbackDays = arg(args, "lookbackDays").toInt))),
    "editDistanceJoin" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.editDistanceJoin(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "key")),
        maxDist = arg(args, "maxDist").toInt,
        gramWidth = args.getOrElse("gramWidth", "3").toInt,
        dfCap = args.getOrElse("dfCap", "1000").toInt))),
    "trimSegments" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.trimRepeatedSegments(in("inport1"),
        expr(arg(args, "text")), arg(args, "width").toInt,
        args.getOrElse("out", "trimmed_text")))),
    "canonicalUrl" -> ((_, in, args) =>
      Map("outport1" -> in("inport1").withColumn(
        args.getOrElse("out", "canon_url"),
        graft.functions.UrlCanon(expr(arg(args, "url")))))),
    "foldText" -> ((_, in, args) =>
      Map("outport1" -> in("inport1").withColumn(
        args.getOrElse("out", "folded"),
        graft.functions.UnicodeFold(expr(arg(args, "text")))))),
    // intervalJoin: inport1 = left, inport2 = right; key = 'lcol=rcol'
    "intervalJoin" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.intervalJoin(
        in("inport1"), in("inport2"),
        expr(arg(args, "lStart")), expr(arg(args, "lEnd")),
        expr(arg(args, "rStart")), expr(arg(args, "rEnd")),
        arg(args, "spanUs").toLong,
        args.get("key").map { spec =>
          val i = spec.indexOf('=')
          require(i > 0, s"key must be 'leftCol=rightCol'; got '$spec'")
          (spec.substring(0, i).trim, spec.substring(i + 1).trim)
        },
        args.getOrElse("rightPrefix", "r_")))),
    "applyChanges" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.applyChanges(in("inport1"),
        arg(args, "key").split(",").map(c => expr(c.trim)).toSeq,
        expr(arg(args, "version")), expr(arg(args, "tiebreak")),
        expr(arg(args, "isDelete"))))),
    "goldenRecord" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.goldenRecord(in("inport1"),
        arg(args, "key").split(",").map(c => expr(c.trim)).toSeq,
        version = arg(args, "version"), tiebreak = arg(args, "tiebreak"),
        fields = arg(args, "fields").split(",").map(_.trim).toSeq))),
    "scd2" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.scd2(in("inport1"),
        arg(args, "key").split(",").map(c => expr(c.trim)).toSeq,
        expr(arg(args, "ts")), expr(arg(args, "tiebreak")),
        expr(arg(args, "isDelete"))))),
    "winsorize" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.winsorize(in("inport1"),
        expr(arg(args, "group")), expr(arg(args, "value")),
        pLo = arg(args, "pLo").toDouble, pHi = arg(args, "pHi").toDouble,
        out = args.getOrElse("out", "clamped")))),
    "robustOutliers" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.robustOutliers(in("inport1"),
        expr(arg(args, "group")), expr(arg(args, "value"))))),
    "quantileNormalize" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.quantileNormalize(in("inport1"),
        expr(arg(args, "group")), expr(arg(args, "value")),
        args.getOrElse("out", "qrank")))),
    "histogram" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.histogram(in("inport1"),
        expr(arg(args, "group")), expr(arg(args, "value")),
        arg(args, "lo").toDouble, arg(args, "hi").toDouble,
        arg(args, "nBins").toInt))),
    "contributionReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.contributionReport(in("inport1"),
        expr(arg(args, "group")), expr(arg(args, "weight"))))),
    // Frequency family: exact + Misra-Gries heavy hitters, collocations.
    "heavyHitters" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.heavyHitters(in("inport1"),
        expr(arg(args, "key")), arg(args, "thrPpm").toLong))),
    "heavyHittersSketch" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.heavyHittersSketch(in("inport1"),
        expr(arg(args, "key")), arg(args, "thrPpm").toLong,
        args.getOrElse("capacity", "1024").toInt))),
    "collocations" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.collocations(in("inport1"),
        expr(arg(args, "bigram")), arg(args, "minCount").toLong,
        arg(args, "k").toInt))),
    // Streaming twin (S13): MG summary as streaming agg state; pair with
    // a complete-mode stream sink.
    "heavyHittersStream" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.heavyHittersStream(
        in("inport1"), expr(arg(args, "key")),
        args.getOrElse("capacity", "1024").toInt))),
    // Streaming admission control (the q16 family's incremental twin):
    // nearDupIndex builds the band index over a BATCH corpus (persist the
    // outport yourself for many-batch reuse), nearDupAdmit flags stream
    // rows near-duplicating it (inport1 = stream, inport2 = index) via a
    // stream-static band equi-join — the stream never shuffles the corpus.
    "nearDupIndex" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.nearDupIndex(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "text")),
        shingleWidth = args.getOrElse("shingleWidth", "3").toInt,
        numHashes = args.getOrElse("numHashes", "16").toInt,
        bands = args.getOrElse("bands", "4").toInt))),
    "nearDupAdmit" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.nearDupAgainst(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "text")),
        in("inport2"),
        shingleWidth = args.getOrElse("shingleWidth", "3").toInt,
        numHashes = args.getOrElse("numHashes", "16").toInt,
        bands = args.getOrElse("bands", "4").toInt,
        minMatches = args.getOrElse("minMatches", "8").toInt))),
    // Exact-fingerprint admission tier (the cheap filter in FRONT of the
    // banded near-dup tier): fingerprintIndex is the batch content-md5
    // index; fingerprintFlag emits (id, dup_of) matches; fingerprintAdmit
    // passes only NOT-already-ingested rows through, schema untouched
    // (inport1 = stream, inport2 = index on both).
    "fingerprintIndex" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.fingerprintIndex(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "text"))))),
    "fingerprintFlag" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.fingerprintAgainst(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "text")),
        in("inport2")))),
    "fingerprintAdmit" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.fingerprintAdmit(
        in("inport1"), expr(arg(args, "text")), in("inport2")))),
    // Media admission tier: imageDupIndex is the batch perceptual-hash
    // band index; imageDupFlag emits (id, dup_of, hamming) for arriving
    // images near-duplicating the corpus (inport1 = stream, inport2 =
    // index) — the fingerprint/nearDup pattern on the image axis.
    "imageDupIndex" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.imageDupIndex(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "payload")),
        nChunks = args.getOrElse("nChunks", "4").toInt))),
    "imageDupFlag" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.imageDupAgainst(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "payload")),
        in("inport2"),
        maxHamming = args.getOrElse("maxHamming", "3").toInt,
        nChunks = args.getOrElse("nChunks", "4").toInt))),
    // … and its audio/video twins (round 14 — the admission matrix
    // completes: text S10, exact S14, span S15, image S16, audio S17,
    // video S18; same inport1 = stream / inport2 = index contract).
    "audioDupIndex" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.audioDupIndex(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "payload")),
        nChunks = args.getOrElse("nChunks", "4").toInt))),
    "audioDupFlag" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.audioDupAgainst(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "payload")),
        in("inport2"),
        maxHamming = args.getOrElse("maxHamming", "3").toInt,
        nChunks = args.getOrElse("nChunks", "4").toInt))),
    "videoDupIndex" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.videoDupIndex(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "payload"))))),
    "videoDupFlag" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.videoDupAgainst(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "payload")),
        in("inport2"),
        minMatches = args.getOrElse("minMatches", "2").toInt))),
    // Semantic (embedding) admission tier — the S25 member of the
    // matrix: semanticDupIndex assigns the corpus to its kmeans cells
    // (inport1 = corpus, inport2 = trained model); semanticDupFlag emits
    // (id, dup_of, sim) for arriving rows whose exact cosine against a
    // routed-cell corpus row clears the threshold (inport1 = stream,
    // inport2 = model, inport3 = index).
    "semanticDupIndex" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.semanticDupIndex(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "vec")),
        in("inport2")))),
    "semanticDupFlag" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.semanticDupAgainst(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "vec")),
        in("inport2"), in("inport3"),
        threshold = arg(args, "threshold").toDouble,
        nprobe = args.getOrElse("nprobe", "1").toInt,
        sharedIdSpace =
          args.getOrElse("sharedIdSpace", "true").toBoolean))),
    // Span-level admission tier: spanIndex is the batch repeated-window
    // index (q85 semantics); maskSpansAgainst strips indexed boilerplate
    // spans from arriving docs (inport1 = docs, inport2 = index) — pure
    // per-row vs the frozen index, so per-micro-batch == batch exactly.
    "spanIndex" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.spanIndex(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        width = args.getOrElse("width", "5").toInt,
        minDf = args.getOrElse("minDf", "2").toInt,
        minCount = args.getOrElse("minCount", "0").toInt))),
    "maskSpansAgainst" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.maskSpansAgainst(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")), in("inport2"),
        width = args.getOrElse("width", "5").toInt))),
    "topRepeatedSpans" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.topRepeatedSpans(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        width = args.getOrElse("width", "5").toInt,
        minDf = args.getOrElse("minDf", "2").toInt,
        k = args.getOrElse("k", "20").toInt))),
    // Sampling / blending / layout family.
    "stratifiedSample" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.stratifiedSample(in("inport1"),
        expr(arg(args, "strata")), expr(arg(args, "key")),
        ratesOf(args, "rates").map { case (k, v) => k -> ppmInt("rates")(v) },
        arg(args, "defaultPpm").toInt))),
    "stratifiedFixedSample" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.stratifiedFixedSample(in("inport1"),
        expr(arg(args, "strata")), expr(arg(args, "key")),
        arg(args, "n").toInt))),
    "weightedSample" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.weightedSample(in("inport1"),
        expr(arg(args, "key")), expr(arg(args, "weight")),
        arg(args, "ratePpm").toLong))),
    "weightedFixedSample" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.weightedFixedSample(in("inport1"),
        expr(arg(args, "strata")), expr(arg(args, "key")),
        expr(arg(args, "weight")), arg(args, "n").toInt))),
    "mixCorpus" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.mixCorpus(in("inport1"),
        expr(arg(args, "strata")), expr(arg(args, "key")),
        ratesOf(args, "weights"), arg(args, "defaultPpm").toLong))),
    "shardCorpus" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.shardCorpus(in("inport1"),
        expr(arg(args, "key")), arg(args, "seed").toInt,
        arg(args, "nShards").toInt))),
    "tokenPack" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.packByTokenBudget(in("inport1"),
        expr(arg(args, "strata")), expr(arg(args, "order")),
        expr(arg(args, "tokens")), arg(args, "budget").toLong))),
    // Decontamination: inport1 = training corpus, inport2 = eval set.
    "decontaminate" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.decontaminate(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        in("inport2"), expr(arg(args, "evalText")),
        width = args.getOrElse("width", "13").toInt))),
    // Contamination evidence report: inport1 = corpus, inport2 = eval
    // set; one row per (doc, benchmark) with mass/containment/max-span.
    "contaminationReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.contaminationReport(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        in("inport2"), expr(arg(args, "evalId")), expr(arg(args, "evalText")),
        width = args.getOrElse("width", "13").toInt,
        minOverlap = args.getOrElse("minOverlap", "1").toLong))),
    // The bloom tier (same output, eval set rides as a bloom literal
    // instead of a broadcast hash relation — for eval sets beyond the
    // broadcast threshold).
    "decontaminateBloom" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.decontaminateBloom(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        in("inport2"), expr(arg(args, "evalText")),
        width = args.getOrElse("width", "13").toInt,
        expectedItems = args.getOrElse("expectedItems", (1L << 20).toString).toLong,
        bloomBits = args.getOrElse("bloomBits", (1L << 23).toString).toLong))),
    // Exact kNN (inport1 = corpus, inport2 = probes) — the similarity
    // family's declarative entry; ANN variants stay Scala-API (they need
    // trained model tables, which a spec would have to reference by view).
    "knn" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.knn(in("inport1"), in("inport2"),
        expr(arg(args, "id")), expr(arg(args, "vec")),
        expr(arg(args, "probeId")), expr(arg(args, "probeVec")),
        arg(args, "k").toInt))),
    // Random projection (JL dim-reduction before indexing) — narrow map.
    // ANN index family as declarative ops: trainers produce MODEL tables
    // on their outport (trained-model-as-data — persist them like any
    // other port), the encoder produces the at-rest (id, cell, codes)
    // index, and the search ops consume index + probes + models by port.
    // An XML DAG can therefore express the full build-once/search-many
    // story: kmeansFit + pqFit -> ivfPqEncode -> [write/read] ->
    // ivfPqSearch -> annRerank. NOTE the trainers run Spark jobs at
    // COMPILE of the node (eager, like any trainer) — batch inputs only.
    "kmeansFit" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.kmeansFit(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "vec")),
        k = arg(args, "k").toInt, iters = arg(args, "iters").toInt))),
    "kmeansAssign" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.kmeansAssign(in("inport1"),
        expr(arg(args, "vec")), in("inport2")))),
    // The broadcast-join assign tier (k >> 10^4 models that would bloat
    // the baked plan): same output as kmeansAssign, model rides as data.
    "kmeansAssignJoin" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.kmeansAssignJoin(in("inport1"),
        expr(arg(args, "vec")), in("inport2")))),
    "pqFit" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.pqFit(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "vec")),
        dim = arg(args, "dim").toInt, m = arg(args, "m").toInt,
        ksub = arg(args, "ksub").toInt, iters = arg(args, "iters").toInt))),
    // inport1 = corpus, inport2 = coarse (kmeansFit) model, inport3 = pq model
    "ivfPqEncode" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.ivfPqEncode(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "vec")),
        in("inport2"), in("inport3"), dim = arg(args, "dim").toInt))),
    // inport1 = at-rest index (id, cell, codes), inport2 = probes,
    // inport3 = coarse model, inport4 = pq model
    "ivfPqSearch" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.ivfPqTopKCoded(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "cell")), expr(arg(args, "codes")),
        in("inport2"), expr(arg(args, "probeId")), expr(arg(args, "probeVec")),
        in("inport3"), in("inport4"), k = arg(args, "k").toInt,
        nprobe = args.getOrElse("nprobe", "1").toInt))),
    // The residual (IVFADC) opt-in tier of the same lifecycle: the pq
    // model trains on v − c(v) against a FROZEN coarse model (inport2 of
    // the trainer), the encoder stores residual codes, the search scores
    // celldot + residual ADC. Same port shapes as the raw-vector trio;
    // NOT valid to mix tiers (residual codes under a raw search or vice
    // versa throw or misrank — the model/codes pairing is the contract).
    "pqFitResidual" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.pqFitResidual(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "vec")), in("inport2"),
        dim = arg(args, "dim").toInt, m = arg(args, "m").toInt,
        ksub = arg(args, "ksub").toInt, iters = arg(args, "iters").toInt))),
    "ivfRpqEncode" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.ivfRpqEncode(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "vec")),
        in("inport2"), in("inport3"), dim = arg(args, "dim").toInt))),
    "ivfRpqSearch" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.ivfRpqTopKCoded(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "cell")), expr(arg(args, "codes")),
        in("inport2"), expr(arg(args, "probeId")), expr(arg(args, "probeVec")),
        in("inport3"), in("inport4"), k = arg(args, "k").toInt,
        nprobe = args.getOrElse("nprobe", "1").toInt))),
    // Coarse-retrain maintenance over a stored index: inport1 = at-rest
    // (id, cell, codes) index, inport2 = vector table, inport3 = the NEW
    // coarse model. Cells re-route; PQ codes pass through untouched.
    "reindexCells" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.reindexCells(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "codes")),
        in("inport2"), expr(arg(args, "vecId")), expr(arg(args, "vec")),
        in("inport3")))),
    // inport1 = shortlist (probe_id, id), inport2 = probes, inport3 = the
    // full vector table — the exact re-rank stage over a stored index
    "annRerank" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.rerankTopK(in("inport1"),
        expr(arg(args, "slProbeId")), expr(arg(args, "slCandId")),
        in("inport2"), expr(arg(args, "probeId")), expr(arg(args, "probeVec")),
        in("inport3"), expr(arg(args, "vecId")), expr(arg(args, "vec")),
        k = arg(args, "k").toInt))),
    // `splits` = ;-separated `name:ppm` in DECLARED order (ranges are
    // cumulative, so order is part of the contract — NOT ratesOf's map)
    "assignSplits" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.assignSplits(in("inport1"),
        expr(arg(args, "key")),
        arg(args, "splits").split(';').toIndexedSeq.map { s0 =>
          val i = s0.lastIndexOf(':')
          if (i <= 0) throw new PipelineException(
            s"splits entries must be 'name:ppm'; got '$s0'")
          s0.substring(0, i).trim ->
            ppmInt("splits")(s0.substring(i + 1).trim.toLong)
        }))),
    // Snapshot diff: inport1 = old version, inport2 = new version;
    // newKey/newContent default to key/content (same schema both sides).
    "corpusDiff" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.corpusDiff(
        in("inport1"), in("inport2"),
        expr(arg(args, "key")), expr(args.getOrElse("newKey", arg(args, "key"))),
        expr(arg(args, "content")),
        expr(args.getOrElse("newContent", arg(args, "content")))))),
    "corpusDrift" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.corpusDrift(
        in("inport1"), in("inport2"), expr(arg(args, "category"))))),
    "linkRank" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.linkRank(
        in("inport1"), expr(arg(args, "src")), expr(arg(args, "dst")),
        arg(args, "iterations").toInt,
        args.getOrElse("dampingPpm", "850000").toLong,
        args.getOrElse("totalMass", "1000000000000").toLong))),
    "triangleCounts" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.triangleCounts(
        in("inport1"), expr(arg(args, "src")), expr(arg(args, "dst"))))),
    "kCore" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.kCore(
        in("inport1"), expr(arg(args, "src")), expr(arg(args, "dst")),
        k = arg(args, "k").toInt,
        maxRounds = arg(args, "maxRounds").toInt))),
    // bm25TopK: inport1 = document corpus, inport2 = query batch
    "bm25TopK" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.bm25TopK(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "text")),
        in("inport2"), expr(arg(args, "qid")), expr(arg(args, "qtext")),
        arg(args, "k").toInt,
        args.getOrElse("k1Ppm", "1200000").toLong,
        args.getOrElse("bPpm", "750000").toLong))),
    // rrfFuse: fuses inport1..inportN (each a (query_id, doc_id, rank)
    // per-query ranking) in port order
    "rrfFuse" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.rrfFuse(
        // numeric port order ("inport10" after "inport9", not after
        // "inport1"); anything not literally inportN fails loudly — a
        // digit-scrape would fabricate an index for a typo'd port and
        // silently reorder the fusion weights (review r16)
        in.toSeq.sortBy { case (port, _) =>
          port match {
            case PipelineCompiler.InportN(ds) => ds.toInt
            case _ => throw new PipelineException(
              s"rrfFuse ports must be inportN; got '$port'")
          }
        }.map(_._2),
        arg(args, "topK").toInt,
        args.getOrElse("kRrf", "60").toLong))),
    // ewmaStream: the S21 continuous twin of `ewma` (DataFrame face over
    // the typed EwmaStream; batch == stream law spec'd in S21)
    "ewmaStream" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.EwmaStream(
        orderedIn[graft.streaming.EwmaStream.Point](in("inport1"), args,
          "value" -> "double"),
        arg(args, "alphaPpm").toLong).toDF())),
    "holt" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.holt(in("inport1"),
        expr(arg(args, "key")), expr(arg(args, "ts")),
        expr(arg(args, "value")), expr(arg(args, "tiebreak")),
        arg(args, "alphaPpm").toLong, arg(args, "betaPpm").toLong))),
    // holtStream: the S28 continuous twin of `holt` (DataFrame face over
    // the typed HoltStream; bit-equal batch == stream law spec'd in S28)
    "holtStream" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.HoltStream(
        orderedIn[graft.streaming.HoltStream.Point](in("inport1"), args,
          "value" -> "double"),
        arg(args, "alphaPpm").toLong,
        arg(args, "betaPpm").toLong).toDF())),
    // transitionStream: the S22 continuous twin of `transitionCounts`
    // (DataFrame face over the typed TransitionStream; batch == stream
    // law spec'd in S22)
    "transitionStream" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.TransitionStream(
        orderedIn[graft.streaming.TransitionStream.Event](in("inport1"),
          args, "state" -> "string")).toDF())),
    // cusumStream: the S23 continuous twin of `cusum` (DataFrame face
    // over the typed CusumStream; batch == stream law spec'd in S23)
    "cusumStream" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.CusumStream(
        orderedIn[graft.streaming.CusumStream.Point](in("inport1"), args,
          "value" -> "long"),
        arg(args, "target").toLong, arg(args, "slack").toLong,
        arg(args, "threshold").toLong).toDF())),
    // rollingDistinctStream: the S24 continuous twin of `rollingDistinct`
    // (DataFrame face over the typed RollingDistinctStream; stream-agg ==
    // batch law spec'd in S24)
    "rollingDistinctStream" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.RollingDistinctStream(
        in("inport1").select(
          expr(arg(args, "entity")).cast("long").as("entity"),
          expr(arg(args, "ts")).cast("timestamp").as("ts"))
          .as(org.apache.spark.sql.Encoders.product[
            graft.streaming.RollingDistinctStream.Visit]),
        args.get("windowDays").map(_.toInt).getOrElse(7),
        args.get("lateDays").map(_.toInt).getOrElse(3)).toDF())),
    "frequencyCap" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.frequencyCap(in("inport1"),
        expr(arg(args, "key")), expr(arg(args, "ts")),
        expr(arg(args, "tiebreak")), k = arg(args, "k").toInt))),
    // frequencyCapStream: the S27 continuous twin of `frequencyCap`
    // (DataFrame face over the typed FrequencyCapStream; admitted set ==
    // batch law spec'd in S27)
    "frequencyCapStream" -> ((_, in, args) =>
      Map("outport1" -> graft.streaming.FrequencyCapStream(
        orderedIn[graft.streaming.FrequencyCapStream.Ev](in("inport1"),
          args),
        k = arg(args, "k").toInt).toDF())),
    "transitionCounts" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.transitionCounts(
        in("inport1"), expr(arg(args, "key")), expr(arg(args, "ts")),
        expr(arg(args, "state")), expr(arg(args, "tiebreak"))))),
    "rollingDistinct" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.rollingDistinct(
        in("inport1"), expr(arg(args, "entity")), expr(arg(args, "ts")),
        args.getOrElse("windowDays", "7").toInt))),
    // lexiconScore: inport1 = corpus, inport2 = lexicon table
    "lexiconScore" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.lexiconScore(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "text")),
        in("inport2"), expr(arg(args, "term"))))),
    "topPaths" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.topPaths(
        in("inport1"), expr(arg(args, "key")), expr(arg(args, "ts")),
        expr(arg(args, "state")), expr(arg(args, "tiebreak")),
        arg(args, "maxSteps").toInt, arg(args, "topK").toInt,
        args.getOrElse("sep", ">")))),
    "classKeyTerms" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.classKeyTerms(
        in("inport1"), expr(arg(args, "class")), expr(arg(args, "text")),
        arg(args, "topK").toInt))),
    "quantileBin" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.quantileBin(
        in("inport1"), expr(arg(args, "group")), expr(arg(args, "value")),
        expr(arg(args, "tiebreak")), arg(args, "nBins").toInt,
        args.getOrElse("out", "bin")))),
    "proportionLift" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.proportionLift(
        in("inport1"), expr(arg(args, "variant")),
        expr(arg(args, "success")), arg(args, "baseline")))),
    "categoricalAssociation" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.categoricalAssociation(
        in("inport1"), expr(arg(args, "a")), expr(arg(args, "b"))))),
    "weightedQuantiles" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.weightedQuantiles(
        in("inport1"), expr(arg(args, "group")), expr(arg(args, "value")),
        expr(arg(args, "weight")),
        arg(args, "qsPpm").split(",").map(_.trim.toLong).toSeq))),
    "mmrRerank" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.mmrRerank(
        in("inport1"), expr(arg(args, "query")), expr(arg(args, "doc")),
        expr(arg(args, "score")), expr(arg(args, "vec")),
        arg(args, "k").toInt, arg(args, "lambdaPpm").toLong))),
    "noveltyScore" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.noveltyScore(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "text")),
        in("inport2"), expr(arg(args, "refText")),
        args.get("width").map(_.toInt).getOrElse(13)))),
    "prefixRollup" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.prefixRollup(
        in("inport1"), expr(arg(args, "path")),
        args.getOrElse("sep", "/"),
        args.get("maxDepth").map(_.toInt).getOrElse(Int.MaxValue)))),
    "groupTrend" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.groupTrend(
        in("inport1"), expr(arg(args, "key")), expr(arg(args, "x")),
        expr(arg(args, "y"))))),
    "paretoFrontier" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.paretoFrontier(
        in("inport1"), expr(arg(args, "group")), expr(arg(args, "x")),
        expr(arg(args, "y")),
        args.getOrElse("minimizeX", "true").toBoolean,
        args.getOrElse("minimizeY", "true").toBoolean))),
    "ewma" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.ewma(
        in("inport1"), expr(arg(args, "key")), expr(arg(args, "ts")),
        expr(arg(args, "value")), expr(arg(args, "tiebreak")),
        arg(args, "alphaPpm").toLong))),
    "timeWeightedAvg" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.timeWeightedAvg(
        in("inport1"), expr(arg(args, "key")), expr(arg(args, "ts")),
        expr(arg(args, "value")), expr(arg(args, "tiebreak"))))),
    "cusum" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.cusum(
        in("inport1"), expr(arg(args, "key")), expr(arg(args, "ts")),
        expr(arg(args, "value")), expr(arg(args, "tiebreak")),
        arg(args, "target").toLong, arg(args, "slack").toLong,
        arg(args, "threshold").toLong))),
    "sampleBudget" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.sampleBudget(
        in("inport1"), expr(arg(args, "strata")), expr(arg(args, "key")),
        arg(args, "budget").toLong))),
    "jaccardJoinPrefix" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.jaccardJoinPrefix(
        in("inport1"), expr(arg(args, "id")), expr(arg(args, "text")),
        args.getOrElse("shingleWidth", "3").toInt,
        args.getOrElse("threshold", "0.6").toDouble))),
    // corrMatrix: values is 'name:expr;name:expr;…' (the splits idiom)
    "corrMatrix" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.corrMatrix(
        in("inport1"), expr(arg(args, "group")),
        arg(args, "values").split(';').toIndexedSeq.map { v0 =>
          val i = v0.indexOf(':')
          if (i <= 0) throw new PipelineException(
            s"values entries must be 'name:expr'; got '$v0'")
          v0.substring(0, i).trim -> expr(v0.substring(i + 1).trim)
        }))),
    "buildVocab" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.buildVocab(in("inport1"),
        expr(arg(args, "toks")), arg(args, "topK").toInt))),
    // encodeTokens: inport1 = corpus, inport2 = vocabulary
    "encodeTokens" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.encodeTokens(in("inport1"),
        expr(arg(args, "toks")), in("inport2"),
        args.getOrElse("oovId", "-1").toInt))),
    "extractText" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.extractText(in("inport1"),
        expr(arg(args, "markup")), args.getOrElse("out", "extracted")))),
    "lmScore" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.lmScore(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "toks"))))),
    "bpeFit" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.bpeFit(in("inport1"),
        expr(arg(args, "toks")), arg(args, "nMerges").toInt))),
    // bpeEncode: inport1 = corpus, inport2 = bpeFit merge table
    "bpeEncode" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.bpeEncode(in("inport1"),
        expr(arg(args, "toks")), in("inport2"),
        args.getOrElse("out", "pieces")))),
    "unigramFit" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.unigramFit(in("inport1"),
        expr(arg(args, "toks")), arg(args, "vocabSize").toInt,
        iters = args.getOrElse("iters", "2").toInt,
        maxPieceLen = args.getOrElse("maxPieceLen", "4").toInt,
        topWords = args.getOrElse("topWords", "400").toInt,
        maxWordLen = args.getOrElse("maxWordLen", "16").toInt))),
    // unigramEncode: inport1 = corpus, inport2 = unigramFit model
    "unigramEncode" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.unigramEncode(in("inport1"),
        expr(arg(args, "toks")), in("inport2"),
        args.getOrElse("out", "pieces")))),
    "l2Normalize" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.l2Normalize(in("inport1"),
        expr(arg(args, "vec"))))),
    "randomProject" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.randomProject(in("inport1"),
        expr(arg(args, "vec")), arg(args, "inDim").toInt,
        arg(args, "outDim").toInt,
        args.getOrElse("seed", "0").toInt))),
    // Text-analysis family (all pure narrow — stream-ready).
    "textQuality" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.textQuality(in("inport1"),
        expr(arg(args, "text"))))),
    // cols: optional ';'-separated column subset (default: all)
    "profileTable" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.profileTable(in("inport1"),
        args.get("cols").map(_.split(";").map(_.trim).filter(_.nonEmpty)
          .toSeq).getOrElse(Nil),
        approx = args.getOrElse("approx", "false").toBoolean))),
    // inport1 = base snapshot, inport2 = current snapshot
    "profileDrift" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.profileDrift(in("inport1"),
        in("inport2"),
        args.get("cols").map(_.split(";").map(_.trim).filter(_.nonEmpty)
          .toSeq).getOrElse(Nil),
        approx = args.getOrElse("approx", "false").toBoolean))),
    "keySkewReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.keySkewReport(in("inport1"),
        expr(arg(args, "key")), topN = arg(args, "topN").toInt))),
    // inport1 = left, inport2 = right
    "joinCardinalityReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.joinCardinalityReport(
        in("inport1"), expr(arg(args, "leftKey")),
        in("inport2"), expr(arg(args, "rightKey")),
        topN = arg(args, "topN").toInt))),
    // Deterministic sketch algebra (md5 hash family — estimates themselves
    // are engine-portable; see GraftOps scaladoc for the 100 TB postures).
    // inport1 = ranking A, inport2 = ranking B
    "rboCompare" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.rboCompare(in("inport1"),
        in("inport2"), expr(arg(args, "qid")), expr(arg(args, "doc")),
        expr(arg(args, "rank")), pPpm = arg(args, "pPpm").toLong,
        depth = arg(args, "depth").toInt))),
    // inport1 = docs, inport2 = queries
    "proximityTopK" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.proximityTopK(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        in("inport2"), expr(arg(args, "qid")), expr(arg(args, "qtext")),
        window = arg(args, "window").toInt,
        k = args.getOrElse("k", "5").toInt))),
    "gramMatrix" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.gramMatrix(in("inport1"),
        expr(arg(args, "vec")), dim = arg(args, "dim").toInt))),
    "pcaFit" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.pcaFit(in("inport1"),
        expr(arg(args, "vec")), dim = arg(args, "dim").toInt,
        k = arg(args, "k").toInt))),
    "gramSummaryRows" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.gramSummaryRows(in("inport1"),
        expr(arg(args, "vec")), dim = arg(args, "dim").toInt))),
    // inport1 = an already-aggregated gramSummaryRows summary (batch or
    // the S31 gramState read face)
    "pcaFitFromSummary" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.pcaFitFromSummary(in("inport1"),
        dim = arg(args, "dim").toInt, k = arg(args, "k").toInt))),
    "ridgeFit" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.ridgeFit(in("inport1"),
        expr(arg(args, "vec")), expr(arg(args, "target")),
        dim = arg(args, "dim").toInt,
        lambdaPpm = arg(args, "lambdaPpm").toLong))),
    // inport1 = an augmented (dim+1) gram summary — batch rows or the
    // S31 gramState read of a log appended with concat(vec, array(y))
    "ridgeFitFromSummary" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.ridgeFitFromSummary(in("inport1"),
        dim = arg(args, "dim").toInt,
        lambdaPpm = arg(args, "lambdaPpm").toLong))),
    // inport1 = data, inport2 = the ridgeFit model table
    "ridgeApply" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.ridgeApply(in("inport1"),
        expr(arg(args, "vec")), in("inport2"),
        dim = arg(args, "dim").toInt))),
    // fixed-iteration IRLS logistic scorer (one Gram pass per iteration)
    "logisticFit" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.logisticFit(in("inport1"),
        expr(arg(args, "vec")), expr(arg(args, "target")),
        dim = arg(args, "dim").toInt,
        iters = arg(args, "iters").toInt,
        lambdaPpm = arg(args, "lambdaPpm").toLong))),
    // inport1 = data, inport2 = the logisticFit model table
    "logisticApply" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.logisticApply(in("inport1"),
        expr(arg(args, "vec")), in("inport2"),
        dim = arg(args, "dim").toInt))),
    "calibrationReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.calibrationReport(in("inport1"),
        expr(arg(args, "score")), expr(arg(args, "label")),
        buckets = arg(args, "buckets").toInt))),
    // sliced calibration: one reliability row per (group, bucket)
    "calibrationReportBy" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.calibrationReportBy(in("inport1"),
        expr(arg(args, "group")),
        expr(arg(args, "score")), expr(arg(args, "label")),
        buckets = arg(args, "buckets").toInt))),
    "aucReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.aucReport(in("inport1"),
        expr(arg(args, "score")), expr(arg(args, "label"))))),
    // the floor-micros scale tier: value-scale window input bounded by
    // the score range ×10⁶, for float scorer outputs
    "aucReportMicros" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.aucReportMicros(in("inport1"),
        expr(arg(args, "score")), expr(arg(args, "label"))))),
    // sliced AUC: one row per group; optional scoreMicros="true" for
    // the quantized tier per slice
    "aucReportBy" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.aucReportBy(in("inport1"),
        expr(arg(args, "group")),
        expr(arg(args, "score")), expr(arg(args, "label")),
        quantizeMicros =
          args.getOrElse("scoreMicros", "false").toBoolean))),
    // exact tie-aware PR curve + running average precision (rank face)
    "prCurveReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.prCurveReport(in("inport1"),
        expr(arg(args, "score")), expr(arg(args, "label"))))),
    // the floor-micros scale tier: curve + window bounded by the score
    // range ×10⁶, for float scorer outputs
    "prCurveReportMicros" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.prCurveReportMicros(in("inport1"),
        expr(arg(args, "score")), expr(arg(args, "label"))))),
    // sliced PR curve: one curve + running AP per group; optional
    // scoreMicros="true" for the quantized tier per slice
    "prCurveReportBy" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.prCurveReportBy(in("inport1"),
        expr(arg(args, "group")),
        expr(arg(args, "score")), expr(arg(args, "label")),
        quantizeMicros =
          args.getOrElse("scoreMicros", "false").toBoolean))),
    // inport1 = data, inport2 = the pcaFit model table (model-by-port,
    // the q50/q66 codebook convention)
    "pcaProject" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.pcaProject(in("inport1"),
        expr(arg(args, "vec")), in("inport2"),
        dim = arg(args, "dim").toInt))),
    "cmsSketch" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.cmsSketch(in("inport1"),
        expr(arg(args, "key")), depth = arg(args, "depth").toInt,
        width = arg(args, "width").toInt))),
    // inport1 = sketch (from cmsSketch), inport2 = query keys
    "cmsQuery" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.cmsQuery(in("inport1"),
        in("inport2"), expr(arg(args, "key")),
        depth = arg(args, "depth").toInt,
        width = arg(args, "width").toInt))),
    "cmsFrequencyReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.cmsFrequencyReport(in("inport1"),
        expr(arg(args, "key")), depth = arg(args, "depth").toInt,
        width = arg(args, "width").toInt, topN = arg(args, "topN").toInt))),
    "kmvSketch" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.kmvSketch(in("inport1"),
        expr(arg(args, "group")), expr(arg(args, "value")),
        k = arg(args, "k").toInt))),
    "kmvOverlapReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.kmvOverlapReport(in("inport1"),
        expr(arg(args, "group")), expr(arg(args, "value")),
        k = arg(args, "k").toInt))),
    "winnowFingerprints" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.winnowFingerprints(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        kgram = args.getOrElse("kgram", "4").toInt,
        window = args.getOrElse("window", "5").toInt))),
    "winnowOverlapReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.winnowOverlapReport(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        kgram = args.getOrElse("kgram", "4").toInt,
        window = args.getOrElse("window", "5").toInt,
        dfCap = args.getOrElse("dfCap", "100").toInt,
        minShared = args.getOrElse("minShared", "2").toInt))),
    "sourceOverlapReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.sourceOverlapReport(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        expr(arg(args, "src")),
        shingleWidth = args.getOrElse("shingleWidth", "3").toInt,
        numHashes = args.getOrElse("numHashes", "16").toInt,
        bands = args.getOrElse("bands", "4").toInt,
        minMatches = args.getOrElse("minMatches", "8").toInt))),
    // quasi: ';'-separated quasi-identifier expression list
    "kAnonymityReport" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.kAnonymityReport(in("inport1"),
        arg(args, "quasi").split(";").map(_.trim).filter(_.nonEmpty)
          .map(expr).toSeq,
        expr(arg(args, "sensitive")),
        k = arg(args, "k").toInt, l = arg(args, "l").toInt))),
    "qualityRules" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.qualityRules(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        minWords = args.getOrElse("minWords", "20").toInt,
        maxWords = args.getOrElse("maxWords", "100000").toInt,
        minMeanLenPpm = args.getOrElse("minMeanLenPpm", "3000000").toLong,
        maxMeanLenPpm = args.getOrElse("maxMeanLenPpm", "10000000").toLong,
        minAlphaPpm = args.getOrElse("minAlphaPpm", "800000").toLong,
        maxSymPpm = args.getOrElse("maxSymPpm", "100000").toLong,
        maxTopTokPpm = args.getOrElse("maxTopTokPpm", "200000").toLong,
        minStops = args.getOrElse("minStops", "2").toInt))),
    "redactPii" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.redactPii(in("inport1"),
        expr(arg(args, "text"))))),
    "repetitionScore" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.repetitionScore(in("inport1"),
        expr(arg(args, "text")),
        width = args.getOrElse("width", "3").toInt))),
    "fingerprint" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.fingerprint(in("inport1"),
        expr(arg(args, "text"))))),
    "tfidfTopK" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.tfidfTopK(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "text")),
        arg(args, "k").toInt))),
    // Multimodal transforms: real JDK codecs behind the batched
    // mapPartitions seam (MultimodalOps) — a media ingest
    // (decode → resize → audio meta) composes in XML like any operator.
    // Inputs need (doc_id, payload binary) columns; un-decodable payloads
    // surface as ok=false rows, never task failures.
    "decodeImages" -> ((_, in, _) =>
      Map("outport1" ->
        graft.operators.MultimodalOps.decodeImages(in("inport1")).toDF())),
    "resizeImages" -> ((_, in, args) =>
      Map("outport1" -> graft.operators.MultimodalOps.resizeImages(in("inport1"),
        arg(args, "targetW").toInt, arg(args, "targetH").toInt).toDF())),
    "decodeAudioMeta" -> ((_, in, _) =>
      Map("outport1" ->
        graft.operators.MultimodalOps.decodeAudioMeta(in("inport1")).toDF())),
    "decodeGifFrames" -> ((_, in, args) =>
      Map("outport1" -> graft.operators.MultimodalOps.decodeGifFrames(in("inport1"),
        args.getOrElse("everyNth", "1").toInt).toDF())),
    "decodeMjpegFrames" -> ((_, in, args) =>
      Map("outport1" -> graft.operators.MultimodalOps.decodeMjpegFrames(in("inport1"),
        args.getOrElse("everyNth", "1").toInt).toDF())),
    // Image near-dup family (q87): perceptual aHash over decoded payloads,
    // then banded-hamming pairs (inport1 = (doc_id, payload) / the hash
    // table respectively).
    "imageAHash" -> ((_, in, _) =>
      Map("outport1" ->
        graft.operators.MultimodalOps.imageAHash(in("inport1")).toDF())),
    "imageNearDup" -> ((_, in, args) =>
      Map("outport1" -> graft.operators.MultimodalOps.imageNearDup(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "hash")),
        maxHamming = args.getOrElse("maxHamming", "3").toInt,
        nChunks = args.getOrElse("nChunks", "0").toInt))),
    "audioFingerprint" -> ((_, in, _) =>
      Map("outport1" ->
        graft.operators.MultimodalOps.audioFingerprint(in("inport1")).toDF())),
    "audioNearDup" -> ((_, in, args) =>
      Map("outport1" -> graft.operators.MultimodalOps.audioNearDup(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "hash")),
        maxHamming = args.getOrElse("maxHamming", "3").toInt,
        nChunks = args.getOrElse("nChunks", "0").toInt))),
    "videoFrameHashes" -> ((_, in, _) =>
      Map("outport1" ->
        graft.operators.MultimodalOps.videoFrameHashes(in("inport1")).toDF())),
    "videoFrameHashesAvi" -> ((_, in, _) =>
      Map("outport1" ->
        graft.operators.MultimodalOps.videoFrameHashesAvi(in("inport1")).toDF())),
    "videoNearDup" -> ((_, in, args) =>
      Map("outport1" -> graft.operators.MultimodalOps.videoNearDup(in("inport1"),
        expr(arg(args, "id")), expr(arg(args, "frameIdx")),
        expr(arg(args, "hash")),
        minMatches = args.getOrElse("minMatches", "2").toInt))),
    "decodeAudioPcm" -> ((_, in, _) =>
      Map("outport1" ->
        graft.operators.MultimodalOps.decodeAudioPcm(in("inport1")).toDF())),
    // Sinks: terminal, empty port map (ref R3 KafkaOutput returns no
    // downstream ports, KafkaOutput.java:18-19).
    "viewSink" -> ((_, in, args) => {
      in("inport1").createOrReplaceTempView(arg(args, "name")); Map.empty
    }),
    "tableSink" -> ((_, in, args) => { // ref R6 CTAS parity
      in("inport1").write.mode(args.getOrElse("mode", "overwrite"))
        .saveAsTable(arg(args, "name")); Map.empty
    }),
    // Path-based batch file sink (parquet/orc/csv/json), the write twin
    // of fileInput; `partitionBy` takes ;-separated column names for a
    // partitioned layout (e.g. the shardCorpus shard column).
    "fileSink" -> ((_, in, args) => {
      val w = in("inport1").write.mode(args.getOrElse("mode", "overwrite"))
        .format(args.getOrElse("format", "parquet"))
      args.get("partitionBy").fold(w)(p => w.partitionBy(p.split(';').toIndexedSeq: _*))
        .save(arg(args, "path"))
      Map.empty
    }),
    // Index-compaction terminal: rewrite an at-rest (id, cell, codes)
    // index (ivfPqAppendSink accumulation) into the cell-partitioned
    // layout that gives searches dynamic partition pruning.
    "compactIndexSink" -> ((s, _, args) => {
      graft.api.GraftOps.compactIndex(s, arg(args, "inPath"),
        arg(args, "outPath"))
      Map.empty
    }),
    // Bucketed CTAS: the shuffle-elimination layout (api.Bucketing) as a
    // terminal op — a fact table written bucketed+sorted on its join key
    // joins any same-bucketed table with zero exchanges afterwards.
    "bucketSink" -> ((_, in, args) => {
      graft.api.Bucketing.writeBucketed(in("inport1"),
        arg(args, "table"), arg(args, "key"), arg(args, "buckets").toInt)
      Map.empty
    }),
    // The training-data layout sink: shardCorpus + repartition-on-shard +
    // in-shard sort + partitioned write in one terminal op — fileSink with
    // partitionBy alone would lose the in-file shuffle_key ordering that
    // makes the written layout a reproducible global shuffle.
    "shardedFileSink" -> ((_, in, args) => {
      graft.api.GraftOps.writeShardedCorpus(in("inport1"),
        arg(args, "path"), expr(arg(args, "key")),
        arg(args, "seed").toInt, arg(args, "nShards").toInt,
        args.getOrElse("format", "parquet"))
      Map.empty
    }),
    "spanIndexFromCounts" -> ((_, in, args) =>
      Map("outport1" -> graft.api.GraftOps.spanIndexFromCounts(in("inport1"),
        minDf = args.getOrElse("minDf", "2").toInt,
        minCount = args.getOrElse("minCount", "0").toInt))),
    // Read faces of the streaming log sinks (streamSinks): state =
    // reduce-on-read by each log's merge law — S20 upsert (tombstones
    // filtered at read only), S26 golden record, S29/S30 sketches, S31
    // Gram summary (pcaFitFromSummary turns it into a PCA model).
    "upsertState" -> ((s, _, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.upsertState(s,
        arg(args, "path"),
        key = arg(args, "key").split(",").map(_.trim).toSeq,
        version = arg(args, "version"), tiebreak = arg(args, "tiebreak"),
        isDelete = expr(arg(args, "isDelete"))))),
    "goldenRecordState" -> ((s, _, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.goldenRecordState(s,
        arg(args, "path"),
        key = arg(args, "key").split(",").map(_.trim).toSeq,
        version = arg(args, "version"),
        fields = arg(args, "fields").split(",").map(_.trim).toSeq))),
    "cmsState" -> ((s, _, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.cmsState(s,
        arg(args, "path")))),
    "kmvState" -> ((s, _, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.kmvState(s,
        arg(args, "path"), k = arg(args, "k").toInt))),
    "gramState" -> ((s, _, args) =>
      Map("outport1" -> graft.streaming.StreamingOps.gramState(s,
        arg(args, "path")))),
    // the upsert log's compaction = the same reduction materialized
    "compactUpsertLogSink" -> ((s, _, args) => {
      graft.api.GraftOps.compactUpsertLog(s, arg(args, "in"),
        arg(args, "out"),
        key = arg(args, "key").split(",").map(_.trim).toSeq,
        version = arg(args, "version"), tiebreak = arg(args, "tiebreak"))
      Map.empty
    }),
    // periodic merge passes for the appended admission indexes: per-row
    // tiers dedup exactly (retry-duplicate rows are identical); the span
    // tier re-aggregates its mergeable partials to one row per hash.
    "compactOutputSink" -> ((s, _, args) => {
      graft.api.GraftOps.compactOutput(s, arg(args, "in"), arg(args, "out"),
        targetBytes = args.getOrElse("targetBytes",
          (128L * 1024 * 1024).toString).toLong)
      Map.empty
    }),
    "compactAdmissionIndexSink" -> ((s, _, args) => {
      graft.api.GraftOps.compactAdmissionIndex(s, arg(args, "in"),
        arg(args, "out"))
      Map.empty
    }),
    "compactSpanCountsSink" -> ((s, _, args) => {
      graft.api.GraftOps.compactSpanCounts(s, arg(args, "in"),
        arg(args, "out"))
      Map.empty
    })) ++ streamSinks.map { case (op, w) => op -> streamSink(op, w) }

  /** Apply a streaming sink's optional `shufflePartitions` arg around its
    * `.start()`: Spark's StreamExecution clones the session when the
    * query starts and plans every batch against the CLONE's conf, so a
    * set/restore window around start scopes the override to exactly this
    * query — already-running queries keep their own cloned conf, and the
    * session value is restored before compile returns. (The query stays
    * discoverable via `spark.streams.active`, which a cloned-session
    * rebind — StreamingOps.withShufflePartitions, the library-API form —
    * would not give; that form instead hands the caller the handle.)
    * The set/restore window is synchronized on the session so external
    * callers compiling pipelines concurrently on ONE session serialize
    * through it rather than observing each other's override (every entry
    * point in this file is already driver-side sequential; the lock makes
    * the contract hold for library users of `PipelineCompiler.compile`
    * too — `.start()` is cheap, so the critical section is short). */
  private def withQueryShufflePartitions[T](spark: SparkSession,
      args: Map[String, String])(start: => T): T =
    args.get("shufflePartitions") match {
      case None => start
      case Some(n) => spark.synchronized {
        require(n.toInt >= 1, s"shufflePartitions must be >= 1; got $n")
        val key = "spark.sql.shuffle.partitions"
        val old = spark.conf.getOption(key)
        spark.conf.set(key, n.toInt.toString)
        try start finally old match {
          case Some(o) => spark.conf.set(key, o)
          case None => spark.conf.unset(key)
        }
      }
    }

  /** Kahn topological order; aborts on a cycle (ref OpContainer.java:207-210).
    * Sinks (nodes that feed no other node) come after every other node, in
    * the order the spec declares them. A batch sink's eager write then ends
    * before a streaming sink declared after it starts its query: the two may
    * write one table, and an `availableNow` query that ran alongside the
    * write could finish, and leave `spark.streams.active`, before compile
    * returns. */
  private[plans] def topoOrder(spec: PipelineSpec): Seq[OpNode] = {
    val byName = spec.nodes.map(n => n.name -> n).toMap
    def nodeOf(port: String): String = port.split('.').head
    val deps = spec.edges.map(e => (nodeOf(e.from), nodeOf(e.to)))
    deps.flatMap { case (a, b) => Seq(a, b) }.foreach { n =>
      if (!byName.contains(n)) throw new PipelineException(s"connect references unknown operator '$n'")
    }
    val indeg = mutable.Map(spec.nodes.map(n => n.name -> 0): _*)
    deps.foreach { case (_, b) => indeg(b) += 1 }
    val queue = mutable.Queue(spec.nodes.filter(n => indeg(n.name) == 0): _*)
    val out = mutable.ArrayBuffer.empty[OpNode]
    while (queue.nonEmpty) {
      val n = queue.dequeue(); out += n
      deps.filter(_._1 == n.name).foreach { case (_, b) =>
        indeg(b) -= 1
        if (indeg(b) == 0) queue.enqueue(byName(b))
      }
    }
    if (out.size != spec.nodes.size)
      throw new PipelineException(
        s"pipeline has a cycle involving: ${indeg.filter(_._2 > 0).keys.toSeq.sorted.mkString(", ")}")
    val feeds = deps.map(_._1).toSet
    out.toSeq.filter(n => feeds(n.name)) ++ spec.nodes.filterNot(n => feeds(n.name))
  }

  /** Extension operators discovered at runtime via [[PipelineOperatorProvider]]
    * ServiceLoader entries on the classpath, loaded once per JVM. Failure
    * to instantiate a provider fails loudly at first compile — a
    * half-loaded operator vocabulary would make "unknown operator" errors
    * environment-dependent and undebuggable. */
  private lazy val extensionRegistry: Map[String, PipelineOperator] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[PipelineOperatorProvider])
      .iterator().asScala.flatMap(_.operators).toMap
  }

  /** The effective operator vocabulary: runtime extensions merged UNDER
    * the sealed registry (sealed wins on collision — see
    * [[PipelineOperatorProvider]]). */
  def resolvedRegistry: Map[String, PipelineOperator] =
    extensionRegistry ++ registry

  /** Compile a spec into its port→DataFrame bindings (pure, lazy — no
    * data moves until a sink/action). Fail-fast on the first bad operator
    * with the reference's "<name> run failed." message. */
  def compile(spec: PipelineSpec, spark: SparkSession): Map[String, DataFrame] = {
    val inputsOf: Map[String, Seq[Edge]] = spec.edges.groupBy(e => e.to.split('.').head)
    val resolved = resolvedRegistry
    topoOrder(spec).foldLeft(Map.empty[String, DataFrame]) { (ports, node) =>
      val op = resolved.getOrElse(node.opClass,
        throw new PipelineException(s"${node.name} run failed. Unknown operator class '${node.opClass}'"))
      val ins: Map[String, DataFrame] = inputsOf.getOrElse(node.name, Nil).map { e =>
        val inPort = e.to.split('.')(1)
        val bound = ports.getOrElse(e.from,
          throw new PipelineException(s"${node.name} run failed. Unbound input port '${e.from}'"))
        inPort -> bound
      }.toMap
      val outs =
        try op(spark, ins, node.args)
        catch {
          case p: PipelineException => throw p
          case e: Exception =>
            throw new PipelineException(s"${node.name} run failed. ${e.getMessage}", e)
        }
      ports ++ outs.map { case (p, df) => s"${node.name}.$p" -> df }
    }
  }
}
