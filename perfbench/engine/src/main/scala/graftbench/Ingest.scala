package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._
import graft.sql.{BrokerResponse, HttpGateway, QueryFacade}
import graft.streaming.{KafkaSocketSourceProvider, KafkaSource, KafkaWireBroker, KafkaWireClient, UpsertStream}
import graft.streaming.KafkaWire.Record

/** `ingest`: a realtime upsert table written while users query the
  * broker. Seeded JSON events (run.py's `events.tsv`: key, payload) go
  * through KafkaWireClient to an in-process KafkaWireBroker; the engine
  * consumes them with the Kafka socket source, KafkaSource.decodeJson and
  * UpsertStream.start. Phase A drains a preloaded backlog; phase B
  * produces at a fixed rate while run.py's request mix (`reads.sql`: the
  * serving templates on the static tables and reads of the upsert view)
  * goes to HttpGateway over loopback HTTP at a fixed rate. */
final class Ingest(o: Main.Opts) extends Main.Workload {
  private val params = Main.lines(s"${o.inputs}/params.txt")
    .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
  private val backlog = params("backlog").toInt
  private val rate = params("rate").toDouble
  private val readRate = params("read_rate").toDouble
  private val clients = params("clients").toInt
  private val parts = params("partitions").toInt
  private val phaseBSeconds = params("phase_b_s").toDouble
  private val topic = "events"
  private val view = "events_upsert"

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private var broker: KafkaWireBroker = _
  private var gw: HttpGateway.Gateway = _

  private def load(file: String): IndexedSeq[(Long, Array[Byte])] =
    Main.lines(s"${o.inputs}/$file").map { l =>
      val tab = l.indexOf('\t')
      (l.substring(0, tab).toLong, l.substring(tab + 1).getBytes(UTF_8))
    }.toIndexedSeq

  private def startUpsert(spark: SparkSession, t: String, v: String): StreamingQuery = {
    val records = spark.readStream
      .format(classOf[KafkaSocketSourceProvider].getName)
      .option("brokers", broker.bootstrap).option("topic", t)
      .option("startingoffsets", "earliest").load()
    UpsertStream.start(spark, KafkaSource.decodeJson(records, schema),
      Seq("user_id"), "ts", Seq("event_id"), v)
  }

  /** Produce `events` through the wire client, keyed to partition
    * key % parts; returns (partition, offset) per event, in order. */
  private def produce(client: KafkaWireClient, t: String,
      events: Seq[(Long, Array[Byte])], tsMs: Long): Seq[(Int, Long)] = {
    val byPart = events.zipWithIndex.groupBy { case ((k, _), _) => (k % parts).toInt }
    val out = new Array[(Int, Long)](events.size)
    byPart.foreach { case (p, evs) =>
      val base = client.produce(t, p, evs.map { case ((k, v), _) =>
        Record(k.toString.getBytes(UTF_8), v, tsMs) })
      evs.zipWithIndex.foreach { case ((_, i), j) => out(i) = (p, base + j) }
    }
    out.toSeq
  }

  def setup(spark: SparkSession): Unit = {
    QueryFacade.init(spark, o.data)
    gw = HttpGateway.start(spark, name => spark.table(name))
    // one request per serving template, through the gateway's broker path
    Main.lines(s"${o.inputs}/warm.sql").foreach(BrokerResponse.execute(spark, _))
    broker = new KafkaWireBroker(numPartitions = parts).start()
    // warm the whole path on a topic and view of its own
    val client = new KafkaWireClient("127.0.0.1", broker.port)
    try produce(client, "warm", load("warm.tsv"), System.currentTimeMillis())
    finally client.close()
    val q = startUpsert(spark, "warm", "events_warm")
    q.processAllAvailable()
    q.stop()
    QueryFacade.sql(spark, "SELECT COUNT(*) FROM events_warm").collect()
  }

  def run(spark: SparkSession): Map[String, Any] =
    try measure(spark) finally { gw.stop(); broker.close() }

  private def measure(spark: SparkSession): Map[String, Any] = {
    val tracer = new Tracer(spark)
    if (o.trace) tracer.attach()
    val events = load("events.tsv")
    val reads = Main.lines(s"${o.inputs}/reads.sql").toIndexedSeq
    val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress.add(Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "start" -> start, "end" -> (start + d.getOrElse("triggerExecution", 0L)),
          "durations" -> d,
          "end_offset" -> p.sources.headOption.map(_.endOffset).getOrElse("")))
      }
    }
    spark.streams.addListener(listener)
    val client = new KafkaWireClient("127.0.0.1", broker.port)

    // phase A: drain a preloaded backlog
    produce(client, topic, events.take(backlog), System.currentTimeMillis())
    val aStart = Clock.ms()
    val q = tracer.span("streaming.start")(startUpsert(spark, topic, view))
    q.processAllAvailable()
    val aEnd = Clock.ms()

    // phase B: fixed-rate producer and fixed-rate broker requests
    val produced = mutable.ArrayBuffer[(Int, Long, Double)]()
    val readLog = new ConcurrentLinkedQueue[Map[String, Any]]()
    val bStart = Clock.ms() + 50
    val bEnd = bStart + phaseBSeconds * 1000
    // `clients` connections share the fixed-rate schedule (request i on
    // thread i mod clients), so one slow request does not hold back the
    // others; each is timed from its due time
    val http = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    val uri = java.net.URI.create(s"http://127.0.0.1:${gw.port}/query/sql")
    val json = new ObjectMapper()
    val readers = (0 until clients).map { j =>
      val t = new Thread(() => {
        var i = j
        var due = bStart + i * 1000.0 / readRate
        while (due < bEnd) {
          val wait = due - Clock.ms()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val body = json.writeValueAsString(
            java.util.Map.of("sql", reads(i % reads.size)))
          val start = Clock.ms()
          val (status, resp) = try {
            val r = http.send(java.net.http.HttpRequest.newBuilder(uri)
              .header("Content-Type", "application/json")
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
              java.net.http.HttpResponse.BodyHandlers.ofString())
            (r.statusCode, r.body)
          } catch { case scala.util.control.NonFatal(e) => (-1, e.toString) }
          readLog.add(Map("i" -> i, "due" -> due, "start" -> start,
            "end" -> Clock.ms(), "status" -> status, "body" -> resp))
          i += clients
          due = bStart + i * 1000.0 / readRate
        }
      }, s"bench-client-$j")
      t.start()
      t
    }
    var next = backlog
    while (Clock.ms() < bEnd && next < events.size) {
      val now = Clock.ms()
      val dueCount = math.min(events.size - backlog,
        ((now - bStart) * rate / 1000).toInt + 1) + backlog
      if (dueCount > next) {
        val batch = events.slice(next, dueCount)
        val at = produce(client, topic, batch, System.currentTimeMillis())
        at.zipWithIndex.foreach { case ((p, off), j) =>
          produced += ((p, off, bStart + (next + j - backlog) * 1000.0 / rate))
        }
        next = dueCount
      }
      Thread.sleep(2)
    }
    readers.foreach(_.join())
    val endOffsets = (0 until parts).map(p => p.toString -> broker.endOffset(topic, p)).toMap
    val lastSeen = Option(progress.asScala.toSeq.lastOption).flatten
      .map(_("end_offset").toString).getOrElse("")
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(listener)
    client.close()
    val probe = if (o.trace) facadeProbe(spark, tracer) else Nil
    if (o.trace) { tracer.drain(); tracer.detach() }
    spark.table(view).coalesce(1).write.mode("overwrite")
      .parquet(s"${o.work}/results/store")

    Map(
      "produced_total" -> next,
      "phase_a" -> Map("start" -> aStart, "end" -> aEnd, "rows" -> backlog),
      "phase_b" -> Map("start" -> bStart, "end" -> bEnd),
      "produced" -> produced.toSeq.map { case (p, off, due) => Seq(p, off, due) },
      "progress" -> progress.asScala.toSeq,
      "end_offsets_at_b_end" -> endOffsets,
      "last_progress_offset_at_b_end" -> lastSeen,
      "reads" -> readLog.asScala.toSeq,
      "probe" -> probe,
      "trace" -> tracer.dump())
  }

  /** Splits a broker request into its parts by calling the public entry
    * points in turn on the same text: QueryFacade.sql (rewrite +
    * analysis), collect (optimization, planning, execution), then the
    * whole BrokerResponse.execute. */
  private def facadeProbe(spark: SparkSession, t: Tracer): Seq[Map[String, Any]] =
    Main.lines(s"${o.inputs}/probe.sql").zipWithIndex.map { case (q, i) =>
      val req = s"probe-$i"
      spark.sparkContext.setJobGroup(req, req)
      try t.span("probe.request", req) {
        val df = t.span("sql.facade", req)(QueryFacade.sql(spark, q))
        val analysis = df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs.toDouble).getOrElse(0.0)
        val rows = t.span("exec.collect", req)(df.collect().length)
        t.span("sql.broker", req)(BrokerResponse.execute(spark, q))
        Map("req" -> req, "analysis_ms" -> analysis, "rows" -> rows)
      } finally spark.sparkContext.clearJobGroup()
    }
}
