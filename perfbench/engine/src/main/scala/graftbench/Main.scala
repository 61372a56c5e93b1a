package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Engine side of one benchmark run. `perfbench/run.py` launches this
  * JVM, feeds it the seeded inputs it generated, and turns what it
  * writes to `--out` into metrics. Stdout carries only `@@` protocol
  * lines; Spark logs go to stderr.
  *
  * Arguments (all required): --workload battery|ingest --data DIR
  * --inputs DIR --out FILE --passes N (battery's timed passes) --trace 0|1
  * --cpus N --work DIR (the run directory: Spark's local and warehouse
  * dirs, written results)
  */
object Main {

  final case class Opts(workload: String, data: String, inputs: String,
      out: String, passes: Int, trace: Boolean, cpus: Int, work: String)

  trait Workload {
    /** Bring the engine to ready. */
    def setup(spark: SparkSession): Unit
    /** The measured phases; releases what `setup` started and returns the
      * raw samples for run.py. */
    def run(spark: SparkSession): Map[String, Any]
  }

  def emit(msg: String): Unit = synchronized {
    System.out.println("@@" + msg)
    System.out.flush()
  }

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(_.nonEmpty)

  /** The engine session, configured as `graft.Bench` configures it.
    * Fixed by the benchmark and identical for every workload. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  private def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (VmHWM). */
  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val o = Opts(kv("workload"), kv("data"), kv("inputs"), kv("out"),
      kv("passes").toInt, kv("trace") == "1", kv("cpus").toInt, kv("work"))
    val wl: Workload = o.workload match {
      case "battery" => new Battery(o)
      case "ingest" => new Ingest(o)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    // set-up is timed from JVM start: SparkContext start, class loading,
    // cold code generation and index builds are all in it
    val spark = session(o)
    wl.setup(spark)
    val setupS =
      (Clock.ms() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000
    val load0 = loadavg()
    val gc0 = gcMs()
    val body = wl.run(spark)
    val gcRun = gcMs() - gc0
    val load1 = loadavg()
    val out = Map(
      "setup_s" -> setupS,
      "rss_peak_mb" -> rssPeakMb(),
      "heap_peak_mb" -> heapPeakMb(),
      "gc_ms_run" -> gcRun,
      "loadavg" -> Seq(load0, load1)) ++ body
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(o.out), mapper.writeValueAsString(out))
    spark.stop()
    emit("done")
  }
}
