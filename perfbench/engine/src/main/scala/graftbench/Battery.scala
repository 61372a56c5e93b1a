package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** `battery`: registered queries from one client, in the seeded order
  * run.py wrote. Set-up ends with an untimed warm pass; then come
  * `--passes` timed passes, a fixed count. The first timed pass's rows are
  * written out for the oracle check. */
final class Battery(o: Main.Opts) extends Main.Workload {
  private val order = Main.lines(s"${o.inputs}/order.txt")
  private val registry = graft.SparkEntry.queries

  def setup(spark: SparkSession): Unit =
    order.filter(registry.contains).foreach { n =>
      try registry(n)(spark, o.data).collect()
      catch { case scala.util.control.NonFatal(_) => () }
    }

  def run(spark: SparkSession): Map[String, Any] = {
    val tracer = new Tracer(spark)
    val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val failures = mutable.LinkedHashMap[String, String]()
    val kept = mutable.Map[String, (Array[Row], org.apache.spark.sql.types.StructType)]()
    val rowCounts = mutable.Map[String, mutable.ArrayBuffer[Int]]()
    val passTimes = mutable.ArrayBuffer[Map[String, Any]]()

    def pass(traced: Boolean): Unit = {
      val t0 = Clock.ms()
      order.foreach { n =>
        registry.get(n) match {
          case None => failures(n) = "not registered"
          case Some(build) =>
            spark.sparkContext.setJobGroup(s"battery-$n", n)
            val start = System.nanoTime()
            try tracer.span("battery.query", n) {
              val df = tracer.span("queries.build", n)(build(spark, o.data))
              val rows = tracer.span("exec.collect", n)(df.collect())
              val s = (System.nanoTime() - start) / 1e9
              times.getOrElseUpdate(n, mutable.ArrayBuffer()) += s
              rowCounts.getOrElseUpdate(n, mutable.ArrayBuffer()) += rows.length
              if (!kept.contains(n)) kept(n) = (rows, df.schema)
            } catch {
              case scala.util.control.NonFatal(e) =>
                failures(n) = Option(e.getMessage).getOrElse(e.getClass.getName)
                  .take(300)
            } finally spark.sparkContext.clearJobGroup()
        }
      }
      passTimes += Map("start" -> t0, "end" -> Clock.ms(), "traced" -> traced)
    }

    // the traced run traces the middle two passes of each four (untraced,
    // traced, traced, untraced), so that the warm-up still under way cancels
    // out of the tracing overhead
    for (i <- 0 until o.passes) {
      val traced = o.trace && (i % 4 == 1 || i % 4 == 2)
      if (traced) tracer.attach()
      else if (o.trace) { tracer.drain(); tracer.detach() }
      pass(traced)
    }
    if (o.trace) { tracer.drain(); tracer.detach() }

    // the rows the timed pass returned, for the DuckDB oracle check
    kept.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${o.work}/results/$n")
    }
    Map(
      "registered" -> registry.keys.toSeq.sorted,
      "oracle" -> graft.SparkEntry.oracleSql,
      "times" -> times.toMap.map { case (k, v) => k -> v.toSeq },
      "rows" -> rowCounts.toMap.map { case (k, v) => k -> v.toSeq },
      "failures" -> failures.toMap,
      "passes" -> passTimes.toSeq,
      "trace" -> tracer.dump())
  }
}
