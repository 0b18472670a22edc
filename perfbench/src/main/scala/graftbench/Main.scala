package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.GraftSession

/** Benchmark driver inside the engine's JVM. `perfbench/run.py` generates
  * a workload's inputs from the seed, writes them to a config file and
  * starts this main with its path; the driver runs the workload and writes
  * raw timings, spans and counters to `<out_dir>/result.json`, from which
  * run.py derives the metrics.
  *
  *   registry  module -> query names, plus each query's oracle SQL
  *   batch     query_batch (closed loop, one client)
  *   serve     serve_mixed (a GraftServer driven over HTTP by run.py)
  */
object Main {

  val Cores = 4

  val mapper: ObjectMapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val rc = try { run(args(0)); 0 }
    catch { case t: Throwable => t.printStackTrace(); 1 }
    // exit explicitly: the HTTP server's worker threads are not daemons
    sys.exit(rc)
  }

  private def run(configPath: String): Unit = {
    val cfg = mapper.readValue(new File(configPath), classOf[Map[String, Any]])
    val out = cfg("out_dir").toString
    new File(out).mkdirs()
    cfg("mode") match {
      case "registry" =>
        writeJson(s"$out/registry.json", Map(
          "modules" -> SparkEntry.modules.map(m =>
            moduleName(m) -> m.defs.keys.toSeq.sorted).toMap,
          "oracle" -> SparkEntry.oracleSql))
      case "batch" => Batch.run(cfg, out)
      case "serve" => Serve.run(cfg, out)
      case other => sys.error(s"unknown mode $other")
    }
  }

  def moduleName(m: AnyRef): String = m.getClass.getSimpleName.stripSuffix("$")

  /** The engine at benchmark size: graft's standard session on local[4]. */
  def session(): SparkSession = {
    val spark = GraftSession.configure(SparkSession.builder()
        .master(s"local[$Cores]").appName("graft-perfbench"))
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tuneScanSplits(spark)
  }

  /** Seconds since this JVM started (the first setup counts from here). */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Heap in use after full collections, MiB. Collections repeat until the
    * heap stops shrinking: each one lets Spark's ContextCleaner drop the
    * broadcast and shuffle state of frames it found unreachable.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used()
    var next = { Thread.sleep(300); used() }
    var rounds = 1
    while (last - next > 1.0 && rounds < 10) {
      last = next
      Thread.sleep(300)
      next = used()
      rounds += 1
    }
    next
  }

  def num(x: Any): Double = x.asInstanceOf[Number].doubleValue

  def strings(x: Any): Seq[String] =
    x.asInstanceOf[Seq[Any]].map(_.toString)

  def writeJson(path: String, value: Any): Unit =
    mapper.writeValue(new File(path), value)

  def errorText(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}"
      .take(300)
}
