package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.core.{FrameCache, QueryMetrics}
import graft.ml.{ModelCache, TrainingCache}

/** query_batch: one client runs the workload's queries back to back
  * (closed loop).
  *
  *  1. Set-up, timed from JVM start as `setup_s`: a session on local[4],
  *     the workload's query functions resolved from the registry, and a
  *     first pass over every query on four threads. That pass builds the
  *     FrameCache frames the curation queries share and warms the JIT; it
  *     writes each query's output to parquet for the correctness check.
  *  2. Timed passes, each in its own seeded order, until both `seconds`
  *     have passed and `min_samples` queries have run. A pass is always
  *     completed, so every run times the same population of queries.
  *
  * Traced runs mix untraced and traced passes. Traced passes run each
  * query under its own job group, materialize through
  * QueryMetrics.profile (the noop sink plus plan accounting) and record
  * spans around the plan and exec calls; the untraced passes give the
  * tracing overhead within the same run.
  */
object Batch {

  def run(cfg: Map[String, Any], out: String): Unit = {
    val dir = cfg("data_dir").toString
    val traced = cfg("trace") == true
    val seconds = Main.num(cfg("seconds"))
    val minSamples = Main.num(cfg("min_samples")).toInt
    val moduleOf = cfg("module_of").asInstanceOf[Map[String, Any]]
      .map { case (q, m) => q -> m.toString }
    val warmupOrder = Main.strings(cfg("warmup_order"))
    val passes = cfg("passes").asInstanceOf[Seq[Any]].map(Main.strings)
    val tracer = new Tracer(traced)

    val s0 = System.nanoTime()
    val spark = Main.session()
    val sessionS = (System.nanoTime() - s0) / 1e9
    val fns = moduleOf.keys.map(q => q -> SparkEntry.registry(q).fn).toMap
    val sc = spark.sparkContext
    val stats = new SparkStats
    if (traced) sc.addSparkListener(stats)

    // the first pass belongs to set-up and runs on every core at once
    val w0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    val warmFailed = try {
      warmupOrder.map { q =>
        pool.submit(() =>
          try {
            fns(q)(spark, dir).coalesce(1).write.mode("overwrite")
              .parquet(s"$out/dump/$q")
            None
          } catch {
            case e: Throwable =>
              Some(Map("query" -> q, "error" -> Main.errorText(e)))
          })
      }.flatMap(_.get())
    } finally pool.shutdown()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = Main.sinceJvmStart()

    val samples = ArrayBuffer.empty[Map[String, Any]]
    val passWalls = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var p = 0
    // traced runs order their passes untraced, traced, traced, untraced so
    // the JIT's warming during the run does not bias the overhead
    def done = elapsed >= seconds && samples.size >= minSamples &&
      (!traced || p >= 4)
    while (p < passes.size && !done) {
      val tracePass = traced && (p % 4 == 1 || p % 4 == 2)
      def span[T](name: String, id: String)(body: => T): T =
        if (tracePass) tracer.span(name, id)(body) else body
      val ps = System.nanoTime()
      for (q <- passes(p)) {
        val m = moduleOf(q)
        val id = s"p$p:$q"
        if (tracePass) sc.setJobGroup(id, q)
        val a = System.nanoTime()
        var b = a
        val sample = try {
          val profile = span("query", id) {
            val df = span(s"queries.$m.plan", id)(fns(q)(spark, dir))
            b = System.nanoTime()
            span(s"queries.$m.exec", id) {
              if (tracePass) Some(QueryMetrics.profile(df))
              else {
                df.write.format("noop").mode("overwrite").save()
                None
              }
            }
          }
          val c = System.nanoTime()
          Map[String, Any]("ok" -> true, "plan_s" -> (b - a) / 1e9,
            "exec_s" -> (c - b) / 1e9, "wall_s" -> (c - a) / 1e9) ++
            profile.map(pr => Map("scan_rows" -> pr.scanRows,
              "shuffle_bytes" -> pr.shuffleBytes,
              "shuffles" -> pr.nShuffles)).getOrElse(Map.empty)
        } catch {
          case e: Throwable =>
            Map[String, Any]("ok" -> false, "error" -> Main.errorText(e),
              "wall_s" -> (System.nanoTime() - a) / 1e9)
        } finally if (tracePass) sc.clearJobGroup()
        samples += sample ++ Map("query" -> q, "module" -> m, "pass" -> p,
          "traced" -> tracePass, "id" -> id)
      }
      passWalls += Map("pass" -> p, "traced" -> tracePass,
        "wall_s" -> (System.nanoTime() - ps) / 1e9, "queries" -> passes(p).size)
      p += 1
    }
    val timedS = elapsed
    if (traced) org.apache.spark.BenchBus.drain(sc)

    val app = sc.applicationId
    val frameBuilds = FrameCache.buildLog.collect { case ((a, _), s) if a == app => s }
    Main.writeJson(s"$out/result.json", Map(
      "setup_s" -> setupS, "session_start_s" -> sessionS,
      "warmup_s" -> warmupS, "warmup_failed" -> warmFailed,
      "timed_s" -> timedS, "samples" -> samples, "passes" -> passWalls,
      "framecache_builds" -> frameBuilds.size,
      "framecache_build_s" -> frameBuilds.sum,
      "modelcache_builds" -> ModelCache.buildLog.size,
      "trainingcache_builds" -> TrainingCache.buildLog.size,
      "spark" -> stats.export(), "cores" -> Main.Cores,
      "spans" -> tracer.export(t0),
      "retained_heap_mb" -> Main.retainedHeapMb()))
    spark.stop()
  }
}
