package graftbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.cli.Jobs
import graft.etl.Preprocess
import graft.ml.{ModelCache, ModelRegistry, MultiModel, TrainingCache}
import graft.serve.GraftServer

/** serve_mixed, engine side: a GraftServer over Jobs.labeled. run.py
  * drives the HTTP load; this side sets the server up and answers two
  * commands on stdin once the load is over:
  *
  *   verify IN OUT  score each upload body listed in IN directly with
  *                  MultiModel.score and the latest registered model;
  *                  in traced runs, also time graft.ml / graft.etl calls
  *                  on the inputs the server uses
  *   exit           write result.json and stop
  *
  * Set-up: a session, a GraftServer bound to a free port with its own
  * model directory, and the initial /train. The ready line carries the
  * seconds from JVM start to here; run.py adds its warm-up requests.
  */
object Serve {

  val ModelName = "bench"

  private val schema = StructType(Jobs.FeatureCols.map(StructField(_, DoubleType)))

  def run(cfg: Map[String, Any], out: String): Unit = {
    val dir = cfg("data_dir").toString
    val traced = cfg("trace") == true
    val trainQuery = cfg("train_path").toString
    val http = HttpClient.newHttpClient()

    val s0 = System.nanoTime()
    val spark = Main.session()
    val sessionS = (System.nanoTime() - s0) / 1e9
    val modelDir = s"$out/models"
    val server = new GraftServer(spark, () => Jobs.labeled(spark, dir),
      Jobs.FeatureCols, modelDir)
    server.start()
    val resp = http.send(HttpRequest.newBuilder(
        new URI(s"http://127.0.0.1:${server.boundPort}$trainQuery"))
      .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200, s"initial /train: ${resp.body()}")
    val setupS = Main.sinceJvmStart()
    val registry = new ModelRegistry(s"$modelDir/registry.jsonl")
    println(Main.mapper.writeValueAsString(Map("ready" -> true,
      "port" -> server.boundPort, "setup_s" -> setupS)))
    System.out.flush()

    val in = new BufferedReader(new InputStreamReader(System.in,
      StandardCharsets.UTF_8))
    var line = in.readLine()
    while (line != null && line.trim != "exit") {
      line.trim.split(" ") match {
        case Array("verify", inPath, outPath) =>
          val bodies = Main.strings(Main.mapper.readValue(
            new java.io.File(inPath), classOf[Map[String, Any]])("bodies"))
          val model = MultiModel.load(registry.latest(ModelName).get.path)
          val preds = bodies.map(b => predict(spark, model, b))
          val layers =
            if (traced) layerCalls(spark, dir, registry, bodies, out)
            else Map.empty[String, Any]
          Main.writeJson(outPath, Map("predictions" -> preds) ++ layers)
          println(Main.mapper.writeValueAsString(Map("verified" -> true)))
          System.out.flush()
        case other => sys.error(s"unknown command: ${other.mkString(" ")}")
      }
      line = in.readLine()
    }
    Main.writeJson(s"$out/result.json", Map(
      "setup_s" -> setupS, "session_start_s" -> sessionS,
      "registry_entries" -> registry.entries().size,
      "modelcache_builds" -> ModelCache.buildLog.size,
      "trainingcache_builds" -> TrainingCache.buildLog.size,
      "retained_heap_mb" -> Main.retainedHeapMb()))
    server.stop()
    spark.stop()
  }

  /** Rows of an upload body (CSV with a header) as a typed frame. */
  private def uploadFrame(spark: SparkSession, body: String): DataFrame = {
    val lines = body.split("\n").filter(_.trim.nonEmpty)
    val header = lines.head.split(",").map(_.trim)
    val rows = lines.tail.map { l =>
      val v = l.split(",").map(_.trim.toDouble)
      Row.fromSeq(Jobs.FeatureCols.map(c => v(header.indexOf(c))))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  private def predict(spark: SparkSession, model: PipelineModel,
      body: String): Seq[Double] =
    MultiModel.score(model, Preprocess.conform(uploadFrame(spark, body), schema))
      .select("prediction").collect().map(_.getDouble(0)).toSeq

  /** Direct calls into graft.ml and graft.etl on the inputs the server
    * uses, in rounds bare and inside spans; the bare rounds give the
    * tracing overhead of the spanned ones.
    */
  private def layerCalls(spark: SparkSession, dir: String,
      registry: ModelRegistry, bodies: Seq[String], out: String)
      : Map[String, Any] = {
    val tracer = new Tracer(true)
    val (train, _) = MultiModel.split(Jobs.labeled(spark, dir))
    val body = bodies.head
    def round(traced: Boolean, k: Int): Double = {
      def span[T](name: String)(f: => T): T =
        if (traced) tracer.span(name, s"round$k")(f) else f
      val t0 = System.nanoTime()
      val t = span("ml.train")(MultiModel.train(train, Jobs.FeatureCols,
        "D_TREE", Map.empty, useSmote = true, smoteStrategy = "oversample"))
      val scratch = new ModelRegistry(s"$out/layer$k/registry.jsonl")
      val path = span("ml.save")(MultiModel.save(t, s"$out/layer$k", scratch,
        ModelName))
      val model = span("ml.load")(MultiModel.load(path))
      span("ml.score")(MultiModel.score(model, uploadFrame(spark, body))
        .select("prediction").collect())
      span("etl.conform")(Preprocess.conform(uploadFrame(spark, body), schema)
        .write.format("noop").mode("overwrite").save())
      for (b <- bodies) span("serve.hit_path") {
        // the in-process part of a cache hit: registry lookup + key digest
        val e = registry.latest(ModelName).get
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"${e.path}@${e.createdAtMs}\n$b"
            .getBytes(StandardCharsets.UTF_8))
      }
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    // bare, spanned, spanned, bare: warming during the calls cancels out
    val rounds = Seq(false, true, true, false).zipWithIndex
      .map { case (t, k) => t -> round(t, k) }
    Map("layer_bare_s" -> rounds.filter(!_._1).map(_._2).sum,
      "layer_traced_s" -> rounds.filter(_._1).map(_._2).sum,
      "spans" -> tracer.export(t0))
  }
}
