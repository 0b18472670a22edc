package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.etl.Preprocess
import graft.eval.Metrics
import graft.io.RedisSink
import graft.ml.{ModelEntry, ModelRegistry, MultiModel, Trainers}

/** The reference's FastAPI serving layer re-expressed on the JDK HTTP
  * server (zero extra dependencies): `POST /train/` and `POST /predict/`
  * with a response cache (reference /root/reference/src/app.py:37-140).
  *
  * Deliberate fixes over the reference (SURVEY §2.12):
  *   - one long-lived SparkSession and a cached prepared DataFrame shared
  *     across requests — the reference re-reads and re-fits the world per
  *     request (train.py:26-114);
  *   - `upload` mode actually works (app.py:124 calls a method that does
  *     not exist);
  *   - no CLI-argv parsing inside the HTTP path (predict.py:100);
  *   - registry is append-only JSONL, not racy INI rewrites.
  *
  * Serving path:
  *   - each registered model version is loaded once. The server keeps one
  *     loaded model per name, tagged with its registry entry
  *     (path@createdAtMs); the first miss on a version loads it,
  *     concurrent misses wait on that one load, and a retrain's new entry
  *     replaces it. `/train` publishes every version to its own directory
  *     (MultiModel.save), so a load never races a rewrite;
  *   - an upload is a local relation built on the driver, so scoring it
  *     folds to a LocalTableScan and runs no Spark job;
  *   - TCP_NODELAY is on (see the companion object).
  *
  * Cache: an in-memory LRU of [[GraftServer.ResponseCacheEntries]]
  * answers by default; Redis-backed (`predict:{mode}` keys, as in
  * app.py:98-140) when a redis endpoint is configured. A key carries the
  * registry entry it was computed from, so a retrain needs no eviction.
  *
  * Errors: bad input is a 400 naming its cause, an unknown model a 404,
  * a server fault a 500.
  */
class GraftServer(
    spark: SparkSession,
    trainData: () => DataFrame,
    featureCols: Seq[String],
    modelDir: String,
    port: Int = 0,
    redis: Option[(String, Int)] = None) {
  import GraftServer._

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val registry = new ModelRegistry(s"$modelDir/registry.jsonl")
  private val localCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, String](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, String]): Boolean =
        size() > ResponseCacheEntries
    })
  private val models = new ConcurrentHashMap[String, ModelSlot]()
  private val featureSchema =
    StructType(featureCols.map(StructField(_, DoubleType)))
  @volatile private var lastModelName: Option[String] = None

  // the reference rebuilds this per request; we prepare once and reuse
  private lazy val prepared: (DataFrame, DataFrame) = {
    val (tr, te) = MultiModel.split(trainData())
    (tr.cache(), te.cache())
  }

  private val server = bind(port)
  server.setExecutor(Executors.newFixedThreadPool(4))

  def boundPort: Int = server.getAddress.getPort

  private[serve] def responseCacheSize: Int = localCache.size()

  private def respond(ex: HttpExchange, code: Int, body: Map[String, Any])
      : Unit = {
    val bytes = mapper.writeValueAsString(body)
      .getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Serve `path` with `handle`, whose result is the 200 body. Failures
    * map to a status: [[HttpError]] carries its own, an
    * IllegalArgumentException (a bad parameter or number) is a 400, and
    * anything else a 500.
    */
  private def route(path: String)(handle: HttpExchange => Map[String, Any])
      : Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val (code, body) =
        try (200, handle(ex))
        catch {
          case e: HttpError => (e.code, Map("error" -> e.getMessage))
          case e: IllegalArgumentException =>
            (400, Map("error" -> e.getMessage))
          case e: Throwable => (500, Map("error" -> e.getMessage))
        }
      respond(ex, code, body)
    })

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  /** The registry entry a request names (`name`, else the last model
    * this server trained).
    */
  private def resolve(p: Map[String, String]): ModelEntry = {
    val name = p.get("name").orElse(lastModelName).getOrElse(
      throw new HttpError(400, "no model name given and none trained yet"))
    registry.latest(name).getOrElse(
      throw new HttpError(404, s"unknown model: $name"))
  }

  private def loaded(entry: ModelEntry): PipelineModel =
    models.computeIfAbsent(entry.name, _ => new ModelSlot).get(entry)

  private def cacheGet(key: String): Option[String] = redis match {
    case Some((h, p)) => RedisSink.cacheGet(h, p, key)
    case None => Option(localCache.get(key))
  }

  private def cachePut(key: String, value: String): Unit = redis match {
    case Some((h, p)) => RedisSink.cacheSet(h, p, key, value)
    case None => localCache.put(key, value)
  }

  /** An upload body (CSV with a header row) as a frame of the feature
    * columns. The rows stay on the driver as a local relation, so the
    * optimizer evaluates a model over them in place: scoring runs no
    * Spark job. Feature columns the header leaves out are null, for the
    * model's imputer to fill.
    */
  private[serve] def uploadFrame(body: String): DataFrame = {
    val lines = body.split("\n").filter(_.trim.nonEmpty).toSeq
    if (lines.isEmpty) throw new HttpError(400, "empty upload body")
    val header = lines.head.split(",").map(_.trim)
    val used = header.zipWithIndex.filter(h => featureCols.contains(h._1))
    if (used.isEmpty)
      throw new HttpError(400, "upload header names none of the feature " +
        s"columns ${featureCols.mkString(",")}: ${lines.head}")
    lines.tail.indexWhere(_.split(",", -1).length < header.length) match {
      case -1 =>
      case i => throw new HttpError(400,
        s"upload row ${i + 1} has fewer fields than the header")
    }
    import spark.implicits._
    val data = spark.createDataset(lines.tail).toDF("line")
      .select(used.toIndexedSeq.map { case (c, i) =>
        split(col("line"), ",").getItem(i).cast("double").as(c)
      }: _*)
    Preprocess.conform(data, featureSchema)
  }

  route("/train/") { ex =>
    val p = queryParams(ex)
    val modelType = p.getOrElse("model_type", "D_TREE")
    if (!Trainers.ModelTypes.contains(modelType.toUpperCase))
      throw new HttpError(400, s"invalid model type: $modelType")
    val (tr, _) = prepared
    val t = MultiModel.train(tr, featureCols, modelType, p,
      useSmote = p.getOrElse("use_smote", "true").toBoolean,
      smoteStrategy = p.getOrElse("smote_strategy", "oversample"))
    val name = p.getOrElse("name", modelType.toLowerCase)
    MultiModel.save(t, modelDir, registry, name)
    lastModelName = Some(name)
    Map(
      "model_trained" -> true,
      "model_type" -> modelType,
      "model_saved" -> true,
      "train_accuracy" -> t.trainAccuracy)
  }

  route("/predict/") { ex =>
    val p = queryParams(ex)
    val mode = p.getOrElse("mode", "smoke")
    if (!Modes.contains(mode))
      throw new HttpError(400, s"unknown mode: $mode")
    // upload bodies can only be read once — read before the cache probe
    val uploadBody =
      if (mode == "upload")
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      else ""
    // the key carries everything the answer depends on — mode, model
    // name, request body and the registry entry's durable identity
    // (path + created_at). A retrain appends a new entry, so its key can
    // never alias a pre-retrain hit — and unlike a process-local
    // generation counter, this survives server restarts against a
    // persistent Redis cache.
    val entry = resolve(p)
    val cacheKey = s"predict:$mode:${entry.name}:" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"${version(entry)}\n$uploadBody"
          .getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    cacheGet(cacheKey) match {
      case Some(hit) =>
        mapper.readValue(hit, classOf[Map[String, Any]]) +
          ("from_cache" -> true)
      case None =>
        val result: Map[String, Any] = mode match {
          case "smoke" =>
            val (_, te) = prepared
            Map("mode" -> "smoke",
              "test_score" -> MultiModel.accuracy(loaded(entry), te))
          case "db" =>
            val (_, te) = prepared
            val preds = MultiModel.score(loaded(entry), te)
            redis.foreach { case (h, rp) =>
              RedisSink.writeList(preds, "prediction", h, rp)
            }
            Map("mode" -> "db", "n_predictions" -> preds.count(),
              "sink" -> redis.map(_ => "redis").getOrElse("none"))
          case "upload" =>
            // the mode the reference 500s on (app.py:124)
            val frame = uploadFrame(uploadBody)
            val predictions = MultiModel.score(loaded(entry), frame)
              .select("prediction").collect().map(_.getDouble(0)).toSeq
            Map("mode" -> "upload", "n_scored" -> predictions.size,
              "predictions" -> predictions)
        }
        cachePut(cacheKey, mapper.writeValueAsString(result))
        result + ("from_cache" -> false)
    }
  }

  route("/metrics/") { ex =>
    val entry = resolve(queryParams(ex))
    val (_, te) = prepared
    val cm = Metrics.confusion(
      MultiModel.score(loaded(entry), te)
        .select(col("label").cast("double").as("label"),
          col("prediction")))
      .collect().map(r => Seq(r.get(0), r.get(1), r.get(2)))
    Map("name" -> entry.name, "confusion" -> cm.toSeq)
  }

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
}

object GraftServer {

  // The JDK server writes a response's headers and body in two writes;
  // with Nagle's algorithm on, the second waits for the client's delayed
  // ACK, about 40 ms per keep-alive response. The JDK reads this property
  // once, when the first HttpServer is created, so it is set here, in the
  // initializer of the object that creates every server (`bind`).
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Answers the in-memory response cache keeps; the least recently used
    * goes first.
    */
  val ResponseCacheEntries = 1024

  private val Modes = Set("smoke", "db", "upload")

  private def bind(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress(port), 0)

  private def version(entry: ModelEntry): String =
    s"${entry.path}@${entry.createdAtMs}"

  /** A request failure with its HTTP status. */
  private final class HttpError(val code: Int, msg: String)
      extends RuntimeException(msg)

  /** One loaded model per name. The load runs under the slot's lock, so
    * concurrent first misses on a version wait on one load; a request for
    * another registry entry replaces the model.
    */
  private final class ModelSlot {
    private var loadedVersion = ""
    private var model: PipelineModel = _

    def get(entry: ModelEntry): PipelineModel = synchronized {
      if (version(entry) != loadedVersion) {
        model = MultiModel.load(entry.path)
        loadedVersion = version(entry)
      }
      model
    }
  }
}
