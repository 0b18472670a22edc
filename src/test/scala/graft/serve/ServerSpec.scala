package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.SparkSpec
import graft.core.Tables
import graft.ml.{ModelRegistry, MultiModel}

/** Functional API tests mirroring the reference's live-API suite
  * (/root/reference/src/tests/test_functional.py:22-112): train each model
  * type over HTTP, invalid type → 400, predict smoke with cache hit on the
  * second call, plus the upload mode the reference ships broken. Beyond
  * the reference: /train racing /predict on one name, the job-free upload
  * path, the bounded response cache and clean 4xx answers.
  */
class ServerSpec extends SparkSpec {

  private val featureCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val header = featureCols.mkString(",")
  private val modelDir = Files.createTempDirectory("graft-serve").toString
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def newServer(dir: String): GraftServer = {
    val s = new GraftServer(
      spark,
      () => Tables.load(spark, sf0001, "lineitem").select(
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("label"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax")),
      featureCols,
      dir)
    s.start()
    s
  }

  private lazy val server = newServer(modelDir)

  private val http = HttpClient.newHttpClient()

  private def post(path: String, body: String = "",
      on: GraftServer = server): (Int, String) = {
    val req = HttpRequest.newBuilder()
      .uri(new URI(s"http://127.0.0.1:${on.boundPort}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def predictions(body: String): Seq[Double] =
    mapper.readValue(body, classOf[Map[String, Any]])("predictions")
      .asInstanceOf[Seq[Any]].map(_.toString.toDouble)

  /** A CSV upload of `rows` distinct feature rows, numbered from `seed`. */
  private def upload(seed: Int, rows: Int = 3): String =
    (header +: (0 until rows).map { r =>
      val k = seed * rows + r
      s"${1 + k % 50},${100.0 * (k + 1)},0.0${k % 10},0.0${(k * 7) % 9}"
    }).mkString("", "\n", "\n")

  /** Direct scoring of an upload by a model, on a frame built here. */
  private def directScore(model: org.apache.spark.ml.PipelineModel,
      csv: String): Seq[Double] = {
    val rows = csv.split("\n").filter(_.nonEmpty).tail
      .map(l => Row.fromSeq(l.split(",").map(_.toDouble).toSeq))
    val df: DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(featureCols.map(StructField(_, DoubleType))))
    MultiModel.score(model, df).select("prediction").collect()
      .map(_.getDouble(0)).toSeq
  }

  /** Spark jobs started while `f` runs. A sentinel job closes the count:
    * listener events arrive in order, so once the sentinel's start is
    * seen, every earlier job's start has been counted.
    */
  private def jobsDuring(f: => Unit): Int = {
    val sentinel = "server-spec-sentinel"
    val jobs = new AtomicInteger(0)
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == sentinel))
          seen.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(60, TimeUnit.SECONDS), "sentinel job never seen")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  test("POST /train/ trains each model type (functional suite parity)") {
    for (mt <- Seq("LOG_REG", "GNB", "D_TREE")) {
      val (code, body) = post(
        s"/train/?model_type=$mt&max_iter=5&n_estimators=3&name=m_$mt")
      assert(code === 200, body)
      assert(body.contains("\"model_trained\":true"))
      assert(body.contains("\"model_saved\":true"))
    }
  }

  test("POST /train/ with invalid model type returns 400") {
    val (code, body) = post("/train/?model_type=NOT_A_MODEL")
    assert(code === 400)
    assert(body.contains("invalid model type"))
  }

  test("POST /predict/ smoke scores in [0,1]; second call hits cache") {
    post("/train/?model_type=D_TREE&name=cache_test")
    val (c1, b1) = post("/predict/?mode=smoke&name=cache_test")
    assert(c1 === 200, b1)
    assert(b1.contains("\"from_cache\":false"))
    assert(b1.contains("test_score"))
    val (c2, b2) = post("/predict/?mode=smoke&name=cache_test")
    assert(c2 === 200)
    assert(b2.contains("\"from_cache\":true"))
  }

  test("POST /predict/ upload mode scores CSV rows (fixed vs reference)") {
    post("/train/?model_type=D_TREE&name=upload_test")
    val csv =
      "l_quantity,l_extendedprice,l_discount,l_tax\n" +
        "10,1000.0,0.05,0.02\n25,50000.0,0.1,0.08\n"
    val (code, body) = post("/predict/?mode=upload&name=upload_test", csv)
    assert(code === 200, body)
    assert(body.contains("\"n_scored\":2"))
    assert(body.contains("predictions"))
  }

  test("POST /predict/ unknown mode returns 400") {
    post("/train/?model_type=D_TREE&name=mode_test")
    val (code, _) = post("/predict/?mode=bogus&name=mode_test")
    assert(code === 400)
  }

  test("GET-style /metrics/ returns confusion matrix for trained model") {
    post("/train/?model_type=D_TREE&name=metrics_test")
    val (code, body) = post("/metrics/?name=metrics_test")
    assert(code === 200, body)
    assert(body.contains("confusion"))
  }

  test("/train and upload /predict race on one name: every answer 200 " +
      "and scored by a registered version") {
    val name = "race_test"
    assert(post(s"/train/?model_type=D_TREE&max_depth=2&name=$name")._1
      === 200)
    val bodies = (0 until 12).map(upload(_))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val trains = Future {
        for (d <- Seq(8, 3))
          yield post(s"/train/?model_type=D_TREE&max_depth=$d&name=$name")
      }
      val predicts = (0 until 3).map { c =>
        Future {
          val out = Seq.newBuilder[(String, (Int, String))]
          var i = c
          while (!trains.isCompleted || i < bodies.size) {
            val b = bodies(i % bodies.size)
            out += b -> post(s"/predict/?mode=upload&name=$name", b)
            i += 3
          }
          out.result()
        }
      }
      val trained = Await.result(trains, 5.minutes)
      val answers = predicts.flatMap(Await.result(_, 5.minutes))
      assert(trained.forall(_._1 === 200), trained.mkString("; "))
      val failed = answers.filter(_._2._1 != 200)
      assert(failed.isEmpty, failed.map(_._2).mkString("; "))

      val versions = new ModelRegistry(s"$modelDir/registry.jsonl")
        .entries().filter(_.name == name)
      assert(versions.size === 3)
      val direct = versions.map(e => MultiModel.load(e.path))
        .map(m => bodies.map(b => b -> directScore(m, b)).toMap)
      answers.foreach { case (b, (_, resp)) =>
        assert(direct.exists(_(b) == predictions(resp)),
          s"$resp matches no registered version of $name")
      }
    } finally pool.shutdown()
  }

  test("two concurrent /train calls on one name both land as versions") {
    val name = "twin_train"
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val codes = Await.result(Future.sequence(Seq.fill(2)(Future(
        post(s"/train/?model_type=D_TREE&name=$name")))), 5.minutes)
      assert(codes.forall(_._1 === 200), codes.mkString("; "))
    } finally pool.shutdown()
    val paths = new ModelRegistry(s"$modelDir/registry.jsonl").entries()
      .filter(_.name == name).map(_.path)
    assert(paths.size === 2)
    assert(paths.distinct.size === 2)
    paths.foreach(p => assert(Files.isDirectory(Paths.get(p)), p))
  }

  test("an upload on a loaded model is a LocalTableScan and runs no job") {
    val name = "plan_test"
    post(s"/train/?model_type=D_TREE&name=$name")
    // the first upload loads the model (and its imputer's surrogates)
    assert(post(s"/predict/?mode=upload&name=$name", upload(900))._1 === 200)
    val jobs = jobsDuring {
      val (code, body) = post(s"/predict/?mode=upload&name=$name",
        upload(901))
      assert(code === 200, body)
      assert(body.contains("\"from_cache\":false"), body)
      assert(body.contains("\"n_scored\":3"), body)
    }
    assert(jobs === 0)
    val model = MultiModel.load(new ModelRegistry(s"$modelDir/registry.jsonl")
      .latest(name).get.path)
    val plan = MultiModel.score(model, server.uploadFrame(upload(902)))
      .select("prediction").queryExecution.executedPlan
    assert(plan.isInstanceOf[LocalTableScanExec], plan.treeString)
  }

  test("the response cache keeps at most ResponseCacheEntries answers, " +
      "least recently used out first") {
    val name = "bound_test"
    post(s"/train/?model_type=D_TREE&name=$name")
    val cap = GraftServer.ResponseCacheEntries
    val n = cap + 16
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val codes = Await.result(Future.traverse((1 to n).toList)(i => Future(
        post(s"/predict/?mode=upload&name=$name", upload(10000 + i, 1))._1)),
        10.minutes)
      assert(codes.forall(_ === 200))
    } finally pool.shutdown()
    assert(server.responseCacheSize === cap)
    val (_, last) = post(s"/predict/?mode=upload&name=$name",
      upload(10000 + n, 1))
    assert(last.contains("\"from_cache\":true"), last)
    // at least cap more bodies went in after the first: it was evicted
    val (_, first) = post(s"/predict/?mode=upload&name=$name",
      upload(10001, 1))
    assert(first.contains("\"from_cache\":false"), first)
  }

  test("a retrain of one name keeps another name's cached answers") {
    post("/train/?model_type=D_TREE&name=keep_a")
    post("/train/?model_type=D_TREE&name=keep_b")
    val (c1, b1) = post("/predict/?mode=upload&name=keep_a", upload(500))
    assert(c1 === 200, b1)
    assert(b1.contains("\"from_cache\":false"), b1)
    assert(post("/train/?model_type=D_TREE&name=keep_b")._1 === 200)
    val (c2, b2) = post("/predict/?mode=upload&name=keep_a", upload(500))
    assert(c2 === 200, b2)
    assert(b2.contains("\"from_cache\":true"), b2)
    // the retrained name's own answers are recomputed under its new entry
    val (_, b3) = post("/predict/?mode=upload&name=keep_b", upload(500))
    assert(b3.contains("\"from_cache\":false"), b3)
  }

  test("bad requests get a 4xx naming the cause; server faults a 500") {
    val fresh = newServer(
      Files.createTempDirectory("graft-serve-fresh").toString)
    try {
      val (c0, b0) = post("/predict/?mode=smoke", on = fresh)
      assert(c0 === 400, b0)
      assert(b0.contains("no model name"), b0)
      assert(post("/metrics/", on = fresh)._1 === 400)
    } finally fresh.stop()

    val (c1, b1) = post("/predict/?mode=smoke&name=no_such_model")
    assert(c1 === 404, b1)
    assert(b1.contains("unknown model: no_such_model"), b1)
    assert(post("/metrics/?name=no_such_model")._1 === 404)

    post("/train/?model_type=D_TREE&name=input_test")
    val (c2, b2) = post("/predict/?mode=upload&name=input_test", "")
    assert(c2 === 400, b2)
    assert(b2.contains("empty upload body"), b2)
    val (c3, b3) = post("/predict/?mode=upload&name=input_test",
      "a,b,c\n1,2,3\n")
    assert(c3 === 400, b3)
    assert(b3.contains("names none of the feature columns"), b3)
    val (c4, b4) = post("/predict/?mode=upload&name=input_test",
      s"$header\n1,2,3,4\n5,6\n")
    assert(c4 === 400, b4)
    assert(b4.contains("row 2 has fewer fields"), b4)

    // a registered version whose files are gone is the server's fault
    post("/train/?model_type=D_TREE&name=gone_test")
    val gone = new ModelRegistry(s"$modelDir/registry.jsonl")
      .latest("gone_test").get.path
    Files.walk(Paths.get(gone)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    val (c5, b5) = post("/metrics/?name=gone_test")
    assert(c5 === 500, b5)
  }
}
