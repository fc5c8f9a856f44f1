package graft.search

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** End-to-end HTTP serving: real server on a real port, driven with the
  * JDK HTTP client, responses checked against the reference envelope
  * contract (Handler.java paths/params, Report Table 4 shapes).
  */
class HttpServingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tweets = Seq(
    ("11", "7", "spark is hiring engineers", Seq("jobs"), "2021-03-01T10:00:00Z"),
    ("12", "7", "query engines are fast", Seq("perf"), "2021-03-02T10:00:00Z"),
    ("13", "8", "hello world", Seq("jobs"), "2021-03-03T10:00:00Z")
  ).toDF("id", "userID", "tweetText", "tweetHashtags", "tweetDateTime")

  private lazy val users = Seq(
    ("7", "ada", "Ada L"), ("8", "bob", "Bob D")
  ).toDF("id", "userScreenName", "userName")

  private def withServer(f: Int => Unit): Unit = {
    val server = HttpServing.start(0, HttpServing.referenceRoutes(tweets, users))
    try f(server.getAddress.getPort)
    finally HttpServing.stop(server)
  }

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, pathAndQuery: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$pathAndQuery")).build(),
      HttpResponse.BodyHandlers.ofString())

  private def json(body: String, path: String): String = {
    val row = Seq(body).toDF("j")
      .select(get_json_object(col("j"), path)).head()
    if (row.isNullAt(0)) null else row.getString(0)
  }

  test("requests racing store maintenance serve the old generation or " +
      "the error envelope — never a mixed generation — and the first " +
      "request after the swap succeeds (round-12 verdict item 6)") {
    val tidx = java.nio.file.Files.createTempDirectory("graft-http-maint").toString
    HttpServing.buildTweetIndex(tweets, users, tidx)
    ServingStores.appendPostings(
      Seq(("14", "7", "more jobs news", Seq("jobs"), "2021-03-04T10:00:00Z"))
        .toDF("id", "userID", "tweetText", "tweetHashtags", "tweetDateTime"),
      col("tweetHashtags"), s"$tidx/hashtags")
    val server = HttpServing.start(0, HttpServing.referenceRoutes(
      tweets, users, tweetIndexDir = Some(tidx)))
    try {
      val port = server.getAddress.getPort
      val before = get(port, "/api/search/hashtag?tag=jobs").body()
      assert(json(before, "$.count") == "3")
      var duringTmp: String = null
      var duringSwap: String = null
      ServingStores.testHookBeforeSwap = d => if (d.endsWith("/hashtags")) {
        // tmp materialized, store untouched: a racing request serves the
        // complete OLD generation
        duringTmp = get(port, "/api/search/hashtag?tag=jobs").body()
        // mid-swap (sentinel down): the route answers with the reference
        // error envelope — HTTP 200, status_code 500 — never a partial set
        val sentinel = java.nio.file.Paths.get(d, "_buckets.txt")
        val saved = java.nio.file.Files.readString(sentinel)
        java.nio.file.Files.delete(sentinel)
        duringSwap = get(port, "/api/search/hashtag?tag=jobs").body()
        java.nio.file.Files.writeString(sentinel, saved)
      }
      try ServingStores.compactPostings(spark, s"$tidx/hashtags")
      finally ServingStores.testHookBeforeSwap = _ => ()
      assert(duringTmp == before, "mid-maintenance request diverged from the old generation")
      assert(json(duringSwap, "$.status_code") == "500", duringSwap)
      // first request after the swap: the new generation, same rows
      assert(get(port, "/api/search/hashtag?tag=jobs").body() == before,
        "first request after the swap must serve the full new generation")
    } finally HttpServing.stop(server)
  }

  test("GET /api/search/query serves the keyword envelope over HTTP") {
    withServer { port =>
      val resp = get(port, "/api/search/query?query=spark%20engines")
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").get() == "application/json")
      assert(resp.headers().firstValue("Access-Control-Allow-Origin").get() == "*")
      val body = resp.body()
      assert(json(body, "$.status_code") == "200")
      assert(json(body, "$.message") == "Success")
      assert(json(body, "$.count") == "2")
      // both hits mention a term; best-ranked first
      assert(Set("11", "12").contains(json(body, "$.data[0].tweet.tweet_id")))
      assert(json(body, "$.data[0].user.userScreenName") == "ada")
    }
  }

  test("GET /api/search/hashtag serves id-ordered matches") {
    withServer { port =>
      val body = get(port, "/api/search/hashtag?tag=jobs").body()
      assert(json(body, "$.count") == "2")
      assert(json(body, "$.data[0].tweet.id") == "11")
      assert(json(body, "$.data[1].tweet.id") == "13")
      assert(json(body, "$.data[1].user.userScreenName") == "bob")
    }
  }

  test("GET /api/search/user serves one user plus newest-first timeline") {
    withServer { port =>
      val body = get(port, "/api/search/user?id=ada").body()
      assert(json(body, "$.user.userScreenName") == "ada")
      assert(json(body, "$.count") == "2")
      assert(json(body, "$.tweets[0].tweet_id") == "12") // newest first
      assert(json(body, "$.tweets[1].tweet_id") == "11")
      assert(json(body, "$.status_code") == "200")
    }
  }

  test("indexed keyword route: postings-store plan, byte-identical envelope") {
    val dir = java.nio.file.Files.createTempDirectory("graft-http-bm25").toString
    BM25Index.build(tweets, "id", "tweetText", dir)
    // the scoring plan reads the pruned postings store — no tokenize
    // (Generate/explode) anywhere in the request plan
    val indexed = Collections.keywordSearchIndexed(tweets, users, dir,
      Seq("spark", "engines"), k = 10)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("postings"), "plan must scan the postings store")
    assert(!plan.contains("Generate"), "served plan must not tokenize the corpus")
    // byte-identical envelopes: ad-hoc server vs indexed server
    val adhoc = HttpServing.start(0, HttpServing.referenceRoutes(tweets, users))
    val served = HttpServing.start(0,
      HttpServing.referenceRoutes(tweets, users, bm25IndexDir = Some(dir)))
    try {
      val q = "/api/search/query?query=spark%20engines"
      val a = get(adhoc.getAddress.getPort, q).body()
      val b = get(served.getAddress.getPort, q).body()
      assert(a == b, "served envelope must be byte-identical to ad hoc")
      assert(json(b, "$.status_code") == "200")
      assert(json(b, "$.count") == "2")
    } finally { HttpServing.stop(adhoc); HttpServing.stop(served) }
  }

  test("stored hashtag/user routes: bucket-pruned probe plans, " +
      "byte-identical envelopes (round-10 verdict item 7)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-http-tidx").toString
    HttpServing.buildTweetIndex(tweets, users, dir)
    // plan shape: the probe reads ONE bucket of the posting store — no
    // array_contains over the corpus anywhere in the request plan
    val probe = ServingStores.postingProbe(spark, dir + "/hashtags", "jobs")
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("array_contains"),
      s"stored hashtag plan still scans the corpus:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("__bucket"),
      s"stored hashtag plan lost its bucket pruning:\n$plan")
    // byte-identical envelopes across both non-keyword routes, incl.
    // empty-match and unknown-user error shapes
    val adhoc = HttpServing.start(0, HttpServing.referenceRoutes(tweets, users))
    val served = HttpServing.start(0,
      HttpServing.referenceRoutes(tweets, users, tweetIndexDir = Some(dir)))
    try {
      for (q <- Seq("/api/search/hashtag?tag=jobs",
          "/api/search/hashtag?tag=perf",
          "/api/search/hashtag?tag=nosuch",
          "/api/search/user?id=ada",
          "/api/search/user?id=bob",
          "/api/search/user?id=nobody")) {
        val a = get(adhoc.getAddress.getPort, q).body()
        val b = get(served.getAddress.getPort, q).body()
        assert(a == b, s"$q: served envelope differs from ad hoc")
      }
    } finally { HttpServing.stop(adhoc); HttpServing.stop(served) }
  }

  test("missing params and unknown users return the error envelope, HTTP 200") {
    withServer { port =>
      // the reference embeds errors in the body and always answers 200
      val noQ = get(port, "/api/search/query")
      assert(noQ.statusCode() == 200)
      assert(json(noQ.body(), "$.status_code") == "500")
      assert(json(noQ.body(), "$.message") == "Internal Server Error")
      val noUser = get(port, "/api/search/user?id=nobody")
      assert(json(noUser.body(), "$.status_code") == "500")
    }
  }

  test("stop ends the server's worker pool: no worker thread outlives it") {
    val server = HttpServing.start(0, HttpServing.referenceRoutes(tweets, users))
    val prefix = HttpServing.workerPrefix(server.getAddress.getPort)
    def workers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith(prefix) && t.isAlive)
    try {
      assert(get(server.getAddress.getPort, "/api/search/hashtag?tag=jobs")
        .statusCode() == 200)
      assert(workers.nonEmpty, s"no thread named $prefix* served the request")
      assert(workers.forall(_.isDaemon), "worker threads must not pin the JVM")
    } finally HttpServing.stop(server)
    assert(workers.isEmpty, s"worker threads alive after stop: ${workers.map(_.getName)}")
  }

  test("a route that throws answers the 500 envelope with HTTP 200 and " +
      "logs the route, exception class and message") {
    val logged = new ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("http-serving-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        logged.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger("graft.search.HttpServing").asInstanceOf[CoreLogger]
    logger.addAppender(capture)
    val server = HttpServing.start(0, Map[String, HttpServing.Route](
      "/boom" -> (_ => throw new IllegalStateException("store sentinel missing"))))
    try {
      val resp = get(server.getAddress.getPort, "/boom?x=1")
      assert(resp.statusCode() == 200)
      assert(resp.body() == """{"status_code":500,"message":"Internal Server Error"}""")
    } finally {
      HttpServing.stop(server)
      logger.removeAppender(capture)
      capture.stop()
    }
    val lines = logged.asScala.toSeq
    assert(lines.exists(l => l.contains("/boom") &&
      l.contains("java.lang.IllegalStateException") &&
      l.contains("store sentinel missing")), s"failure not logged: $lines")
  }

  /** Jobs run while `body` runs, each with the number of tasks it ran. */
  private def jobs[A](body: => A): (A, Seq[Int]) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val jobOfStage = new ConcurrentHashMap[Int, Int]
    val tasks = new ConcurrentHashMap[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        tasks.putIfAbsent(e.jobId, 0)
        e.stageIds.foreach(jobOfStage.put(_, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(jobOfStage.get(e.stageId)).foreach(j => tasks.merge(j, 1, _ + _))
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, tasks.asScala.toSeq.sortBy(_._1).map(_._2))
    } finally sc.removeSparkListener(listener)
  }

  test("indexed routes build their plans job-free (the /user screen-name " +
      "collect is the one exception) and no request job lists a store") {
    // wide enough that each serving store holds more bucket dirs than
    // Spark's parallel-listing threshold (32): listing a whole store root
    // would be a job with a task per dir
    val n = 150
    val wideTweets = tweets.union((0 until n).map(i =>
      ((1000 + i).toString, (100 + i).toString, s"hiring engineers batch$i",
        Seq(s"tag$i", "jobs"), f"2021-04-${1 + i % 28}%02dT10:00:00Z"))
      .toDF("id", "userID", "tweetText", "tweetHashtags", "tweetDateTime"))
    val wideUsers = users.union((0 until n).map(i =>
      ((100 + i).toString, s"user$i", s"User $i")).toDF("id", "userScreenName", "userName"))
    val bm25 = java.nio.file.Files.createTempDirectory("graft-http-jobs-bm25").toString
    val tidx = java.nio.file.Files.createTempDirectory("graft-http-jobs-tidx").toString
    BM25Index.build(wideTweets, "id", "tweetText", bm25)
    HttpServing.buildTweetIndex(wideTweets, wideUsers, tidx)
    Seq("hashtags", "by_user", "users").foreach { s =>
      val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(tidx, s))
      val count = try dirs.iterator().asScala
        .count(_.getFileName.toString.startsWith("__bucket=")) finally dirs.close()
      assert(count > 32, s"$s holds only $count bucket dirs")
    }
    val frames = HttpServing.responseFrames(wideTweets, wideUsers,
      Some(bm25), Some(tidx))
    val routes = HttpServing.referenceRoutes(wideTweets, wideUsers,
      bm25IndexDir = Some(bm25), tweetIndexDir = Some(tidx))
    val requests = Seq(
      HttpServing.QueryPath -> Map("query" -> "hiring engineers"),
      HttpServing.HashtagPath -> Map("tag" -> "tag7"),
      HttpServing.UserPath -> Map("id" -> "user7"))
    // warm: the first request of a route may plan differently
    requests.foreach { case (path, params) => routes(path)(params) }
    for ((path, params) <- requests) {
      val (frame, constructJobs) = jobs(frames(path)(params))
      assert(frame.nonEmpty, s"$path built no response frame")
      val expected = if (path == HttpServing.UserPath) 1 else 0
      assert(constructJobs.size == expected,
        s"$path ran ${constructJobs.size} jobs while building its plan " +
          s"(tasks per job: $constructJobs); expected $expected")
      val (body, requestJobs) = jobs(routes(path)(params))
      assert(json(body, "$.status_code") == "200", body)
      // a handful: far below a listing job's one task per bucket dir
      assert(requestJobs.forall(_ <= 8),
        s"$path ran a job with more than 8 tasks: $requestJobs")
    }
    StoreAdmin.truncate(bm25)
    StoreAdmin.truncate(tidx)
  }
}
