package perfbench

import java.io.File

import graft.search.{BM25Index, Collections, HttpServing, Serving, ServingStores}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** serve_mix: the user-facing read path. A fixed corpus is ingested and
  * indexed once per set-up; then 2 closed-loop clients send the
  * 50/25/25 query/hashtag/user mix (by client time) over loopback HTTP,
  * untimed at first and then for the run's seconds. Two clients, half
  * the box's cores, so the route p50s measure the routes rather than
  * the scheduler.
  */
object ServeMix {

  val RawTweets = 2000
  val Files = 2
  val Clients = 2
  val HotKeys = 8
  /** Untimed closed-loop load before the timed window. */
  val WarmupSeconds = 14.0
  /** Timed in-process passes over the key sample (`driver_total_s`). */
  val Passes = 2
  /** Passes over the key sample in the traced run's layer split. */
  val Reps = 3

  def run(ctx: Ctx): Unit = {
    val gen = new TweetGen(ctx.seed)
    val rawDir = ctx.dir("serve/raw")
    val per = RawTweets / Files
    val rawBytes = ctx.step("inputs")((0 until Files).map { f =>
      gen.writeFile(new File(rawDir, s"tweets_${1634810000L + f * 7200}.json"),
        (f * per).toLong until ((f + 1) * per).toLong)
    }.sum)
    val mix = new Mix(gen, HotKeys)

    // set-up: ingest, index and start serving (one per run; see README)
    val store = new Store(ctx.dir("serve/store"))
    val ((tw, us, server), setup) = ctx.timed(ctx.tracer.span("setup") {
      val (t, u) = Serve.ingestBase(ctx, rawDir.getPath, store)
      (t, u, HttpServing.start(0, Serve.indexedRoutes(store, t, u)))
    })
    ctx.rec.add("setup_s", setup)
    val routes = Serve.indexedRoutes(store, tw, us)
    val http = new Http(server.getAddress.getPort)
    val sample = mix.fixed(1)
    ctx.rec.set("index_bytes_per_input_byte",
      Disk.bytes(store.root).toDouble / rawBytes)

    // the load runs untimed first: route latencies keep falling for the
    // first few requests of each route while the JIT compiles the
    // concurrent request path, so the timed window starts past that slope.
    // The first reply for each key seeds the envelope every later reply
    // must match.
    val env = new Serve.Envelopes
    val wall = ctx.step("load")(Serve.closedLoop(ctx, http, mix, Clients,
      WarmupSeconds, ctx.seconds, "serve")(env.verify))
    ctx.rec.set("throughput_rps", ctx.rec.samples("request_ms").size / wall)

    // the routes called in-process on a fixed key sample, warm: the same
    // envelopes as over HTTP, and the first key of each route byte for
    // byte equal to the ad-hoc routes (no index dirs)
    val direct = (1 to Passes).map { _ =>
      val (replies, pass) = ctx.timed(sample.map(r => r -> routes(r.path)(r.params)))
      ctx.rec.add("driver_total_s", pass)
      replies.foreach { case (r, body) =>
        ctx.rec.check("serve.pass_equal", env.verify(r, body).isEmpty, r.url)
      }
      replies
    }.last
    val adhoc = HttpServing.referenceRoutes(tw, us)
    ctx.step("adhoc")(direct.groupBy(_._1.route).values.map(_.head).foreach {
      case (req, body) =>
        val ref = adhoc(req.path)(req.params)
        ctx.rec.check(s"serve.adhoc_equal.${req.route}",
          Routes.ok(ref) && body == ref, s"${req.url}: $body vs $ref")
    })
    ctx.rec.set("retained_heap_mb", ctx.step("heap")(Heap.retainedMb()))

    if (ctx.traced) ctx.step("trace")(traceLayers(ctx, store, tw, us, routes, http, sample))
    Serve.stop(server)
  }

  /** Per-layer split, traced run only: HTTP overhead and queueing, then
    * each route rebuilt from the same public calls it makes and timed in
    * construct / plan / execute phases.
    */
  private def traceLayers(ctx: Ctx, store: Store, tw: DataFrame, us: DataFrame,
                          routes: Map[String, HttpServing.Route], http: Http,
                          sample: Seq[Req]): Unit = {
    val rec = ctx.rec
    val spark = ctx.spark
    // per key: the direct call, the same key over HTTP at one client, then
    // the route rebuilt in phases, so all three see the same warmth
    val direct = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val http1 = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to Reps; r <- sample) {
      val (body, d) = ctx.timed(ctx.tracer.span(s"direct.${r.route}")(
        routes(r.path)(r.params)))
      direct += r.route -> d * 1e3
      val (_, h) = ctx.timed(ctx.tracer.span(s"http1.${r.route}")(http.get(r.url)))
      http1 += h * 1e3
      val ph: Phased[String] = r.route match {
        case "query" =>
          val terms = r.key.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
          val (_, topk) = ctx.timed(ctx.tracer.span("bm25.topk")(
            BM25Index.topKMerged(spark, store.bm25, terms, 10).collect()))
          val (_, joined) = ctx.timed(ctx.tracer.span("collections.keyword")(
            Collections.keywordSearchIndexed(tw, us, store.bm25, terms, 10).collect()))
          rec.add("bm25.topk_ms", topk * 1e3)
          rec.add("collections.join_ms", (joined - topk) * 1e3)
          Phased(ctx, "route.query")(
            Serving.searchResponse(
              Collections.keywordSearchIndexed(tw, us, store.bm25, terms, 10),
              negate(col("score")), userCols = Seq("userName", "userScreenName"),
              tweetCols = Seq("tweet_id", "tweetText", "score")))(_.head().getString(0))
        case "hashtag" =>
          Phased(ctx, "route.hashtag")(
            Serving.searchResponse(
              ServingStores.postingProbe(spark, store.tidx + "/hashtags", r.key)
                .orderBy(col("id").cast("long").asc).limit(1000)
                .join(us.withColumnRenamed("id", "uid"),
                  col("userID") === col("uid"), "left"),
              col("id").cast("long"), userCols = Seq("userName", "userScreenName"),
              tweetCols = Seq("id", "tweetText")))(_.head().getString(0))
        case "user" =>
          Phased(ctx, "route.user") {
            val u = ServingStores.postingProbe(spark, store.tidx + "/users", r.key)
              .select(col("id"), col("userScreenName")).collect()
            Serving.timelineResponse(
              ServingStores.timelineProbe(spark, store.tidx + "/by_user",
                  "userID", u.head.getString(0))
                .orderBy(col("tweetDateTime").desc, col("id").cast("long").desc)
                .limit(1000)
                .select(lit(u.head.getString(1)).as("userScreenName"),
                  col("id").as("tweet_id"), col("tweetDateTime"), col("tweetText")),
              negate(col("tweet_id").cast("long")),
              userCols = Seq("userScreenName"),
              tweetCols = Seq("tweet_id", "tweetText", "tweetDateTime"))
          }(_.collect().head.getString(0))
      }
      // the rebuilt route must answer exactly what the route answers
      rec.check(s"trace.rebuild_equal.${r.route}", ph.result == body, r.url)
      val p = s"route.${r.route}"
      rec.add(s"$p.construct_ms", ph.constructMs)
      rec.add(s"$p.plan_ms", ph.planMs)
      rec.add(s"$p.execute_ms", ph.executeMs)
      rec.add(s"$p.jobs", ph.jobs.toDouble)
      rec.add(s"$p.construct_jobs", ph.construct.jobs.toDouble)
      rec.add(s"$p.tasks", ph.tasks.toDouble)
      rec.add(s"$p.phases_ms", ph.totalMs)
    }
    val directP50 = Pct(direct.map(_._2).toSeq, 50)
    rec.set("http.overhead_ms", Pct(http1.toSeq, 50) - directP50)
    rec.set("http.wait_ms", Pct(rec.samples("request_ms"), 50) - directP50)
    // what the three phases leave unexplained of the direct route time
    Seq("query", "hashtag", "user").foreach { r =>
      rec.set(s"route.$r.remainder_ms",
        Pct(direct.filter(_._1 == r).map(_._2).toSeq, 50) -
          Pct(rec.samples(s"route.$r.phases_ms"), 50))
    }
  }

}
