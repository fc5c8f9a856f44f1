package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ExecutorService}

import com.sun.net.httpserver.HttpServer
import graft.search.{BM25Index, Collections, HttpServing}
import graft.sources.Readers
import graft.tweets.{TweetNormalize, TweetSchema}
import org.apache.spark.sql.DataFrame

/** On-disk layout of one served corpus: the two collections, the BM25
  * postings store and the tweet serving stores.
  */
final class Store(val root: File) {
  val tweets: String = s"$root/coll_tweets"
  val users: String = s"$root/coll_users"
  val bm25: String = s"$root/bm25"
  val tidx: String = s"$root/tidx"
}

object Routes {
  val Query = "/api/search/query"
  val Hashtag = "/api/search/hashtag"
  val User = "/api/search/user"

  /** Route name → (path, query-string parameter). */
  val All: Seq[(String, String, String)] = Seq(
    ("query", Query, "query"), ("hashtag", Hashtag, "tag"), ("user", User, "id"))

  def pathOf(route: String): String = All.find(_._1 == route).get._2
  def paramOf(route: String): String = All.find(_._1 == route).get._3

  def ok(body: String): Boolean =
    body != null && body.startsWith("{") && !body.contains("\"status_code\":500")
}

/** One request of the mix: route name and its key. */
final case class Req(route: String, key: String) {
  def path: String = Routes.pathOf(route)
  def params: Map[String, String] = Map(Routes.paramOf(route) -> key)
  def url: String = s"$path?${Routes.paramOf(route)}=${java.net.URLEncoder.encode(key, "UTF-8")}"
}

/** The request mix: 50% keyword queries of one or two words, 25% hashtag
  * lookups, 25% user timelines, each key Zipf-skewed over the `hotKeys`
  * most frequent keys of the hiring tweets.
  */
final class Mix(gen: TweetGen, hotKeys: Int) {
  private val Pattern = Array("query", "hashtag", "query", "user")
  private def pool(m: collection.Map[String, Int]) =
    new KeyPool(m.toSeq.sortBy { case (k, c) => (-c, k) }.take(hotKeys).toMap)
  val words: KeyPool = pool(gen.hiringWords)
  val tags: KeyPool = pool(gen.hiringTags)
  val users: KeyPool = pool(gen.hiringUsers)

  /** Request `i` of a stream: the route follows the 2:1:1 pattern, and
    * each route walks its own key stream (see [[KeyPool]]). Streams that
    * start at different `i` send the same mix.
    */
  def apply(i: Long): Req = {
    val k = i / Pattern.length
    Pattern((i % Pattern.length).toInt) match {
      case "query" =>
        val j = 2 * k + (i % Pattern.length) / 2
        val a = words(j)
        Req("query", if (j % 2 == 0) a else s"$a ${words(j + 7919)}")
      case "hashtag" => Req("hashtag", tags(k))
      case _ => Req("user", users(k))
    }
  }

  /** Request `n` of client `c` of `clients` (1, 2 or 4): client `c` takes
    * every `clients`-th step of the pattern from step `c` on. With 2
    * clients, one sends only queries and the other alternates hashtags and
    * users, so every request runs beside the same kind of other.
    */
  def pinned(c: Int, clients: Int, n: Long): Req = apply(clients * n + c)

  /** A fixed key list: the first `n` requests of each route, taken from a
    * part of the streams the load does not start at.
    */
  def fixed(n: Int): Seq[Req] =
    Seq("query", "hashtag", "user").flatMap { r =>
      Iterator.from(100000).map(i => apply(i.toLong)).filter(_.route == r).take(n).toSeq
    }
}

object Serve {

  /** Raw JSON → normalized → collections → BM25 store → serving
    * stores: the indexer's batch build. Returns the collection frames
    * read back from disk.
    */
  def ingestBase(ctx: Ctx, rawDir: String, store: Store): (DataFrame, DataFrame) = {
    val spark = ctx.spark
    val t = ctx.tracer
    val raw = t.span("sources.read")(
      Readers.multilineJson(spark, rawDir, TweetSchema.raw))
    val processed = t.span("tweets.process")(TweetNormalize.process(raw))
    t.span("collections.write") {
      Collections.tweets(processed).write.parquet(store.tweets)
      Collections.users(processed).write.parquet(store.users)
    }
    val tw = spark.read.parquet(store.tweets)
    val us = spark.read.parquet(store.users)
    t.span("bm25.build")(BM25Index.build(tw, "id", "tweetText", store.bm25))
    t.span("serving.build")(HttpServing.buildTweetIndex(tw, us, store.tidx))
    (tw, us)
  }

  def indexedRoutes(store: Store, tw: DataFrame, us: DataFrame): Map[String, HttpServing.Route] =
    HttpServing.referenceRoutes(tw, us, bm25IndexDir = Some(store.bm25),
      tweetIndexDir = Some(store.tidx))

  /** Stop the server and its worker pool. `HttpServing.start` gives the
    * server a fixed pool of non-daemon threads that `stop` leaves running,
    * which would keep the JVM alive after the run.
    */
  def stop(server: HttpServer): Unit = {
    val pool = server.getExecutor
    server.stop(0)
    pool match {
      case es: ExecutorService => es.shutdownNow()
      case _ =>
    }
  }

  /** Closed loop: `clients` threads, each sending its next request only
    * after the previous reply, client `c` on the route [[Mix.pinned]]
    * gives it. The first `warmup` seconds are untimed. A request sent in
    * the `seconds` after that is timed; then a client keeps sending
    * untimed requests until every client's last timed request is back, so
    * each timed request ran against the same number of concurrent ones.
    * One unbroken loop, so the timed window does not start with every
    * client sending at once. Every reply is counted and checked with
    * `verify(req, body)`. Returns the timed window's length in seconds.
    */
  def closedLoop(ctx: Ctx, http: Http, mix: Mix, clients: Int, warmup: Double,
                 seconds: Double, tag: String)(
      verify: (Req, String) => Option[String]): Double = {
    val start = System.nanoTime() + (warmup * 1e9).toLong
    val deadline = start + (seconds * 1e9).toLong
    val timing = new java.util.concurrent.CountDownLatch(clients)
    @volatile var lastTimed = start
    val threads = (0 until clients).map { c =>
      val th = new Thread(() => {
        var n = 0L
        var counting = true
        while (counting || timing.getCount > 0) {
          val s0 = System.nanoTime()
          if (counting && s0 >= deadline) {
            counting = false
            timing.countDown()
          }
          val timed = counting && s0 >= start
          val req = mix.pinned(c, clients, n)
          n += 1
          val body =
            try ctx.tracer.span(s"http.$tag.${req.route}", (c.toLong << 40) | n)(
              http.get(req.url))
            catch { case e: Exception => "ERROR " + e }
          val end = System.nanoTime()
          val problem =
            if (!Routes.ok(body)) Some(s"${req.url}: ${body.take(200)}")
            else verify(req, body)
          if (ctx.rec.attempt(s"$tag.${req.route}", problem.isEmpty,
              problem.getOrElse("")) && timed) {
            ctx.rec.add(s"${req.route}_ms", (end - s0) / 1e6)
            ctx.rec.add("request_ms", (end - s0) / 1e6)
            synchronized { if (end > lastTimed) lastTimed = end }
          }
        }
      }, s"client-$c")
      th.start()
      th
    }
    threads.foreach(_.join())
    (lastTimed - start) / 1e9
  }

  /** Envelope recorded for each key on first reply; every later reply for
    * the key must equal it byte for byte.
    */
  final class Envelopes {
    private val seen = new ConcurrentHashMap[String, String]

    def verify(req: Req, body: String): Option[String] = {
      val k = req.url
      val prev = seen.putIfAbsent(k, body)
      if (prev == null || prev == body) None
      else Some(s"$k: reply differs from the recorded envelope")
    }
  }
}
