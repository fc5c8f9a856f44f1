package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Zipf(s) over ranks 0 until n: rank r has weight 1 / (r + 1)^s. */
final class Zipf(n: Int, s: Double) {
  require(n > 0, "Zipf needs at least one rank")
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def sample(rnd: SplittableRandom): Int = at(rnd.nextDouble())

  /** The rank whose cumulative weight first reaches `u` in [0, 1). */
  def at(u: Double): Int = {
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Seeded raw-tweet generator in the Twitter v1.1 shape the engine reads
  * (`TweetSchema.raw`): one JSON array per file, the layout of the
  * reference's 2-hour batch files. The JSON layout follows the engine's
  * own throughput generator (originals, retweets and quotes, truncated
  * tweets with an extended tail), with skew added where serving cost
  * depends on it: words, hashtags and authors are Zipf-distributed, so
  * posting lists and timelines have a long head and a long tail.
  *
  * Every third tweet is a hiring tweet (it survives the hiring filter).
  * The generator records the words, tags and authors of hiring tweets so
  * the load generator only asks for keys the collections hold.
  */
final class TweetGen(seed: Long) {

  import TweetGen._

  private val wordZipf = new Zipf(Vocabulary.length, 1.05)
  private val tagZipf = new Zipf(Tags, 1.1)
  private val userZipf = new Zipf(Users, 1.0)

  /** Hiring-tweet key frequencies, for the route key pools. */
  val hiringWords: mutable.Map[String, Int] = mutable.HashMap.empty
  val hiringTags: mutable.Map[String, Int] = mutable.HashMap.empty
  val hiringUsers: mutable.Map[String, Int] = mutable.HashMap.empty

  /** Per-tweet randomness depends only on (seed, tweet index). */
  private def rng(i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 1000003L)

  private def words(rnd: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(Vocabulary(wordZipf.sample(rnd)))

  /** Raw JSON of tweet `i`. */
  def tweetJson(i: Long): String = {
    val rnd = rng(i)
    val hiring = i % 3 == 0
    val body = words(rnd, 6 + rnd.nextInt(8))
    val company = Vocabulary(wordZipf.sample(rnd)).capitalize
    val text =
      if (hiring) s"$company is hiring ${body.mkString(" ")} apply now"
      else body.mkString(" ")
    val tags = Seq.fill(1 + rnd.nextInt(2))(s"tag${tagZipf.sample(rnd)}").distinct
    val u = userZipf.sample(rnd)
    val truncated = i % 5 == 0
    val variant = (i % 4).toInt // 0,1: original; 2: retweet; 3: quoted
    if (hiring) {
      body.foreach(w => hiringWords(w) = hiringWords.getOrElse(w, 0) + 1)
      tags.foreach(t => hiringTags(t) = hiringTags.getOrElse(t, 0) + 1)
      hiringUsers(s"user$u") = hiringUsers.getOrElse(s"user$u", 0) + 1
    }
    val hour = 10 + (i % 12)
    val minute = i % 60
    val user =
      s"""{"id": ${1000 + u}, "name": "User $u", "screen_name": "user$u",
         |"verified": ${u % 7 == 0}, "followers_count": ${(u * 37) % 10000}, "friends_count": ${u % 500},
         |"profile_image_url": "http://img/$u.jpg", "profile_banner_url": null,
         |"profile_background_image_url": null}""".stripMargin
    val entities =
      s"""{"hashtags": [${tags.map(t => s"""{"text": "$t"}""").mkString(", ")}],
         |"user_mentions": [{"screen_name": "user${userZipf.sample(rnd)}"}],
         |"urls": [{"expanded_url": "https://example.com/$i"}]}""".stripMargin
    val extended =
      s"""{"full_text": "$text plus the extended tail of tweet $i",
         |"entities": $entities,
         |"extended_entities": {"media": [{"media_url": "http://img/m$i.jpg", "type": "photo", "expanded_url": "https://t.co/$i"}]}}""".stripMargin
    val inner =
      f"""{"id": ${InnerIdBase + i}, "created_at": "Thu Oct 21 $hour%02d:$minute%02d:${(i * 7) % 60}%02d +0000 2021",
         |"text": "$text", "truncated": $truncated, "possibly_sensitive": false,
         |"favorite_count": ${i % 100}, "quote_count": ${i % 10}, "reply_count": ${i % 20}, "retweet_count": ${i % 30},
         |"entities": $entities,
         |"extended_entities": {"media": [{"media_url": "http://img/$i.jpg", "type": "photo", "expanded_url": "https://t.co/i$i"}]},
         |"extended_tweet": ${if (truncated) extended else "null"},
         |"user": $user}""".stripMargin
    val (quoted, retweeted, isQuote) = variant match {
      case 3 => (inner, "null", "true")
      case 2 => ("null", inner, "false")
      case _ => ("null", "null", "false")
    }
    f"""{"id": $i, "created_at": "Thu Oct 21 $hour%02d:$minute%02d:${(i * 13) % 60}%02d +0000 2021",
       |"text": "$text", "truncated": ${variant < 2 && truncated}, "possibly_sensitive": false,
       |"is_quote_status": $isQuote, "quoted_status_id": ${if (variant == 3) (InnerIdBase + i).toString else "null"},
       |"quoted_status_permalink": ${if (variant == 3) s"""{"expanded": "https://twitter.com/x/status/$i"}""" else "null"},
       |"quoted_status": $quoted, "retweeted_status": $retweeted,
       |"favorite_count": ${i % 50}, "quote_count": ${i % 5}, "reply_count": ${i % 9}, "retweet_count": ${i % 11},
       |"entities": $entities,
       |"extended_entities": {"media": [{"media_url": "http://img/o$i.jpg", "type": "photo", "expanded_url": "https://t.co/o$i"}]},
       |"extended_tweet": ${if (variant < 2 && truncated) extended else "null"},
       |"user": $user}""".stripMargin.replace("\n", " ")
  }

  /** Write tweets `ids` as one JSON-array file; returns its size in bytes. */
  def writeFile(file: File, ids: Seq[Long]): Long = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(file), UTF_8), 1 << 20)
    try {
      w.write("[")
      ids.zipWithIndex.foreach { case (i, k) =>
        if (k > 0) w.write(",\n")
        w.write(tweetJson(i))
      }
      w.write("]")
    } finally w.close()
    file.length()
  }
}

object TweetGen {

  val InnerIdBase: Long = 50000000L
  val Users = 3000
  val Tags = 400

  /** Fixed, seed-independent vocabulary of 2–3 syllable words. Words that
    * contain a fragment of the engine's hiring-filter alternation are
    * dropped, so a non-hiring tweet can never match the filter by accident.
    */
  val Vocabulary: IndexedSeq[String] = {
    val onset = Seq("b", "d", "f", "g", "k", "l", "m", "n", "p", "s", "t", "v", "z")
    val vowel = Seq("a", "i", "o", "u")
    val syl = for (c <- onset; v <- vowel) yield c + v
    val banned = Seq("is", "are", "re", "to", "join", "will", "open", "form",
      "send", "now", "apply", "hiring", "looking", "interested", "register")
    val two = for (a <- syl; b <- syl) yield a + b
    val three = for (a <- syl.take(20); b <- syl; c <- syl.take(12)) yield a + b + c
    (two ++ three).filterNot(w => banned.exists(w.contains)).toIndexedSeq
  }
}

/** Key pools of the load generator: keys ranked by how often they occur
  * in hiring tweets, asked for with a Zipf(1.0) skew over that rank so the
  * hot keys (long posting lists, long timelines) come up most.
  *
  * The `i`-th key of a stream is the Zipf quantile of the `i`-th point of
  * the golden-ratio sequence, not a random draw: any stretch of the
  * stream holds the ranks in close to their Zipf shares, so a short run
  * asks for the same mix of hot and cold keys on every seed.
  */
final class KeyPool(counts: collection.Map[String, Int]) {
  val keys: IndexedSeq[String] =
    counts.toSeq.sortBy { case (k, c) => (-c, k) }.map(_._1).toIndexedSeq
  private val zipf = new Zipf(keys.length, 1.0)
  def apply(i: Long): String = {
    val u = i * 0.6180339887498949
    keys(zipf.at(u - math.floor(u)))
  }
}
