package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal JSON writer for the raw result and the span lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
}

/** One output check. A failed check counts as a failed attempt. */
final case class Check(name: String, ok: Boolean, detail: String = "")

/** What a workload hands back: timing samples per metric (the runner
  * takes medians and percentiles), single values, and the checks made.
  * Thread-safe, since readers and writers record concurrently.
  */
final class Record {
  private val series = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]
  private val scalars = new java.util.concurrent.ConcurrentHashMap[String, Double]
  private val checks = new ConcurrentLinkedQueue[Check]
  @volatile var attempted: Long = 0L
  @volatile var failed: Long = 0L

  def add(name: String, v: Double): Unit =
    series.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]).add(v)

  def set(name: String, v: Double): Unit = scalars.put(name, v)

  def samples(name: String): Seq[Double] =
    Option(series.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  /** Count one operation; a failed one is recorded with its reason. */
  def attempt(name: String, ok: Boolean, detail: => String = ""): Boolean =
    synchronized {
      attempted += 1
      if (!ok) {
        failed += 1
        if (checks.asScala.count(!_.ok) < 20) checks.add(Check(name, ok = false, detail))
      }
      ok
    }

  /** An output check: counted as an attempt and listed in the report. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempt(name, ok, detail)
    if (ok) checks.add(Check(name, ok = true))
    ok
  }

  def json(extra: Seq[(String, Any)]): String = {
    val passed = checks.asScala.toSeq.filter(_.ok).groupBy(_.name)
      .map { case (k, v) => k -> v.size }
    Json.obj(extra ++ Seq(
      "attempted" -> attempted,
      "failed" -> failed,
      "series" -> series.asScala.map { case (k, v) => k -> v.asScala.toSeq },
      "scalars" -> scalars.asScala,
      "checks_passed" -> passed,
      "failures" -> checks.asScala.toSeq.filterNot(_.ok)
        .map(c => Map("check" -> c.name, "detail" -> c.detail.take(400)))))
  }
}

/** Everything a workload needs: the session, its own working directory,
  * the run parameters, the tracer and the per-tag work counters.
  */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
                val seconds: Int, val traced: Boolean) {
  val tracer = new Tracer(traced)
  val counts = new Counts
  val rec = new Record
  if (traced) spark.sparkContext.addSparkListener(counts)

  def sc: org.apache.spark.SparkContext = spark.sparkContext

  def dir(name: String): File = {
    val d = new File(work, name)
    d.mkdirs()
    d
  }

  /** Time `body` in seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Run one step of the workload and keep its wall time, so the record
    * shows where a run's time goes.
    */
  def step[A](name: String)(body: => A): A = {
    val (a, s) = timed(body)
    rec.set(s"step.${name}_s", s)
    a
  }

  /** Counts under `tag` for `body` (zero when untraced). */
  def tally[A](tag: String)(body: => A): (A, Tally) =
    if (!traced) (body, Tally.Zero)
    else {
      val before = counts(sc, tag)
      val a = Counts.tag(sc, tag)(body)
      (a, counts(sc, tag) - before)
    }
}

/** Construct / plan / execute split of one DataFrame-returning call:
  * construct is the time to get the DataFrame back (eager jobs
  * included), plan is `queryExecution.executedPlan`, execute is the
  * action. Job and task counts come from the tag each phase runs under.
  */
final case class Phased[A](result: A, constructMs: Double, planMs: Double,
                           executeMs: Double, construct: Tally,
                           plan: Tally, execute: Tally) {
  def totalMs: Double = constructMs + planMs + executeMs
  def jobs: Long = construct.jobs + plan.jobs + execute.jobs
  def tasks: Long = construct.tasks + plan.tasks + execute.tasks
}

object Phased {
  def apply[A](ctx: Ctx, tag: String)(build: => DataFrame)(
      act: DataFrame => A): Phased[A] = {
    val ((df, c), cs) = ctx.tally(s"$tag.construct")(ctx.timed(build))
    val ((_, p), ps) = ctx.tally(s"$tag.plan")(
      ctx.timed(df.queryExecution.executedPlan))
    val ((a, e), es) = ctx.tally(s"$tag.execute")(ctx.timed(act(df)))
    Phased(a, c * 1e3, p * 1e3, e * 1e3, cs, ps, es)
  }
}

/** Loopback HTTP client for the serving routes. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  def get(pathAndQuery: String): String = {
    val req = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
      .timeout(Duration.ofSeconds(120)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new IllegalStateException(s"HTTP ${resp.statusCode()} for $pathAndQuery")
    resp.body()
  }
}

object Disk {
  def wipe(f: File): Unit = {
    if (f.exists()) {
      val paths = Files.walk(f.toPath)
      try paths.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
  }

  /** Bytes of every regular file under `f`. */
  def bytes(f: File): Long =
    if (!f.exists()) 0L
    else {
      val paths = Files.walk(f.toPath)
      try paths.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => Files.size(p)).sum
      finally paths.close()
    }
}

object Heap {
  /** Heap in use after a full collection, MB: the smallest of three
    * collections a little apart, so objects released by Spark's cleaner
    * threads after one collection are gone by a later one.
    */
  def retainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      val used = mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      Thread.sleep(50)
      used
    }.min
  }
}

/** Nearest-rank percentile over a sample, for in-process decisions only
  * (reported percentiles are computed by the runner).
  */
object Pct {
  def apply(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }
}

