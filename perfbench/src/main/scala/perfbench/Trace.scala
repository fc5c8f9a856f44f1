package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that was open on the same thread when this one started (0 =
  * none); spans of one HTTP request or one query share `req`.
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled (the untraced run) it only runs the
  * body; enabled it keeps every span until [[write]] dumps them as JSON
  * lines at exit, so tracing adds no I/O to the timed phase.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](name: String, req: Long = 0L)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(0L), req, name, t0,
          System.nanoTime()))
        open.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(file: File): Unit = {
    val w = new PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "req" -> s.req, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/** Work counted per tag. A caller tags its thread with [[Counts.tag]];
  * every job that thread submits, and every task of those jobs, counts
  * under the tag, so concurrent readers and writers do not mix.
  */
final case class Tally(jobs: Long, tasks: Long, taskMs: Long, gcMs: Long,
                       shuffleBytes: Long) {
  def -(o: Tally): Tally = Tally(jobs - o.jobs, tasks - o.tasks,
    taskMs - o.taskMs, gcMs - o.gcMs, shuffleBytes - o.shuffleBytes)
}

object Tally {
  val Zero: Tally = Tally(0, 0, 0, 0, 0)
}

final class Counts extends SparkListener {
  import Counts._

  private final class Acc {
    val jobs, tasks, taskMs, gcMs, shuffleBytes = new LongAdder
  }
  private val byTag = new ConcurrentHashMap[String, Acc]
  private val stageTag = new ConcurrentHashMap[Int, String]

  private def acc(tag: String): Acc = byTag.computeIfAbsent(tag, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Key))).getOrElse(Untagged)
    acc(tag).jobs.increment()
    e.stageInfos.foreach(s => stageTag.put(s.stageId, tag))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageTag.getOrDefault(e.stageId, Untagged))
    a.tasks.increment()
    Option(e.taskMetrics).foreach { m =>
      a.taskMs.add(m.executorRunTime)
      a.gcMs.add(m.jvmGCTime)
      a.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Totals under one tag, after the listener bus has delivered every
    * event posted so far.
    */
  def apply(sc: SparkContext, tag: String): Tally = {
    BusDrain(sc)
    Option(byTag.get(tag)).fold(Tally.Zero)(a => Tally(a.jobs.sum,
      a.tasks.sum, a.taskMs.sum, a.gcMs.sum, a.shuffleBytes.sum))
  }

  /** Totals over every tag that starts with `prefix`. */
  def sum(sc: SparkContext, prefix: String): Tally = {
    BusDrain(sc)
    byTag.asScala.filter(_._1.startsWith(prefix)).values
      .foldLeft(Tally.Zero)((t, a) => Tally(t.jobs + a.jobs.sum,
        t.tasks + a.tasks.sum, t.taskMs + a.taskMs.sum,
        t.gcMs + a.gcMs.sum, t.shuffleBytes + a.shuffleBytes.sum))
  }
}

object Counts {
  val Key = "perfbench.tag"
  val Untagged = "untagged"

  /** Run `body` with this thread's Spark jobs counted under `tag`. */
  def tag[A](sc: SparkContext, tag: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try body finally sc.setLocalProperty(Key, prev)
  }
}
