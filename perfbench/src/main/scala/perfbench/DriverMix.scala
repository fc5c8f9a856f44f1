package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.dedup.SimHashStore
import graft.search.{BM25Index, ServingStores}
import graft.similarity.IvfPqStore

/** driver_mix: a construct-heavy slice of the driver queries, run from
  * `SparkEntry.queries` over the workload's generated tables. Set-up
  * builds the slice's stores cold under `GRAFT_INDEX_DIR`; the timed
  * phase runs whole passes over the twelve queries.
  */
object DriverMix {

  val Families: Seq[(String, Seq[String])] = Seq(
    "graph" -> Seq("q_pagerank", "q_ppr", "q_lpa", "q_kcore"),
    "dedup_cc" -> Seq("q_dedup_clusters", "q_dedup_clusters_ls"),
    "served" -> Seq("q_keyword_bm25_served", "q_user_timeline_served",
      "q_hashtag_served", "q_ann_ivfpq_served"),
    "plain" -> Seq("q_join_star", "q_tokenize"))

  /** The served queries that stand in for the three routes. */
  val RouteOf: Map[String, String] = Map(
    "q_keyword_bm25_served" -> "query",
    "q_hashtag_served" -> "hashtag",
    "q_user_timeline_served" -> "user")

  def run(ctx: Ctx, data: String): Unit = {
    val spark = ctx.spark
    val index = new File(sys.env.getOrElse("GRAFT_INDEX_DIR",
      sys.error("GRAFT_INDEX_DIR must name the benchmark's own store directory")))
    require(index.getCanonicalPath.startsWith(ctx.work.getCanonicalPath),
      s"GRAFT_INDEX_DIR $index is outside the benchmark's work directory")
    val queries = SparkEntry.queries

    // set-up: the slice's stores, built cold (one per run; see README)
    Disk.wipe(index)
    val (_, setup) = ctx.timed(ctx.tracer.span("setup") {
      ctx.tracer.span("bm25.build")(BM25Index.ensureBuilt(spark, data))
      ctx.tracer.span("serving.build") {
        ServingStores.ensureDocPostings(spark, data)
        ServingStores.ensureOrdersTimeline(spark, data)
      }
      ctx.tracer.span("ivfpq.build")(IvfPqStore.ensureBuilt(spark, data))
      ctx.tracer.span("simhash.build")(SimHashStore.ensureBuilt(spark, data).count())
    })
    ctx.rec.add("setup_s", setup)
    val inputBytes = Disk.bytes(new File(data))
    ctx.rec.set("index_bytes_per_input_byte", Disk.bytes(index).toDouble / inputBytes)

    val rows = scala.collection.mutable.Map.empty[String, Long]
    val resultDir = ctx.dir("driver/results")
    ctx.rec.set("step.setup_s", setup)
    val t0 = System.nanoTime()
    val before = if (ctx.traced) ctx.counts.sum(ctx.sc, "driver.") else Tally.Zero
    var pass = 0
    // whole passes; another only if it would end within the run's seconds
    var lastPass = 0.0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 + lastPass < ctx.seconds) {
      var passMs = 0.0
      for ((family, names) <- Families) {
        val phs = names.map { q =>
          val ph = ctx.tracer.span(s"queries.$q", pass.toLong) {
            Phased(ctx, s"driver.$family.$q")(queries(q)(spark, data))(df =>
              (df.collect(), df.schema))
          }
          val (got, schema) = ph.result
          ctx.rec.add("request_ms", ph.totalMs)
          RouteOf.get(q).foreach(r => ctx.rec.add(s"${r}_ms", ph.totalMs))
          // row count must be the same on every pass; the first pass's
          // rows go to the oracle check
          if (pass == 0) {
            rows(q) = got.length
            spark.createDataFrame(got.toSeq.asJava, schema).coalesce(1)
              .write.parquet(new File(resultDir, q).getPath)
          }
          ctx.rec.check("driver.row_count_stable", rows(q) == got.length,
            s"$q: ${got.length} rows on pass $pass, ${rows(q)} on pass 0")
          ph
        }
        passMs += phs.map(_.totalMs).sum
        val f = s"driver.$family"
        ctx.rec.add(s"$f.construct_s", phs.map(_.constructMs).sum / 1e3)
        ctx.rec.add(s"$f.plan_s", phs.map(_.planMs).sum / 1e3)
        ctx.rec.add(s"$f.execute_s", phs.map(_.executeMs).sum / 1e3)
        ctx.rec.add(s"$f.construct_jobs", phs.map(_.construct.jobs).sum.toDouble)
        ctx.rec.add(s"$f.jobs", phs.map(_.jobs).sum.toDouble)
      }
      lastPass = passMs / 1e3
      ctx.rec.add("driver_total_s", lastPass)
      pass += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.rec.set("step.passes_s", wall)
    // the route stand-ins have one cold sample from the pass; four warm
    // runs more give each a median of five
    ctx.step("extra")(for (_ <- 1 to 4; (q, r) <- RouteOf.toSeq.sortBy(_._1)) {
      val ph = Phased(ctx, s"extra.$q")(queries(q)(spark, data))(_.collect())
      ctx.rec.add(s"${r}_ms", ph.totalMs)
    })
    // queries per second of query time (the oracle dumps are not timed)
    ctx.rec.set("throughput_rps",
      ctx.rec.samples("request_ms").size / ctx.rec.samples("driver_total_s").sum)
    ctx.rec.set("passes", pass.toDouble)
    ctx.rec.set("retained_heap_mb", ctx.step("heap")(Heap.retainedMb()))

    if (ctx.traced) {
      val t = ctx.counts.sum(ctx.sc, "driver.") - before
      ctx.rec.set("driver.slot_busy_ratio",
        t.taskMs / (wall * 1e3 * ctx.sc.defaultParallelism))
      ctx.rec.set("driver.gc_ms", t.gcMs.toDouble / pass)
      ctx.rec.set("driver.shuffle_mb", t.shuffleBytes / 1e6 / pass)
    }

    // the oracle SQL of the slice, for the runner's DuckDB compare
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => rows.contains(k) }
    Files.write(new File(resultDir, "oracle_sql.json").toPath,
      Json.value(oracle).getBytes(UTF_8))
    ctx.rec.set("oracle_queries", oracle.size.toDouble)
  }
}
