package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Benchmark process for one run of one workload.
  *
  * Usage: perfbench.Main --workload <serve_mix|driver_mix>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *   [--data <dir>]
  *
  * Writes the raw samples, values and checks as one JSON object to
  * `--out`; with `--trace 1` also the spans, as JSON lines, next to it.
  */
object Main {

  /** Span name → (per-layer metric, scale from ms). */
  private val SpanMetrics: Map[String, (String, Double)] = Map(
    "sources.read" -> ("sources.read_ms", 1.0),
    "tweets.process" -> ("tweets.process_ms", 1.0),
    "collections.write" -> ("collections.write_s", 1e-3),
    "bm25.build" -> ("bm25.build_s", 1e-3),
    "serving.build" -> ("serving.build_s", 1e-3),
    "ivfpq.build" -> ("ivfpq.build_s", 1e-3),
    "simhash.build" -> ("simhash.build_s", 1e-3))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val work = new File(args("work"))
    val out = new File(args("out"))
    val cpus = Runtime.getRuntime.availableProcessors().min(4)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, work, seed, seconds, traced)
    // JVM start to a ready session: paid by every run, outside set-up
    ctx.rec.set("startup_s", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    val load0 = loadAvg()
    val t0 = System.nanoTime()
    try {
      workload match {
        case "serve_mix" => ServeMix.run(ctx)
        case "driver_mix" => DriverMix.run(ctx, args("data"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val extra = Seq(
        "workload" -> workload, "seed" -> seed, "traced" -> traced,
        "cpus" -> cpus,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "load_start" -> load0, "load_end" -> loadAvg(),
        "wall_s" -> (System.nanoTime() - t0) / 1e9)
      if (traced) {
        // layer spans of the set-up become per-layer samples
        ctx.tracer.all.foreach { sp =>
          SpanMetrics.get(sp.name).foreach { case (metric, scale) =>
            ctx.rec.add(metric, sp.ms * scale)
          }
        }
        ctx.tracer.write(new File(out.getPath.stripSuffix(".json") + ".spans.jsonl"))
        ctx.rec.set("trace.spans", ctx.tracer.all.size.toDouble)
      }
      Files.write(out.toPath, ctx.rec.json(extra).getBytes(UTF_8))
    } finally {
      val t1 = System.nanoTime()
      spark.stop()
      System.err.println(f"perfbench: session stopped in ${(System.nanoTime() - t1) / 1e9}%.1f s")
    }
  }

  private def loadAvg(): Double =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath), UTF_8)
      .split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }
}
