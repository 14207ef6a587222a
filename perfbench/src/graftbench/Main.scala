package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Benchmark JVM: one workload, one client thread, one session.
  *
  *   graftbench.Main --workload W --seed N --passes P --trace 0|1
  *     --data DIR --work DIR
  *
  * Runs untimed setup, then P whole passes of the workload, then untimed
  * dumps for the output checks, and writes `<work>/result.json`. With
  * `--trace 1` pass 0 is an untraced warm-up and later passes alternate
  * between traced and untraced, so the trace overhead is measured within
  * the run. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val passes = opt("passes").toInt
    val traceMode = opt("trace") == "1"
    val data = opt("data")
    val work = opt("work")
    val nproc = Runtime.getRuntime.availableProcessors()
    val wl: Workload = workload match {
      case "hourly_etl" => new HourlyEtl(data, work, seed)
      case "analytics_read" => new AnalyticsRead(data, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def mark(what: String): Unit = println(s"[perfbench] ${System.currentTimeMillis()} $what")
    mark("jvm up")
    val spark = GraftSession.local(nproc)
    mark("session up")
    val h = new Harness(spark, traceMode)
    wl.setup(h)
    mark("setup done")

    val windowStart = System.currentTimeMillis()
    val n0 = System.nanoTime()
    // a fixed number of whole passes: every run does the same work
    for (p <- 0 until passes) {
      h.setTracing(traceMode && p % 2 == 1)
      wl.pass(h, p)
    }
    h.setTracing(false)
    val windowS = (System.nanoTime() - n0) / 1e9
    val windowEnd = System.currentTimeMillis()

    mark("window done")
    // heap still reachable after the window: the session's retained state.
    // Spark's ContextCleaner frees blocks of collected frames on its own
    // thread after a GC, so collect, let it run, and collect again.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val rt = Runtime.getRuntime
    val liveMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    val extra = wl.finish(h)
    // host calibration: Bench.calibrate's fixed xxhash64 fold over 100M
    // rows instead of 1.2G, best of 3
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L, nproc).selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calib = (1 to 3).map(_ => calibrate()).min
    val rssKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

    val opsJson = Json.arr(h.ops.map(o => Json.arr(Seq(o.id.toString, Json.str(o.kind),
      Json.str(o.cls), o.pass.toString, o.startMs.toString, o.endMs.toString,
      Json.num(o.seconds), o.ok.toString, o.traced.toString))))
    val traceJson = h.recorder.map { r =>
      Json.obj(
        "spans" -> Json.arr(h.spans.map(s => Json.arr(Seq(s.id.toString, s.parent.toString,
          s.op.toString, Json.str(s.name), s.startMs.toString, s.endMs.toString,
          Json.num(s.seconds))))),
        "jobs" -> Json.arr(r.jobIntervals.map { case (id, s, e) => Json.arr(Seq(id, s, e).map(_.toString)) }),
        "tasks" -> Json.arr(r.tasks.asScala.map { case (st, at, l, f, w, rd) =>
          Json.arr(Seq(st, at, l, f, w, rd).map(_.toString)) }),
        "executions" -> Json.arr(r.executions.asScala.map(_.toString)),
        "phases" -> Json.arr(r.phases.asScala.map { case (s, a, o, pl) =>
          Json.arr(Seq(s, a, o, pl).map(_.toString)) }),
        "facts" -> Json.arr(h.facts.map { case (op, n, v) =>
          Json.arr(Seq(op.toString, Json.str(n), Json.num(v))) }))
    }.getOrElse("null")
    val meta = Json.obj(
      "nproc" -> nproc.toString,
      "jdk" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "calibration_s" -> Json.num(calib),
      "peak_rss_mb" -> Json.num(rssKb / 1024.0),
      "heap_live_mb" -> Json.num(liveMb))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> traceMode.toString,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toString,
      "first_op_ms" -> h.ops.headOption.map(_.startMs).getOrElse(windowStart).toString,
      "window_start_ms" -> windowStart.toString,
      "window_end_ms" -> windowEnd.toString,
      "window_s" -> Json.num(windowS),
      "passes" -> passes.toString,
      "meta" -> meta,
      "ops" -> opsJson,
      "digests" -> Json.arr(h.digests.map { case (op, j) => Json.arr(Seq(op.toString, j)) }),
      "errors" -> Json.arr(h.errors.map(Json.str)),
      "trace_events" -> traceJson) ++ extra: _*)
    Files.write(Paths.get(work, "result.json"), result.getBytes(StandardCharsets.UTF_8))
    mark("result written")
    spark.stop()
  }
}
