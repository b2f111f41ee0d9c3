package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** JVM side of the benchmark. Runs one workload and writes the raw run
  * record (set-up times, every operation's latency and verdict, checks,
  * trace counters) as JSON to `<work>/record.json`; `perfbench/run.py`
  * turns it into metrics.
  *
  * {{{
  * perfbench.Main --workload ref_scale --seed 1 --seconds 25 --trace 0 --work <dir>
  * perfbench.Main --selftest --work <dir>
  * perfbench.Main --prime --work <dir>
  * }}}
  */
object Main {

  /** Warm-up lengths: with C1-compiled code only (see
    * `perfbench/build.py`) pass times are flat after one warm pass. */
  def workload(name: String): Workload = name match {
    case "ref_scale" => new RefScale(lines = 25000L, warmPasses = 1)
    case "ref_stream" => new RefStream(slice = 5000, poolSlices = 8, warmPasses = 2)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)
    if (argv.contains("--selftest")) SelfTest.run(work)
    else if (argv.contains("--prime")) prime(work)
    else {
      val h = new Harness(work, Runtime.getRuntime.availableProcessors,
        args("seed").toLong, args("trace") == "1")
      val seconds = args("seconds").toInt
      val record = run(h, workload(args("workload")), seconds)
      Files.write(work.resolve("record.json"), Json(record).getBytes(UTF_8))
    }
  }

  /** A short run of every workload (one set-up, the check pass, one
    * pass, the final checks) for the JVM that records the class-data
    * archive, so the archive holds the classes the timed runs load. */
  def prime(work: Path): Unit = Seq("ref_scale", "ref_stream").foreach { name =>
    val h = new Harness(work.resolve(name), Runtime.getRuntime.availableProcessors, 1L,
      traced = false)
    val w = workload(name)
    h.startSession()
    try {
      w.prepare(h)
      w.warm(h)
      w.checkPass(h)
      w.ops.foreach(op => w.runOp(h, op, 0, trace = false))
      w.finish(h)
    } finally {
      w.close(h)
      h.stopSession()
    }
  }

  /** Set-up repetitions whose median is reported as `setup_s`. */
  val SetupReps = 3

  /** Pass number of the untimed passes between check pass and loop. */
  val WarmPass = -1

  /** Set-up (repeated), check pass, timed loop, final checks; returns
    * the run record. */
  def run(h: Harness, w: Workload, seconds: Int): Map[String, Any] = {
    // set-up, repeated: fresh session, seeded input generation, first
    // (cold) operation
    val setup = ArrayBuffer[Double]()
    val gen = ArrayBuffer[Double]()
    for (_ <- 0 until SetupReps) {
      // the previous repetition's teardown is not part of set-up
      w.close(h)
      h.stopSession()
      val t0 = System.nanoTime()
      h.startSession()
      val g0 = System.nanoTime()
      w.prepare(h)
      gen += (System.nanoTime() - g0) / 1e9
      w.warm(h)
      setup += (System.nanoTime() - t0) / 1e9
    }
    val c0 = System.nanoTime()
    w.checkPass(h)
    val checkS = (System.nanoTime() - c0) / 1e9

    // untimed passes until operations stop getting faster; their
    // verdicts count as checks
    for (_ <- 0 until w.warmPasses) w.ops.foreach(op => w.runOp(h, op, WarmPass, trace = false))

    // timed closed loop; traced runs alternate untraced and traced
    // passes so the tracing overhead is measured on the same JVM, and
    // end on an untraced pass so every traced pass has both neighbours
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val minPasses = if (h.traced) 3 else 2
    var pass = 0
    while (System.nanoTime() < deadline || pass < minPasses || (h.traced && pass % 2 == 0)) {
      val trace = h.traced && pass % 2 == 1
      w.ops.foreach(op => w.runOp(h, op, pass, trace))
      pass += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val splits = if (h.traced) w.splits(h) else Map.empty[String, Double]
    val f0 = System.nanoTime()
    w.finish(h)
    w.close(h)
    val finishS = (System.nanoTime() - f0) / 1e9

    // live heap: the lowest reading over a few full collections, so a
    // reference the context cleaner drops a moment later does not count
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min

    val (warmed, timed) = h.records.toSeq.partition(_.pass == WarmPass)
    warmed.foreach(r => h.check(s"${r.op}.warm_pass", r.ok, r.err))
    val record = Map(
      "workload" -> w.name,
      "seed" -> h.seed,
      "traced" -> h.traced,
      "cpus" -> h.cpus,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1000000L,
      "spark_version" -> h.spark.version,
      "java_version" -> System.getProperty("java.version"),
      "setup_s" -> setup.toSeq,
      "gen_s" -> gen.toSeq,
      "check_s" -> checkS,
      "finish_s" -> finishS,
      "loop_s" -> loopS,
      "rows_per_pass" -> w.rowsPerPass,
      "ops_per_pass" -> w.ops.size,
      "heap_retained_mb" -> heapMb,
      "ops" -> timed.map(r => Map("op" -> r.op, "pass" -> r.pass, "s" -> r.seconds,
        "ok" -> r.ok, "err" -> r.err, "traced" -> r.traced)),
      "checks" -> h.checks.toSeq.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "splits" -> splits,
      "facts" -> (if (h.traced) w.layerFacts else Map.empty[String, Double]),
      "op_counters" -> h.tracer.map(_.opCounters).getOrElse(Nil),
      "stream_progress" -> h.tracer.map(_.progress.toSeq).getOrElse(Nil),
      "spans" -> h.spans.all.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    h.stopSession()
    record
  }
}
