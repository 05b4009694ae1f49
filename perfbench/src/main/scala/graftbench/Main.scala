package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.GraftSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON rendering for the run report. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One JVM of a benchmark run: a cold set-up (session build, workload
  * preparation and the warm pass, whose outputs are written for
  * checking), then a closed loop of whole rounds for `seconds`, then a
  * report file. With `--trace 1` the loop alternates untraced and traced
  * rounds, the listeners are attached only during traced rounds, and the
  * direct-call probes run after the loop.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <dataDir> <workDir> <nproc> <report.json>
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val startUptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val mainNs = System.nanoTime()
    val Array(wlName, seedS, secondsS, traceS, dataDir, workS, nprocS, reportS) = argv
    val (seed, seconds, trace, nproc) = (seedS.toLong, secondsS.toDouble, traceS == "1", nprocS.toInt)
    val work = Paths.get(workS)
    val out = work.resolve("out")
    Files.createDirectories(out)
    val wl = Workloads(wlName, dataDir, work, seed)

    // ---- set-up, counted from JVM start
    val t0 = System.nanoTime()
    val spark = GraftSession.local(nproc)
    val t1 = System.nanoTime()
    wl.prepare(spark)
    val t2 = System.nanoTime()
    val failures = ArrayBuffer.empty[Failure]
    failures ++= wl.warm(spark, out)
    val t3 = System.nanoTime()
    var attempted = wl.opsPerRound.toLong
    val setupS = startUptimeS + (t3 - mainNs) / 1e9

    // ---- timed closed loop, whole rounds; traced runs alternate rounds
    val listener = new SpanListener
    val rng = new Random(seed)
    val samples = ArrayBuffer.empty[Sample]
    val windows = ArrayBuffer.empty[Window]
    val roundWalls = Array(ArrayBuffer.empty[Double], ArrayBuffer.empty[Double])
    val tracers = Array(new Tracer(spark.sparkContext, false), new Tracer(spark.sparkContext, true))
    val loopNs = System.nanoTime()
    var r = 0
    while (r < (if (trace) 2 else 1) || (trace && r % 2 == 1) ||
      (System.nanoTime() - loopNs) / 1e9 < seconds) {
      val mode = if (trace) r % 2 else 0
      if (mode == 1) {
        spark.sparkContext.addSparkListener(listener)
        wl.attach(spark, tracers(1))
      }
      val (r0, r0Ms) = (System.nanoTime(), System.currentTimeMillis())
      val (s, f) = wl.round(spark, rng, tracers(mode))
      val (r1, r1Ms) = (System.nanoTime(), System.currentTimeMillis())
      if (mode == 1) {
        listener.drain()
        wl.detach(spark)
        spark.sparkContext.removeSparkListener(listener)
        windows += Window(r0, r1, r0Ms, r1Ms)
      }
      roundWalls(mode) += (r1 - r0) / 1e9
      samples ++= s; failures ++= f; attempted += wl.opsPerRound
      r += 1
    }

    // ---- per-layer metrics: spans, listener, probes
    val (layers, checksums) =
      if (!trace) (Map.empty[String, Double], Map.empty[String, Long])
      else {
        spark.sparkContext.addSparkListener(listener)
        Layers.collect(spark, wl, dataDir, work, tracers(1), listener, windows.toSeq,
          samples.toSeq, roundWalls(1).sum, nproc)
      }
    val rss = vmHwmMb()
    val report = Map(
      "workload" -> wlName, "seed" -> seed, "trace" -> trace, "checked" -> wl.outputs,
      "setup_s" -> setupS, "session_build_s" -> (t1 - t0) / 1e9, "warm_s" -> (t3 - t2) / 1e9,
      "samples" -> samples.map(s => Map("op" -> s.op, "ms" -> s.ms, "rows" -> s.rows,
        "traced" -> s.traced)),
      "round_wall_s" -> roundWalls(0).toSeq, "traced_round_wall_s" -> roundWalls(1).toSeq,
      "attempted" -> attempted,
      "failures" -> failures.map(f => Map("op" -> f.op, "what" -> f.what)),
      "peak_rss_mb" -> rss,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "layers" -> layers, "checksums" -> checksums,
      "spans" -> tracers(1).spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "ms" -> s.ms, "attrs" -> s.attrs)))
    spark.stop()
    Files.write(Paths.get(reportS), Json(report).getBytes(StandardCharsets.UTF_8))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Writes, as JSON, the oracle SQL each checked output of every
  * workload must equal.
  *
  * Usage: graftbench.OracleSql <out.json>
  */
object OracleSql {
  def main(argv: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val picked = Workloads.oracles.map { case (out, q) => out -> sql.getOrElse(q, null) }.toMap
    Files.write(Paths.get(argv(0)), Json(picked).getBytes(StandardCharsets.UTF_8))
  }
}
