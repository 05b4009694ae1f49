package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A traced round's extent, on both the monotonic and the wall clock. */
final case class Window(startNs: Long, endNs: Long, startMs: Long, endMs: Long)

/** The per-layer metrics of a traced run, except `session.*` and
  * `trace.*`, which come from all of the run's JVMs. Per-operation figures are means over the
  * traced operations; `exec.*` covers every job launched inside a traced
  * round.
  */
object Layers {
  import Stats.median

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def collect(spark: SparkSession, wl: Workload, dataDir: String, work: Path, tracer: Tracer,
      listener: SpanListener, windows: Seq[Window], samples: Seq[Sample], tracedWallS: Double,
      nproc: Int): (Map[String, Double], Map[String, Long]) = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val sums = mutable.LinkedHashMap.empty[String, Long]

    // ---- sources: direct loads, feed serialization, dead letters
    val loadMs = Probes.loads(spark, dataDir, 5, tracer)
    val stream = wl match {
      case c: CdcStreamWorkload => c
      case _ =>
        // batch workloads probe the stream layer on a short feed
        val c = new CdcStreamWorkload(dataDir, work.resolve("probe"), 1L, maxFiles = 3)
        c.prepare(spark)
        Workloads.deleteTree(c.replay(spark, tracer).store)
        c
    }
    m("sources.load_ms") = median(loadMs)
    m("sources.serialize_s") = median(stream.serializeS.toSeq)
    m("sources.dead_letters") = Probes.deadLetters(spark, stream.feedDir).toDouble

    // ---- kernels and codecs
    val docs = Probes.texts(spark, dataDir).filter(_.nonEmpty)
    for ((k, r) <- Probes.kernels(docs, 7)) {
      m(s"plans.${k}_ns_per_doc") = r.perItem
      sums(s"plans.$k") = r.checksum
    }
    for ((k, r) <- Probes.codecs(docs, 24, 5)) {
      m(s"multimodal.${k}_us_per_blob") = r.perItem
      sums(s"multimodal.$k") = r.checksum
    }

    listener.drain()
    val spans = tracer.spans
    // spans of the traced rounds (the probes above add their own)
    val inRound = spans.filter(s => windows.exists(w => s.startNs >= w.startNs && s.startNs <= w.endNs))
    val kindOf = spans.map(s => s.id -> s.kind).toMap
    def jobsOf(kind: String) = listener.sum(j => kindOf.get(j.span).contains(kind))
    m("sources.load_jobs") = jobsOf("load").jobs.toDouble / loadMs.size

    // ---- operators and planner, per traced operation
    val traced = samples.filter(_.traced)
    val ops = math.max(traced.size, 1).toDouble
    def attr(kind: String, a: String) = inRound.filter(_.kind == kind).flatMap(_.attrs.get(a))
    def perOp(kind: String) = inRound.filter(_.kind == kind).map(_.ms).sum / ops
    m("operators.construct_ms") = perOp("construct")
    val constructIds = inRound.filter(_.kind == "construct").map(_.id).toSet
    m("operators.construct_jobs") = listener.sum(j => constructIds(j.span)).jobs / ops
    m("operators.pinned_bytes") = attr("construct", "pinned_bytes").sum / ops
    val planKind = if (wl.isInstanceOf[CdcStreamWorkload]) "sink_query" else "plan"
    val execKind = if (wl.isInstanceOf[CdcStreamWorkload]) "sink_query" else "execute"
    for (p <- Seq("analysis_ms", "optimization_ms", "planning_ms"))
      m(s"planner.$p") = attr(planKind, p).sum / ops
    m("planner.exchanges") = attr(execKind, "exchanges").sum / ops
    m("planner.reused_exchanges") = attr(execKind, "reused_exchanges").sum / ops

    // ---- exec: every job that started inside a traced round
    val e = listener.sum(j => windows.exists(w => j.startMs >= w.startMs && j.startMs <= w.endMs))
    m("exec.ms") = e.jobWallMs / ops
    m("exec.jobs") = e.jobs / ops
    m("exec.stages") = e.stages / ops
    m("exec.tasks") = e.tasks / ops
    m("exec.single_task_stage_share") = if (e.stages == 0) 0.0 else e.oneTaskStages.toDouble / e.stages
    m("exec.shuffle_write_bytes") = e.shuffleWrite / ops
    m("exec.shuffle_read_bytes") = e.shuffleRead / ops
    m("exec.spill_bytes") = e.spill / ops
    m("exec.input_bytes") = e.input / ops
    m("exec.task_busy_s") = e.runMs / 1e3 / ops
    m("exec.cpu_busy_frac") = e.runMs / 1e3 / (tracedWallS * nproc)
    m("exec.gc_s") = e.gcMs / 1e3 / ops

    // ---- streaming, over the traced replays
    val replays = stream.replays.toSeq.filter(_._2).map(_._1)
    val progress = replays.flatMap(_.progress)
    val ran = progress.filter(_.numInputRows > 0)
    def dur(k: String) = mean(ran.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val state = replays.flatMap(_.progress.lastOption).flatMap(_.stateOperators.headOption)
    m("streaming.add_batch_ms") = dur("addBatch")
    m("streaming.query_planning_ms") = dur("queryPlanning")
    m("streaming.wal_commit_ms") = dur("walCommit")
    m("streaming.sink_apply_ms") = mean(replays.flatMap(_.sinkMs))
    m("streaming.sink_share") = replays.flatMap(_.sinkMs).sum /
      math.max(progress.map(_.durationMs.get("triggerExecution").doubleValue).sum, 1.0)
    m("streaming.state_rows") = mean(state.map(_.numRowsTotal.toDouble))
    m("streaming.state_memory_bytes") = mean(state.map(_.memoryUsedBytes.toDouble))
    m("streaming.state_commit_ms") = mean(progress.flatMap(_.stateOperators.headOption)
      .map(_.commitTimeMs.toDouble))
    m("streaming.store_bytes_written") = mean(replays.map(_.storeBytes.toDouble))
    m("streaming.write_amp") = mean(replays.map(r => r.storeBytes.toDouble / math.max(r.feedBytes, 1L)))

    (m.toMap, sums.toMap)
  }
}
