package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.operators.CdcOps
import graft.sources.CdcEnvelope
import graft.streaming.{CdcStream, UpsertSink}

/** One timed operation: a query, or a micro-batch of the stream with
  * the changes it consumed (a query's output rows are counted from the
  * checked warm-pass output instead).
  */
final case class Sample(op: String, ms: Double, rows: Long, traced: Boolean)

/** A failed operation: an exception or a wrong answer. */
final case class Failure(op: String, what: String)

/** A workload as the run sees it: untimed preparation and warm pass,
  * then timed rounds, each running every operation once.
  */
trait Workload {
  def name: String
  /** Work a session needs before its first operation. */
  def prepare(spark: SparkSession): Unit = ()
  /** Runs every operation once and writes each checked output under `out`. */
  def warm(spark: SparkSession, out: Path): Seq[Failure]
  /** One round in seeded order. */
  def round(spark: SparkSession, rng: Random, tracer: Tracer): (Seq[Sample], Seq[Failure])
  /** Operations one round attempts. */
  def opsPerRound: Int
  /** Names of the outputs the warm pass writes for checking. */
  def outputs: Seq[String]
  /** Registers what a traced round records beyond the tracer's spans. */
  def attach(spark: SparkSession, tracer: Tracer): Unit = ()
  /** Undoes [[attach]], so untraced rounds pay nothing for tracing. */
  def detach(spark: SparkSession): Unit = ()
}

object Workloads {
  val lookup: Seq[String] = Seq("q_search_multifield", "q_search_dispatch", "q_code_extract",
    "q_filter_category", "q_sort_multikey", "q_geo_radius", "q_geo_knn", "q_geo_fallback",
    "q_format_distance", "q_clean_name", "q_fuzzy_join_exact", "q_keyword_classify",
    "q_flag_exclusion", "q_enrich", "q_hours_rules", "q_cdc_latest", "q_scd2_lookup")
  val resolve: Seq[String] = Seq("q_fuzzy_resolve", "q_token_jaccard_join", "q_dedup_keep_best",
    "q_dedup_minhash", "q_dedup_clusters", "q_contam_incremental", "q_hybrid_mmr")
  val curate: Seq[String] = Seq("q_gif_frames", "q_png_features", "q_jpeg_features",
    "q_avi_frames", "q_rle_frames", "q_wav_features", "q_pii_redact", "q_ttr",
    "q_char_entropy", "q_text_quality", "q_curate_e2e")

  val batch: Map[String, Seq[String]] = Map("lookup" -> lookup, "resolve" -> resolve, "curate" -> curate)

  def apply(name: String, dir: String, work: Path, seed: Long): Workload = name match {
    case "cdc_stream" => new CdcStreamWorkload(dir, work, seed)
    case b if batch.contains(b) => new BatchWorkload(b, batch(b), dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Every checked output of every workload, with the registered query
    * whose oracle answer it must equal: a batch query's own, and for the
    * stream's final store the batch compaction of the same feed.
    */
  def oracles: Seq[(String, String)] =
    batch.values.flatten.toSeq.sorted.map(n => n -> n) :+ ("cdc_stream" -> "q_cdc_compact")

  def message(e: Throwable): String =
    e.getClass.getName + ": " + Option(e.getMessage).map(_.linesIterator.next()).getOrElse("")

  /** Every node of an executed plan, through adaptive stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def exchangeCounts(qe: QueryExecution): Map[String, Double] = {
    val nodes = planNodes(qe.executedPlan)
    Map(
      "exchanges" -> nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }.toDouble,
      "reused_exchanges" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]).toDouble)
  }

  def phases(qe: QueryExecution): Map[String, Double] = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning")
      .map(k => s"${k}_ms" -> ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)).toMap
  }

  /** Bytes of RDD blocks the session currently holds (pins and caches). */
  def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Runs a planned query to completion on the executors without a sink. */
  def drain(qe: QueryExecution): Unit =
    SQLExecution.withNewExecutionId(qe, Some("graftbench")) {
      qe.toRdd.foreachPartition(Drain.all)
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala.foreach(Files.delete)
      finally s.close()
    }
}

object Drain extends Serializable {
  val all: Iterator[InternalRow] => Unit = it => while (it.hasNext) it.next()
}

/** A fixed list of registered queries. An operation constructs the
  * query, plans it and drains it; the traced run times each step.
  */
final class BatchWorkload(val name: String, names: Seq[String], dir: String) extends Workload {
  import Workloads._

  private val fns = names.map(n => n -> SparkEntry.queries(n)).toMap

  def opsPerRound: Int = names.size

  def outputs: Seq[String] = names

  def warm(spark: SparkSession, out: Path): Seq[Failure] =
    names.flatMap { n =>
      try {
        fns(n)(spark, dir).write.mode("overwrite").parquet(out.resolve(n).toString)
        None
      } catch { case e: Throwable => Some(Failure(n, message(e))) }
    }

  def round(spark: SparkSession, rng: Random, tracer: Tracer): (Seq[Sample], Seq[Failure]) = {
    val results = rng.shuffle(names).map { n =>
      val t0 = System.nanoTime()
      try {
        runOp(spark, n, tracer)
        Left(Sample(n, (System.nanoTime() - t0) / 1e6, 0L, tracer.enabled))
      } catch { case e: Throwable => Right(Failure(n, message(e))) }
    }
    (results.collect { case Left(s) => s }, results.collect { case Right(f) => f })
  }

  private def runOp(spark: SparkSession, n: String, tracer: Tracer): Unit =
    tracer.span("op", n) {
      val before = if (tracer.enabled) storedBytes(spark) else 0L
      val df: DataFrame = tracer.span("construct", n,
        Map("pinned_bytes" -> (storedBytes(spark) - before).toDouble)) { fns(n)(spark, dir) }
      val qe = df.queryExecution
      tracer.span("plan", n, phases(qe)) { qe.executedPlan }
      tracer.span("execute", n, exchangeCounts(qe)) { drain(qe) }
    }
}

/** What one replay of the change feed did. */
final case class Replay(samples: Seq[Sample], progress: Seq[StreamingQueryProgress],
    sinkMs: Seq[Double], storeBytes: Long, feedBytes: Long, store: Path)

/** The change feed, serialized to the wire format and cut into files of
  * about 2,000 changes at seeded boundaries, replayed one file per trigger through
  * parse → compactState → foreachBatch(UpsertSink.applyBatch). An
  * operation is one micro-batch. `maxFiles` cuts the feed short.
  */
final class CdcStreamWorkload(dir: String, work: Path, seed: Long,
    maxFiles: Int = Int.MaxValue) extends Workload {
  import Workloads._

  val name = "cdc_stream"
  /** Five micro-batches per replay of the sf0.01 feed: enough samples per
    * round while a run, its warm replays included, stays under a minute.
    */
  private val ChangesPerFile = 2000.0
  val feedDir: Path = work.resolve("feed")
  private var feedFiles = 0
  private var feedLines = 0L
  private var feedBytes = 0L
  /** Seconds each [[prepare]] spent serializing the feed. */
  val serializeS = ArrayBuffer.empty[Double]
  /** Every replay, with whether it was traced. */
  val replays = ArrayBuffer.empty[(Replay, Boolean)]
  private var sinkQueries: Option[QueryExecutionListener] = None

  def opsPerRound: Int = feedFiles

  def outputs: Seq[String] = Seq(name)

  override def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val lines = CdcEnvelope.serialize(
        CdcOps.changeFeed(spark, dir)
          .orderBy("ts_ns", "event_id") // a CDC log is ordered
          .select($"event_id", $"ts_ns", $"user_id", $"op", $"event_type", $"value"))
      .collect().map(_.getString(0))
    deleteTree(feedDir)
    Files.createDirectories(feedDir)
    // about ChangesPerFile changes a file; the seed moves each boundary by up to
    // a quarter of a file, so every seed replays the same number of
    // micro-batches. Strictly increasing mtimes keep the file source's
    // arrival order equal to the log order.
    val rng = new Random(seed)
    val n = math.max(1, math.round(lines.length / ChangesPerFile).toInt)
    val step = lines.length.toDouble / n
    val cuts = 0 +: (1 until n).map(i => (i * step + (rng.nextDouble() * 2 - 1) * step / 4).toInt) :+
      lines.length
    val base = System.currentTimeMillis() - 3600L * 1000
    feedFiles = 0; feedLines = 0; feedBytes = 0
    for ((from, until) <- cuts.zip(cuts.tail).take(maxFiles)) {
      val f = feedDir.resolve(f"part-$feedFiles%05d.json")
      val data = lines.slice(from, until).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      Files.write(f, data)
      Files.setLastModifiedTime(f, FileTime.fromMillis(base + feedFiles * 1000L))
      feedFiles += 1; feedLines += until - from; feedBytes += data.length
    }
    serializeS += (System.nanoTime() - t0) / 1e9
  }

  def warm(spark: SparkSession, out: Path): Seq[Failure] =
    try {
      val r = replay(spark, new Tracer(spark.sparkContext, false))
      UpsertSink.read(spark, r.store.toString).get
        .select(col("user_id"), col("last_event_id"), col("last_op"), col("last_type"),
          functions.round(col("last_value"), 2).as("last_value"),
          expr("last_ts_ns DIV 1000000000").as("last_epoch_s"), col("n_changes"))
        .write.mode("overwrite").parquet(out.resolve(name).toString)
      deleteTree(r.store)
      checkFed(r)
    } catch { case e: Throwable => Seq(Failure(name, message(e))) }

  private def checkFed(r: Replay): Seq[Failure] = {
    val fed = r.progress.map(_.numInputRows).sum
    if (fed == feedLines) Nil
    else Seq(Failure(name, s"replay consumed $fed of $feedLines changes"))
  }

  def round(spark: SparkSession, rng: Random, tracer: Tracer): (Seq[Sample], Seq[Failure]) =
    try {
      val r = tracer.span("replay", name) { replay(spark, tracer) }
      deleteTree(r.store)
      (r.samples, checkFed(r))
    } catch { case e: Throwable => (Nil, Seq(Failure(name, message(e)))) }

  /** Records the sink's own queries (snapshot reads, pins, writes) as
    * `sink_query` spans carrying their planning phases and exchanges.
    */
  override def attach(spark: SparkSession, tracer: Tracer): Unit = {
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        tracer.record("sink_query", funcName, System.nanoTime() - durationNs, durationNs / 1e6,
          phases(qe) ++ exchangeCounts(qe), Set.empty)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    sinkQueries = Some(l)
  }

  override def detach(spark: SparkSession): Unit = {
    sinkQueries.foreach(spark.listenerManager.unregister)
    sinkQueries = None
  }

  /** One replay of the feed from an empty checkpoint into an empty store. */
  def replay(spark: SparkSession, tracer: Tracer): Replay = {
    import spark.implicits._
    val ckpt = work.resolve(s"ckpt-${replays.size}")
    val store = work.resolve(s"store-${replays.size}")
    val sinkSpans = scala.collection.mutable.Map.empty[Long, (Int, Double)]
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    val q = tracer.span("construct", name) {
      val changes = CdcEnvelope.records(CdcEnvelope.parse(
          spark.readStream.option("maxFilesPerTrigger", "1").text(feedDir.toString)))
        .select($"event_id", $"ts_ns", $"user_id", $"op", $"event_type", $"value")
        .as[CdcStream.Change]
      CdcStream.compactState(spark, changes, tombstoneRetentionMs = Long.MaxValue / 4)
        .toDF()
        .writeStream.outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val s0 = System.nanoTime()
          var spanId = 0
          tracer.span("sink", s"batch-$id") {
            spanId = tracer.current
            UpsertSink.applyBatch(spark, store.toString)(batch, id)
          }
          sinkSpans.synchronized { sinkSpans(id) = (spanId, (System.nanoTime() - s0) / 1e6) }
        }
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.toSeq
    val samples = progress.filter(_.numInputRows > 0).map { p =>
      val ms = p.durationMs.get("triggerExecution").doubleValue
      if (tracer.enabled) {
        val startNs = t0 + (java.time.Instant.parse(p.timestamp).toEpochMilli - t0Ms) * 1000000L
        tracer.record("op", s"micro_batch-${p.batchId}", startNs, ms,
          Map("rows" -> p.numInputRows.toDouble), sinkSpans.get(p.batchId).map(_._1).toSet)
      }
      Sample(s"micro_batch-${p.batchId}", ms, p.numInputRows, tracer.enabled)
    }
    val bytes = {
      val s = Files.walk(store)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }
    deleteTree(ckpt)
    val r = Replay(samples, progress, sinkSpans.values.map(_._2).toSeq, bytes, feedBytes, store)
    replays += ((r, tracer.enabled))
    r
  }
}
