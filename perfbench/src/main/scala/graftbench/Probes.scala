package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.multimodal.{Avi, Gif, Jpeg, Png, Rle, Wav}
import graft.plans.TextExpressions
import graft.sources.{CdcEnvelope, Tables}

/** A direct-call timing: median cost per input over repetitions, and a
  * checksum of the outputs so a probe that gets faster by computing
  * something else is caught.
  */
final case class ProbeResult(perItem: Double, checksum: Long)

/** Direct calls into the library, outside any query: table loads, the
  * native text kernels and the media codecs.
  */
object Probes {

  private def mix(h: Long, v: Long): Long = (h ^ v) * 0x100000001b3L

  /** Order-sensitive checksum of kernel or codec outputs. */
  def checksum(xs: Iterator[Any]): Long =
    xs.foldLeft(0xcbf29ce484222325L)((h, x) => mix(h, java.util.Objects.hashCode(x).toLong))

  /** Times `f` over all `inputs` `reps` times after two warm-up passes;
    * returns the median time per input in `unitNs` and the first pass's checksum.
    */
  def time[A](inputs: IndexedSeq[A], reps: Int, unitNs: Double)(f: A => Any): ProbeResult = {
    val sum = checksum(inputs.iterator.map(f))
    inputs.foreach(f)
    val perItem = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < inputs.length) { f(inputs(i)); i += 1 }
      (System.nanoTime() - t0) / unitNs / inputs.length
    }
    ProbeResult(Stats.median(perItem), sum)
  }

  def texts(spark: SparkSession, dir: String): IndexedSeq[String] =
    Tables.documents(spark, dir).orderBy("doc_id").select("text")
      .collect().map(r => Option(r.getString(0)).getOrElse("")).toIndexedSeq

  private def tokens(s: String): ArrayData =
    new GenericArrayData(s.split(" ").map(t => UTF8String.fromString(t): Any))

  /** Kernel probes over every document, in ns per document. The PII
    * scrub input carries one synthetic email, phone and id per document.
    */
  def kernels(docs: IndexedSeq[String], reps: Int): Map[String, ProbeResult] = {
    val utf = docs.map(UTF8String.fromString)
    val toks = docs.map(tokens)
    val shingles = toks.map(TextExpressions.shinglesCompute(_, 3))
    val prefixes = (0 until 8).map(i => UTF8String.fromString(s"$i:"))
    val pii = docs.indices.map(i => UTF8String.fromString(
      s"${docs(i)} contact user$i@mail.example.com +65 9${"%07d".format(i)} S${"%07d".format(i)}Z"))
    val kinds = Seq("[A-Za-z0-9.]+@[A-Za-z0-9.]+" -> "<EMAIL>", "\\+[0-9]{2} [0-9]{7,8}" -> "<PHONE>",
      "[STFG][0-9]{7}[A-Z]" -> "<ID>")
    val pattern = kinds.map(k => "(" + k._1 + ")").mkString("|")
    val tags = kinds.map(_._2).toArray
    Map(
      "shingles" -> time(toks, reps, 1.0)(TextExpressions.shinglesCompute(_, 3)),
      "minhash" -> time(shingles, reps, 1.0)(s => prefixes.map(TextExpressions.minhashCompute(s, _))),
      "winnow" -> time(utf, reps, 1.0)(TextExpressions.winnowFingerprintsCompute(_, 24, 8)),
      "char_entropy" -> time(utf, reps, 1.0)(TextExpressions.charEntropyCompute),
      "multi_scrub" -> time(pii, reps, 1.0)(TextExpressions.multiScrubCompute(_, pattern, tags)),
      "ngram_bucket" -> time(toks, reps, 1.0)(TextExpressions.ngramBucketMicrosCompute(_, 128)))
  }

  /** Codec probes: blobs built by each codec's `synth` (untimed), then
    * decoded by its public parser, in µs per blob.
    */
  def codecs(docs: IndexedSeq[String], blobs: Int, reps: Int): Map[String, ProbeResult] = {
    val src = docs.take(blobs).map(_.take(256))
    def probe(synth: String => Array[Byte])(parse: (Array[Byte], String) => Any) = {
      val in = src.map(s => (synth(s), s))
      time(in, reps, 1e3) { case (b, s) => parse(b, s) }
    }
    Map(
      "gif" -> probe(Gif.synth)((b, _) => Gif.parseSampled(b)),
      "png" -> probe(Png.synth)((b, _) => Png.parse(b)),
      "jpeg" -> probe(Jpeg.synth)((b, s) => Jpeg.parse(b, s)),
      "avi" -> probe(Avi.synth)((b, s) => Avi.parseSampled(b, s)),
      "rle" -> probe(Rle.synth)((b, _) => Rle.parseSampled(b)),
      "wav" -> probe(Wav.synth)((b, _) => Wav.parse(b)))
  }

  /** Direct `Tables.load` of every table; returns per-repetition ms. */
  def loads(spark: SparkSession, dir: String, reps: Int, tracer: Tracer): Seq[Double] =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      tracer.span("load", "tables") { Tables.all.foreach(t => Tables.load(spark, dir, t).schema) }
      (System.nanoTime() - t0) / 1e6
    }

  /** Dead letters when the serialized feed is parsed as a batch. */
  def deadLetters(spark: SparkSession, feed: Path): Long =
    CdcEnvelope.deadLetters(CdcEnvelope.parse(spark.read.text(feed.toString))).count()
}
