package perfbench

import org.apache.spark.sql.SparkSession

/** `rag_pipeline` workload: the paper's chain end to end. Each pass runs
  * the ingest chain fresh -> incremental -> resume into a new directory
  * (the reference CLI's `1>4>5`: fetch, chunk, clean, embed, store), then
  * one closed-loop client asks questions over the store it just wrote.
  * The phases are batch jobs; the questions are the workload's operations.
  */
class PipelineWorkload(spark: SparkSession, opts: Opts, ins: Instruments, checks: Checks)
    extends Workload {
  import PipelineWorkload._
  val spec = CorpusSpec(opts.seed, nBase = Videos, nNew = NewVideos, chunksPerVideo = ChunksPerVideo)
  private val ctrs = new ExternalCounters(spark.sparkContext)
  private val ingest = new IngestPart(spark, spec, ctrs, checks)
  private val rag = new RagPart(spark, spec, ins, checks)
  private var lastPass = 0.0

  /** Generate the catalog; the raw corpus is produced by the timed fetch
    * stage and the question list by the generator.
    */
  override def setup(): Unit = {
    new IngestChain(spark, spec, ctrs, new Tracer(spark.sparkContext, false)).catalog(spec.nTotal).count()
    Questions.generate(spec.seed, RagPart.NQuestions)
  }

  /** One untimed pass of the whole chain over another seed's corpus of
    * the same size (ingest phases, then one question of each kind). A cold
    * pass is dominated by class loading and JIT compilation; the timed pass
    * runs warm.
    */
  override def warmup(): Unit = {
    val other = spec.copy(seed = opts.seed + 1)
    val chain = new IngestChain(spark, other, ctrs, new Tracer(spark.sparkContext, false))
    val root = s"${opts.work}/pipeline/warmup"
    IngestExpect.phases(other).foreach { e =>
      chain.extract(e.nCatalog, s"$root/raw")
      chain.pipeline(s"$root/raw", s"$root/out")
      StoreFacts.read(spark, s"$root/out/store")
    }
    rag.warmup(s"$root/out/store", opts.seed + 1)
    FsDirs.delete(root)
    ctrs.reset()
  }

  override def describe: String =
    s"rag_pipeline: ${spec.nBase} videos + ${spec.nNew} new, ~${spec.chunksPerVideo} chunks/video " +
      s"(${ingest.expect.last.storeRows} stored chunks); ${rag.describe}"

  override def pass(k: Int, traced: Boolean): Seq[Double] = pass(k, traced, 0)

  /** One pass; `extra` more questions are asked untimed-for-pass_s after the
    * pass's own, over the same store (the traced run's tail sample).
    */
  private def pass(k: Int, traced: Boolean, extra: Int): Seq[Double] = {
    val root = s"${opts.work}/pipeline/p$k"
    val tracer = if (traced) ins.tracer else new Tracer(spark.sparkContext, false)
    val phases = ingest.run(root, tracer, s"p$k")
    rag.open(s"$root/out/store")
    val questions = rag.ask(rag.passQuestions(k), traced)
    if (extra > 0) rag.ask(rag.questions.slice(RagPart.PassSize, RagPart.PassSize + extra), traced = false)
    FsDirs.delete(root)
    phases ++ questions
  }

  override def nominalPassSeconds: Double = 14.0

  /** The traced run's untraced pass also asks enough questions for a tail
    * percentile with 10 samples beyond it.
    */
  override def baselinePass(): Unit =
    lastPass = pass(0, traced = false, RagPart.TracedBaseline - RagPart.PassSize).sum

  override def comparisonPass(): Double = lastPass

  override def opLatenciesMs: Seq[Double] = rag.latenciesMs

  override def summary: Seq[Metric] = ingest.summary ++ rag.summary

  override def sampleCounts: Map[String, Int] = ingest.sampleCounts ++ rag.sampleCounts

  override def resetSamples(): Unit = { ingest.resetSamples(); rag.resetSamples() }

  override def beforeTracedPass(): Unit = ctrs.reset()

  override def details: Map[String, Any] = Map("phase_seconds" -> ingest.phaseSeconds)

  override def layerSpans: Set[String] = (IngestPart.TimedSpans ++ RagPart.TimedSpans).toSet

  override def layerMetrics(tr: Tracer): Seq[Metric] = {
    val questionSpans = tr.spans.filter(_.name == "rag.question").map(_.id).toSet
    val input = tr.spans.filter(s => questionSpans(s.id) || questionSpans(s.parent))
      .map(s => ins.attribution.bySpan(s.id).inputRecords).sum.toDouble
    ingest.layerMetrics(tr) ++ rag.layerMetrics(tr, input)
  }
}

object PipelineWorkload {
  val Videos = 40
  val NewVideos = 4
  val ChunksPerVideo = 10
}
