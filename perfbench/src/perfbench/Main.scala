package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload. A pass is the workload's fixed unit of work and
  * returns the latency of each operation in it, in seconds.
  */
trait Workload {
  /** Generate the workload's inputs. */
  def setup(): Unit
  def warmup(): Unit = ()
  def describe: String
  def pass(k: Int, traced: Boolean): Seq[Double]
  /** About how long one pass takes; a run makes round(seconds / this)
    * passes, at least one, so the pass count does not depend on speed.
    */
  def nominalPassSeconds: Double
  /** The untraced work a traced run compares against; its figures feed the
    * workload's headline metrics in the traced run.
    */
  def baselinePass(): Unit = pass(0, traced = false)
  /** Untraced time of the work the traced pass (pass 0) repeats, run
    * equally warm.
    */
  def comparisonPass(): Double = pass(0, traced = false).sum
  def opLatenciesMs: Seq[Double]
  /** The workload's own headline figures, from the untraced passes. */
  def summary: Seq[Metric]
  def sampleCounts: Map[String, Int]
  def resetSamples(): Unit = ()
  def beforeTracedPass(): Unit = ()
  def layerMetrics(tr: Tracer): Seq[Metric]
  /** The span names whose time `layerMetrics` reports. */
  def layerSpans: Set[String]
  /** Lines the run prints before its result (e.g. unchecked outputs). */
  def notes: Seq[String] = Nil
  /** Extra per-operation detail for the run's detail file. */
  def details: Map[String, Any] = Map.empty
}

object FsDirs {
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}

object Main {
  def session(opts: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, spark: SparkSession, opts: Opts, ins: Instruments, checks: Checks): Workload =
    name match {
      case "rag_pipeline" => new PipelineWorkload(spark, opts, ins, checks)
      case "operator_suite" => new OpsWorkload(spark, opts, ins, checks)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(args: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val opts = Opts.parse(args)
    val code = opts.mode match {
      case "run" => run(opts, entered)
      case "selftest" => SelfTest.run(opts)
      case "pin" => Pin.run(opts)
      case other => System.err.println(s"unknown mode $other"); 2
    }
    System.exit(code)
  }

  private def emit(line: String): Unit = { println(line); System.out.flush() }

  def run(opts: Opts, entered: Long): Int = {
    val jvmS = math.max(0L, entered - opts.launchedMs) / 1000.0
    val (spark, sessionS) = Clock.timed(session(opts))
    val checks = new Checks
    val ins = new Instruments(spark, opts.trace)
    val w = workload(opts.workload, spark, opts, ins, checks)
    val (_, inputS) = Clock.timed(w.setup())
    val (_, warmS) = Clock.timed(w.warmup())
    val setupS = jvmS + sessionS + inputS + warmS
    emit(s"# ${w.describe}; local[${opts.cores}], seed ${opts.seed}")
    emit(f"# setup: jvm $jvmS%.2f s, session $sessionS%.2f s, inputs $inputS%.2f s, warm-up $warmS%.2f s")

    val metrics = mutable.LinkedHashMap.empty[String, Metric]
    def put(m: Metric): Unit = metrics(m.name) = m
    val t0 = Clock.now()
    if (!opts.trace) {
      val n = math.max(1, math.round(opts.seconds / w.nominalPassSeconds).toInt)
      val passes = (0 until n).map(k => w.pass(k, traced = false).sum)
      put(Metric("setup_s", setupS, "s"))
      put(Metric("pass_s", Stats.median(passes.toSeq), "s"))
      val counts = w.sampleCounts
      emit(s"# end-to-end, ${passes.size} passes in ${"%.1f".format(Clock.secs(t0))} s " +
        s"(${w.opLatenciesMs.size} operations):")
      val opP50 = Metric("op_p50_ms", Stats.median(w.opLatenciesMs), "ms")
      (metrics.values ++ Seq(opP50) ++ w.summary).foreach { m =>
        val n = m.name match {
          case "setup_s" => "one set-up"
          case "pass_s" => s"median of ${passes.size} passes"
          case "op_p50_ms" => s"median of ${w.opLatenciesMs.size} operations; not an end-to-end metric"
          case other => s"n=${counts.getOrElse(other, 0)}" +
            counts.get(s"$other.beyond").map(b => s", $b beyond").getOrElse("")
        }
        emit(f"#   ${m.name}%-28s ${m.value}%12.4f ${m.unit}%-5s ($n)")
      }
    } else {
      // Untraced pass first: it gives the workload's figures and the base
      // for the tracing overhead.
      w.baselinePass()
      w.summary.foreach(put)
      val untraced = w.comparisonPass()
      w.resetSamples()
      w.beforeTracedPass()
      ins.attribution.drain()
      ins.attribution.resetTotal()
      Jvm.resetPeaks()
      val tp0 = Clock.now()
      val traced = w.pass(0, traced = true).sum
      val tracedWall = Clock.secs(tp0)
      ins.attribution.drain()
      val t = ins.attribution.total
      val pre = s"spark.${opts.workload}"
      Seq(
        Metric(s"$pre.jobs", t.jobs.toDouble, "count"), Metric(s"$pre.stages", t.stages.toDouble, "count"),
        Metric(s"$pre.tasks", t.tasks.toDouble, "count"), Metric(s"$pre.task_run_s", t.runMs / 1000.0, "s"),
        Metric(s"$pre.sched_wait_s", t.schedWaitMs / 1000.0, "s"), Metric(s"$pre.gc_s", t.gcMs / 1000.0, "s"),
        Metric(s"$pre.shuffle_read_bytes", t.shuffleRead.toDouble, "bytes"),
        Metric(s"$pre.shuffle_write_bytes", t.shuffleWrite.toDouble, "bytes"),
        Metric(s"$pre.spill_bytes", t.spill.toDouble, "bytes"),
        Metric(s"$pre.result_bytes", t.resultBytes.toDouble, "bytes")).foreach(put)
      put(Metric("jvm.heap_peak_mb", Jvm.heapPeakMb(), "MiB"))
      w.layerMetrics(ins.tracer).foreach(put)
      put(Metric("trace.overhead_s", traced - untraced, "s"))
      put(Metric("trace.unattributed_s", ins.tracer.unattributedNs(w.layerSpans) / 1e9, "s"))
      put(Metric("trace.pass_s", tracedWall, "s"))
      val spansPath = s"${opts.out}/spans_${opts.workload}_seed${opts.seed}.jsonl"
      ins.tracer.write(spansPath, ins.attribution)
      emit(f"# traced pass $traced%.3f s vs untraced $untraced%.3f s; ${ins.tracer.spans.size} spans -> $spansPath")
    }
    put(Metric("fail_ratio", checks.failed.toDouble / math.max(1L, checks.attempted), "ratio"))
    w.notes.foreach(n => emit(s"# $n"))
    emit(s"# checks: ${checks.attempted} operations, ${checks.failed} failed")
    checks.failures.take(20).foreach(f => emit(s"# FAILED $f"))
    val detail = s"${opts.out}/result_${opts.workload}_seed${opts.seed}_trace${if (opts.trace) 1 else 0}.json"
    val ms = metrics.values.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(detail), Json.value(mutable.LinkedHashMap(
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace, "cores" -> opts.cores,
      "metrics" -> ms, "samples" -> w.sampleCounts,
      "headline" -> w.summary.map(m => m.name -> m.value).toMap, "details" -> w.details, "failures" -> checks.failures.toSeq)))
    ins.close()
    spark.stop()
    emit(Json.value(mutable.LinkedHashMap(
      "correct" -> checks.correct, "attempted" -> checks.attempted, "failed" -> checks.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.values.toSeq.map(m =>
        m.name -> mutable.LinkedHashMap("value" -> m.value, "unit" -> m.unit)): _*))))
    0
  }
}
