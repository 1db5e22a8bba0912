package graft

import org.apache.spark.sql.functions._

import Verify.jsonString

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE machine-readable JSON line.
  *
  * Work is materialized via `sum(xxhash64(all columns))` — a full-row hash
  * aggregate — so Catalyst cannot column-prune away the projected work the
  * query claims to measure (a bare `.count()` lets the optimizer delete
  * every unreferenced projection and the bench degenerates to scan timing).
  * Failures are reported in an `errors` map, never as timings.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    // Warm the session so the first measured query is not charged JVM /
    // codegen / parquet-footer startup: run a small query through the
    // same shapes the suite uses (scan -> broadcast join -> decimal agg
    // -> xor materialization).
    {
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      val w = n.join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_regionkey"))
        .agg(sum(col("n_nationkey").cast("decimal(20,4)")).cast("double").as("s"))
      w.select(xxhash64(w.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(bit_xor(col("h"))).collect()
    }

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.suite().foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        // Full-row materialization: every output column feeds the hash;
        // bit_xor aggregation cannot overflow under ANSI mode.
        df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
          .agg(bit_xor(col("h"))).collect()
        timings(name) = (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      } finally {
        // Operators persist mid-plan relations (banded LSH, IVF
        // centroids); release them so the loop's block-manager footprint
        // stays flat across 60+ queries. SESSION-SHARED relations (the
        // support-pair discovery) deliberately survive — their reuse
        // across consumers is part of what the suite measures.
        graft.core.Caches.releaseAll()
        // Collect BETWEEN queries (outside every timed region): a heavy
        // query's allocation debt otherwise lands as a major GC inside
        // some later small query's timed region (measured: q16, a 0.5 s
        // map-only cleaner, read 9.3 s in a burst-free suite run right
        // after the q167/q168/q169 index+BPE block), and Spark's
        // ContextCleaner only reclaims dropped shuffle files/broadcasts
        // when their handles are collected — without this a ~200-query
        // session accumulates them until an arbitrary mid-query GC.
        // Query computation is untouched; this only stops cross-query
        // cost attribution bleed.
        System.gc()
      }
    }
    graft.core.Caches.releaseShared()

    // Locale.ROOT: the default-locale f-interpolator renders a comma
    // decimal separator on e.g. de_DE JVMs, breaking the JSON.
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v: java.lang.Double)
    val qs = timings.map { case (k, v) => s"${jsonString(k)}:${r3(v)}" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" }.mkString("{", ",", "}")
    val total = timings.values.sum

    // ---- burst / host-factor protocol (round 13) ----------------------
    // Suite totals on this host are un-interpretable without context:
    // identical-code runs spread 1.56x in one afternoon, and a roaming
    // co-tenant inflates CONTIGUOUS alphabetical stretches 2-60x while
    // the VM's own loadavg reads idle (round-12 evidence, FLOORS.json).
    // So every run self-describes: per-query ratios against the last
    // committed snapshot yield (a) a HOST FACTOR from the designated
    // unchanged-code control rows (q175/q150 — median ratio; falls back
    // to the overall median when controls are absent), and (b) a BURST
    // list — maximal contiguous stretches of >= 3 queries at ratio >= 2
    // (and >= 0.2 s absolute, so sub-second noise can't qualify) while
    // the median OUTSIDE the stretch stays <= 1.5; such a run is no
    // snapshot candidate. Reference: BENCH_LOCAL.json (the committed
    // sf0.1 snapshot, read only) for sf0.1 runs, or
    // SPARK_GRAFT_BENCH_REF for scale snapshots.
    val refPath = sys.env.get("SPARK_GRAFT_BENCH_REF").getOrElse(
      if (sfDir.endsWith("sf0.1")) "BENCH_LOCAL.json" else "")
    val refQueries: Map[String, Double] =
      if (refPath.nonEmpty &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(refPath))) {
        try {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val root = om.readTree(
            java.nio.file.Files.readString(java.nio.file.Paths.get(refPath)))
          val q = root.get("queries")
          if (q == null) Map.empty[String, Double] else {
            val it = q.fields()
            val b = Map.newBuilder[String, Double]
            while (it.hasNext) {
              val e = it.next(); b += e.getKey -> e.getValue.asDouble()
            }
            b.result()
          }
        } catch { case _: Throwable => Map.empty[String, Double] }
      } else Map.empty[String, Double]
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 1.0
      else {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
    // (name, ratio, absolute growth) for queries present in both runs;
    // timings is alphabetical by construction.
    val ratios = timings.toSeq.flatMap { case (n, t) =>
      refQueries.get(n).filter(_ > 0.0).map(r => (n, t / r, t - r))
    }
    val controls = Seq("q150_incremental_families", "q175_contrastive_ann_adc")
    val ctrl = ratios.filter(p => controls.contains(p._1)).map(_._2)
    val hostFactor = if (ctrl.nonEmpty) median(ctrl)
      else median(ratios.map(_._2))
    val burst = scala.collection.mutable.ArrayBuffer.empty[String]
    locally {
      val arr = ratios.toArray
      def hot(i: Int): Boolean = arr(i)._2 >= 2.0 && arr(i)._3 >= 0.2
      var i = 0
      while (i < arr.length) {
        if (hot(i)) {
          var j = i
          while (j + 1 < arr.length && hot(j + 1)) j += 1
          if (j - i + 1 >= 3) {
            val outside = arr.indices
              .filterNot(k => k >= i && k <= j).map(arr(_)._2)
            if (median(outside.toSeq) <= 1.5)
              burst ++= arr.slice(i, j + 1).map(_._1)
          }
          i = j + 1
        } else i += 1
      }
    }
    val burstJson = burst.map(jsonString).mkString("[", ",", "]")
    if (burst.nonEmpty)
      System.err.println(s"BENCH BURST detected (co-tenant signature): " +
        s"${burst.head}..${burst.last} at >=2x vs $refPath with median " +
        s"elsewhere ~${r3(median(ratios.map(_._2)))}; rerun before " +
        "taking this run as a snapshot")
    System.err.println(s"BENCH host_factor=${r3(hostFactor)} " +
      s"(controls ${controls.mkString(",")} vs $refPath)")

    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"errors":$es,"n_ok":${timings.size},"n_err":${errors.size},"host_factor":${r3(hostFactor)},"burst":$burstJson,"materialization":"bit_xor(xxhash64(*))","sf":${jsonString(sfDir)}}"""
    // One bare line on stdout (build.sbt routes forked stdout through
    // un-prefixed so the driver can json-parse it), plus a file copy.
    println(line)
    // TRUNCATION-PROOF per-query timings (round 14): the full line
    // above is ~10 KB at 192 queries and a log-tail capture that
    // truncates from the front decapitates it — round 13's per-query
    // comparison came back EMPTY because only the tail of the big line
    // survived. Re-emit the same queries map as small self-identified
    // chunk lines, each independently JSON-parseable with its own
    // {"queries": {...}} object, so ANY tail window still contains
    // complete (name, sec) pairs a comparator can merge; the short
    // summary stays LAST so the headline always parses.
    locally {
      val entries = timings.toSeq
      val perChunk = 6
      val nChunks = (entries.size + perChunk - 1) / perChunk
      entries.grouped(perChunk).zipWithIndex.foreach { case (chunk, i) =>
        val qj = chunk.map { case (k, v) => s"${jsonString(k)}:${r3(v)}" }
          .mkString("{", ",", "}")
        println(s"""{"metric":"queries_chunk","i":$i,"of":$nChunks,"queries":$qj}""")
      }
    }
    // The full line above can exceed a log-tail capture that truncates from
    // the front; emit a short self-contained summary LAST so the headline
    // metric always survives and parses.
    println(
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_ok":${timings.size},"n_err":${errors.size},"sf":${jsonString(sfDir)}}""")
    // BENCH_LAST.json always holds the most recent run (any SF) for
    // snapshot copying without stdout parsing; BENCH_LOCAL.json is
    // never written by a run.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LAST.json"), line)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
