package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed TRAINING for the hashed-feature linear quality
  * classifier (§2.11 extensions): full-batch gradient descent on a
  * logistic-style objective over hashed bag-of-words features — the
  * trainer that makes the fastText-style score → funnel pipeline
  * ([[HashedClassifier]], [[QualityFilter]]) end-to-end (Joulin et al.
  * 2017, "Bag of Tricks for Efficient Text Classification").
  *
  * EXACT-ARITHMETIC quantization: weights, margins, and gradients are
  * 64-bit integers in micro-units (1e6 = probability 1), and the link
  * function is the HARD sigmoid σ̂(z) = clamp(z/4 + 1/2, 0, 1) — the
  * piecewise-linear logistic surrogate (Courbariaux et al. 2016 use the
  * same form for quantized training). Every update is therefore
  * integer-exact and bit-identical across engines: a DuckDB oracle
  * replays the full training schedule round for round, which no
  * float sigmoid can promise (libm exp and float summation order both
  * diverge across engines). Floor division is spelled
  * (x − pmod(x, d)) / d: the remainder is subtracted first, so the
  * quotient is exact under BOTH truncating and flooring integer
  * division — engine-portable by construction.
  *
  * Scale shape: weight state between steps is CONFIG-BOUNDED
  * (`buckets` rows). Within [[DriverStateMaxBuckets]] it lives on the
  * driver and each gradient step is ONE Spark job: a doc-grain feature
  * relation (per doc: batch, label, bucket ids with their counts) is
  * built from `df` once, in one aggregation, and persisted as a typed
  * RDD; every step is one `RDD.aggregate` over it that returns a
  * `buckets`-long gradient, and the weight update runs on the driver
  * (the Spark MLlib shape for iterative learners: one aggregate per
  * iteration over a cached featurized relation). The kernel's
  * arithmetic is the SQL spelling's, value for value: `Math.*Exact`
  * where ANSI SQL fails on overflow, `fdiv` as
  * `((x - pmod(x, d)).toDouble / d).toLong` (SQL `/` on BIGINT is
  * double division), and the SQL null rules (see [[gradientStep]]).
  * Past the bound the weights stay a `localCheckpoint`ed DataFrame and
  * each step is a SQL plan over a persisted (doc, bucket) COO relation
  * — the reference TrainSpec pins the kernel against, row for row.
  *
  * Learning rate = 1/(lrFactor × n_docs) in micro-units — the integer
  * grid schedule. Deterministic by construction: full-batch (no
  * sampling, no example order), integer arithmetic (no FP drift).
  */
object LinearTrainer {

  /** Micro-unit scale: 1e6 = probability 1. */
  val Scale = 1000000L

  /** The tokenizer every trainer and [[score]] share: lower-cased,
    * trimmed, whitespace-split, empty tokens dropped; null text has no
    * tokens.
    */
  private def tokens(textCol: String): Column =
    filter(split(lower(trim(coalesce(col(textCol), lit("")))), "\\s+"),
      t => t =!= lit(""))

  /** h60 bucket of a token: first 15 md5 hex digits as a 60-bit long,
    * mod `buckets` — the [[graft.functions.HashedLinearOps]] hash, in
    * its portable column spelling.
    */
  private def bucketOf(tok: Column, buckets: Int): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long") % buckets

  /** Mini-batch id: h60 of the salted id string, mod numBatches — the
    * same portable hash spelling as the feature buckets. Null for a
    * null id, which therefore joins no batch.
    */
  private def batchOf(id: Column, salt: String, numBatches: Int): Column =
    conv(substring(md5(concat(lit(salt), lit(":"), id.cast("string"))),
      1, 15), 16, 10).cast("long") % numBatches

  /** Exact floor division (see object doc). */
  private def fdiv(x: Column, d: Column): Column =
    ((x - pmod(x, d)) / d).cast("long")

  /** Hard sigmoid in micro-units: clamp(z/4 + Scale/2, 0, Scale). */
  private def hardSigmoid(z: Column): Column =
    least(greatest(fdiv(z, lit(4L)) + lit(Scale / 2), lit(0L)), lit(Scale))

  /** [[fdiv]] on the driver-state kernel's longs: ANSI `-`, Spark's
    * `pmod` (= `floorMod` for d > 0), double division, truncating cast.
    */
  private def fdivExact(x: Long, d: Long): Long =
    (Math.subtractExact(x, Math.floorMod(x, d)).toDouble / d).toLong

  /** [[hardSigmoid]] on the driver-state kernel's longs. */
  private def hardSigmoidExact(z: Long): Long =
    math.min(math.max(Math.addExact(fdivExact(z, 4L), Scale / 2), 0L), Scale)

  /** Weight-state dispatch bound: the weight table is `buckets` rows —
    * bounded by CONFIG, never by data — so for every realistic
    * hashed-linear configuration it is driver-bounded state. Within
    * these bounds the weights are an `Array[Long]` of at most 2^16
    * entries on the driver (and captured by each step's tasks), the
    * trajectory accumulates on the driver, and each gradient step is
    * one Spark job (see [[gradientStep]]); driver and task memory are
    * bounded by these two caps. Configs past them (weights or
    * trajectory too big to hold on the driver) keep the
    * localCheckpoint-chained DataFrame path.
    */
  private val DriverStateMaxBuckets = 1 << 16
  private val DriverStateMaxTrajectory = 1L << 22

  /** One document of the driver-state feature relation: its batch (-1
    * when its id joins no batch), how many input rows carry its id, its
    * label (null when no token-bearing row has one), and its distinct
    * buckets with their token counts.
    */
  private final case class Doc(batch: Int, rows: Long, label: java.lang.Long,
      buckets: Array[Int], counts: Array[Long])

  /** The doc-grain feature relation, from `df` in ONE aggregation at
    * doc grain: the label is the max over the doc's token-bearing rows
    * (the rows the COO relation keeps), `rows` counts every input row
    * (the learning-rate denominators), and each doc's token buckets
    * are counted into parallel (bucket, count) arrays. Not persisted.
    */
  private def docRelation(df: DataFrame, textCol: String, idCol: String,
      labelCol: Column, buckets: Int, batch: Column => Column): RDD[Doc] =
    df.select(col(idCol).as("__id"), labelCol.cast("long").as("__y0"),
        transform(tokens(textCol), t => bucketOf(t, buckets)).as("__bs"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("__n"),
        max(when(size(col("__bs")) > 0, col("__y0"))).as("__y"),
        collect_list(col("__bs")).as("__bs"))
      .select(batch(col("__id")), col("__n"), col("__y"), col("__bs"))
      .rdd.map { r =>
        val bs = r.getSeq[scala.collection.Seq[Long]](3).iterator.flatten
          .map(_.toInt).toArray
        java.util.Arrays.sort(bs)
        val ids = Array.newBuilder[Int]
        val counts = Array.newBuilder[Long]
        var i = 0
        while (i < bs.length) {
          var j = i + 1
          while (j < bs.length && bs(j) == bs(i)) j += 1
          ids += bs(i); counts += (j - i).toLong
          i = j
        }
        Doc(if (r.isNullAt(0)) -1 else r.getLong(0).toInt, r.getLong(1),
          if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)),
          ids.result(), counts.result())
      }

  /** ONE gradient step of the driver-state kernel: one `RDD.aggregate`
    * over the docs of `batch` — one job, one stage, no exchange. Given
    * the weights `w` (`wNull(b)` = the weight is null), returns the
    * `buckets`-long gradient Σ r·x and, per bucket, whether any term
    * of that sum is non-null. SQL semantics: a weight-term x·w with a
    * null weight drops from the doc's margin; a doc whose margin has no
    * non-null term, or whose label is null, has a null residual and
    * contributes nothing.
    */
  private def gradientStep(docs: RDD[Doc], batch: Int, w: Array[Long],
      wNull: Array[Boolean]): (Array[Long], Array[Boolean]) = {
    val buckets = w.length
    docs.aggregate((new Array[Long](buckets), new Array[Boolean](buckets)))(
      { case (acc @ (g, has), d) =>
        if (d.batch == batch) {
          var z = 0L
          var zSet = false
          var i = 0
          while (i < d.buckets.length) {
            val b = d.buckets(i)
            if (!wNull(b)) {
              z = Math.addExact(z, Math.multiplyExact(d.counts(i), w(b)))
              zSet = true
            }
            i += 1
          }
          if (zSet) {
            val s = hardSigmoidExact(z)
            if (d.label != null) {
              val r = Math.subtractExact(s, Math.multiplyExact(d.label.longValue, Scale))
              i = 0
              while (i < d.buckets.length) {
                val b = d.buckets(i)
                g(b) = Math.addExact(g(b), Math.multiplyExact(r, d.counts(i)))
                has(b) = true
                i += 1
              }
            }
          }
        }
        acc
      },
      { case (acc @ (g, has), (g2, has2)) =>
        var b = 0
        while (b < buckets) {
          g(b) = Math.addExact(g(b), g2(b))
          has(b) |= has2(b)
          b += 1
        }
        acc
      })
  }

  /** The driver-state path of both trainers: builds the doc relation,
    * finds the occupied buckets and the per-batch row counts in one
    * `aggregate`, then runs `epochs × numBatches` [[gradientStep]]s,
    * one job each, and updates the weights on the driver. `miniBatch`
    * picks the update's SQL spelling: the mini-batch LEFT join carries
    * a bucket with no non-null gradient term unchanged; the full-batch
    * inner join sets its weight to null. A null weight stays null.
    * Returns the trajectory as a local relation, `(epoch, [batch,]
    * bucket, weight)` in key order, the order the loop adds them; the
    * doc relation is unpersisted before return.
    */
  private def trainOnDriver(df: DataFrame, textCol: String, idCol: String,
      labelCol: Column, buckets: Int, epochs: Int, numBatches: Int,
      lrFactor: Long, batch: Column => Column, miniBatch: Boolean): DataFrame = {
    val docs = docRelation(df, textCol, idCol, labelCol, buckets, batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (occupied, batchRows) = docs.aggregate(
          (new Array[Boolean](buckets), new Array[Long](numBatches)))(
        { case (acc @ (occ, n), d) =>
          d.buckets.foreach(occ(_) = true)
          if (d.batch >= 0) n(d.batch) += d.rows
          acc
        },
        { case (acc @ (occ, n), (occ2, n2)) =>
          for (b <- occ.indices) occ(b) |= occ2(b)
          for (k <- n.indices) n(k) += n2(k)
          acc
        })
      val occ = (0 until buckets).filter(occupied(_))
      val w = new Array[Long](buckets)
      val wNull = new Array[Boolean](buckets)
      val rows = new java.util.ArrayList[Row]()
      for (e <- 1 to epochs; b <- 0 until numBatches) {
        val lrd = math.max(1L, lrFactor * batchRows(b))
        val (g, has) = gradientStep(docs, b, w, wNull)
        occ.foreach { k =>
          if (!miniBatch && !has(k)) wNull(k) = true
          else if (!wNull(k))
            w(k) = Math.subtractExact(w(k), fdivExact(if (has(k)) g(k) else 0L, lrd))
          val wt = if (wNull(k)) null else java.lang.Long.valueOf(w(k))
          rows.add(if (miniBatch) Row(e.toLong, b.toLong, k.toLong, wt)
            else Row(e.toLong, k.toLong, wt))
        }
      }
      val keys = if (miniBatch) Seq("epoch", "batch", "bucket") else Seq("epoch", "bucket")
      val schema = StructType(keys.map(StructField(_, LongType, nullable = false)) :+
        StructField("weight", LongType, nullable = true))
      df.sparkSession.createDataFrame(rows, schema)
    } finally docs.unpersist(blocking = false)
  }

  /** Train `epochs` full-batch rounds; returns the weight trajectory
    * (epoch, bucket, weight) — one row per epoch per feature bucket
    * that occurs in the corpus, epoch 1..epochs, all BIGINT. The
    * initial weights are zero; labelCol must be 0/1.
    */
  def train(
      df: DataFrame,
      textCol: String,
      idCol: String,
      labelCol: Column,
      buckets: Int = 64,
      epochs: Int = 3,
      lrFactor: Long = 16L): DataFrame =
    trainImpl(df, textCol, idCol, labelCol, buckets, epochs, lrFactor,
      driverState = buckets <= DriverStateMaxBuckets &&
        epochs.toLong * buckets <= DriverStateMaxTrajectory)

  private[graft] def trainImpl(
      df: DataFrame,
      textCol: String,
      idCol: String,
      labelCol: Column,
      buckets: Int,
      epochs: Int,
      lrFactor: Long,
      driverState: Boolean): DataFrame = {
    require(epochs >= 1 && buckets >= 1 && lrFactor >= 1,
      s"bad config: epochs=$epochs buckets=$buckets lrFactor=$lrFactor")
    if (driverState)
      return trainOnDriver(df, textCol, idCol, labelCol, buckets, epochs,
        numBatches = 1, lrFactor, batch = _ => lit(0L), miniBatch = false)
    // (doc, bucket, count, label): the feature matrix in COO form with
    // the LABEL fused on as a rider column (constant per doc), one
    // corpus scan, reused by every epoch. Fusing the label means each
    // epoch's residual computes inside the margin aggregation itself —
    // one shuffle — instead of a separate doc-grain z ⋈ label join per
    // epoch (guide §2.4: two operations keyed the same way share one
    // exchange). Docs with no tokens have no COO rows and contribute no
    // gradient either way, so the fused spelling is value-identical.
    // Persisted PARTITIONED BY DOC ID: every epoch's margin aggregation
    // requires doc-grain clustering, and a cached relation advertises
    // its partitioning — one compact repartition at build time replaces
    // an exchange of the full COO relation in EVERY epoch (guide §2.4:
    // establish the partitioning once, let each keyed consumer reuse
    // it).
    val tok = graft.core.Caches.persistTracked(
      df.select(col(idCol).as("__id"), labelCol.cast("long").as("__y0"),
          explode(tokens(textCol)).as("__tok"))
        .select(col("__id"), col("__y0"), bucketOf(col("__tok"), buckets).as("__b"))
        .groupBy(col("__id"), col("__b"))
        .agg(count(lit(1)).as("__x"), max(col("__y0")).as("__y"))
        .repartition(col("__id")))
    // Integer-grid learning rate 1/(lrFactor*n). parquetRowCount-style
    // metadata isn't available for an arbitrary frame, and one count
    // job up front is the documented price of a deterministic
    // denominator; max(1,_) keeps the empty corpus well-defined.
    val lrd = lit(math.max(1L, lrFactor * df.count()))

    var w = tok.select(col("__b")).distinct()
      .select(col("__b"), lit(0L).as("__wt"))
      .localCheckpoint()
    var out: DataFrame = null
    for (e <- 1 to epochs) {
      val resid = tok.join(broadcast(w), Seq("__b"))
        .groupBy(col("__id"))
        .agg(sum(col("__x") * col("__wt")).as("__z"), max(col("__y")).as("__yy"))
        .select(col("__id"),
          (hardSigmoid(col("__z")) - col("__yy") * lit(Scale)).as("__r"))
      // Null-safe: a null id is one doc, as in the margin groupBy.
      val grad = tok.join(resid.withColumnRenamed("__id", "__rid"),
          col("__id") <=> col("__rid"))
        .groupBy(col("__b"))
        .agg(sum(col("__r") * col("__x")).as("__g"))
      w = w.join(grad, Seq("__b"))
        .select(col("__b"), (col("__wt") - fdiv(col("__g"), lrd)).as("__wt"))
        .localCheckpoint()
      val epochW = w.select(lit(e.toLong).as("epoch"),
        col("__b").as("bucket"), col("__wt").as("weight"))
      out = if (out == null) epochW else out.unionByName(epochW)
    }
    out.orderBy(col("epoch"), col("bucket"))
  }

  /** Deterministic MINI-BATCH SGD variant of [[train]]: each epoch is
    * `numBatches` sequential gradient steps, batch membership = an md5
    * hash bucket of the document id (the q75 hash-order discipline —
    * no sampling, no example order, engine-replayable), arithmetic
    * identical to the full-batch path (integer micro-units, hard
    * sigmoid, pmod floor division). Learning rate per step =
    * 1/(lrFactor × batch doc count), so `numBatches = 1` reduces
    * EXACTLY to [[train]] (pinned in TrainSpec).
    *
    * Returns the step trajectory (epoch, batch, bucket, weight) — one
    * weight-table snapshot per gradient step, all BIGINT, so a DuckDB
    * oracle replays the full epochs × batches schedule bit for bit.
    *
    * Scale shape: same as [[train]] — the feature relation carries
    * each doc's batch id, and each step reads only its batch's docs:
    * one Spark job per step within the driver-state bound. The weight
    * update is a LEFT join: a bucket with no gradient in a batch keeps
    * its weight.
    */
  def trainMiniBatch(
      df: DataFrame,
      textCol: String,
      idCol: String,
      labelCol: Column,
      buckets: Int = 64,
      epochs: Int = 3,
      numBatches: Int = 4,
      lrFactor: Long = 16L,
      salt: String = "mb1"): DataFrame =
    trainMiniBatchImpl(df, textCol, idCol, labelCol, buckets, epochs,
      numBatches, lrFactor, salt,
      driverState = buckets <= DriverStateMaxBuckets &&
        epochs.toLong * numBatches * buckets <= DriverStateMaxTrajectory)

  private[graft] def trainMiniBatchImpl(
      df: DataFrame,
      textCol: String,
      idCol: String,
      labelCol: Column,
      buckets: Int,
      epochs: Int,
      numBatches: Int,
      lrFactor: Long,
      salt: String,
      driverState: Boolean): DataFrame = {
    require(epochs >= 1 && buckets >= 1 && numBatches >= 1 && lrFactor >= 1,
      s"bad config: epochs=$epochs buckets=$buckets " +
        s"numBatches=$numBatches lrFactor=$lrFactor")
    if (driverState)
      return trainOnDriver(df, textCol, idCol, labelCol, buckets, epochs,
        numBatches, lrFactor, batch = batchOf(_, salt, numBatches),
        miniBatch = true)
    // Label fused onto the COO relation as in [[train]] — each step's
    // residual computes inside its margin aggregation, no per-step
    // z ⋈ label join. The per-batch doc counts below count ALL docs,
    // token-less included — the lrd denominator.
    val tok = graft.core.Caches.persistTracked(
      df.select(col(idCol).as("__id"), labelCol.cast("long").as("__y0"),
          explode(tokens(textCol)).as("__tok"))
        .select(col("__id"), col("__y0"), bucketOf(col("__tok"), buckets).as("__b"))
        .groupBy(col("__id"), col("__b"))
        .agg(count(lit(1)).as("__x"), max(col("__y0")).as("__y"))
        .withColumn("__mb", batchOf(col("__id"), salt, numBatches))
        // Doc-grain partitioning established ONCE at build — each of
        // the epochs x numBatches step aggregations reuses it instead
        // of re-exchanging its batch slice (guide §2.4).
        .repartition(col("__id")))
    // numBatches rows — bounded by construction. A null id joins no
    // batch, so its rows count toward none.
    val batchN = df.select(batchOf(col(idCol), salt, numBatches).as("__mb"))
      .where(col("__mb").isNotNull)
      .groupBy(col("__mb")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    var w = tok.select(col("__b")).distinct()
      .select(col("__b"), lit(0L).as("__wt"))
      .localCheckpoint()
    var out: DataFrame = null
    for (e <- 1 to epochs; b <- 0 until numBatches) {
      val lrd = lit(math.max(1L, lrFactor * batchN.getOrElse(b.toLong, 0L)))
      val btok = tok.where(col("__mb") === b)
      val resid = btok.join(broadcast(w), Seq("__b"))
        .groupBy(col("__id"))
        .agg(sum(col("__x") * col("__wt")).as("__z"), max(col("__y")).as("__yy"))
        .select(col("__id"),
          (hardSigmoid(col("__z")) - col("__yy") * lit(Scale)).as("__r"))
      val grad = btok.join(resid, Seq("__id"))
        .groupBy(col("__b"))
        .agg(sum(col("__r") * col("__x")).as("__g"))
      w = w.join(grad, Seq("__b"), "left")
        .select(col("__b"), (col("__wt") -
          fdiv(coalesce(col("__g"), lit(0L)), lrd)).as("__wt"))
        .localCheckpoint()
      val snap = w.select(lit(e.toLong).as("epoch"), lit(b.toLong).as("batch"),
        col("__b").as("bucket"), col("__wt").as("weight"))
      out = if (out == null) snap else out.unionByName(snap)
    }
    out.orderBy(col("epoch"), col("batch"), col("bucket"))
  }

  /** Score texts with a trained weight table (the FINAL epoch of
    * [[train]]'s output, or any (bucket, weight) relation): the
    * hard-sigmoid probability in micro-units, via a broadcast
    * dictionary join at token grain. Composes with
    * [[QualityFilter]]-style funnels: train → score → threshold.
    */
  def score(
      df: DataFrame,
      textCol: String,
      idCol: String,
      weights: DataFrame,
      buckets: Int = 64): DataFrame = {
    val tok = df.select(col(idCol).as("__id"), explode(tokens(textCol)).as("__tok"))
      .select(col("__id"), bucketOf(col("__tok"), buckets).as("bucket"))
    val z = tok.join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col("__id"))
      .agg(sum(coalesce(col("weight"), lit(0L))).as("__z"))
    df.select(col(idCol).as("__id"))
      .join(z, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        hardSigmoid(coalesce(col("__z"), lit(0L))).as("score_micro"))
  }
}
