package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet type-spelling robustness (the round-5 lesson: the driver
  * regenerates testdata between rounds and has already shipped the
  * same instants/values as TIMESTAMP(NANOS), tz-aware micros, AND
  * tz-naive micros — each spelling breaking a different engine path).
  *
  * This suite rewrites sf0.001 with alternate but VALUE-PRESERVING
  * schema spellings the driver could plausibly ship next:
  *   - documents: doc_id/n_chars as INT32
  *   - embeddings: vec_id INT32, label INT64, embedding as DOUBLE[]
  *     (float->double widening is exact per element)
  *   - events: event_id/user_id INT32, ts as TIMESTAMP_NTZ
  * and asserts a representative query per table family returns the
  * IDENTICAL result on both spellings (after canonicalizing output
  * dtypes, which legitimately follow the input widths).
  */
class RespellSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"
  private lazy val dir: String = {
    val d = tempDir("graft-respell")
    val s = spark
    // documents: narrow the integer columns
    s.read.parquet(s"$src/documents.parquet")
      .withColumn("doc_id", col("doc_id").cast(IntegerType))
      .withColumn("n_chars", col("n_chars").cast(IntegerType))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // embeddings: widen the vector, flip both int widths
    s.read.parquet(s"$src/embeddings.parquet")
      .withColumn("vec_id", col("vec_id").cast(IntegerType))
      .withColumn("label", col("label").cast(LongType))
      .withColumn("embedding", col("embedding").cast(ArrayType(DoubleType)))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    // events: tz-naive timestamps (same UTC instants), narrow ids
    graft.core.Tables.events(s, src)
      .withColumn("event_id", col("event_id").cast(IntegerType))
      .withColumn("user_id", col("user_id").cast(IntegerType))
      .withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    // remaining tables byte-identical
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem"))
      Files.copy(Paths.get(s"$src/$t.parquet"), Paths.get(s"$d/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    d
  }

  /** Render a result with canonical value spellings: ints widened to
    * long, floats to double, then everything to its string form —
    * equal VALUES must render equally whatever width they rode in on.
    */
  private def canon(df: DataFrame): Seq[String] = {
    val widened = df.schema.fields.map { f =>
      val c = f.dataType match {
        case ByteType | ShortType | IntegerType => col(f.name).cast(LongType)
        case FloatType => col(f.name).cast(DoubleType)
        case ArrayType(FloatType, n) =>
          col(f.name).cast(ArrayType(DoubleType, n))
        case _ => col(f.name)
      }
      c.as(f.name)
    }
    df.select(widened.toIndexedSeq: _*).collect()
      .map(_.toString).sorted.toSeq
  }

  // One query per family touching each respelled table: sampling +
  // profile + weighted draw (documents), cosine top-k + quantization
  // grid (embeddings), interval join + decay ladder + outliers
  // (events, exercising unix_micros and interval arithmetic on the
  // NTZ-respelled column).
  private val queries = Seq(
    "q96_stratified_sample", "q109_column_profile", "q110_weighted_sample",
    "q28_cosine_topk", "q89_embedding_quantization", "q116_jl_projection",
    "q97_interval_join", "q108_decayed_score", "q112_zscore_outliers",
    "q117_snapshot_diff", "q118_retrieval_metrics",
    "q119_semantic_decontamination", "q120_tfidf_keywords",
    // session-4 family: NTZ window ordering (q126), NTZ + double
    // percentile grid (q129), int32 doc ids through the native hash
    // expression / window cumsum / bottom-k draw (q127/q128/q130)
    "q126_markov_transitions", "q129_quantile_sketch",
    "q127_hashed_classifier", "q128_token_budget", "q130_bottomk_sample",
    // session-5 family: double[] embeddings through the drift grid
    // (q135), events value grid through doubled medians (q136)
    "q135_centroid_drift", "q136_mad_outliers")

  for (q <- queries)
    test(s"$q is invariant under the respelled parquet schema") {
      val expect = canon(SparkEntry.queries(q)(spark, src))
      val got = canon(SparkEntry.queries(q)(spark, dir))
      assert(got == expect,
        s"$q differs under respelled input: got ${got.take(3)}... expected ${expect.take(3)}...")
      graft.core.Caches.releaseAll()
    }
}
