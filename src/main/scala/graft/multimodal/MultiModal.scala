package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal columns for a training-data pipeline (builder brief):
  * image/audio/video travel as opaque `binary` columns with typed
  * metadata. The Spark-side plumbing — schemas, magic sniffing, batch
  * shape, frame/chunk fan-out — is real and codegen-friendly; the
  * actual media DECODE sits behind a Serializable trait (the containers
  * running this engine don't ship image/audio codecs), with a
  * deterministic fake for tests.
  *
  * Scale posture: sniffing/stats are builtin expressions over the first
  * bytes (no full-blob scan beyond what the scan already read); decode
  * runs in `mapPartitions` with bounded batches so peak memory is
  * `batch * max_asset_size` per task; frame sampling is a per-row
  * `explode(sequence)` — no shuffle anywhere.
  */

/** One media asset row: the opaque payload + typed metadata. */
case class MediaAsset(
    asset_id: Long,
    kind: String,          // "image" | "audio" | "video" | "unknown"
    payload: Array[Byte],
    duration_sec: Double)  // 0 for stills

/** Decoded-image features (what a real decoder would emit). */
case class ImageFeatures(
    asset_id: Long,
    width: Int,
    height: Int,
    channels: Int,
    mean_intensity: Double)

/** Decode boundary — a real deployment plugs libjpeg/ffmpeg etc. here. */
trait ImageDecoder extends Serializable {
  def decode(payload: Array[Byte]): (Int, Int, Int, Array[Float]) // w, h, c, pixels
}

/** Deterministic fake decoder: dimensions and pixel stats derived from
  * a hash of the payload — stable across executors, no codec deps.
  * The PLUMBING (batching, schema, partition behavior) is identical to
  * what a real decoder would see.
  */
/** Frame-grain decode boundary for video assets — a real deployment
  * plugs ffmpeg keyframe extraction here; the stub derives each frame
  * deterministically from (payload, frameIdx) with LOCALITY (nearby
  * frames of the same payload decode to similar images).
  */
trait VideoFrameDecoder extends Serializable {
  def decodeFrame(payload: Array[Byte], frameIdx: Long): (Int, Int, Int, Array[Float])
}

/** Codec-free stub frame decoder: frame i reads the payload bytes as a
  * `w` x `h` gray image starting at a per-frame byte offset (cyclic) —
  * identical payloads yield identical frame sequences, small payload
  * edits perturb few frames, different payloads diverge.
  */
class ByteGrayFrameDecoder(w: Int = 16, h: Int = 16, strideBytes: Int = 7)
    extends VideoFrameDecoder {
  require(w >= 1 && h >= 1 && strideBytes >= 1)
  override def decodeFrame(payload: Array[Byte], frameIdx: Long): (Int, Int, Int, Array[Float]) = {
    val g = new Array[Float](w * h)
    if (payload.nonEmpty) {
      val off = ((frameIdx * strideBytes) % payload.length).toInt
      var i = 0
      while (i < g.length) {
        g(i) = (payload((off + i) % payload.length) & 0xFF) / 255f
        i += 1
      }
    }
    (w, h, 1, g)
  }
}

/** Codec-free stub frame decoder with NATURAL-IMAGE-like statistics:
  * each frame's pixels derive from a hash chain over (payload, frame),
  * so distinct payloads yield decorrelated, high-entropy frames
  * (identical payloads still collide exactly — the clone-dedup signal
  * survives). Use this stub where frame DIVERSITY matters — e.g.
  * feeding perceptual-hash banding, whose cost contract assumes
  * near-uniform hash bits (see [[MultiModal.videoNearDuplicates]]);
  * [[ByteGrayFrameDecoder]]'s raw-byte images of TEXT payloads are the
  * degenerate opposite (low contrast, heavily repeated structure) and
  * make dense true-near-dup neighborhoods by construction.
  */
class HashGrayFrameDecoder(w: Int = 16, h: Int = 16) extends VideoFrameDecoder {
  require(w >= 1 && h >= 1)
  override def decodeFrame(payload: Array[Byte], frameIdx: Long): (Int, Int, Int, Array[Float]) = {
    val base = java.util.Arrays.hashCode(payload)
    val g = Array.tabulate(w * h) { i =>
      (math.abs(scala.util.hashing.MurmurHash3.productHash(
        (base, frameIdx, i))) % 256) / 255f
    }
    (w, h, 1, g)
  }
}

/** Codec-free decoder reading the payload's raw bytes as a `w` x `h`
  * grayscale image (row-major, truncate/zero-pad). Unlike
  * [[StubImageDecoder]]'s payload-hash fake (avalanche: any byte change
  * flips everything), this preserves LOCALITY — payloads differing in a
  * few bytes decode to images differing in a few pixels — so it
  * exercises the perceptual-hash property ([[MultiModal.dHash64]]
  * moving few bits under small edits) end to end without any codec.
  */
class ByteGrayDecoder(w: Int = 16, h: Int = 16) extends ImageDecoder {
  require(w >= 1 && h >= 1, s"bad dims ${w}x$h")
  override def decode(payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val g = new Array[Float](w * h)
    var i = 0
    val n = math.min(payload.length, g.length)
    while (i < n) { g(i) = (payload(i) & 0xFF) / 255f; i += 1 }
    (w, h, 1, g)
  }
}

/** PCM decode boundary for audio assets — a real deployment plugs
  * ffmpeg/libsndfile mono-downmix + resample here; the engine only ever
  * sees a bounded Float array per asset.
  */
trait AudioDecoder extends Serializable {
  def decodePcm(payload: Array[Byte], nSamples: Int): Array[Float]
}

/** Codec-free stub PCM decoder: samples derive from a hash chain over
  * (payload, sample index) — identical payloads give identical PCM (the
  * clone-dedup signal survives) and distinct payloads give decorrelated
  * noise-like signals, which is the hash-bit DIVERSITY the banded-join
  * cost contract needs (the q143 lesson: a low-entropy stub makes the
  * TRUE pair set quadratic; see [[MultiModal.videoNearDuplicates]]).
  */
class HashPcmDecoder extends AudioDecoder {
  override def decodePcm(payload: Array[Byte], nSamples: Int): Array[Float] = {
    val base = java.util.Arrays.hashCode(payload)
    Array.tabulate(nSamples) { i =>
      ((scala.util.hashing.MurmurHash3.productHash((base, i)) % 10001)
        / 10000f)
    }
  }
}

class StubImageDecoder extends ImageDecoder {
  override def decode(payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val h = java.util.Arrays.hashCode(payload)
    val w = 16 + math.abs(h % 16)
    val ht = 16 + math.abs((h / 16) % 16)
    val pixels = Array.tabulate(8) { i =>
      (math.abs(scala.util.hashing.MurmurHash3.productHash((h, i))) %
        256).toFloat / 255f
    }
    (w, ht, 3, pixels)
  }
}

object MultiModal {

  /** Magic-byte format sniff over the payload prefix — pure builtin
    * expressions (runs inside whole-stage codegen on the scan).
    */
  def sniffFormat(payload: Column): Column = {
    val p = hex(substring(payload, 1, 12))
    when(p.startsWith("89504E470D0A1A0A"), lit("png"))
      .when(p.startsWith("FFD8FF"), lit("jpeg"))
      .when(p.startsWith("47494638"), lit("gif"))
      .when(p.startsWith("52494646") && substring(p, 17, 8) === "57415645", lit("wav"))
      .when(p.startsWith("494433"), lit("mp3"))
      .when(substring(p, 9, 8) === "66747970", lit("mp4"))
      .otherwise(lit("unknown"))
  }

  /** Decode image assets through the external decoder in bounded
    * batches (the mapInPandas-batch shape, Scala-side).
    */
  def decodeImages(
      assets: Dataset[MediaAsset],
      decoder: ImageDecoder,
      batchSize: Int = 32): Dataset[ImageFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // Null payloads (the record survived ingestion, the bytes did
        // not) carry nothing to decode: skipped, like duration <= 0 in
        // the frame sampler — never an executor-killing NPE mid-run.
        batch.iterator.filter(_.payload != null).map { a =>
          val (w, h, c, pixels) = decoder.decode(a.payload)
          val mean = if (pixels.isEmpty) 0.0 else pixels.map(_.toDouble).sum / pixels.length
          ImageFeatures(a.asset_id, w, h, c, mean)
        }
      }
    }
  }

  /** 64-bit difference hash (dHash) of a grayscale image: area-average
    * resample to a 9x8 grid, then bit r*8+c = 1 iff g(r,c) > g(r,c+1)
    * (the classic perceptual-hash construction — small crops, rescales,
    * and brightness shifts move few bits, so near-duplicate images land
    * within a small Hamming distance of each other).
    *
    * The downscale is exact fractional-coverage AREA POOLING (every
    * source pixel contributes to the cell(s) it overlaps, weighted by
    * overlap) rather than point sampling — a local edit anywhere in the
    * image perturbs its cell, and a rescale of the same image averages
    * the same regions. `gray` is row-major `w` x `h`; any size >= 1x1
    * resamples, so the function is total over non-empty images.
    */
  def dHash64(gray: Array[Float], w: Int, h: Int): Long = {
    require(w >= 1 && h >= 1 && gray.length >= w * h,
      s"need a row-major w*h gray image, got len=${gray.length} w=$w h=$h")
    // cell(r,c) = mean of gray over the rect [c*w/9,(c+1)*w/9) x
    // [r*h/8,(r+1)*h/8), each source pixel weighted by its overlap.
    def cell(r: Int, c: Int): Double = {
      val x0 = c * w / 9.0; val x1 = (c + 1) * w / 9.0
      val y0 = r * h / 8.0; val y1 = (r + 1) * h / 8.0
      var sum = 0.0
      var py = math.floor(y0).toInt
      while (py < y1 && py < h) {
        val wy = math.min(y1, py + 1.0) - math.max(y0, py.toDouble)
        var px = math.floor(x0).toInt
        while (px < x1 && px < w) {
          val wx = math.min(x1, px + 1.0) - math.max(x0, px.toDouble)
          sum += gray(py * w + px) * wx * wy
          px += 1
        }
        py += 1
      }
      sum / ((x1 - x0) * (y1 - y0))
    }
    var bits = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      var prev = cell(r, 0)
      while (c < 8) {
        val cur = cell(r, c + 1)
        if (prev > cur) bits |= 1L << (r * 8 + c)
        prev = cur
        c += 1
      }
      r += 1
    }
    bits
  }

  /** Per-asset 64-bit perceptual hash: decode -> grayscale -> dHash,
    * in the same bounded-batch `mapPartitions` shape as
    * [[decodeImages]] (no shuffle; peak memory = batch * asset size).
    * A decoder emitting `w*h*c` interleaved floats is averaged to gray;
    * a stub emitting a flat feature array is read as a 1-row image —
    * the resample makes either shape total.
    */
  def imageDHash(
      assets: Dataset[MediaAsset],
      decoder: ImageDecoder,
      batchSize: Int = 32): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // Null payloads decode to nothing — skipped (see decodeImages).
        batch.iterator.filter(_.payload != null).map { a =>
          val (w, h, c, pixels) = decoder.decode(a.payload)
          val (gray, gw, gh) =
            if (pixels.length == w * h * c && c >= 1) {
              val g = new Array[Float](w * h)
              var i = 0
              while (i < w * h) {
                var s = 0f
                var j = 0
                while (j < c) { s += pixels(i * c + j); j += 1 }
                g(i) = s / c
                i += 1
              }
              (g, w, h)
            } else (pixels, pixels.length, 1)
          (a.asset_id, dHash64(gray, gw, gh))
        }
      }
    }.toDF("asset_id", "dhash")
  }

  /** Image near-duplicate pairs: perceptual dHash fed straight into the
    * generic two-level Hamming band join
    * ([[graft.ops.Dedup.hammingNearDuplicates]]) — image dedup is a
    * first-class member of the banded-join family with ZERO new join
    * code: candidates come from 28-bit band-key equality (no all-pairs
    * scan), `bit_count(xor) <= maxHamming` verifies, first-agreeing-
    * entry emits each pair exactly once.
    */
  def imageNearDuplicates(
      assets: Dataset[MediaAsset],
      decoder: ImageDecoder,
      maxHamming: Int = 3,
      batchSize: Int = 32): DataFrame =
    graft.ops.Dedup.hammingNearDuplicates(
      imageDHash(assets, decoder, batchSize), "dhash", "asset_id", maxHamming)

  /** Per-frame perceptual hashes for video assets: [[sampleFrames]]'s
    * grid (ceil(duration/everySec) frames), each frame decoded through
    * the [[VideoFrameDecoder]] boundary and dHash'd — all inside one
    * bounded-batch `mapPartitions` (no shuffle; the explode happens in
    * the iterator, so peak memory is one asset's decode at a time).
    * Output: (asset_id, frame_idx, dhash).
    */
  def frameDHashes(
      assets: Dataset[MediaAsset],
      decoder: VideoFrameDecoder,
      everySec: Double,
      batchSize: Int = 32): DataFrame = {
    require(everySec > 0, s"everySec must be positive, got $everySec")
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator
          .filter(a => a.payload != null && a.duration_sec > 0)
          .flatMap { a =>
          val n = math.max(1L, math.ceil(a.duration_sec / everySec).toLong)
          (0L until n).iterator.map { f =>
            val (w, h, c, pixels) = decoder.decodeFrame(a.payload, f)
            val (gray, gw, gh) =
              if (pixels.length == w * h * c && c >= 1) {
                val g = new Array[Float](w * h)
                var i = 0
                while (i < w * h) {
                  var s = 0f; var j = 0
                  while (j < c) { s += pixels(i * c + j); j += 1 }
                  g(i) = s / c; i += 1
                }
                (g, w, h)
              } else (pixels, math.max(pixels.length, 1), 1)
            (a.asset_id, f, if (gray.isEmpty) 0L else dHash64(gray, gw, gh))
          }
        }
      }
    }.toDF("asset_id", "frame_idx", "dhash")
  }

  /** Max frames per asset the frame-pair surrogate key supports. */
  private val MaxFramesPerAsset = 1000000L

  /** Video-level near-duplicate pairs: two videos sharing at least
    * `minSharedFrames` near-duplicate FRAMES (frame dHash within
    * `maxHamming`) — scene-level dedup for footage reuse, re-encodes,
    * and partial copies that content-hash dedup can never see. The
    * frame-pair discovery is the SAME generic two-level Hamming band
    * join ([[graft.ops.Dedup.hammingNearDuplicates]]) over per-frame
    * hashes keyed by a (asset, frame) surrogate; video pairs then
    * aggregate matching frame pairs — candidates stay proportional to
    * true frame-level overlap, never all-frames x all-frames.
    * Output: (video_a, video_b, n_frame_pairs), video_a < video_b.
    *
    * COST CONTRACT (all LSH banding): banded-join work is
    * sum(bucket occupancy²), which stays linear only while the hash
    * bits are near-uniform across the corpus. That is a property of
    * the DECODE + hash, not the join: real image decodes give dHash
    * the diversity it was designed for, but a degenerate low-entropy
    * decode (measured with text bytes as raw gray pixels:
    * sum(bucket²) grew quadratically with corpus size because the
    * frames genuinely concentrate within Hamming 3 of each other)
    * makes the TRUE pair set itself quadratic — no join algorithm
    * outruns output size. If a workload's frames are legitimately
    * that self-similar, dedupe at exact-hash grain first and treat
    * equal-hash groups as units.
    */
  def videoNearDuplicates(
      assets: Dataset[MediaAsset],
      decoder: VideoFrameDecoder,
      everySec: Double,
      maxHamming: Int = 3,
      minSharedFrames: Long = 2L,
      batchSize: Int = 32): DataFrame =
    sharedUnitNearDupPairs(
      frameDHashes(assets, decoder, everySec, batchSize)
        .withColumnRenamed("frame_idx", "unit_idx")
        .withColumnRenamed("dhash", "h64"),
      maxHamming, minSharedFrames, "video_a", "video_b", "n_frame_pairs")

  /** Asset pairs sharing >= `minShared` near-duplicate sub-units —
    * the one aggregation both video (frames) and audio (windows) level
    * their unit-grain Hamming matches through. `units` must be
    * (asset_id, unit_idx, h64); candidates come from the generic band
    * join, never an asset-pair or unit-pair cross product.
    */
  private def sharedUnitNearDupPairs(
      units: DataFrame,
      maxHamming: Int,
      minShared: Long,
      outA: String,
      outB: String,
      outN: String): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val keyed = units
      .where(col("unit_idx") < MaxFramesPerAsset)
      .select((col("asset_id") * MaxFramesPerAsset + col("unit_idx")).as("uid"),
        col("h64"))
    val unitPairs = graft.ops.Dedup
      .hammingNearDuplicates(keyed, "h64", "uid", maxHamming)
    unitPairs
      .select((col("id_a") - pmod(col("id_a"), lit(MaxFramesPerAsset)))
          .cast("long").divide(MaxFramesPerAsset).cast("long").as("va"),
        (col("id_b") - pmod(col("id_b"), lit(MaxFramesPerAsset)))
          .cast("long").divide(MaxFramesPerAsset).cast("long").as("vb"))
      .where(col("va") =!= col("vb"))
      .select(least(col("va"), col("vb")).as(outA),
        greatest(col("va"), col("vb")).as(outB))
      .groupBy(col(outA), col(outB))
      .agg(count(lit(1)).as(outN))
      .where(col(outN) >= minShared)
  }

  /** Per-window 64-bit audio fingerprints — the Haitsma-Kalker
    * construction (2002, "A Highly Robust Audio Fingerprinting
    * System"): band energies per overlapping window, bit m of window n
    * set iff the band-difference of the energy-difference is positive,
    *   (E[n][m] - E[n][m+1]) - (E[n-1][m] - E[n-1][m+1]) > 0,
    * which is invariant to volume scaling and robust to filtering —
    * the audio analogue of the image dHash's gradient-sign trick. The
    * paper takes 33 bands of an FFT frame; here 65 log-spaced Goertzel
    * energies give the 64 bits a Hamming band join wants, and the
    * single-frequency Goertzel recurrence keeps the whole thing
    * dependency-free Scala (the decode stays behind [[AudioDecoder]];
    * the fingerprint math is the real published construction).
    *
    * Shape: one bounded-batch `mapPartitions` — PCM for one asset at a
    * time, a (nBands x 2) rolling energy state, no shuffle. Output
    * (asset_id, window_idx, fp) with window_idx from 1 (a window needs
    * a predecessor). ~`duration * sampleRate / hop` windows per asset:
    * size the rates so a clip yields tens of fingerprints, not
    * thousands — the downstream banded join's input rides this.
    */
  def audioFingerprints(
      assets: Dataset[MediaAsset],
      decoder: AudioDecoder,
      sampleRate: Int = 512,
      frameLen: Int = 512,
      hop: Int = 640,
      batchSize: Int = 32): DataFrame = {
    require(sampleRate >= 1 && frameLen >= 2 && hop >= 1,
      s"bad fingerprint params sr=$sampleRate frame=$frameLen hop=$hop")
    import assets.sparkSession.implicits._
    // 65 log-spaced normalized frequencies in [0.02, 0.45) cycles per
    // sample (DC and Nyquist excluded); precomputed Goertzel coeffs.
    val nBands = 65
    val coeffs: Array[Double] = Array.tabulate(nBands) { m =>
      val f = 0.02 * math.pow(0.45 / 0.02, m / (nBands - 1).toDouble)
      2.0 * math.cos(2.0 * math.Pi * f)
    }
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator
          .filter(a => a.payload != null && a.duration_sec > 0)
          .flatMap { a =>
          val nSamples = math.max(frameLen + hop,
            math.ceil(a.duration_sec * sampleRate).toInt)
          val pcm = decoder.decodePcm(a.payload, nSamples)
          val nWin = 1 + math.max(0, (pcm.length - frameLen) / hop)
          // E[w][m]: Goertzel energy of band m over window w.
          def bandEnergies(w: Int): Array[Double] = {
            val off = w * hop
            // Only the LAST window can truncate — hoist the bound so
            // the hot recurrence runs compare-once per sample instead
            // of re-deriving off+i < pcm.length 65 bands deep.
            val end = math.min(off + frameLen, pcm.length)
            Array.tabulate(nBands) { m =>
              val c = coeffs(m)
              var s1 = 0.0; var s2 = 0.0
              var i = off
              while (i < end) {
                val s0 = pcm(i) + c * s1 - s2
                s2 = s1; s1 = s0
                i += 1
              }
              s1 * s1 + s2 * s2 - c * s1 * s2
            }
          }
          var prev = if (nWin > 0) bandEnergies(0) else null
          (1 until nWin).iterator.map { w =>
            val cur = bandEnergies(w)
            var bits = 0L
            var m = 0
            while (m < nBands - 1) {
              if ((cur(m) - cur(m + 1)) - (prev(m) - prev(m + 1)) > 0)
                bits |= 1L << m
              m += 1
            }
            prev = cur
            (a.asset_id, w.toLong, bits)
          }
        }
      }
    }.toDF("asset_id", "window_idx", "fp")
  }

  /** Audio near-duplicate pairs: two clips sharing at least
    * `minSharedWindows` near-duplicate fingerprint WINDOWS (within
    * `maxHamming` bits) — re-encodes, volume changes, and partial
    * copies that byte-hash dedup can't see. Exactly the
    * [[videoNearDuplicates]] machinery with windows for frames: the
    * SAME generic two-level Hamming band join discovers window pairs,
    * the same aggregation lifts them to asset pairs. The banded-join
    * cost contract there (hash-bit uniformity) applies verbatim.
    * Output: (audio_a, audio_b, n_window_pairs), audio_a < audio_b.
    */
  def audioNearDuplicates(
      assets: Dataset[MediaAsset],
      decoder: AudioDecoder,
      maxHamming: Int = 3,
      minSharedWindows: Long = 2L,
      sampleRate: Int = 512,
      frameLen: Int = 512,
      hop: Int = 640,
      batchSize: Int = 32,
      fpsOpt: Option[DataFrame] = None): DataFrame =
    // fpsOpt: an already-computed [[audioFingerprints]] relation for
    // the SAME (assets, sampleRate, frameLen, hop) — the per-window
    // decode is the operator's dominant cost (the §4 per-task hot
    // loop), and a caller that also needs the fingerprints for its own
    // arms (q146's brute envelope) computes them once and hands them
    // to both (guide §1.2).
    sharedUnitNearDupPairs(
      fpsOpt.getOrElse(
          audioFingerprints(assets, decoder, sampleRate, frameLen, hop, batchSize))
        .withColumnRenamed("window_idx", "unit_idx")
        .withColumnRenamed("fp", "h64"),
      maxHamming, minSharedWindows, "audio_a", "audio_b", "n_window_pairs")

  /** Video frame sampling: one row per sampled frame timestamp —
    * per-row `explode(sequence)`, no shuffle (the decode of each frame
    * would ride behind [[ImageDecoder]] on the exploded grain).
    */
  def sampleFrames(
      assets: DataFrame,
      everySec: Double,
      durationCol: String = "duration_sec",
      idCol: String = "asset_id"): DataFrame = {
    require(everySec > 0, s"everySec must be positive, got $everySec")
    // ceil(duration / everySec) in double — truncating the interval to a
    // long would divide by zero for sub-second intervals and over-count
    // frames for fractional ones.
    val n = ceil(col(durationCol) / everySec).cast("long")
    assets
      .where(col(durationCol) > 0)
      .select(col(idCol),
        explode(sequence(lit(0L), greatest(n - 1, lit(0L)))).as("frame_idx"))
      .withColumn("frame_ts", col("frame_idx") * everySec)
  }
}
